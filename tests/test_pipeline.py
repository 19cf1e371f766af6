"""End-to-end Spark pipeline tests: golden equality, document
assembly, metrics, and exact resume (FIXTURES.md §2-4)."""

import runpy
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from service1_text_extraction_spark.pipeline import (
    MARKER_SCHEMA,
    assemble_documents,
    checkpoint,
    extraction_metrics,
    run_extraction,
    run_with_resume,
    with_bucket,
)
from service1_text_extraction_spark.pipeline.datagen import generate_transcripts


@pytest.fixture(scope="module")
def data(spark):
    transcripts, golden = generate_transcripts(n_convs=60, seed=42, max_turns=120)
    tdf = spark.createDataFrame(transcripts)
    gdf = spark.createDataFrame(golden)
    return tdf, gdf, transcripts, golden


def test_per_turn_golden_equality(spark, data):
    tdf, gdf, _, golden = data
    out = run_extraction(spark, tdf, n_buckets=16)
    joined = out.join(gdf, on=["conv_id", "turn_idx"], how="full_outer")
    mismatches = joined.where(
        ~F.col("text").eqNullSafe(F.col("expected_text"))
        | ~F.col("method").eqNullSafe(F.col("expected_method"))
        | ~F.col("chars_out").eqNullSafe(F.col("expected_chars_out"))
        | ~F.col("bytes_in").eqNullSafe(F.col("expected_bytes_in"))
        | ~F.coalesce(
            F.abs(
                F.col("boilerplate_ratio")
                - F.col("expected_boilerplate_ratio")
            )
            <= 1e-12,
            F.lit(False),
        )
    )
    bad = mismatches.select(
        "conv_id", "turn_idx", "method", "expected_method", "text", "expected_text"
    ).limit(5).collect()
    assert not bad, f"{mismatches.count()} mismatching turns, e.g. {bad}"
    assert out.count() == len(golden)


def test_turn_ordering_and_offsets(spark, data):
    tdf, _, _, _ = data
    out = run_extraction(spark, tdf, n_buckets=8)
    one = (
        out.where(F.col("conv_id") == "conv_00000000")
        .orderBy("turn_idx")
        .select("turn_idx", "turn_seq", "chars_out", "doc_char_offset")
        .collect()
    )
    assert one, "hardcoded conv_id matched no rows"
    assert [r.turn_seq for r in one] == list(range(1, len(one) + 1))
    running = 0
    for r in one:
        assert r.doc_char_offset == running
        running += r.chars_out


def test_assemble_documents_reference_format(spark, data):
    tdf, _, _, golden = data
    out = run_extraction(spark, tdf, n_buckets=8)
    docs = {r.conv_id: r for r in assemble_documents(out).collect()}

    # pure-Python oracle of core_pdf_processor.py:809-812
    for conv_id, grp in golden.groupby("conv_id"):
        parts = []
        for _, row in grp.sort_values("turn_idx").iterrows():
            if row.expected_text:
                parts.append(
                    f"\n--- PAGE {row.turn_idx} ---\n{row.expected_text}\n"
                )
        expected = "".join(parts).strip()
        assert docs[conv_id].doc_text == expected, conv_id
        assert docs[conv_id].n_turns == len(grp)
        assert docs[conv_id].failed_turns == int(
            (grp.expected_method == "failed").sum()
        )


def test_metrics_rollup(spark, data):
    tdf, _, _, golden = data
    out = run_extraction(spark, tdf, n_buckets=8)
    m = {r.method: r for r in extraction_metrics(out).collect()}
    counts = golden.expected_method.value_counts().to_dict()
    assert {k: v.n_turns for k, v in m.items()} == counts
    assert set(m) <= {"html", "pdf", "text", "failed"}


def _data_files_per_bucket(out_dir) -> dict[str, int]:
    return {
        d.name: sum(1 for f in d.iterdir() if f.name.endswith(".parquet"))
        for d in Path(out_dir).iterdir()
        if d.name.startswith("bucket_id=")
    }


@pytest.fixture
def uncoalesced(spark):
    """Keep every shuffle partition as its own write task, as on an
    input too large for AQE to merge them, so the output file layout
    shows which key the exchange hashed on."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


def _full_and_resumed(spark, tdf, tmp_path, crashed_run):
    """An uninterrupted run, and a run crashed after 3 buckets then
    resumed: (full stats, full output dir, full markers dir,
    [crash, resume] stats, resumed output dir, resumed markers dir)."""
    out1 = str(tmp_path / "full/out")
    mk1 = str(tmp_path / "full/markers")
    full = run_with_resume(spark, tdf, out1, mk1, n_buckets=8, lineage_id="runA")
    out2 = str(tmp_path / "part/out")
    mk2 = str(tmp_path / "part/markers")
    part = crashed_run(tdf, out2, mk2, lineage_id="runB")
    resumed = run_with_resume(spark, tdf, out2, mk2, n_buckets=8, lineage_id="runC")
    return full, out1, mk1, [part, resumed], out2, mk2


def test_exact_resume(spark, data, tmp_path, parquet_codecs, crashed_run):
    tdf, _, _, _ = data
    full, out1, mk1, (part, resumed), out2, mk2 = _full_and_resumed(
        spark, tdf, tmp_path, crashed_run
    )
    # every data and marker file, fresh and resumed, writes the sink codec
    for d in (out1, mk1, out2, mk2):
        assert parquet_codecs(d) == {"ZSTD"}, d
    assert full["buckets_processed"] > 0 and full["buckets_skipped"] == 0

    # simulated crash: only 3 buckets complete
    assert part["buckets_processed"] == 3

    # resume: must process exactly the remaining buckets, none twice
    assert resumed["buckets_skipped"] == 3
    assert resumed["buckets_processed"] == full["buckets_processed"] - 3

    # final output identical to the uninterrupted run, one data file
    # per bucket directory in both
    layout = _data_files_per_bucket(out1)
    assert len(layout) == full["buckets_processed"]
    assert set(layout.values()) == {1}, layout
    assert _data_files_per_bucket(out2) == layout
    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # markers carry lineage + metrics per bucket
    markers = spark.read.parquet(mk2)
    assert markers.where(F.col("status") == "done").count() == 8
    assert set(r.lineage_id for r in markers.collect()) == {"runB", "runC"}

    # idempotent: a further run does nothing
    again = run_with_resume(spark, tdf, out2, mk2, n_buckets=8)
    assert again["buckets_processed"] == 0


def test_resume_one_file_per_bucket(
    spark, data, tmp_path, uncoalesced, crashed_run
):
    """With every shuffle partition its own write task (AQE merges them
    all into one task at this input size), the exchange keyed on
    bucket_id still gives each bucket to exactly one task: one data
    file per bucket directory, fresh and after crash + resume."""
    tdf, _, _, _ = data
    full, out1, _, _, out2, _ = _full_and_resumed(
        spark, tdf, tmp_path, crashed_run
    )
    layout = _data_files_per_bucket(out1)
    assert len(layout) == full["buckets_processed"]
    assert set(layout.values()) == {1}, layout
    assert _data_files_per_bucket(out2) == layout


def test_markers_match_written_output(spark, data, tmp_path, crashed_run):
    """The markers come from the data write's own pass, yet equal a
    groupBy over the written output, fresh and after crash + resume.
    Each run appends one marker file, and the run totals equal the
    output's."""
    tdf, _, _, _ = data
    full, out1, mk1, runs, out2, mk2 = _full_and_resumed(
        spark, tdf, tmp_path, crashed_run
    )
    for out, mk, stats in ((out1, mk1, [full]), (out2, mk2, runs)):
        written = spark.read.parquet(out)
        want = {
            r.bucket_id: r
            for r in written.groupBy("bucket_id")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum("chars_out").alias("chars_out"),
                F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
            )
            .collect()
        }
        markers = spark.read.parquet(mk).collect()
        assert sorted(m.bucket_id for m in markers) == sorted(want)
        for m in markers:
            w = want[m.bucket_id]
            assert (m.n_turns, m.bytes_in, m.chars_out) == (
                w.n_turns, w.bytes_in, w.chars_out,
            ), m
            assert abs(m.boilerplate_ratio - w.boilerplate_ratio) <= 1e-12, m
        files = [f for f in Path(mk).iterdir() if f.name.endswith(".parquet")]
        assert len(files) == len(stats), files

        totals = written.agg(
            F.count("*").alias("turns"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
        ).first()
        assert sum(s["turns_processed"] for s in stats) == totals.turns
        assert sum(s["bytes_in"] for s in stats) == totals.bytes_in
        assert sum(s["chars_out"] for s in stats) == totals.chars_out


def test_crash_between_data_and_marker_write(
    spark, data, tmp_path, monkeypatch, crashed_run
):
    """A crash after the data write committed but before its markers
    were appended leaves those buckets unmarked: the rerun extracts
    them again and overwrites their partitions, and the output equals
    an uninterrupted run's."""
    tdf, _, _, _ = data
    out1, mk1 = str(tmp_path / "full/out"), str(tmp_path / "full/markers")
    full = run_with_resume(spark, tdf, out1, mk1, n_buckets=8)

    append = checkpoint._append_markers

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(checkpoint, "_append_markers", append)
        raise RuntimeError("crash between the writes")

    monkeypatch.setattr(checkpoint, "_append_markers", crash_once)
    out2, mk2 = str(tmp_path / "crash/out"), str(tmp_path / "crash/markers")
    with pytest.raises(RuntimeError, match="crash between the writes"):
        crashed_run(tdf, out2, mk2)
    committed = {
        d.name: {f.name for f in d.iterdir()}
        for d in Path(out2).iterdir()
        if d.name.startswith("bucket_id=")
    }
    assert len(committed) == 3 and not Path(mk2).exists()

    rerun = run_with_resume(spark, tdf, out2, mk2, n_buckets=8)
    assert rerun["buckets_processed"] == full["buckets_processed"]
    assert rerun["buckets_skipped"] == 0
    for d, files in committed.items():
        assert not files & {f.name for f in (Path(out2) / d).iterdir()}, d
    layout = _data_files_per_bucket(out1)
    assert set(layout.values()) == {1}, layout
    assert _data_files_per_bucket(out2) == layout
    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    markers = spark.read.parquet(mk2)
    assert markers.where(F.col("status") == "done").count() == 8


def test_resume_over_snappy_buckets(
    spark, data, tmp_path, monkeypatch, parquet_codecs, crashed_run
):
    """A resume over buckets that an older build wrote as snappy: the
    crashed first run writes snappy, the resume zstd. The mixed-codec
    output and marker tables each read as one table, equal to an
    uninterrupted run's."""
    tdf, _, _, _ = data
    out1, mk1 = str(tmp_path / "full/out"), str(tmp_path / "full/markers")
    run_with_resume(spark, tdf, out1, mk1, n_buckets=8)
    out2, mk2 = str(tmp_path / "mixed/out"), str(tmp_path / "mixed/markers")
    monkeypatch.setattr(checkpoint, "SINK_CODEC", "snappy")
    crashed_run(tdf, out2, mk2)
    assert parquet_codecs(out2) == parquet_codecs(mk2) == {"SNAPPY"}
    monkeypatch.undo()
    resumed = run_with_resume(spark, tdf, out2, mk2, n_buckets=8)
    assert resumed["buckets_skipped"] == 3
    assert parquet_codecs(out2) == parquet_codecs(mk2) == {"SNAPPY", "ZSTD"}

    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    assert a.schema == b.schema
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def markers(df):
        return sorted(
            (r.bucket_id, r.status, r.n_turns, r.bytes_in, r.chars_out,
             round(r.boilerplate_ratio, 12))
            for r in df.collect()
        )

    want = markers(spark.read.parquet(mk1))
    assert len(want) == 8
    assert markers(spark.read.parquet(mk2)) == want
    assert markers(checkpoint.read_markers(spark, mk2)) == want


@pytest.fixture
def tiny(spark):
    """Six two-turn conversations spread over some of 8 buckets."""
    rows = [
        (f"c{i}", t, "user", f"<p>turn {t} of conversation {i}</p>", None, None)
        for i in range(6)
        for t in (1, 2)
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    present = {r.bucket_id for r in with_bucket(tdf, 8).select("bucket_id").collect()}
    assert 0 < len(present) < 8
    return tdf, sorted(present)


def _write_markers(spark, markers_dir, rows):
    spark.createDataFrame(
        [(b, "seed", status, 0, 0, 0, 0.0, None) for b, status in rows],
        MARKER_SCHEMA,
    ).write.parquet(markers_dir)


def _marker_rows(spark, markers_dir):
    return sorted(
        (r.bucket_id, r.status, r.lineage_id)
        for r in spark.read.parquet(markers_dir).collect()
    )


def test_resume_fail_after_exceeds_pending(spark, tiny, tmp_path):
    """A resume over a seeded 'done' marker for one of the input's
    buckets processes every other bucket of the input once, counts
    the marked one as skipped, and appends one 'done' marker per
    bucket it wrote beside the seeded one."""
    tdf, present = tiny
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    _write_markers(spark, mk, [(present[0], "done")])
    stats = run_with_resume(spark, tdf, out, mk, n_buckets=8, lineage_id="r")
    assert stats["buckets_processed"] == len(present) - 1
    assert stats["buckets_skipped"] == 1
    assert _marker_rows(spark, mk) == sorted(
        [(present[0], "done", "seed")]
        + [(b, "done", "r") for b in present[1:]]
    )


def test_fresh_run_on_empty_input(spark, tiny, tmp_path):
    tdf, _ = tiny
    empty = str(tmp_path / "empty")
    tdf.limit(0).write.parquet(empty)
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    stats = run_with_resume(spark, spark.read.parquet(empty), out, mk, n_buckets=8)
    assert stats["buckets_processed"] == 0 and stats["buckets_skipped"] == 0
    assert stats["turns_processed"] == 0
    assert not Path(mk).exists()


def test_resume_ignores_markers_not_done(spark, tiny, tmp_path):
    tdf, present = tiny
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    _write_markers(spark, mk, [(present[0], "failed")])
    stats = run_with_resume(spark, tdf, out, mk, n_buckets=8, lineage_id="r")
    assert stats["buckets_processed"] == len(present)
    assert stats["buckets_skipped"] == 0
    assert _marker_rows(spark, mk) == sorted(
        [(present[0], "failed", "seed")] + [(b, "done", "r") for b in present]
    )
    assert spark.read.parquet(out).count() == tdf.count()


def test_resume_done_marker_without_input(spark, tiny, tmp_path):
    tdf, present = tiny
    absent = min(set(range(8)) - set(present))
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    _write_markers(spark, mk, [(absent, "done")])
    stats = run_with_resume(spark, tdf, out, mk, n_buckets=8, lineage_id="r")
    # a marker for a bucket the input lacks is neither processed nor
    # counted as skipped: the counts cover the input's buckets only
    assert stats["buckets_processed"] == len(present)
    assert stats["buckets_skipped"] == 0
    assert _marker_rows(spark, mk) == sorted(
        [(absent, "done", "seed")] + [(b, "done", "r") for b in present]
    )
    assert sorted(_data_files_per_bucket(out)) == sorted(
        f"bucket_id={b}" for b in present
    )


@pytest.mark.parametrize("n_buckets", [0, -4])
def test_n_buckets_validated(spark, tiny, tmp_path, monkeypatch, n_buckets):
    """A bucket count below 1 is refused on the driver: 0 used to fail
    inside a task (pmod by zero) and -4 to yield bucket ids {-2..2}."""
    tdf, _ = tiny
    with pytest.raises(ValueError, match="n_buckets"):
        with_bucket(tdf, n_buckets)
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    with pytest.raises(ValueError, match="n_buckets"):
        run_with_resume(spark, tdf, out, mk, n_buckets=n_buckets)
    assert not Path(mk).exists() and not Path(out).exists()
    job = Path(__file__).resolve().parents[1] / "jobs" / "extract_job.py"
    monkeypatch.setattr(
        "sys.argv",
        [str(job), "--input", "i", "--output", out, "--markers", mk,
         "--n-buckets", str(n_buckets)],
    )
    with pytest.raises(SystemExit, match="--n-buckets must be > 0"):
        runpy.run_path(str(job), run_name="__main__")


def test_null_and_empty_payloads(spark):
    rows = [
        ("c1", 1, "user", None, None, None),
        ("c1", 2, "assistant", "", None, None),
        ("c1", 3, "tool", "  ", "t", None),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    out = run_extraction(spark, tdf, n_buckets=4).collect()
    assert len(out) == 3  # rows must fail, not silently disappear
    assert all(r.method == "failed" and r.text == "" for r in out)


def test_kernel_exception_becomes_failed_row(spark, monkeypatch):
    # an unexpected kernel crash must yield a failed row, not a dead task
    import service1_text_extraction_spark.kernels.payload as payload_mod

    def boom(_):
        raise RuntimeError("synthetic kernel crash")

    monkeypatch.setattr(payload_mod, "extract_html", boom)
    r = payload_mod.extract_turn("<p>this would normally extract</p>")
    assert r.method == "failed"
    assert "kernel error: RuntimeError" in r.error


def test_adversarial_payloads_never_raise(spark):
    from service1_text_extraction_spark.kernels.payload import extract_turn
    from service1_text_extraction_spark.pipeline.datagen import _ADVERSARIAL

    for p in _ADVERSARIAL:
        r = extract_turn(p)
        assert r.method in {"html", "pdf", "text", "failed"}, repr(p)
    bad_b64 = extract_turn("JVBERnot!!really@@base64##at$$all")
    assert bad_b64.method == "failed" and "base64" in bad_b64.error
    not_pdf = extract_turn("JVBERi0" + "QUJD" * 40)
    assert not_pdf.method == "failed"


def test_ocr_hook_contract():
    """F5 OCR fallback: with a hook installed, a gate-failing PDF takes
    the 'ocr' method (reference 'tesseract' tag); hook errors and
    absent hooks both yield the no-tesseract failure row."""
    import base64

    from service1_text_extraction_spark.kernels import payload, pdfgen

    short_pdf = pdfgen.build_pdf(
        [pdfgen.simple_page([(72, 700, ["too short"])])]
    )
    b64 = base64.b64encode(short_pdf).decode("ascii")

    r = payload.extract_turn(b64)
    assert r.method == "failed" and "no OCR fallback" in (r.error or "")

    fake_text = "ocr recovered sentence. " * 20  # > 250 chars, clean
    r2 = payload.extract_turn(b64, ocr=lambda raw, passwords=None: fake_text)
    assert r2.method == "ocr"
    assert r2.text == fake_text.strip()
    assert r2.chars_out == len(fake_text.strip())
    # hook crash -> failed row
    r3 = payload.extract_turn(b64, ocr=lambda raw, passwords=None: 1 / 0)
    assert r3.method == "failed"
    # good PDFs never consult the hook
    long_pdf = pdfgen.build_pdf([pdfgen.simple_page(
        [(72, 700, [f"A full sentence number {i} here." for i in range(12)])]
    )])
    r4 = payload.extract_turn(
        base64.b64encode(long_pdf).decode("ascii"),
        ocr=lambda raw, passwords=None: (_ for _ in ()).throw(AssertionError),
    )
    assert r4.method == "pdf"


def test_ocr_hook_type_error_is_a_hook_failure():
    """A hook's own TypeError is a hook failure like any other: the
    hook runs once, with the passwords, and the row is ``failed``."""
    import base64

    from service1_text_extraction_spark.kernels import payload, pdfgen

    short_pdf = pdfgen.build_pdf(
        [pdfgen.simple_page([(72, 700, ["too short"])])]
    )
    calls = []

    def hook(raw, passwords=None):
        calls.append(passwords)
        raise TypeError("hook bug")

    r = payload.extract_turn(
        base64.b64encode(short_pdf).decode("ascii"), passwords=["pw"], ocr=hook
    )
    assert calls == [["pw"]]
    assert r.method == "failed"


def test_multimodal_binary_dispatch_through_arrow(spark):
    """Mixed binary payloads through the real mapInPandas path: PNG
    rows decode real dimensions and junk takes the deterministic
    stubs, all in one Arrow batch; frame sampling takes the stride
    stub for every payload, Y4M included."""
    import hashlib

    from service1_text_extraction_spark.functions import multimodal
    from service1_text_extraction_spark.kernels import png, y4m

    fsize = 8 * 6 * 3 // 2
    rows = [
        (1, bytearray(png.encode_png(20, 10, bytes([7] * 200)))),
        (2, bytearray(b"opaque junk payload")),
        (3, None),
        (4, bytearray(y4m.encode_y4m(8, 6, [bytes([i]) * fsize
                                            for i in range(8)]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    feats = {r.doc_id: r for r in multimodal.decode_features(df).collect()}
    assert (feats[1].width, feats[1].height) == (20, 10)  # real PNG
    assert feats[2].width >= 64  # digest-based fake
    assert feats[3].n_bytes == 0  # null payload -> empty

    frames = multimodal.frame_sample(df).collect()
    want = []
    for doc_id, payload in rows:
        data = bytes(payload or b"")
        stride = max(1, len(data) // 4)
        for i in range(4):
            chunk = data[i * stride : (i + 1) * stride]
            want.append((doc_id, i, hashlib.md5(chunk).hexdigest(), len(chunk)))
    assert sorted(tuple(r) for r in frames) == sorted(want)
