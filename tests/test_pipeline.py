"""End-to-end Spark pipeline tests: golden equality, salt-invariance,
document assembly, metrics, and exact resume (FIXTURES.md §2-4)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from service1_text_extraction_spark.pipeline import (
    MARKER_SCHEMA,
    assemble_documents,
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


def test_salting_does_not_change_output(spark, data):
    """Neither the pre-shuffle opt-in nor its salt/partition-count
    parameters may change the result (order is restored by the
    window): no-pre-shuffle == salt 1/2 parts == salt 13/17 parts."""
    tdf, _, _, _ = data
    a = run_extraction(
        spark, tdf, n_buckets=16, salt=1, shuffle_partitions=2,
        pre_shuffle=True,
    )
    b = run_extraction(
        spark, tdf, n_buckets=16, salt=13, shuffle_partitions=17,
        pre_shuffle=True,
    )
    c = run_extraction(spark, tdf, n_buckets=16)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.exceptAll(c).isEmpty() and c.exceptAll(a).isEmpty()


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


def _full_and_resumed(spark, tdf, tmp_path):
    """An uninterrupted run, and a run crashed after 3 buckets then
    resumed: (full stats, full output dir, [crash, resume] stats,
    resumed output dir, resumed markers dir)."""
    out1 = str(tmp_path / "full/out")
    mk1 = str(tmp_path / "full/markers")
    full = run_with_resume(spark, tdf, out1, mk1, n_buckets=8, lineage_id="runA")
    out2 = str(tmp_path / "part/out")
    mk2 = str(tmp_path / "part/markers")
    part = run_with_resume(
        spark, tdf, out2, mk2, n_buckets=8, lineage_id="runB",
        fail_after_buckets=3,
    )
    resumed = run_with_resume(spark, tdf, out2, mk2, n_buckets=8, lineage_id="runC")
    return full, out1, [part, resumed], out2, mk2


def test_exact_resume(spark, data, tmp_path):
    tdf, _, _, _ = data
    full, out1, (part, resumed), out2, mk2 = _full_and_resumed(
        spark, tdf, tmp_path
    )
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


def test_resume_one_file_per_bucket(spark, data, tmp_path, uncoalesced):
    """With every shuffle partition its own write task (AQE merges them
    all into one task at this input size), the exchange keyed on
    bucket_id still gives each bucket to exactly one task: one data
    file per bucket directory, fresh and after crash + resume."""
    tdf, _, _, _ = data
    full, out1, _, out2, _ = _full_and_resumed(spark, tdf, tmp_path)
    layout = _data_files_per_bucket(out1)
    assert len(layout) == full["buckets_processed"]
    assert set(layout.values()) == {1}, layout
    assert _data_files_per_bucket(out2) == layout


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


def test_resume_fail_after_zero(spark, tiny, tmp_path):
    tdf, present = tiny
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    stats = run_with_resume(
        spark, tdf, out, mk, n_buckets=8, lineage_id="r", fail_after_buckets=0
    )
    assert stats["buckets_processed"] == 0
    assert stats["buckets_skipped"] == len(present)
    assert not Path(mk).exists() and not Path(out).exists()
    with pytest.raises(ValueError):
        run_with_resume(spark, tdf, out, mk, n_buckets=8, fail_after_buckets=-1)


def test_resume_fail_after_exceeds_pending(spark, tiny, tmp_path):
    tdf, present = tiny
    out, mk = str(tmp_path / "out"), str(tmp_path / "mk")
    _write_markers(spark, mk, [(present[0], "done")])
    stats = run_with_resume(
        spark, tdf, out, mk, n_buckets=8, lineage_id="r",
        fail_after_buckets=len(present) + 5,
    )
    assert stats["buckets_processed"] == len(present) - 1
    assert stats["buckets_skipped"] == 1
    assert _marker_rows(spark, mk) == sorted(
        [(present[0], "done", "seed")]
        + [(b, "done", "r") for b in present[1:]]
    )


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


def test_segmented_assembly_splices_to_full(spark, data):
    tdf, _, _, _ = data
    out = run_extraction(spark, tdf, n_buckets=8)
    full = {r.conv_id: r.doc_text for r in assemble_documents(out).collect()}
    segs = assemble_documents(out, segment_turns=10).collect()
    by_conv = {}
    for r in segs:
        by_conv.setdefault(r.conv_id, []).append((r.segment_idx, r.doc_text))
    for conv_id, parts in by_conv.items():
        spliced = "".join(t for _, t in sorted(parts)).strip()
        assert spliced == full[conv_id], conv_id


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
    payload.set_ocr_hook(lambda raw: fake_text)
    try:
        r2 = payload.extract_turn(b64)
        assert r2.method == "ocr"
        assert r2.text == fake_text.strip()
        assert r2.chars_out == len(fake_text.strip())
        payload.set_ocr_hook(lambda raw: 1 / 0)  # hook crash -> failed row
        r3 = payload.extract_turn(b64)
        assert r3.method == "failed"
    finally:
        payload.set_ocr_hook(None)
    # good PDFs never consult the hook
    payload.set_ocr_hook(lambda raw: (_ for _ in ()).throw(AssertionError))
    try:
        long_pdf = pdfgen.build_pdf([pdfgen.simple_page(
            [(72, 700, [f"A full sentence number {i} here." for i in range(12)])]
        )])
        r4 = payload.extract_turn(base64.b64encode(long_pdf).decode("ascii"))
        assert r4.method == "pdf"
    finally:
        payload.set_ocr_hook(None)


def test_multimodal_binary_dispatch_through_arrow(spark):
    """Mixed binary payloads through the real mapInPandas path: PNG
    rows decode real dimensions, Y4M rows sample real frames, junk
    takes the deterministic stubs — all in one Arrow batch."""
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
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # Y4M doc: 4 evenly spaced REAL source frames 0,2,4,6
    assert sorted(r.frame_idx for r in by_doc[4]) == [0, 2, 4, 6]
    assert all(r.n_bytes == fsize for r in by_doc[4])
    # junk doc: stub stride slices indexed 0..3
    assert sorted(r.frame_idx for r in by_doc[2]) == [0, 1, 2, 3]
