"""Structured Streaming wrapper: incremental file discovery, no
re-extraction on restart (checkpoint), batch-path result parity."""

import pytest
from pyspark.sql import functions as F

from service1_text_extraction_spark.pipeline import run_extraction
from service1_text_extraction_spark.pipeline.datagen import generate_transcripts
from service1_text_extraction_spark.streaming import stream_extract


@pytest.mark.slow
def test_stream_matches_batch_and_is_incremental(
    spark, tmp_path, parquet_codecs
):
    t1, _ = generate_transcripts(n_convs=20, seed=11, max_turns=40,
                                 with_golden=False)
    t2, _ = generate_transcripts(n_convs=20, seed=12, max_turns=40,
                                 with_golden=False)
    t2["conv_id"] = "b_" + t2["conv_id"]
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(t1).write.mode("append").parquet(inp)
    q = stream_extract(spark, inp, out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == len(t1)
    assert parquet_codecs(f"{out}/batch_id=0") == {"ZSTD"}

    # drop more files -> only the new ones are processed on restart
    spark.createDataFrame(t2).write.mode("append").parquet(inp)
    q = stream_extract(spark, inp, out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    stream_out = spark.read.parquet(out)
    assert stream_out.count() == len(t1) + len(t2)

    # parity with the batch pipeline on the union
    both = spark.createDataFrame(t1).unionByName(spark.createDataFrame(t2))
    batch_out = run_extraction(spark, both, n_buckets=8)
    cols = ["conv_id", "turn_idx", "text", "method", "chars_out"]
    assert (
        stream_out.select(cols).exceptAll(batch_out.select(cols)).isEmpty()
    )
    assert (
        batch_out.select(cols).exceptAll(stream_out.select(cols)).isEmpty()
    )


@pytest.mark.slow
def test_sink_idempotent_under_replay(spark, tmp_path):
    """A micro-batch replayed after a lost checkpoint commit must
    overwrite its own batch_id partition, not duplicate rows."""
    t, _ = generate_transcripts(n_convs=10, seed=3, max_turns=20,
                                with_golden=False)
    inp = str(tmp_path / "in_r")
    out = str(tmp_path / "out_r")
    spark.createDataFrame(t).write.mode("append").parquet(inp)
    for i in range(2):  # 2nd run replays batch 0 (fresh checkpoint)
        q = stream_extract(spark, inp, out, str(tmp_path / f"ckpt_r{i}"),
                           n_buckets=8)
        q.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(t)


@pytest.mark.slow
def test_watermarked_event_time_metrics(spark, tmp_path):
    t, _ = generate_transcripts(n_convs=15, seed=5, max_turns=30,
                                with_golden=False)
    inp = str(tmp_path / "in_m")
    spark.createDataFrame(t).write.mode("append").parquet(inp)

    from service1_text_extraction_spark.streaming.stream import (
        stream_turn_metrics,
    )

    q = stream_turn_metrics(
        spark, inp, str(tmp_path / "ckpt_m"), query_name="tm_test"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM tm_test").collect()
    assert rows and sum(r.n_turns for r in rows) == len(t)
    roles = {r.role for r in rows}
    assert roles <= {"user", "assistant", "tool"}
    # window structs are real event-time buckets
    assert all(r.window.start < r.window.end for r in rows)


@pytest.mark.slow
def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: state carries across
    micro-batches (maxFilesPerTrigger=1, two files split by time) and
    final totals equal the batch lag-window computation."""
    import datetime as dt

    import pandas as pd

    rows = []
    t0 = dt.datetime(2026, 1, 1)
    for c in range(8):
        n = 6 + c
        for k in range(n):
            # gaps alternate between 5 and 40+c minutes -> several sessions
            minutes = sum(5 if j % 2 == 0 else 40 + c for j in range(k))
            rows.append((f"c{c:02d}", k + 1, "user",
                         f"turn {k}", None, t0 + dt.timedelta(minutes=minutes)))
    t = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool", "ts"])
    t["turn_idx"] = t["turn_idx"].astype("int32")
    inp = str(tmp_path / "in_s")
    half = t["ts"].median()
    sdf1 = spark.createDataFrame(t[t.ts <= half])
    sdf2 = spark.createDataFrame(t[t.ts > half])
    sdf1.coalesce(1).write.mode("append").parquet(inp)
    sdf2.coalesce(1).write.mode("append").parquet(inp)

    from service1_text_extraction_spark.streaming.stream import (
        stream_sessionize,
    )

    q = stream_sessionize(spark, inp, str(tmp_path / "ckpt_s"),
                          query_name="sess_test")
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT conv_id, max(n_sessions) AS n_sessions,"
                  " max(n_turns) AS n_turns FROM sess_test GROUP BY conv_id")
        .toPandas().set_index("conv_id").sort_index()
    )

    # batch twin: lag-window gap rule over the full input
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    full = spark.createDataFrame(t)
    w = Window.partitionBy("conv_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    batch = (
        full.withColumn(
            "new_s",
            F.when(prev.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
        )
        .groupBy("conv_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_turns"))
        .toPandas().set_index("conv_id").sort_index()
    )
    assert got["n_turns"].to_dict() == batch["n_turns"].to_dict()
    assert got["n_sessions"].to_dict() == batch["n_sessions"].to_dict()


@pytest.mark.slow
def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicated deliveries of the same (conv_id, turn_idx) collapse
    to one output row via the dedup state store."""
    t, _ = generate_transcripts(n_convs=10, seed=7, max_turns=20,
                                with_golden=False)
    inp = str(tmp_path / "in_d")
    sdf = spark.createDataFrame(t)
    sdf.coalesce(1).write.mode("append").parquet(inp)
    sdf.coalesce(1).write.mode("append").parquet(inp)  # full re-delivery

    from service1_text_extraction_spark.streaming.stream import (
        stream_distinct_turns,
    )

    q = stream_distinct_turns(spark, inp, str(tmp_path / "ckpt_d"),
                              query_name="dd_test")
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT conv_id || '#' || turn_idx)"
        " AS nd FROM dd_test"
    ).first()
    assert got.n == len(t) and got.nd == len(t)


def test_stream_admit_matches_batch(spark, tmp_path, sf_dir):
    """The streaming admission gate must admit exactly the documents
    the batch predicate admits, regardless of how the corpus is split
    across micro-batches (every gate is stateless per-row)."""
    import shutil

    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import curate, textstats
    from service1_text_extraction_spark.streaming.stream import (
        stream_admit,
    )

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "admitted")
    ck = str(tmp_path / "ck")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # 8 files at 2 files/trigger -> at least 4 real micro-batches
    docs.repartition(8).write.mode("overwrite").parquet(src)

    q = stream_admit(spark, src, out, ck, max_files_per_trigger=2)
    q.awaitTermination(120)

    sink = spark.read.parquet(out)
    # the multi-batch property must actually be exercised
    n_batches = sink.select("batch_id").distinct().count()
    assert n_batches >= 3, n_batches
    got = {
        (r.doc_id, r.split)
        for r in sink.select("doc_id", "split").collect()
    }
    want = {
        (r.doc_id, r.split)
        for r in docs.where(
            F.expr(curate.admit_pred_sql()) & curate.mix_keep_expr()
        )
        .select("doc_id", textstats.split_label_expr().alias("split"))
        .collect()
    }
    assert got == want and len(want) > 0

    # restart with the same checkpoint and no new files: no re-emit
    before = len(spark.read.parquet(out).collect())
    q2 = stream_admit(spark, src, out, ck)
    q2.awaitTermination(60)
    assert len(spark.read.parquet(out).collect()) == before
    shutil.rmtree(src)


def test_compaction_matches_batch_admit(
    spark, tmp_path, sf_dir, parquet_codecs
):
    """VERDICT r4 item 6: stream_admit defers the GLOBAL exact-dedup
    keeper decision; the compaction job over its batch_id= partitions
    must close that gap — stream-then-compact over real multi-batch
    output equals batch admit_corpus on the same corpus exactly."""
    from service1_text_extraction_spark.functions import curate
    from service1_text_extraction_spark.streaming.stream import (
        compact_admitted,
        stream_admit,
    )

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "admitted")
    ck = str(tmp_path / "ck")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(src)
    q = stream_admit(spark, src, out, ck, max_files_per_trigger=2)
    q.awaitTermination(120)
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() >= 3
    )

    compacted = compact_admitted(
        spark, out, sf_dir, str(tmp_path / "compacted")
    )
    assert "batch_id" not in compacted.columns
    assert parquet_codecs(out) == {"ZSTD"}
    assert parquet_codecs(tmp_path / "compacted") == {"ZSTD"}
    got = sorted(
        (r.doc_id, r.split)
        for r in compacted.select("doc_id", "split").collect()
    )
    want = sorted(
        (r.doc_id, r.split)
        for r in curate.admit_corpus(spark, sf_dir).collect()
    )
    assert got == want and len(want) > 0

    # compaction is idempotent: a rerun rewrites identical output
    rerun = compact_admitted(
        spark, out, sf_dir, str(tmp_path / "compacted")
    )
    assert (
        sorted(
            (r.doc_id, r.split)
            for r in rerun.select("doc_id", "split").collect()
        )
        == got
    )


def test_stream_hll_matches_batch(spark, tmp_path, sf_dir):
    """Stream-then-merge must equal the one-shot batch sketch
    BIT-FOR-BIT across real micro-batch boundaries (max-merge is
    associative/commutative/idempotent; the integer harmonic sum
    keeps the estimate partition-order-free), and a checkpointed
    restart with no new files must not change the register table."""
    from service1_text_extraction_spark.functions import dedup
    from service1_text_extraction_spark.streaming.stream import (
        hll_from_stream,
        stream_hll,
    )

    root = str(tmp_path / "docs_in")
    src = f"{root}/documents.parquet"
    regs = str(tmp_path / "hll_regs")
    ck = str(tmp_path / "ck_hll")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(src)

    q = stream_hll(spark, src, regs, ck, max_files_per_trigger=2)
    q.awaitTermination(120)

    n_batches = (
        spark.read.parquet(regs).select("batch_id").distinct().count()
    )
    assert n_batches >= 3, n_batches

    got = sorted(
        tuple(r) for r in hll_from_stream(spark, regs).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.hll_distinct_shingles(spark, root).collect()
    )
    assert got == want and len(want) > 0

    # restart on the same checkpoint, no new data: registers unchanged
    before = sorted(
        tuple(r) for r in spark.read.parquet(regs).collect()
    )
    q2 = stream_hll(spark, src, regs, ck)
    q2.awaitTermination(60)
    after = sorted(
        tuple(r) for r in spark.read.parquet(regs).collect()
    )
    assert after == before


@pytest.mark.slow
def test_stream_asof_matches_batch(spark, tmp_path):
    """stream_asof's state-store enrichment must equal the batch
    union-window asof_join row for row on time-ordered micro-batches
    (two files split by time, maxFilesPerTrigger=1): every click
    emitted exactly once, carrying the latest same-user purchase at
    or before its instant — including purchases seen in an EARLIER
    trigger (the state carry) and clicks before any purchase (NULLs)."""
    import datetime as dt

    import pandas as pd

    rows = []
    t0 = dt.datetime(2026, 1, 1)
    eid = 0
    for u in range(6):
        for k in range(10 + u):
            eid += 1
            # deterministic interleave: purchases at k%3==0, clicks
            # otherwise; user u+3 has no purchases at all
            et = "purchase" if (k % 3 == 0 and u < 3) else "click"
            rows.append(
                (eid, t0 + dt.timedelta(minutes=7 * k + u), u, et,
                 float(u * 100 + k), None)
            )
    ev = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                     "event_type", "value", "props"])
    base = str(tmp_path / "in_a")
    inp = f"{base}/events.parquet"
    half = ev["ts"].median()
    spark.createDataFrame(ev[ev.ts <= half]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(ev[ev.ts > half]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    from service1_text_extraction_spark.streaming.stream import stream_asof

    q = stream_asof(spark, inp, str(tmp_path / "ckpt_a"),
                    query_name="asof_test")
    q.awaitTermination(120)
    got = {
        r.event_id: (r.asof_purchase_id, r.asof_value, r.gap_us)
        for r in spark.sql("SELECT * FROM asof_test").collect()
    }

    from service1_text_extraction_spark.functions import relational

    batch = {
        r.event_id: (r.asof_purchase_id, r.asof_value, r.gap_us)
        for r in relational.asof_join(spark, base).collect()
    }
    assert len(got) == len(batch) > 0
    assert got == batch
    # the no-purchase users really exercised the NULL path
    assert any(v == (None, None, None) for v in got.values())


@pytest.mark.slow
def test_stream_asof_state_survives_restart(spark, tmp_path, parquet_codecs):
    """Checkpoint recovery: after the first availableNow run drains,
    a NEW file arrives and a fresh query instance on the SAME
    checkpoint must (a) process only the new file and (b) enrich its
    click from the purchase seen BEFORE the restart — the state store
    round-trips through the checkpoint, not just within one run."""
    import datetime as dt

    base = str(tmp_path / "in_r")
    inp = f"{base}/events.parquet"
    ckpt = str(tmp_path / "ckpt_r")
    t0 = dt.datetime(2026, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    ).coalesce(1).write.mode("append").parquet(inp)

    mk([(1, t0, 7, "purchase", 42.0, None),
        (2, t0 + dt.timedelta(seconds=10), 7, "click", None, None)])
    from service1_text_extraction_spark.streaming.stream import stream_asof

    out = str(tmp_path / "out_r")
    q1 = stream_asof(spark, inp, ckpt, output_dir=out)
    q1.awaitTermination(120)
    first = {
        r.event_id: (r.asof_purchase_id, r.gap_us)
        for r in spark.read.parquet(out).collect()
    }
    assert first == {2: (1, 10_000_000)}

    # restart with one NEW click, one hour later, no new purchase
    mk([(3, t0 + dt.timedelta(hours=1), 7, "click", None, None)])
    q2 = stream_asof(spark, inp, ckpt, output_dir=out)
    q2.awaitTermination(120)
    second = {
        r.event_id: (r.asof_purchase_id, r.gap_us)
        for r in spark.read.parquet(out).collect()
    }
    # exactly one NEW row (no reprocessing of file 1), its click
    # enriched from pre-restart state: purchase 1, 3600 s in the past
    assert second == {2: (1, 10_000_000), 3: (1, 3600_000_000)}
    assert parquet_codecs(out) == {"ZSTD"}


def test_stream_hopping_matches_batch(spark, tmp_path, sf_dir):
    """Stream-then-merge must equal the one-shot hopping-window batch
    aggregate exactly across real micro-batch boundaries (count and
    cent sums are sum-mergeable; the exactly-once batch_id partitions
    prevent replay double-counting), and a checkpointed restart with
    no new files must not change the partials."""
    from service1_text_extraction_spark.functions import relational
    from service1_text_extraction_spark.streaming.stream import (
        hopping_from_stream,
        stream_hopping,
    )

    root = str(tmp_path / "ev_in")
    src = f"{root}/events.parquet"
    parts = str(tmp_path / "hop_parts")
    ck = str(tmp_path / "ck_hop")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(src)

    q = stream_hopping(spark, src, parts, ck, max_files_per_trigger=2)
    q.awaitTermination(120)

    n_batches = (
        spark.read.parquet(parts).select("batch_id").distinct().count()
    )
    assert n_batches >= 3, n_batches

    got = sorted(
        tuple(r) for r in hopping_from_stream(spark, parts).collect()
    )
    want = sorted(
        tuple(r)
        for r in relational.hopping_window_stats(spark, root).collect()
    )
    assert got == want and len(want) > 0

    before = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    q2 = stream_hopping(spark, src, parts, ck)
    q2.awaitTermination(60)
    after = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    assert after == before


def test_stream_wsample_matches_batch(spark, tmp_path, sf_dir):
    """Stream-then-merge must select EXACTLY the batch sampler's docs
    across real micro-batch boundaries (top-k is mergeable; the
    content-derived key makes the reservoir partition-layout-free),
    and a checkpointed restart with no new files must change nothing."""
    from service1_text_extraction_spark.functions import curate
    from service1_text_extraction_spark.streaming.stream import (
        stream_wsample,
        wsample_from_stream,
    )

    root = str(tmp_path / "docs_w")
    src = f"{root}/documents.parquet"
    parts = str(tmp_path / "ws_parts")
    ck = str(tmp_path / "ck_ws")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(src)

    q = stream_wsample(spark, src, parts, ck, max_files_per_trigger=2)
    q.awaitTermination(120)
    n_batches = (
        spark.read.parquet(parts).select("batch_id").distinct().count()
    )
    assert n_batches >= 3, n_batches

    got = sorted(
        tuple(r) for r in wsample_from_stream(spark, parts).collect()
    )
    want = sorted(
        tuple(r) for r in curate.weighted_sample(spark, root).collect()
    )
    assert got == want and len(want) == 50

    before = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    q2 = stream_wsample(spark, src, parts, ck)
    q2.awaitTermination(60)
    after = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    assert after == before


def test_stream_hdr_matches_batch(spark, tmp_path, sf_dir):
    """Stream-then-sum-merge must reproduce the one-shot HDR quantile
    estimates exactly across real micro-batch boundaries (counts merge
    by addition; the estimator is shared), and a checkpointed restart
    with no new files must not change the sketch."""
    from service1_text_extraction_spark.functions import relational
    from service1_text_extraction_spark.streaming.stream import (
        hdr_from_stream,
        stream_hdr,
    )

    root = str(tmp_path / "ev_hdr")
    src = f"{root}/events.parquet"
    parts = str(tmp_path / "hdr_parts")
    ck = str(tmp_path / "ck_hdr")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(src)

    q = stream_hdr(spark, src, parts, ck, max_files_per_trigger=2)
    q.awaitTermination(120)
    assert (
        spark.read.parquet(parts).select("batch_id").distinct().count()
        >= 3
    )
    got = sorted(tuple(r) for r in hdr_from_stream(spark, parts).collect())
    want = sorted(
        tuple(r)
        for r in relational.hdr_value_quantiles(spark, root).collect()
    )
    assert got == want and len(want) > 0

    before = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    q2 = stream_hdr(spark, src, parts, ck)
    q2.awaitTermination(60)
    after = sorted(tuple(r) for r in spark.read.parquet(parts).collect())
    assert after == before


def test_stream_cms_matches_batch(spark, tmp_path, sf_dir):
    """CMS linearity across real micro-batches: the cell-wise sum of
    the streamed deltas must equal the one-shot whole-corpus sketch
    cell for cell, also after every batch is replayed into the same
    sketch dir (a duplicated delta would double its counts)."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import textstats
    from service1_text_extraction_spark.streaming.stream import (
        cms_from_stream,
        stream_cms,
    )

    root = str(tmp_path / "docs_cms")
    src = f"{root}/documents.parquet"
    parts = str(tmp_path / "cms_parts")
    ck = str(tmp_path / "ck_cms")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(8).write.mode("overwrite").parquet(src)

    tok = docs.select(F.explode(F.expr(textstats._TOKENS)).alias("w"))
    want = {
        (r.r, r.col): r.cnt for r in textstats._cms_sketch(tok).collect()
    }
    assert len(want) > 0
    # the second run has a fresh checkpoint, so it replays every batch
    for run_ck in (ck, ck + "_replay"):
        q = stream_cms(spark, src, parts, run_ck, max_files_per_trigger=2)
        q.awaitTermination(120)
        got = {
            (r.r, r.col): r.cnt
            for r in cms_from_stream(spark, parts).collect()
        }
        assert got == want, run_ck
