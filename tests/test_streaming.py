"""The one streaming entry point, ``stream_extract``: incremental file
discovery, no re-extraction on restart (checkpoint), batch-path result
parity, the zstd sink codec, and an idempotent sink under a replayed
micro-batch (dynamic overwrite of its own ``batch_id=`` partition)."""

import pytest

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
