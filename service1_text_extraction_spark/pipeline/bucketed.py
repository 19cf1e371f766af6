"""Bucketed parquet sinks — pre-shuffled storage for co-located joins.

At 100 TB the same fact table joins on the same key (doc_id /
conv_id) in run after run; paying the hash exchange every run is the
single largest avoidable cost. Writing the table BUCKETED on the key
(``bucketBy`` + ``sortBy``) materializes the partitioning into the
file layout once: every later equi-join or aggregate on that key
reads the buckets as already-distributed input and Catalyst drops the
Exchange (and, with one file per bucket, the Sort) from the plan
entirely — the co-located-join strategy bucketing exists for.
``tests/test_plans.py`` pins the contrast: the bucketed-to-bucketed
self-join plans ZERO Exchanges while the identical join over plain
parquet plans two.

Bucketed tables must be saved through the catalog (``saveAsTable``) —
bucket metadata lives there, a bare ``.parquet(path)`` write ignores
``bucketBy``. The ``path`` option keeps the data external (under the
caller's directory, not the warehouse), so the catalog entry is just
metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import SINK_CODEC


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    *,
    key: str = "doc_id",
    n_buckets: int = 8,
) -> None:
    """Save ``df`` as an external parquet table bucketed (and
    bucket-sorted) on ``key``. ``n_buckets`` is the table's permanent
    parallelism unit for exchange-free reads — at 100 TB pick it like
    a shuffle partition count (thousands), here it stays small for
    the local fixtures."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("compression", SINK_CODEC)
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )


def bucketed_join(
    spark: SparkSession, left_name: str, right_name: str, key: str = "doc_id"
) -> DataFrame:
    """Equi-join two tables previously written by ``write_bucketed``
    with the SAME key and bucket count: both sides' distribution comes
    from the file layout, so the plan carries no Exchange. The merge
    hint keeps the comparison honest (a broadcast would also skip the
    exchange, but only while one side fits in memory — bucketing is
    the strategy that still works when BOTH sides are 100 TB)."""
    left = spark.table(left_name).hint("merge")
    right = spark.table(right_name)
    return left.join(right, key)
