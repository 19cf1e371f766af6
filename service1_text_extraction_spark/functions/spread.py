"""Unsplittable-input guard (optimization guide §2.5, "input skew").

The driver tables are written as ONE parquet row group per file, and a
row group is Spark's minimum split unit — so a 5 MB documents table
scans as 1-2 tasks no matter how many cores the session has, and every
scan-side projection, hash, higher-order function, and Arrow UDF runs
serially on one core (measured at sf1.0: the MinHash signature UDF is
5.4 s on the raw scan, 0.75 s after a 32-way spread). The fix the
guide prescribes for an unsplittable input is to repartition right
after the read.

``read_spread``, the one reader of the driver tables, does that
ADAPTIVELY: only when the planned scan has fewer partitions than the
session's parallelism. On a real corpus (many files / many row groups,
>= cores scan tasks) the condition is false and the plan is untouched —
the spread never fires at 100 TB; it exists precisely for inputs whose
layout undercuts the cluster. The exchange it adds hashes the scan's
raw rows on the table's unique id (the repartition sits directly on
the read, before any projection, so column pruning still reaches the
scan and pushed filters stay pushed — Catalyst moves both through a
Repartition node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# each driver table's unique id: the key ``read_spread`` hashes on
_TABLE_KEYS = {
    "documents": "doc_id", "embeddings": "vec_id", "events": "event_id"
}


def read_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read ``{sf_dir}/{table}.parquet`` and spread it across the
    session's cores iff its planned scan has fewer partitions (an
    unsplittable / few-row-group input); the bare read otherwise.

    The spread HASH-partitions on the table's unique id: deterministic
    under task retries like any hash exchange, and — unlike keyless
    ``repartition(n)`` — free of the sortBeforeRepartition local sort,
    which on a text-heavy table costs more than the shuffle itself
    (guide §2.5: derive synthetic spread keys deterministically; a
    unique id hashes uniformly)."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(_TABLE_KEYS[table]))
    return df
