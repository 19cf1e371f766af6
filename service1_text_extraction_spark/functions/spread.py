"""Unsplittable-input guard (optimization guide §2.5, "input skew").

The driver tables are written as ONE parquet row group per file, and a
row group is Spark's minimum split unit — so a 5 MB documents table
scans as 1-2 tasks no matter how many cores the session has, and every
scan-side projection, hash, higher-order function, and Arrow UDF runs
serially on one core (measured at sf1.0: the MinHash signature UDF is
5.4 s on the raw scan, 0.75 s after a 32-way spread). The fix the
guide prescribes for an unsplittable input is to repartition right
after the read.

``spread`` is the one rule for that, used by ``read_spread`` (the
spreading reader of the documents, embeddings and events tables) and
by ``run_extraction`` (before the extraction UDF). It is ADAPTIVE: it fires only when the frame has
fewer partitions than the session's parallelism. On a real corpus
(many files / many row groups, >= cores scan tasks) the condition is
false and the plan is untouched — the spread never fires at 100 TB; it
exists precisely for inputs whose layout undercuts the cluster. The
exchange it adds hashes the rows on a key the caller names as unique
(a repartition directly on a read still lets column pruning reach the
scan and pushed filters stay pushed — Catalyst moves both through a
Repartition node).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# the driver tables' schemas, declared so that reading one plans without
# Spark's schema-inference job (one task per read, before any operator)
TABLE_SCHEMAS = {
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
}

# each driver table's unique id: the key ``read_spread`` hashes on
_TABLE_KEYS = {
    "documents": "doc_id", "embeddings": "vec_id", "events": "event_id"
}

# physical-plan nodes whose partitioning is not the input's layout, and
# which building the frame's RDD would run as Spark jobs (shuffle and
# broadcast stages under AQE, subqueries and broadcasts without it)
_SHUFFLED_PLAN = re.compile(
    r"^[\s:+\-*()\d]*(?:AdaptiveSparkPlan|\w*Exchange|\w*Subquery)", re.M
)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-repartitioned on ``keys`` to the session's
    parallelism iff it has fewer partitions than that; ``df`` itself
    otherwise.

    The partition count is read only from a plan without an exchange
    or a subquery, where building the RDD runs no Spark job, and it is
    read from the RDD of the physical plan the exchange check already
    built (``df.rdd`` would plan the query a second time). A frame
    whose plan has one is left alone: its partitioning comes from that
    shuffle, not from the file layout.

    The spread HASH-partitions on ``keys``, which should be unique per
    row: deterministic under task retries like any hash exchange, and —
    unlike keyless ``repartition(n)`` — free of the
    sortBeforeRepartition local sort, which on a text-heavy table costs
    more than the shuffle itself (guide §2.5: derive synthetic spread
    keys deterministically; a unique key hashes uniformly)."""
    execution = df._jdf.queryExecution()
    if _SHUFFLED_PLAN.search(execution.executedPlan().treeString()):
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if execution.toRdd().getNumPartitions() < n:
        return df.repartition(n, *map(F.col, keys))
    return df


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``{sf_dir}/{table}.parquet``, read with its declared schema when
    it is one of the driver tables of ``TABLE_SCHEMAS``."""
    reader = spark.read
    if table in TABLE_SCHEMAS:
        reader = reader.schema(TABLE_SCHEMAS[table])
    return reader.parquet(f"{sf_dir}/{table}.parquet")


def read_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read the driver table ``{sf_dir}/{table}.parquet``, spread on its
    unique id when its planned scan is narrower than the session (an
    unsplittable / few-row-group input)."""
    return spread(read_table(spark, sf_dir, table), _TABLE_KEYS[table])
