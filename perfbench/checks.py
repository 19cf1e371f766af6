"""Output checks, run outside the timed region.

Each check returns a list of problems; an empty list means the output
is correct.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service1_text_extraction_spark.kernels.payload import extract_turn
from service1_text_extraction_spark.pipeline.extract import bucket_expr

# Every column the extraction job writes, in a fixed order, for digests.
OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "bucket_id",
    "text",
    "method",
    "error",
    "spans",
    "bytes_in",
    "chars_out",
    "boilerplate_ratio",
    "layout_text",
    "password_used",
    "turn_seq",
    "doc_char_offset",
]
SAMPLE_TURNS = 500


def _row_hash():
    return F.xxhash64(
        *(
            F.col(c).cast("int") if c == "bucket_id" else F.col(c)
            for c in OUTPUT_COLUMNS
        )
    )


def _fold(rows) -> tuple[int, int, int]:
    """(rows, xor, sum of low 32 bits) over per-group partial digests."""
    n = x = s = 0
    for r in rows:
        n, x, s = n + r.n, x ^ int(r.x or 0), s + int(r.s or 0)
    return (n, x, s)


def _digest_aggs():
    return (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    )


def rows_per_bucket(spark: SparkSession, corpus: str, n_buckets: int) -> dict:
    """bucket -> (turns, UTF-8 payload bytes) of the input corpus."""
    rows = (
        spark.read.parquet(corpus)
        .groupBy(bucket_expr(F.col("conv_id"), n_buckets).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.octet_length("text"), F.lit(0))).alias("bytes"),
        )
        .collect()
    )
    return {r.b: (r.n, r.bytes) for r in rows}


def check_output(
    spark: SparkSession, output_dir: str, markers_dir: str, expected: dict
) -> tuple[list[str], tuple[int, int, int]]:
    """Per bucket, output rows and marker ``n_turns`` equal the input
    rows. Returns the problems and the digest of the whole output."""
    per_bucket = (
        spark.read.parquet(output_dir)
        .select("bucket_id", _row_hash().alias("h"))
        .groupBy("bucket_id")
        .agg(*_digest_aggs())
        .collect()
    )
    got = {r.bucket_id: r.n for r in per_bucket}
    marked = {
        r.bucket_id: r.n
        for r in spark.read.parquet(markers_dir)
        .groupBy("bucket_id")
        .agg(F.sum("n_turns").alias("n"))
        .collect()
    }
    problems = []
    for name, counts in (("output rows", got), ("marker n_turns", marked)):
        bad = sorted(
            b for b in set(counts) | set(expected) if counts.get(b) != expected.get(b)
        )
        if bad:
            problems.append(f"{name} differ from the input in buckets {bad[:8]}")
    return problems, _fold(per_bucket)


def check_turn_seq(out: DataFrame) -> list[str]:
    bad = (
        out.groupBy("conv_id")
        .agg(
            F.min("turn_seq").alias("lo"),
            F.max("turn_seq").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("turn_seq").alias("d"),
        )
        .where("lo != 1 OR hi != n OR d != n")
        .count()
    )
    return [f"turn_seq not dense in {bad} conversations"] if bad else []


def check_sample(out: DataFrame, corpus: pd.DataFrame, seed: int) -> list[str]:
    """A seeded ~500-turn sample equals a direct ``extract_turn``."""
    every = max(1, len(corpus) // SAMPLE_TURNS)
    pick = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(every)) == 0
    rows = (
        out.where(pick)
        .select("conv_id", "turn_idx", "text", "method", "error", "chars_out", "spans")
        .collect()
    )
    payloads = dict(
        zip(zip(corpus["conv_id"], corpus["turn_idx"]), corpus["text"])
    )
    problems = []
    for r in rows:
        want = extract_turn(payloads[(r.conv_id, r.turn_idx)])
        got = (
            r.text,
            r.method,
            r.error,
            r.chars_out,
            [(s.start, s.end, s.kind) for s in r.spans or []],
        )
        if got != (
            want.text,
            want.method,
            want.error,
            want.chars_out,
            [tuple(s) for s in want.spans],
        ):
            problems.append(f"turn {r.conv_id}/{r.turn_idx} differs from extract_turn")
    if not rows:
        problems.append("sample selected no turns")
    return problems[:8]


# Row normalization shared with tests/test_oracle_parity.py: sorted
# column names, floats rounded to 6 places, rows sorted.
def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return f"{round(v, 6) + 0.0:.6f}"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


class OracleParity:
    """DuckDB parity of written operator outputs against
    ``__spark_entry__.oracle_sql()``, with the oracle text used as is."""

    TABLES = ("documents", "embeddings", "events")

    def __init__(self, tables_dir: str) -> None:
        import duckdb

        import __spark_entry__

        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
            )
        self._expected: dict[str, tuple] = {}

    def _fetch(self, sql: str) -> tuple:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return _normalize(res.fetchall(), cols)

    def check(self, op: str, out_dir: str) -> list[str]:
        if op not in self._expected:
            self._expected[op] = self._fetch(self.sql[op])
        want_rows, want_cols = self._expected[op]
        got_rows, got_cols = self._fetch(
            f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"
        )
        if got_cols != want_cols:
            return [f"{op}: columns {got_cols} != oracle {want_cols}"]
        if len(got_rows) != len(want_rows):
            return [f"{op}: {len(got_rows)} rows != oracle {len(want_rows)}"]
        bad = sum(a != b for a, b in zip(got_rows, want_rows))
        return [f"{op}: {bad} rows differ from the oracle"] if bad else []

    def close(self) -> None:
        self.con.close()
