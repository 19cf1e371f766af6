"""Spark integration for the dirty-JSON recovery kernel.

The repair/extraction ladder (kernels.jsonsan) is not SQL-expressible,
so it runs as one Arrow-batched pandas UDF returning a struct — one
Python crossing per batch, never per field. The driver-checked query
salts ``events.props`` with four deterministic dirt variants (keyed on
``event_id % 4``) so every strategy of the ladder is exercised, while
the expected *clean* values stay DuckDB-expressible (the oracle never
needs the sanitizer — recovery of the original props is the contract).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.jsonsan import parse_ai_response

_RESULT_SCHEMA = StructType(
    [
        StructField("k_value", LongType()),
        StructField("strategy", StringType()),
        StructField("ok", LongType()),
    ]
)


def _coerce_k(k) -> int | None:
    """Recovered JSON may carry a non-integral "k" (string, dict,
    float-string, Infinity/NaN, bool, or an int past int64) — a bad
    value must yield NULL, never crash the Arrow batch (OverflowError
    covers float('inf'); the range check covers Arrow LongType limits).
    Only genuinely integral values pass: bools are NULL (JSON true is
    not a count), and floats with a fractional part are NULL rather
    than silently floor-truncated (3.9 must not report as 3)."""
    if isinstance(k, bool):
        return None
    try:
        if isinstance(k, float) and k != int(k):
            return None
        v = int(k) if isinstance(k, (int, float, str)) else None
        if v is not None and not (-(2**63) <= v < 2**63):
            return None
        return v
    except (ValueError, TypeError, OverflowError):
        return None


@F.pandas_udf(_RESULT_SCHEMA)
def _recover_k(texts: pd.Series) -> pd.DataFrame:
    rows = []
    for t in texts:
        obj, strategy = parse_ai_response(t)
        k = obj.get("k") if isinstance(obj, dict) else None
        rows.append((_coerce_k(k), strategy, int(obj is not None)))
    return pd.DataFrame(rows, columns=["k_value", "strategy", "ok"])


def dirty_payload() -> F.Column:
    """Deterministic dirt, one variant per event_id % 4:
    0 direct-with-trailing-comma, 1 markdown-fenced, 2 buried in prose,
    3 no JSON at all."""
    v = F.col("event_id") % 4
    props = F.coalesce(F.col("props"), F.lit(""))
    return (
        F.when(v == 0, F.regexp_replace(props, r"\}$", ",}"))
        .when(v == 1, F.concat(F.lit("Sure! Here you go:\n```json\n"),
                               props, F.lit("\n```")))
        .when(v == 2, F.concat(F.lit("The result is "), props,
                               F.lit(" as requested.")))
        .otherwise(F.lit("no json here, sorry"))
    )


def json_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 full form (json_utils.py:28-184): recover JSON from salted
    dirty payloads and extract ``k`` — checked against the clean
    DuckDB-side extraction of the unsalted props."""
    from .spread import read_spread

    ev = read_spread(spark, sf_dir, "events")
    out = ev.select(
        "event_id", _recover_k(dirty_payload()).alias("r")
    )
    return out.select(
        "event_id",
        F.col("r.k_value").alias("k_value"),
        F.col("r.strategy").alias("strategy"),
        F.col("r.ok").alias("ok"),
    )
