"""Relational operators from SURVEY §2 over the driver test tables.

Each maps a reference behavior (cited per function) onto idiomatic
DataFrame ops: filters push to the parquet scan, small dims broadcast,
aggregates partial-combine map-side — all Catalyst built-ins, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernels.textnorm import NUMBER_PATTERN
from .spread import read_spread, read_table as _t


def pending_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 resume filter: ``status IS NULL OR status < 100``
    (001_doc_text_extraction_queue.sql:75-78), on events.value."""
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNull() | (F.col("value") < 100))
        .select("event_id", "user_id", "value")
    )


def success_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 batch tally (document_text_extraction_service.py:336-337)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


def chars_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4 page-count + text-length rollups
    (document_text_extraction_service.py:264-266, core:821)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def method_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-method page counts (core_pdf_processor.py:814-815)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )


def batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 processing summary (ml_document_processor.py:337-374)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


def turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 stable ordering (core_pdf_processor.py:191-196) as a window."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", F.row_number().over(w).alias("turn_seq"))
    )


def doc_char_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 running char offsets (span-offset accumulation, SURVEY §2.5)."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).cast("long").alias(
            "char_offset"
        ),
    )


def resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 resume anti-join (ml_document_processor.py:211-228,304-309):
    docs whose id has no 'click' event. The done-set is small ->
    broadcast, no shuffle of the big side."""
    docs = _t(spark, sf_dir, "documents")
    done = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("doc_id"))
        .distinct()
    )
    return docs.join(F.broadcast(done), on="doc_id", how="left_anti").select(
        "doc_id", "lang", "source"
    )


def quality_gate_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 min-length gate at the service's 250-char threshold
    (document_text_extraction_service.py:174-178; core:378-380)."""
    return (
        _t(spark, sf_dir, "documents")
        .where(F.length(F.trim(F.col("text"))) >= 250)
        .select("doc_id", F.length(F.trim(F.col("text"))).cast("long").alias("len"))
    )


def extract_numbers_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 number extraction (text_utils.py:119-123) over events.props.

    Null-guarded: ``size()`` yields -1 on NULL input under Spark's
    legacy sizeOfNull while DuckDB ``len()`` yields NULL — coalescing
    the input to '' keeps both engines at 0 for null props.
    """
    props = F.coalesce(F.col("props"), F.lit(""))
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.size(F.regexp_extract_all(props, F.lit(NUMBER_PATTERN), F.lit(0))).cast(
            "long"
        ).alias("n_numbers"),
    )


def extract_dates_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 ISO-date extraction (text_utils.py:130) over a derived string.
    Null ts coalesces to '' (Spark concat is null-propagating, DuckDB
    concat is null-ignoring — the guard keeps both at 'due ')."""
    s = F.concat(
        F.lit("due "),
        F.coalesce(F.col("ts").cast("date").cast("string"), F.lit("")),
    )
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.size(
            F.regexp_extract_all(s, F.lit(r"\b\d{4}-\d{2}-\d{2}\b"), F.lit(0))
        ).cast("long").alias("n_dates"),
    )


def header_footer_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/K3 header-footer line removal (text_utils.py:149-166) as a
    declarative array pipeline over a synthesized multi-line doc."""
    doc = F.concat_ws(
        "\n", F.lit("Page 1"), F.col("text"), F.lit("42"), F.lit("----")
    )
    kept = F.filter(
        F.transform(F.split(doc, "\n"), lambda l: F.trim(l)),
        # (?i) mirrors the kernel's re.IGNORECASE page-line pattern
        lambda l: ~l.rlike("(?i)^Page [0-9]+$")
        & ~l.rlike("^[0-9]+$")
        & (F.length(l) >= 3)
        & ~l.rlike("^-+$"),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(kept).cast("long").alias("n_kept_lines")
    )


def page_marker_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7/K8 page-marker + md-header formatting
    (core_pdf_processor.py:811; service:657)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.format_string(
            "# Page %d - %s", F.col("doc_id"), F.upper(F.col("source"))
        ).alias("header"),
        F.format_string(
            "\n--- PAGE %d ---\n%s\n", F.col("doc_id"), F.col("text")
        ).alias("marked"),
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min) — the streaming-adjacent
    window op a transcript pipeline needs (SURVEY §2.9 batch analogue)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    df = _t(spark, sf_dir, "events").withColumn(
        "new_session",
        F.when(prev.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
    )
    return df.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def broadcast_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join rollup: orders x customer (small dim broadcast so
    the fact table never shuffles on the join key)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate: map-side partial aggregation, no UDFs,
    whole-stage codegen end to end."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-join + top-k: revenue per customer, top 20 by revenue
    with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (customer x orders x nation) with broadcast dims —
    exercises Catalyst join reordering + broadcast selection."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style conditional aggregate: promo revenue share per
    month. Broadcast the part dim; the fact table never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("p_type").startswith("PROMO"), rev)
                    .otherwise(0.0)
                )
                * 100.0
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


def supplier_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dim chain (supplier -> nation -> region) with broadcast
    joins: account-balance rollup per region."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
        )
    )


def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (§2.7): dropDuplicates (reference list(set(...)) analogue,
    ml_document_processor.py:155)."""
    return _t(spark, sf_dir, "events").select("user_id").distinct()


def clickers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (§2.7): EXCEPT — (user, day) pairs with clicks but no
    errors that day."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "day")
    errors = ev.where(F.col("event_type") == "error").select("user_id", "day")
    return clicks.subtract(errors)


def json_extract_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 JSON parsing (json_utils.py:28-184 family) via built-in
    JSON-path extraction over events.props."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


def source_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 file listing (file_operations.py:127-157): rows per source
    file of the scan, via input_file_name()."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
                "file_name"
            )
        )
        .groupBy("file_name")
        .agg(F.count("*").alias("n_rows"))
    )


def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (F.percentile is
    the exact sort-based form — at 100 TB swap for percentile_approx's
    mergeable t-digest-style sketch; the exact form is the oracle-able
    correctness baseline)."""
    pcts = F.percentile(
        F.col("value").cast("double"), F.array(*[F.lit(p) for p in (0.5, 0.9, 0.99)])
    )
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(pcts[0], 4).alias("p50"),
            F.round(pcts[1], 4).alias("p90"),
            F.round(pcts[2], 4).alias("p99"),
            F.count("value").alias("n"),
        )
    )


def rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (lang, source) -> per-pair, per-lang subtotal,
    and grand total in one pass (Catalyst expands the grouping sets;
    partial aggregation applies to every set)."""
    return (
        _t(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def ist_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 IST timestamp formatting (reference logging_utils.py:17-52):
    the service stamps every log line in Indian Standard Time in three
    formats — 'YYYY-MM-DD HH:MM:SS IST', ISO with '+05:30', and the
    compact bracketed log prefix; here the same formats derive per
    event row from its ``ts``. IST is a FIXED UTC+5:30 offset (no
    DST), so the conversion is pure interval arithmetic — engine- and
    tz-database-independent (a tz-aware deployment writes
    ``from_utc_timestamp(ts, 'Asia/Kolkata')``, which is identical for
    every instant since 1945). Scale shape: stateless per-row
    projection, zero shuffle.

    Rendering is SESSION-TIMEZONE-FREE (review r5): the events table
    is read with ``ts`` declared TIMESTAMP_NTZ (``spread.TABLE_SCHEMAS``),
    a wall-clock value, so interval shift + ``date_format`` never
    consults ``spark.sql.session.timeZone``. A file that stores ``ts``
    as an instant (TIMESTAMP) reads as its UTC wall clock, so it
    renders the same under any session zone too, where rendering the
    instant itself would double-shift on a cluster already configured
    to Asia/Kolkata.

    Precision divergence (ADVICE r5, documented deliberately):
    ``ist_iso`` renders WHOLE seconds. The reference's
    ``get_ist_timestamp_iso`` returns ``datetime.isoformat()``, which
    appends ``.%f`` microseconds whenever the instant has a fractional
    second — so for sub-second instants the reference emits
    '...:SS.123456+05:30' where this column emits '...:SS+05:30'.
    The driver's events table carries whole-second timestamps, where
    the two are byte-identical (the reference's own docstring also
    shows the whole-second form). A deployment that needs the
    fractional tail appends
    ``date_format(ist, '.SSSSSS')``-style rendering to this
    projection; it is kept off here so the column matches the
    documented format string for the dominant whole-second case."""
    ist = F.col("ts") + F.expr("INTERVAL 330 MINUTES")
    date_s = F.date_format(ist, "yyyy-MM-dd")
    hms = F.date_format(ist, "HH:mm:ss")
    stamp = F.concat(date_s, F.lit(" "), hms, F.lit(" IST"))
    return _t(spark, sf_dir, "events").select(
        "event_id",
        stamp.alias("ist_ts"),
        F.concat(date_s, F.lit("T"), hms, F.lit("+05:30")).alias(
            "ist_iso"
        ),
        F.concat(F.lit("["), stamp, F.lit("]")).alias("ist_compact"),
    )


def s3_uri_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 full form: split ``s3://bucket/prefix`` URIs into bucket +
    prefix exactly as the reference's ``_parse_s3_uri``
    (document_text_extraction_service.py:1069-1075: strip the scheme,
    split on the FIRST slash, strip '/' from both ends of the prefix).
    URIs are synthesized deterministically per doc_id with edge
    variants (trailing slash, bucket-only, deep path) so the strip and
    first-slash rules are all exercised."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    v = F.col("doc_id") % 4
    uri = (
        F.when(v == 0, F.format_string(
            "s3://bucket-%d/pre/%d/extracted_text/page_%04d.md",
            F.col("doc_id") % 5, F.col("doc_id"), F.col("doc_id") % 7))
        .when(v == 1, F.format_string(
            "s3://bucket-%d/pre/%d/", F.col("doc_id") % 5, F.col("doc_id")))
        .when(v == 2, F.format_string("s3://bucket-%d", F.col("doc_id") % 5))
        .otherwise(F.format_string(
            "s3://bucket-%d//double//slash//%d",
            F.col("doc_id") % 5, F.col("doc_id")))
    )
    d = docs.select("doc_id", uri.alias("uri"))
    bucket = F.regexp_extract("uri", r"^s3://([^/]*)", 1)
    rest = F.regexp_extract("uri", r"^s3://[^/]*/?(.*)$", 1)
    prefix = F.regexp_replace(rest, r"^/+|/+$", "")
    return d.select("doc_id", "uri", bucket.alias("bucket"),
                    prefix.alias("s3_prefix"))


def _epoch_us() -> Column:
    """Microseconds since the epoch of ``events.ts``. The column is
    TIMESTAMP_NTZ: unix_micros() rejects it, and casting through
    TIMESTAMP would inject the session timezone; a pure NTZ difference
    keeps time bins timezone-free."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )


def _asof_sides(ev: DataFrame, *extra: Column) -> tuple[DataFrame, DataFrame]:
    """The two as-of join inputs over ``events``: purchases tagged 0
    carrying their (p_id, p_ts, p_value), and clicks tagged 1 with
    those columns NULL, each with (user_id, ts, event_id, *extra)."""
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", *extra,
        F.lit(0).alias("tag"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", *extra,
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("p_id"),
        # NTZ, not TIMESTAMP: an instant-typed null would coerce the
        # union's p_ts through the session zone, shifting gap_us by a
        # DST offset on non-UTC clusters
        F.lit(None).cast("timestamp_ntz").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    return purchases, clicks


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for every 'click' event, the user's most recent
    'purchase' at or before the click instant (the canonical
    point-in-time enrichment a feature/training pipeline needs:
    "state as of the example's timestamp", kdb aj / pandas merge_asof
    semantics). Left behavior: clicks with no prior purchase keep
    NULL as-of columns.

    Scale shape: NOT a range join. Both sides union into one stream
    tagged (purchase=0, click=1), ONE hash partition by user_id, one
    ordered window, and ``last(ignore nulls)`` carries the latest
    purchase forward — O(n log n/p) per partition, a single Exchange,
    zero pair explosion regardless of how many purchases precede each
    click (a per-pair theta join would be |clicks|x|purchases| per
    user). Ties at the same timestamp order purchase-before-click
    (tag asc), then event_id, so same-instant purchases are visible
    and the order is total -> deterministic at any parallelism."""
    purchases, clicks = _asof_sides(_t(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = purchases.unionByName(clicks).select(
        "user_id", "ts", "event_id", "tag",
        F.last("p_id", ignorenulls=True).over(w).alias("asof_purchase_id"),
        F.last("p_ts", ignorenulls=True).over(w).alias("asof_ts"),
        F.last("p_value", ignorenulls=True).over(w).alias("asof_value"),
    )
    return carried.where(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        F.col("asof_purchase_id").cast("long").alias("asof_purchase_id"),
        "asof_value",
        F.timestamp_diff("MICROSECOND", F.col("asof_ts"), F.col("ts"))
        .cast("long")
        .alias("gap_us"),
    )


RANGE_WINDOW_S = 300  # error window length: [error_ts, error_ts + 300 s)


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join — for every 'click' event,
    how many 'error' windows ``[error_ts, error_ts + RANGE_WINDOW_S)``
    of the same user contain it (incident attribution; every click
    appears, zero-overlap clicks count 0).

    Scale shape: the naive plan is a per-user theta join (BroadcastNLJ
    or cartesian per key — quadratic in events per user). Instead both
    sides bucket time into fixed RANGE_WINDOW_S-wide bins: a window of
    length W spans at most 2 bins, so each error emits <= 2
    (user_id, bin) rows, each click exactly 1, and the join becomes a
    hash EQUI-join on (user_id, bin) followed by the exact containment
    predicate — candidates are only same-bin-or-neighbor pairs, shuffle
    is one hash exchange per side, and the plan survives any corpus
    size (the DuckDB oracle states the same semantics as the direct
    theta join, so parity proves the bucketed plan computes the true
    range join)."""
    us = RANGE_WINDOW_S * 1_000_000
    ev = _t(spark, sf_dir, "events")
    t_us = _epoch_us()
    errors = (
        ev.where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            t_us.alias("e_us"),
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(t_us / us),
                        F.floor((t_us + us - 1) / us),
                    )
                )
            ).alias("bin"),
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", t_us.alias("c_us"),
        F.floor(t_us / us).alias("bin"),
    )
    hits = (
        clicks.join(errors, ["user_id", "bin"], "left")
        .where(
            F.col("e_us").isNull()
            | ((F.col("c_us") >= F.col("e_us"))
               & (F.col("c_us") < F.col("e_us") + us))
        )
        .groupBy("event_id", "user_id")
        .agg(F.count("err_id").cast("long").alias("n_err_windows"))
    )
    # a click whose only same-bin errors all fail containment loses its
    # rows to the WHERE above; restore it at 0 via the clicks spine
    return (
        clicks.select("event_id", "user_id")
        .join(hits, ["event_id", "user_id"], "left")
        .select(
            "event_id", "user_id",
            F.coalesce("n_err_windows", F.lit(0)).cast("long")
            .alias("n_err_windows"),
        )
    )


HDR_SUB_BITS = 3      # sub-buckets per octave -> <= 2^-3 = 12.5% rel. error
HDR_UNIT = 1000       # fixed-point micro-unit (3 decimal places)


def hdr_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type value percentiles from an HDR-histogram
    sketch — the MERGEABLE fixed-size alternative to
    ``value_quantiles``' exact sort, completing the sketch family
    (HLL = distinct, CMS = frequency, Bloom = membership, HDR =
    quantiles). Values quantize to fixed-point micro-units, then each
    keeps its top ``HDR_SUB_BITS + 1`` significant bits (low bits
    zeroed — a monotone, purely INTEGER quantization via the same
    length(bin()) trick as the HLL rho, so both engines agree
    bit-for-bit; relative error <= 2^-HDR_SUB_BITS = 12.5%, pinned
    against the exact percentiles in tests). The pXX estimate is the
    smallest bucket whose cumulative count covers ceil(q * n),
    selected with 100*cum >= qq*n integer arithmetic (no float
    thresholds anywhere).

    Scale shape: ONE map-side-combinable hash-aggregate over
    (event_type, bucket) — a few hundred buckets per type at ANY
    corpus size (fixed sketch, mergeable by addition like CMS) — then
    a cumulative window over that bounded table; the exact form's
    full per-type sort never happens. Non-negative domain only (the
    driver events table; a production deployment adds a sign
    bucket)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    v = "cast(floor(value * %d) as bigint)" % HDR_UNIT
    q = (
        "CASE WHEN {v} < {small} THEN {v} ELSE"
        " shiftleft(shiftright({v}, length(bin({v})) - {keep}),"
        " length(bin({v})) - {keep}) END"
    ).format(v=v, small=1 << (HDR_SUB_BITS + 1), keep=HDR_SUB_BITS + 1)
    counts = (
        ev.select("event_type", F.expr(q).alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "b",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    pick = lambda qq: F.min(
        F.when(100 * F.col("cum") >= qq * F.col("n"), F.col("b"))
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.round(pick(50) / HDR_UNIT, 6).alias("p50_est"),
        F.round(pick(90) / HDR_UNIT, 6).alias("p90_est"),
        F.round(pick(99) / HDR_UNIT, 6).alias("p99_est"),
    )


ASOF_BLOCK_S = 6 * 3600  # time-block width for the salted as-of scan


def asof_join_salted(
    spark: SparkSession, sf_dir: str, block_s: int = ASOF_BLOCK_S
) -> DataFrame:
    """``asof_join``'s mega-key scale path — the classic parallel-scan
    decomposition: a user whose whole event history lands in ONE window
    partition funnels through one task in the one-phase form, so here
    each user's timeline splits into fixed ``block_s``-wide time
    blocks, the as-of window runs per (user, block), and the
    cross-block purchase state arrives through an exclusive
    last-ignore-nulls carry over the per-block summaries — a table with
    ONE row per (user, block), thousands of times smaller than the
    event stream, so its per-user window is skew-free by construction.
    A click with no in-block prior purchase coalesces to its block's
    carry-in; blocks are time-ordered, so the carry is exactly "latest
    purchase in any earlier block".

    Results are identical to ``asof_join`` (same registered oracle;
    equality also pinned directly in tests): the in-block window sees
    every same-block purchase at or before the click (tag order covers
    same-instant ties), and anything earlier is strictly in an earlier
    block."""
    blk = F.floor(_epoch_us() / (block_s * 1_000_000)).alias("blk")
    purchases, clicks = _asof_sides(_t(spark, sf_dir, "events"), blk)
    w_blk = (
        Window.partitionBy("user_id", "blk")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_block = purchases.unionByName(clicks).select(
        "user_id", "ts", "event_id", "blk", "tag",
        F.last("p_id", ignorenulls=True).over(w_blk).alias("ib_id"),
        F.last("p_ts", ignorenulls=True).over(w_blk).alias("ib_ts"),
        F.last("p_value", ignorenulls=True).over(w_blk).alias("ib_value"),
    )
    # per-(user, block) FINAL purchase state: latest purchase in the
    # block — one tiny row per occupied block. The spine must include
    # click-only blocks (their carry-in would otherwise vanish in the
    # final left join — pinned by the carry-across-empty-blocks test).
    spine = (
        purchases.select("user_id", "blk")
        .unionByName(clicks.select("user_id", "blk"))
        .distinct()
    )
    summary = spine.join(
        purchases.groupBy("user_id", "blk").agg(
            F.max_by(
                F.struct("p_id", "p_ts", "p_value"),
                F.struct("ts", "event_id"),
            ).alias("last_p")
        ),
        ["user_id", "blk"],
        "left",
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        "user_id", "blk",
        F.last("last_p", ignorenulls=True).over(w_carry).alias("carry_p"),
    )
    return (
        in_block.where(F.col("tag") == 1)
        .join(carry, ["user_id", "blk"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("ib_id", F.col("carry_p.p_id"))
            .cast("long")
            .alias("asof_purchase_id"),
            F.coalesce("ib_value", F.col("carry_p.p_value"))
            .alias("asof_value"),
            F.timestamp_diff(
                "MICROSECOND",
                F.coalesce("ib_ts", F.col("carry_p.p_ts")),
                F.col("ts"),
            ).cast("long").alias("gap_us"),
        )
    )


HOP_WINDOW = "10 minutes"  # sliding window length
HOP_SLIDE = "5 minutes"    # hop; each event lands in exactly 2 windows


def _count_and_cents() -> list[Column]:
    """Per-window event count and value sum in exact integer cents."""
    return [
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    ]


def hopping_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation over the event stream —
    the batch twin of Structured Streaming's windowed aggregates:
    10-minute windows every 5 minutes, per event type, counting events
    and summing value in exact integer CENTS (``round(value*100)`` as
    bigint — a double ``sum`` over an arbitrary partition order is not
    reproducible run-to-run, the HLL/BM25 integer-units rule).

    Scale shape: Spark plans a sliding window as an Expand (each event
    row fans out to window/slide = 2 window copies) feeding one
    hash-aggregate — the partial agg combines map-side, so the
    exchange carries at most (time-range/slide x event-types) rows
    regardless of event count, and there is no per-key sort anywhere
    (contrast a WindowExec formulation). Windows are epoch-aligned in
    both engines (DuckDB's time_bucket origin, 2000-01-01, is itself
    a 5-minute boundary of the 1970 epoch, so the grids coincide).
    ``ts`` is TIMESTAMP_NTZ end to end — no session-zone shift on
    either side."""
    ev = _t(spark, sf_dir, "events")
    win = F.window("ts", HOP_WINDOW, HOP_SLIDE)
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(*_count_and_cents())
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) per user:
    a user reaches step k only through an event of step k's type
    STRICTLY AFTER their step-(k-1) entry time; the output carries the
    entry timestamp of each reached step plus the final depth.

    Scale shape: one filtered scan + hash-aggregate per step (the
    filter pushes the step's event_type to the parquet scan), chained
    by equi-joins on user_id — each join's right side is
    one-row-per-user, already aggregated, and AQE handles user skew.
    No window (the min-after-threshold rule needs no per-user sort)
    and no collect. Earliest-entry semantics are min() over
    timestamps — deterministic in both engines; ts stays
    TIMESTAMP_NTZ throughout."""
    ev = _t(spark, sf_dir, "events")

    def step(etype: str) -> DataFrame:
        return ev.where(F.col("event_type") == etype).select(
            "user_id", "ts"
        )

    v = step("view").groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    c = (
        step("click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        step("purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    depth = (
        F.lit(1)
        + F.when(F.col("c_ts").isNotNull(), 1).otherwise(0)
        + F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "v_ts",
            "c_ts",
            "p_ts",
            depth.cast("int").alias("depth"),
        )
    )


SESSION_GAP = "30 minutes"  # matches sessionize's gap rule


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows through Spark's NATIVE
    ``session_window`` (one row per session: start, end = last event +
    gap, counts, cent sums) — the merging-window formulation of the
    same 30-minute gap rule ``sessionize`` expresses with a lag
    window. The merge boundary is pinned empirically: an event at
    EXACTLY the previous event's gap horizon still merges (new session
    only when the gap exceeds 30 minutes STRICTLY) — the same ``>``
    rule sessionize uses, so the two formulations count identical
    sessions; the edge test holds both boundary sides.

    Scale shape: one exchange on user_id, then Spark's sort-merge
    session aggregation within partitions; value sums in exact integer
    cents (the hopping-window rule). NULL timestamps are excluded (a
    session window needs an event time); TIMESTAMP_NTZ end to end."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    sw = F.session_window("ts", SESSION_GAP)
    return (
        ev.groupBy(sw.alias("sw"), "user_id")
        .agg(*_count_and_cents())
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def hopping_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality per sliding window — the composition
    of the repo's two streaming-grade primitives: the hopping-window
    fan-out (Expand x2, epoch-aligned grid) keyed over the
    deterministic HLL register sketch (``dedup._hll_estimate`` with
    (window_start, event_type) keys instead of source). This is the
    classic 'unique visitors per sliding window' — exact
    ``countDistinct`` per window shuffles every (window, user) pair,
    while the sketch shuffles AT MOST 1024 register rows per
    (window, type) cell regardless of user count (registers merge
    with max, so the partial aggregate combines map-side).

    Determinism: the same 60-bit md5 hash / integer harmonic-sum
    machinery as hll_distinct_shingles — partition-order-free,
    engine-exact; the small-range linear-counting branch (active
    here: tens of users per window) is ln() behind a 4dp round."""
    from .dedup import HLL_BUCKETS, HLL_HASH_HEX, _hll_estimate

    ev = read_spread(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    win = F.window("ts", HOP_WINDOW, HOP_SLIDE)
    rho = (
        "CASE WHEN w = 0 THEN 51 ELSE"
        " cast(51 - length(bin(w)) as int) END"
    )
    regs = (
        # hash BEFORE the hopping fan-out: the window Expand doubles
        # every row, so an md5 computed after it runs twice per event
        # (guide §2.3 — do per-row work once, then fan out)
        ev.select(
            "ts",
            "event_type",
            F.expr(
                f"cast(conv(substring(md5(cast(user_id as string)), 1,"
                f" {HLL_HASH_HEX}), 16, 10) as bigint)"
            ).alias("h"),
        )
        .select(win.alias("wd"), "event_type", "h")
        .select(
            F.col("wd.start").alias("window_start"),
            "event_type",
            F.expr(f"h % {HLL_BUCKETS}").alias("bucket"),
            F.expr(f"h div {HLL_BUCKETS}").alias("w"),
        )
        .withColumn("rho", F.expr(rho))
        .groupBy("window_start", "event_type", "bucket")
        .agg(F.max("rho").alias("r"), F.count("*").alias("n"))
    )
    return _hll_estimate(
        regs, keys=("window_start", "event_type")
    ).withColumnRenamed("n_shingles", "n_events")
