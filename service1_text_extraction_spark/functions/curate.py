"""End-to-end corpus curation: the composition every pretraining
pipeline runs as its final assembly — quality gate x language filter x
exact-dedup keeper selection x deterministic train/test split.

Plan shape (the 100 TB question): quality, lang_pred, and split are
all per-row functions of one documents row, so they compute in ONE
projection over ONE scan (the reusable column forms in
:mod:`.textstats`); the only other input is the exact-dedup keeper
set, one hash-aggregate over a second scan, joined back on doc_id —
two scans, one shuffle join, no intermediate corpus materialized
(plan-tested in tests/test_plans.py).

Each ingredient is the already-driver-verified operator; the composed
oracle (``__spark_entry__``) is the identical join over the
ingredient oracles, so the composition itself is hash-checked too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup, textstats
from .spread import read_spread


MIN_QUALITY = 0.5


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> curated (doc_id, lang_pred, quality, split):
    keep exact-dedup keepers whose quality clears MIN_QUALITY and
    whose language is identified."""
    base = (
        read_spread(spark, sf_dir, "documents")
        .select(
            "doc_id", "text", F.expr(textstats._TOKENS).alias("t")
        )
    )
    enriched = textstats.with_lang_pred(base, keep_scores=True).select(
        "doc_id",
        "lang_pred",
        # reuse the English stop-count the language vote just computed
        # instead of re-filtering the token array
        textstats.quality_expr(stop_en=F.col("sc_en")).alias("quality"),
        textstats.split_label_expr().alias("split"),
        # checkpoint the NARROW signal table (r7): without the
        # barrier, predicate pushdown substitutes quality/lang_pred
        # into a Filter below the scan-side projections — ~25
        # tokenizer copies per row, evaluated in the (serial) scan
        # stage. Behind the barrier the signals compute once per row
        # in the parallel projection and the filter reads plain
        # columns. Lazy: no job at construction; per-invocation, so
        # no result crosses bench runs.
    ).localCheckpoint(eager=False)
    # keeper_id is one-per-md5-group, already distinct
    keepers = dedup.exact_dedup(spark, sf_dir).select(
        F.col("keeper_id").alias("doc_id")
    )
    return (
        enriched.join(keepers, "doc_id")
        .where(
            (F.col("quality") >= MIN_QUALITY)
            & (F.col("lang_pred") != "und")
        )
        .select("doc_id", "lang_pred", "quality", "split")
    )


# --------------------------------------------------------------------------
# Deterministic source-mixture sampling (the "domain weights" step of
# corpus assembly — The Pile / Dolma / FineWeb all downsample or
# upweight per-source before training).
# --------------------------------------------------------------------------

MIX_BASE_PCT = 30  # smallest per-source keep rate
MIX_STEP_PCT = 10  # rate spread across the 5 source classes


def mix_rate_expr() -> F.Column:
    """Per-source keep rate in percent: sources rotate through five
    rate classes (30/40/50/60/70%) by their numeric suffix — a stand-in
    mixture policy that exercises the machinery; a production run
    passes its own source -> rate map the same shape."""
    # try_cast: a non-'src<digits>' source yields NULL rate (ANSI mode
    # would hard-fail the whole job on one odd source name)
    src_num = F.substring(F.col("source"), 4, 10).try_cast("int")
    return (MIX_BASE_PCT + MIX_STEP_PCT * (src_num % 5)).cast("int")


def mix_keep_expr() -> F.Column:
    """Deterministic per-document keep decision: md5-bucket of
    'mix:'||doc_id (salted so it is independent of the train/test
    split hash) under the source's rate. Reproducible across engines,
    runs, and cluster sizes — rerunning the mixture can never swap
    which documents were sampled, the property a 100 TB ablation
    grid depends on."""
    h = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 100
    return bucket < mix_rate_expr()


def sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture policy and report per-source admission:
    (source, rate_pct, n_in, n_kept). Scale shape: a stateless per-row
    filter (no shuffle of the corpus) followed by one 20-row
    hash-aggregate with map-side combine — the 100 TB form writes the
    kept rows and this rollup in the same pass."""
    d = read_spread(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # a source whose suffix fails to parse gets NULL rate; its rows
    # must count as NOT kept (0), never as NULL (a NULL-only group
    # would sum to NULL here but 0 in the oracle)
    kept = F.when(mix_keep_expr(), F.lit(1)).otherwise(F.lit(0))
    return (
        d.groupBy("source")
        .agg(
            F.first(mix_rate_expr()).alias("rate_pct"),
            F.count("*").cast("long").alias("n_in"),
            F.sum(kept).cast("long").alias("n_kept"),
        )
        .select("source", "rate_pct", "n_in", "n_kept")
    )


SAMPLE_QUOTA = 20  # exact per-source keep count
SAMPLE_SHARDS = 8  # phase-1 salt fan-out (production: ~cluster cores)


def sample_exact_quota(
    spark: SparkSession, sf_dir: str, shards: int = SAMPLE_SHARDS,
) -> DataFrame:
    """Exact-count stratified sampling: keep exactly
    ``min(SAMPLE_QUOTA, n_source)`` documents per source, chosen by a
    salted deterministic md5 order — the exact-budget companion to the
    rate-based ``sample_by_source`` (corpus assemblies that promise
    "N documents/tokens from source X" need exact counts, not
    expected rates). Rerun-stable at any cluster size: only
    md5('quota:'||doc_id) and doc_id feed the order, and the salt
    makes the choice independent of both the mixture hash and the
    train/test split hash.

    Scale shape (two-phase, VERDICT r5 item 2 — the one-phase
    ``Window.partitionBy(source)`` funneled a 100 TB mega-source
    through ONE task): phase 1 salts each source into ``shards``
    shards by an independent slice of the same md5 (hex chars 17-20 —
    bits disjoint from the 16-char order prefix) and takes the
    per-(source, shard) top ``SAMPLE_QUOTA`` — a mega-source now sorts
    as ``shards`` parallel spill-backed partitions. Phase 2 re-ranks
    ONLY the survivors (at most SAMPLE_QUOTA x shards rows per source,
    a few KB) with the per-source window the one-phase form ran over
    the whole corpus. The output is PROVABLY identical to one-phase:
    any global top-Q element (Q = ``SAMPLE_QUOTA``) is preceded by
    fewer than Q source rows, hence by fewer than Q rows of its own
    shard, so it survives phase 1; phase 2 then reproduces the
    global order exactly — which is why the DuckDB oracle can stay
    the verbatim one-phase window (it replays the same selection),
    and why ``shards=1`` is pinned bit-equal to ``shards=8`` in
    tests. Production sizes ``shards`` toward cluster parallelism;
    the default 8 already removes the single-task funnel."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    base = (
        read_spread(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.substring(h, 1, 16).alias("hk")
        )
    )
    if shards > 1:
        shard = F.pmod(
            F.conv(F.substring(h, 17, 4), 16, 10).cast("long"),
            F.lit(shards),
        )
        w1 = Window.partitionBy("source", "shard").orderBy(
            "hk", "doc_id"
        )
        base = (
            base.withColumn("shard", shard)
            .withColumn("shard_rank", F.row_number().over(w1))
            .where(F.col("shard_rank") <= SAMPLE_QUOTA)
        )
    w2 = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        base.withColumn("sample_rank", F.row_number().over(w2))
        .where(F.col("sample_rank") <= SAMPLE_QUOTA)
        .select(
            "doc_id", "source",
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


def admit_pred_sql() -> str:
    """The stateless per-row admission predicate (Gopher pass + C4
    page keep) as ONE let-bound SQL boolean over the ``text`` column:
    ``transform(array(<tokens>), t -> <rules>)[0]`` — the token array
    materializes exactly once per row even inside a pushed-down
    Filter. ``admit_corpus`` evaluates it in its admission projection."""
    return (
        f"transform(array({textstats._TOKENS}), t ->"
        f" ({textstats.gopher_pass_sql()})"
        f" and size({textstats._c4_kept_sql(textstats._c4_lines_sql())})"
        f" >= {textstats.C4_MIN_KEPT_LINES}"
        " and not contains(lower(text), 'lorem ipsum')"
        " and not contains(lower(text), '{'))[0]"
    )


def admit_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern admission pipeline — documents that clear ALL
    of: the deterministic source mixture (``mix_keep_expr``), the
    Gopher quality gate, the C4 page gate, and exact-dedup keeper
    selection — labeled with the train/test split. The composition a
    FineWeb/Dolma-style assembly runs as its last step.

    Scale shape (the reason this beats chaining the four standalone
    queries): every admission signal except dedup is a PER-ROW
    function, so the whole quality decision is ONE boolean predicate
    over one corpus scan; the only other input is the exact-dedup
    keeper set (one hash-aggregate over md5(text) on a second scan)
    joined back on doc_id. Two scans, one shuffle join, no
    intermediate corpus materialized.

    The predicate uses a LET-BINDING — ``transform(array(<tokens>),
    t -> <rules>)[0]`` — so the token array materializes exactly once
    per row inside the Filter. The naive form (signal columns in a
    projection consumed only by a filter) collapses under predicate
    pushdown: Catalyst substitutes every alias into the Filter and
    the tokenizer re-runs once per signal reference (measured: 14
    ``split()`` copies in the pushed-down plan; plan-pinned to 1)."""
    admitted = (
        read_spread(spark, sf_dir, "documents")
        # r7: evaluate the let-bound predicate in a PROJECTION above
        # the input-spread exchange (projections are not pushed below
        # it; a WHERE is) and filter behind a checkpoint barrier —
        # otherwise the whole Gopher/C4 signal chain lands in a
        # Filter inside the serial scan stage. The narrow
        # (doc_id, adm, split) table materializes once per
        # invocation; the let-binding still holds signal evaluation
        # to one tokenizer pass per row.
        .select(
            "doc_id",
            (F.expr(admit_pred_sql()) & mix_keep_expr()).alias("adm"),
            textstats.split_label_expr().alias("split"),
        )
        .localCheckpoint(eager=False)
        .where(F.col("adm"))
        .select("doc_id", "split")
    )
    # exact_dedup emits ONE keeper per md5(text) group, so keeper_id
    # is already distinct — no .distinct() (it would add a pointless
    # exchange+aggregate to the composite's plan)
    keepers = dedup.exact_dedup(spark, sf_dir).select(
        F.col("keeper_id").alias("doc_id")
    )
    return admitted.join(keepers, "doc_id").select("doc_id", "split")


def split_leak_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: bucket on the MinHash
    CONNECTED-COMPONENT representative instead of the doc_id, so a
    document and all its near-duplicates land in the same split by
    construction. ``train_test_split`` hashes doc_id — correct for
    i.i.d. sampling, but two near-identical crawls of one page can
    straddle the split and leak training text into the held-out set
    (the classic eval-contamination failure this operator exists to
    prevent; cf. the dedup-before-split guidance in Lee et al. 2021).

    The split rule is the SAME md5-bucket law as train_test_split
    (first 4 hex chars mod 100, 'test' below ``textstats.TEST_PCT``),
    applied to cluster_rep — so for a singleton document
    (cluster_rep == doc_id) the two operators agree exactly, and the
    whole corpus remains reproducible across engines, runs, and
    cluster sizes.

    Scale shape: everything is ``minhash_connected_components``'s
    O(edges)-per-round propagation (no pairwise materialization);
    the split labels are ONE added projection over its output — the
    plan pin asserts zero additional exchanges."""
    cc = dedup.minhash_connected_components(spark, sf_dir)
    h = F.md5(F.col("cluster_rep").cast("string"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 100)
    return cc.select(
        "doc_id",
        "cluster_rep",
        bucket.alias("bucket"),
        F.when(bucket < textstats.TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


WSAMPLE_K = 50  # sample size


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    exponential-clock form of Efraimidis-Spirakis A-ES): each doc
    draws u from its own md5 (u = (h+1)/2^60, never 0), gets key =
    -ln(u)/w with w = n_chars, and the sample is the ``WSAMPLE_K``
    SMALLEST keys — inclusion probability proportional to weight,
    reproducible across engines/runs/cluster sizes because u is
    content-derived, not a PRNG (``df.sample``'s seed changes meaning
    with the partition layout; this never does).

    Scale shape: a pure projection + ``orderBy().limit(k)`` — Spark
    plans TakeOrderedAndProject: per-partition top-k heaps then ONE
    bounded merge of num_partitions x k rows on the driver; no
    window, no global sort, no full-corpus exchange (plan-pinned).
    The float key is compare-only and never output, so engine float
    identity only matters within ~1 ulp ties (measure-zero under a
    60-bit hash); zero-weight docs are excluded (x/0 rule)."""
    two60 = float(1 << 60)
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15),"
        " 16, 10) as bigint)"
    )
    u = (h + F.lit(1)).cast("double") / F.lit(two60)
    key = (-F.log(u)) / F.col("n_chars").cast("double")
    return (
        read_spread(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", key.alias("k_"))
        .orderBy(F.col("k_").asc(), F.col("doc_id").asc())
        .limit(WSAMPLE_K)
        .select("doc_id", "source", "n_chars")
    )


def corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the incremental-crawl
    primitive: given OLD and NEW corpus snapshots, emit exactly the
    work list (added / removed / changed doc ids; unchanged docs are
    filtered out BEFORE anything downstream sees them). Here the two
    snapshots are deterministic fabrications of the driver table so
    every status arises: old = doc_id % 4 != 3 (docs % 4 == 1 carry a
    stale marker), new = doc_id % 5 != 4 (docs % 5 == 4 were deleted).

    Scale shape: both sides reduce to (doc_id, md5) BEFORE the
    full-outer join, so the one unavoidable exchange carries 16-byte
    hashes, never document text (plan-pinned — the same rule as
    exact_dedup)."""
    docs = read_spread(spark, sf_dir, "documents")
    # NULL text coalesces to '' so a present-but-textless doc hashes to
    # a value (status from presence, never misread as added/removed)
    text = F.coalesce(F.col("text"), F.lit(""))
    old = docs.where(F.col("doc_id") % 4 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 4 == 1, F.concat(text, F.lit(" v1"))
            ).otherwise(text)
        ).alias("h_old"),
    )
    new = docs.where(F.col("doc_id") % 5 != 4).select(
        "doc_id", F.md5(text).alias("h_new")
    )
    joined = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return (
        joined.select("doc_id", status.alias("status"))
        .where(F.col("status").isNotNull())
    )
