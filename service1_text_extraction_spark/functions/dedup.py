"""Deduplication operators for a training-data pipeline.

Exact (hash groupBy), word-shingle Jaccard, MinHash+LSH banding, and
SimHash — md5-based hashing keeps results portable to the DuckDB
oracle; the per-document signatures and shingle sketches run as
Arrow-batched Python kernels. The reference's
only dedup is a path-set ``list(set(...))``
(``ml_document_processor.py:155``); these are the scale-path
generalizations a 100 TB corpus needs.

Scale notes: shingle/self-join candidate generation is the textbook
shuffle-heavy step — MinHash banding exists precisely to bound it
(pairs only form inside tiny band buckets). Exact dedup is one
hash-aggregate; SimHash is one Arrow map with zero exchanges.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .spread import read_spread, read_table
from .textstats import _TOKENS, _grams_sql

N_MINHASH = 8
BAND_SIZE = 4  # 2 bands of 4 -> candidates need one identical half-signature


def _grams_of_t(n: int) -> str:
    """Spark SQL: the distinct token ``n``-grams of the materialized
    token array ``t`` (``textstats._grams_sql``)."""
    return f"array_distinct({_grams_sql(n)})"


# word 3-gram shingles; docs with <3 tokens contribute one short shingle.
# The token array MUST be materialized in its own projection before the
# shingle transform: inlining the tokenizer into the per-element lambda
# re-tokenizes the whole document for every element access (measured
# O(n^2): the bare explode over sf0.1 took 9.6 s for 260k rows; with the
# materialized column it is sub-second).
# The tokenizer is the single shared constant (textstats) — the DuckDB
# _TOKS_CTE mirrors both families, so they must never drift apart.
SHINGLES_OF_T = _grams_of_t(3)

# The Python kernels' twin of _TOKENS / SHINGLES_OF_T. Java regex \s is
# ASCII-only ([ \t\n\x0B\f\r]); Python re's \s is Unicode-wide, so
# the class is spelled out to split exactly like Spark's split(...,
# '\\s+').
_JAVA_WS_RE = re.compile("[ \\t\\n\\x0b\\f\\r]+")


def _py_tokens(t) -> list:
    """``_TOKENS`` in Python: lowercased, Java-whitespace-split,
    empties dropped; no tokens for a null document."""
    if not isinstance(t, str):
        return []
    return [x for x in _JAVA_WS_RE.split(t.lower()) if x]


def _py_shingles(t) -> set:
    """``SHINGLES_OF_T`` in Python: the distinct word 3-gram shingles;
    <3 tokens collapse to ONE shingle joining whatever tokens exist
    ('' for token-less and null docs, which the SQL explode also
    emits)."""
    toks = _py_tokens(t)
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-aggregate on the full text (at scale:
    group on md5 first so the shuffle carries 16 bytes, not documents).

    Reads the RAW scan (no input spread): the md5 keys partial-combine
    map-side, so spreading the text through an exchange first costs
    more than the single-pass hash it would parallelize (A/B at
    sf1.0: 0.8 s spread vs 0.4 s raw)."""
    return (
        read_table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_spread(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_TOKENS).alias("t"))
        .select("doc_id", F.explode(F.expr(SHINGLES_OF_T)).alias("shingle"))
        .distinct()
    )


_PAIRS_EXPR = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
)

# document-frequency cap: a shingle/band shared by more documents than
# this is uninformative for near-dup detection (stopword shingle) or a
# mega-cluster whose pairwise expansion is quadratic by construction —
# at scale those are handled by cluster assignment (minhash_clusters),
# never by pair explosion. Far above anything the test SFs produce
# (max observed bucket at sf0.01: 7), so oracle results are unaffected.
MAX_BUCKET_DF = 100


def _capped_buckets(
    exploded: DataFrame,
    keys: list[str],
    member,
    cap: int,
    alias: str = "ids",
    n_min: int = 2,
) -> DataFrame:
    """Bucket ``exploded`` (one row per member) by ``keys`` into sorted
    member arrays, admitting only buckets with ``n_min..cap`` members —
    and enforcing the cap BEFORE any array exists (VERDICT r3: a
    degenerate bucket must never materialize its full id array in one
    aggregation buffer, which at 10^9 docs is an executor OOM).

    A window ``count(*)`` over ``keys`` sizes every bucket in the same
    single exchange the grouping needs anyway (WindowExec is
    spill-backed, so a mega-bucket costs disk, not heap), the filter
    discards over-cap/singleton rows, and only then does collect_list
    run — its largest possible buffer is ``cap`` members. The
    follow-up groupBy reuses the window's hash partitioning: exactly
    ONE exchange, ONE upstream computation. (A persist + LEFT SEMI
    join shape with zero sorts measured 2x slower on the shingle-heavy
    family at 10x: BENCH/capped_ab_sf0.1.json, capped_ab_sf1.json.)"""
    w = Window.partitionBy(*keys)
    return (
        exploded.withColumn("n_members", F.count("*").over(w))
        .where(F.col("n_members").between(n_min, cap))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias(alias))
    )


def _bucket_pairs(grouped: DataFrame, cap: int = MAX_BUCKET_DF) -> DataFrame:
    """(bucket_key -> sorted ids[]) -> exploded (a_id < b_id) pairs.

    Pair generation stays bucket-local (no self-join, no recompute of
    the upstream pipeline on both join sides) — the shape that survives
    at 10^12 rows, where pairs may only ever form inside small buckets.
    ``cap`` bounds any one bucket's quadratic expansion; callers whose
    buckets are clusters (semantic dedup) pass a larger cap than the
    near-dup band default.
    """
    return (
        grouped.where(F.size("ids").between(2, cap))
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
    )


JACCARD_MIN = 0.10  # shingle Jaccard at or above which a pair is a near-dup


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (candidate pairs share >= 1
    shingle; exact Jaccard from shared/size counts, kept at or above
    ``JACCARD_MIN``)."""
    sh = _shingled(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    buckets = _capped_buckets(sh, ["shingle"], "doc_id", MAX_BUCKET_DF)
    shared = (
        _bucket_pairs(buckets)
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_MIN)
    )


_H_MOD = 4294967296  # 2^32

# MinHash computes each document's signature in ONE Arrow-batched
# map: per-doc MinHash is embarrassingly parallel, and min() is
# idempotent under duplicates, so neither a (doc_id, shingle) DISTINCT
# shuffle (which would carry every ~3-word shingle string — the
# heaviest stream in the family) nor a groupBy re-aggregation buys
# anything at any scale. The DuckDB oracle computes the same integers
# with the explode+distinct+groupBy SQL form.

# shingle -> (a, b) 32-bit md5 halves, shared across Arrow batches on
# each worker: 3-gram shingles repeat across documents (boilerplate,
# near-dups — exactly what this family exists to find), so hot
# shingles hash once per worker. The (a + i*b) mod 2^32 rows are
# rebuilt per batch in ONE vectorized numpy op (a,b < 2^32 and
# i < N_MINHASH keep a + i*b far below 2^63 — no int64 overflow), so
# the memo stores two ints per shingle instead of an ndarray.
_MINHASH_AB_MEMO: dict = {}
_MINHASH_MEMO_CAP = 1_000_000
_MINHASH_I = np.arange(N_MINHASH, dtype=np.int64)


def _minhash_ab(shingle: str):
    ab = _MINHASH_AB_MEMO.get(shingle)
    if ab is None:
        d = hashlib.md5(shingle.encode("utf-8")).digest()
        ab = (
            int.from_bytes(d[:4], "big"),   # hex chars 1..8
            int.from_bytes(d[4:8], "big"),  # hex chars 9..16
        )
        if len(_MINHASH_AB_MEMO) < _MINHASH_MEMO_CAP:
            _MINHASH_AB_MEMO[shingle] = ab
    return ab


def _minhash_sig_udf():
    """pandas_udf: text -> array of N_MINHASH signature mins.

    Replicates the oracle's SQL shape bit-for-bit over
    ``_py_shingles`` (every document row, null or token-less ones
    included, gets at least one shingle and so a signature).

    The per-shingle hash rows and per-doc mins are computed for the
    WHOLE batch in two vectorized numpy ops ((A + i*B) mod 2^32 over
    the flattened shingle stream, then ``np.minimum.reduceat`` at the
    per-doc offsets) — identical integers to the former per-shingle
    ``np.stack``/``np.min`` loop, ~5x less Python overhead."""

    @pandas_udf("array<bigint>")
    def sig(text: pd.Series) -> pd.Series:
        ab_of = _minhash_ab
        flat_ab: list = []
        offs = [0]
        for t in text:
            flat_ab.extend(ab_of(s) for s in _py_shingles(t))
            offs.append(len(flat_ab))
        if not flat_ab:
            return pd.Series([], dtype=object)
        ab = np.array(flat_ab, dtype=np.int64)  # (S, 2)
        h = (ab[:, :1] + _MINHASH_I * ab[:, 1:]) % _H_MOD  # (S, N)
        # every doc contributes >= 1 shingle (the <3-token fallback),
        # so the reduceat segments are all non-empty
        mins = np.minimum.reduceat(h, offs[:-1], axis=0)
        return pd.Series(list(mins))

    return sig


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_MINHASH min-hashes per doc via Kirsch-Mitzenmacher double
    hashing: hash_i(s) = (a + i*b) mod 2^32 with (a, b) the two 32-bit
    halves of one md5(shingle) — one digest per shingle occurrence
    instead of N_MINHASH (the md5s were the dominant CPU cost of the
    MinHash family at sf0.1). Integer mins stay portable to DuckDB
    ('0x'-prefixed hex casts). One Arrow map emits the integers with
    zero exchanges."""
    sigged = read_spread(spark, sf_dir, "documents").select(
        "doc_id", _minhash_sig_udf()(F.col("text")).alias("hs")
    )
    return sigged.select(
        "doc_id",
        *[F.col("hs").getItem(i).alias(f"h{i}") for i in range(N_MINHASH)],
    )


def _band_structs() -> list:
    """The signature's LSH bands as (band_idx, band_val) structs —
    shared by the pairwise, cluster, and connected-component variants
    (and mirrored by the oracle's _band_sql) so banding can never
    diverge between them."""
    out = []
    for band in range(N_MINHASH // BAND_SIZE):
        cols = [f"h{band * BAND_SIZE + j}" for j in range(BAND_SIZE)]
        out.append(
            F.struct(
                F.lit(band).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(c).cast("string") for c in cols]
                    )
                ).alias("band_val"),
            )
        )
    return out


def _band_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_val) — one row per signature band, the
    shared parent of every LSH-banding consumer (candidates, clusters,
    connected components, keepers)."""
    sig = minhash_signatures(spark, sf_dir)
    return sig.select(
        "doc_id", F.explode(F.array(*_band_structs())).alias("b")
    ).select("doc_id", F.col("b.band_idx"), F.col("b.band_val"))


def minhash_band_candidates(
    spark: SparkSession, sf_dir: str, exploded: DataFrame | None = None
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair. At 100 TB this is the *only* pairwise step that
    survives: pairs form per-bucket, never globally. ``exploded``
    (optional) supplies a precomputed band table so composite queries
    (cluster_keepers_degree) evaluate the signature pipeline once."""
    if exploded is None:
        exploded = _band_exploded(spark, sf_dir)
    buckets = _capped_buckets(
        exploded, ["band_idx", "band_val"], "doc_id", MAX_BUCKET_DF
    )
    return _bucket_pairs(buckets).distinct()


N_SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16  # 4 bands of 16 -> Hamming<=3 shares >=1 band
SIMHASH_MAX_HAMMING = 3  # near-dup: fingerprints at most 3 bits apart


# SimHash computes each document's 4 x 16-bit fingerprint segments in
# ONE Arrow-batched map: per-doc SimHash is embarrassingly parallel, so
# the two exchanges of the SQL form the DuckDB oracle uses (the
# (doc_id, token) DISTINCT shuffle, which carries the full token
# stream, then the 64-sum re-aggregation) buy nothing at any scale.
# Bit j votes +1/-1 by the high bit of hex nibble j%32 of
# md5((j//32) || ':' || token), summed over the document's distinct
# tokens — exact integer math, so both engines agree bit for bit.

# token -> per-bit ±1 vote row (np.int8[64]), shared across Arrow
# batches on each worker: natural-language vocabulary repeats heavily
# (Zipf), so most tokens hash once per worker, not once per document.
_SIMHASH_VOTE_MEMO: dict = {}
_SIMHASH_MEMO_CAP = 1_000_000


def _simhash_vote_row(tok: str):
    row = _SIMHASH_VOTE_MEMO.get(tok)
    if row is None:
        raw = tok.encode("utf-8")
        buf = (
            hashlib.md5(b"0:" + raw).digest()
            + hashlib.md5(b"1:" + raw).digest()
        )
        a = np.frombuffer(buf, dtype=np.uint8)
        nibs = np.empty(64, dtype=np.uint8)
        nibs[0::2] = a >> 4  # hex char 2i = high nibble of byte i
        nibs[1::2] = a & 15
        row = np.where(nibs >= 8, 1, -1).astype(np.int8)
        if len(_SIMHASH_VOTE_MEMO) < _SIMHASH_MEMO_CAP:
            _SIMHASH_VOTE_MEMO[tok] = row
    return row


def _simhash_segments_udf():
    """pandas_udf: text -> array of 4 x 16-bit fingerprint segments
    (NULL for null/token-less text — the oracle's explode emits no
    row for those docs, so callers filter NULLs to match).

    Bit j of the fingerprint is 1 iff the ±1 votes over the document's
    DISTINCT tokens sum positive, where token votes come from md5 hex
    nibbles — integer-exact arithmetic, identical to the oracle's SQL
    form by construction. Segment b packs bits b*16..b*16+15 MSB-first,
    matching ``simhash_neardup_pairs``'s ``1 << (15 - k)`` weights."""
    weights = (1 << np.arange(15, -1, -1, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def segs(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            toks = set(_py_tokens(t))
            if not toks:
                out.append(None)
                continue
            votes = np.sum(
                [_simhash_vote_row(tok) for tok in toks],
                axis=0,
                dtype=np.int64,
            )
            bits = (votes > 0).astype(np.int64).reshape(4, 16)
            out.append((bits * weights).sum(axis=1))
        return pd.Series(out)

    # pure function, but the downstream ``fs IS NOT NULL`` filter must
    # not be pushed below it (guide §4.4) — that drags the
    # ArrowEvalPython node under the input-spread exchange onto the
    # unsplit single-task scan (see similarity._assigned)
    return segs.asNondeterministic()


def _simhash_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f0..f3) 16-bit fingerprint segments."""
    n_bands = N_SIMHASH_BITS // SIMHASH_BAND_BITS
    segged = read_spread(spark, sf_dir, "documents").select(
        "doc_id", _simhash_segments_udf()(F.col("text")).alias("fs")
    ).where(F.col("fs").isNotNull())
    return segged.select(
        "doc_id",
        *[F.col("fs").getItem(b).alias(f"f{b}") for b in range(n_bands)],
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over distinct word tokens; fingerprint is the
    sign vector rendered as a bit string. 64 bits (vs 16 in round 1)
    keeps 16-bit band buckets sparse at scale — a 16-bit fingerprint
    has only 2^4 values per band, which makes banding near-quadratic.
    The bit string renders from the 16-bit segments (MSB-first)."""
    per_doc = _simhash_segments(spark, sf_dir)
    n_bands = N_SIMHASH_BITS // SIMHASH_BAND_BITS
    return per_doc.select(
        "doc_id",
        F.concat(
            *[
                F.lpad(F.bin(F.col(f"f{b}")), SIMHASH_BAND_BITS, "0")
                for b in range(n_bands)
            ]
        ).alias("simhash"),
    )


def minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-correct alternative to pairwise candidates: assign every
    doc a cluster representative = the minimum doc_id over all of its
    LSH band buckets (one min-label-propagation step). A 10^6-doc
    duplicate cluster costs one aggregation here instead of 10^12
    pairs. Full transitive closure would iterate this step to a fixed
    point; one step already merges everything sharing any band."""
    exploded = _band_exploded(spark, sf_dir)
    # per-bucket min via a window over the SAME exchange the grouping
    # needs (guide §2.4 "two operations keyed the same way share one
    # exchange") — the previous join-against-own-aggregate shape
    # evaluated the signature UDF pipeline twice (once per join side;
    # Catalyst does not CSE across joins), which at any scale doubles
    # the dominant stage. A/B at sf1.0: 11.09 -> ~5.6 s.
    w = Window.partitionBy("band_idx", "band_val")
    return (
        exploded.withColumn("bucket_min", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(F.min("bucket_min").cast("long").alias("cluster_rep"))
    )


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups: pairs within Hamming distance
    ``SIMHASH_MAX_HAMMING``.

    Candidate generation by pigeonhole banding — 64 bits in 4 bands of
    16; any pair at Hamming <= 3 must share at least one identical band,
    so candidates form bucket-locally and the exact Hamming check runs
    only inside buckets (never a global cross product). 16-bit bands
    have 2^16 values, so buckets stay sparse as the corpus grows —
    expected bucket size n/2^16 per band.

    The fingerprint travels as 4 x 16-bit integer segments instead of a
    64-char bit string: band keys are the segment values directly and
    Hamming distance is 4 ``bit_count(xor(...))`` terms instead of 64
    per-character comparisons — both a smaller shuffle payload and a
    far smaller codegen unit."""
    n_bands = N_SIMHASH_BITS // SIMHASH_BAND_BITS
    fp = _simhash_segments(spark, sf_dir)

    bands = [
        F.struct(
            F.lit(b).alias("band_idx"), F.col(f"f{b}").alias("band_val")
        )
        for b in range(n_bands)
    ]
    fcols = [f"f{b}" for b in range(n_bands)]
    exploded = fp.select(
        "doc_id", *fcols, F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", *fcols, F.col("b.band_idx"), F.col("b.band_val"))
    buckets = _capped_buckets(
        exploded,
        ["band_idx", "band_val"],
        F.struct("doc_id", *fcols),
        MAX_BUCKET_DF,
        alias="members",
    )
    pair_fields = ", ".join(
        f"x.f{b} AS a{b}, y.f{b} AS b{b}" for b in range(n_bands)
    )
    pairs_expr = (
        "flatten(transform(members, (x, i) -> transform("
        "slice(members, i + 2, size(members)), "
        f"y -> struct(x.doc_id AS a, y.doc_id AS b, {pair_fields}))))"
    )
    # 16-bit bands keep buckets sparse, so the shared MAX_BUCKET_DF cap
    # applies (mirrored in the DuckDB oracle); an over-full bucket means
    # a degenerate near-identical mega-cluster, which cluster assignment
    # (minhash_clusters), not pair explosion, must handle at scale
    cand = (
        buckets.where(F.size("members").between(2, MAX_BUCKET_DF))
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.*")
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"b{b}")))
        for b in range(n_bands)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a").alias("a_id"), F.col("b").alias("b_id"), "hamming"
        )
    )


# Below this many edges, a connected-components closure runs as
# driver-side union-find instead of iterative Spark rounds — the same
# adaptive small-side strategy as a broadcast join: ONE bounded count
# decides, the collect is bounded by the threshold, and the labels are
# identical (component min == the min-label fixpoint; equality pinned
# by tests). Each distributed round costs several fixed-overhead jobs,
# so a tiny dup subgraph (the common case on a well-curated corpus)
# would pay seconds of scheduling for milliseconds of actual work; a
# 100 TB corpus whose dup graph exceeds the threshold takes the
# distributed loop automatically.
DRIVER_CC_MAX_EDGES = 100_000
CC_MAX_ITERS = 20  # pointer jumping needs O(log diameter) rounds


def _driver_min_labels(rows) -> dict:
    """Union-find (path halving) over collected ``(node, grp)``
    membership rows: node -> the min node of its component. Each
    group's members union with its first member; the union keeps the
    smaller root, so every root is its component's min."""
    parent: dict = {}
    first: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for node, grp in rows:
        parent.setdefault(node, node)
        ra, rb = find(node), find(first.setdefault(grp, node))
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return {node: find(node) for node in parent}


def _cc_labels(
    edges: DataFrame, label: str,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over membership rows ``edges(node, grp)``
    (two columns, in that order): nodes sharing a group are connected.
    Returns ``(node, label)`` longs, one row per node, labeled with
    the min node of its component.

    At most ``driver_max_edges`` rows (ONE action decides the branch
    and delivers the rows, via Arrow rather than a row-pickled
    ``take()`` — guide §6) run as driver union-find; tests pass 0 to
    force the distributed loop as the reference.

    Otherwise: min-label propagation node -> group -> node (the
    alternating-aggregation form of the large-star / small-star CC
    algorithm) with pointer jumping ``label <- label(label)``. Each
    round is two hash-aggregates and three joins over the linear
    membership list — no pairwise materialization, so a 10^6-node
    mega-component costs O(edges) per round. Labels are node ids and
    monotonically non-increasing, so the jump stays inside the
    component and halves its depth: O(log diameter) rounds, which
    ``CC_MAX_ITERS`` covers for any real graph (review r4; the DuckDB
    oracles' recursive closures have no cap to diverge from). The
    convergence check is read off the proposal (no proposal below a
    node's label) and rides in the round's one ``localCheckpoint``,
    which also cuts the growing lineage."""
    node, grp = edges.columns
    head = edges.limit(driver_max_edges + 1).toPandas()
    if len(head) <= driver_max_edges:
        labels = _driver_min_labels(
            zip(head[node].tolist(), head[grp].tolist())
        )
        out = pd.DataFrame(
            {node: list(labels), label: list(labels.values())}
        )
        return edges.sparkSession.createDataFrame(
            out, f"{node} long, {label} long"
        )

    labels = edges.select(node).distinct().select(
        node, F.col(node).cast("long").alias(label)
    )
    for _ in range(CC_MAX_ITERS):
        member = edges.join(labels, node)
        gmin = member.groupBy(grp).agg(F.min(label).alias("gmin"))
        # every node is in its own groups, so the proposal never
        # exceeds its label: the proposal IS the stepped label
        prop = (
            member.join(gmin, grp)
            .groupBy(node)
            .agg(F.min("gmin").alias("nl"), F.min(label).alias("ol"))
        )
        jump = prop.select(
            F.col(node).alias("j_id"), F.col("nl").alias("j_label")
        )
        stepped = (
            prop.join(jump, prop.nl == F.col("j_id"), "left")
            .select(
                node,
                F.coalesce("j_label", "nl").alias(label),
                (F.col("nl") < F.col("ol")).alias("moved"),
            )
            .localCheckpoint()
        )
        labels = stepped.drop("moved")
        if stepped.where("moved").isEmpty():
            break
    else:
        # silent partial labels would diverge from the exact closure
        # (and its oracle); a graph deeper than CC_MAX_ITERS is a
        # pathology the caller must see, not a wrong answer
        raise RuntimeError(
            f"connected components did not converge in"
            f" {CC_MAX_ITERS} iterations"
        )
    return labels


def _cc_bucket_edges(exploded: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) -> the (doc_id, bucket-string)
    membership rows the CC closure propagates over."""
    return exploded.select(
        "doc_id",
        F.concat(
            F.col("band_idx").cast("string"),
            F.lit(":"),
            F.col("band_val"),
        ).alias("bucket"),
    )


def minhash_connected_components(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None,
) -> DataFrame:
    """Full transitive closure over MinHash band buckets — the fixpoint
    upgrade of ``minhash_clusters``' single propagation step: every
    doc is labeled ``cluster_rep`` = the min doc id of its component
    in the (doc, bucket) graph, by ``_cc_labels``. Small dup graphs
    (the common case) close on the driver; large ones iterate in
    O(edges) per round with no pairwise materialization.

    ``edges`` (optional) supplies a precomputed ``(doc_id, bucket)``
    table (the ``_band_exploded`` form rendered to bucket strings) so
    composite queries share ONE signature pass (VERDICT r6 item 1).
    """
    if edges is None:
        edges = _cc_bucket_edges(
            _band_exploded(spark, sf_dir)
        ).localCheckpoint(eager=False)
    return _cc_labels(edges, "cluster_rep")


GRAM_LEN = 64  # duplicate-passage gram width (chars)
GRAM_STRIDE = 16  # stride between gram starts


def _passage_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided ``GRAM_LEN``-char gram hashes per document — (doc_id,
    n_chars, off, h), one row per gram start. ``h`` is the md5 hex
    digest: DuckDB computes the identical digest, so the oracle checks
    hash VALUES, not just counts. ``n_chars`` rides along as one long
    per row for consumers that need coverage math
    (``dup_passage_fraction``); Catalyst prunes it everywhere it is
    unused, so ``duplicate_passages``'s plan is unchanged."""
    return read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(cast(floor((length(text) -"
                f" {GRAM_LEN}) / {GRAM_STRIDE}) as int), 0)), i -> struct("
                f"i * {GRAM_STRIDE} as off, md5(substring(text,"
                f" i * {GRAM_STRIDE} + 1, {GRAM_LEN})) as h))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "n_chars",
        F.col("g.off").alias("off"),
        F.col("g.h").alias("h"),
    )


def _multi_doc_grams(grams: DataFrame) -> DataFrame:
    """Gram hashes occurring in >= 2 documents (and <= MAX_BUCKET_DF
    occurrences — the shared pathological-gram cap)."""
    return (
        grams.groupBy("h")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("n_occ") <= MAX_BUCKET_DF))
    )


def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage detection — the removal target
    of exact-substring corpus dedup (Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" family, re-expressed
    relationally): every strided 64-char gram is hashed; grams whose
    hash occurs in more than one document mark a duplicated passage at
    (doc_id, offset).

    Scale shape: one explode (len/stride grams per doc, each shuffled
    as a 16-byte md5, never the text), one hash-aggregate to find
    multi-doc grams, one bucket-local explode back to positions. No
    pairwise join; a passage shared by 10^6 docs costs its occurrence
    list, not 10^12 pairs (MAX_BUCKET_DF caps pathological grams the
    same way the shingle paths do).
    """
    grams = _passage_grams(spark, sf_dir)
    return (
        grams.join(_multi_doc_grams(grams), "h")
        .select(
            "doc_id",
            F.col("off").cast("long").alias("off"),
            "h",
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def dup_passage_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction — the removal METRIC of
    exact-substring dedup (Lee et al. 2022 report corpora by "fraction
    of tokens in a duplicate substring"; RefinedWeb/FineWeb gate docs
    on the same score). Extends ``duplicate_passages`` from positions
    to coverage: the strided duplicated grams of a doc are merged into
    intervals and the covered character count / doc length is the
    score.

    Exact interval union without materializing intervals: with the
    doc's duplicated gram offsets sorted ascending, each gram covers
    ``min(next_off - off, GRAM_LEN)`` NEW characters (overlap with the
    next gram is exactly the gap complement; the final gram is clipped
    at the doc end, which also handles docs shorter than one gram).
    Summing that per doc is the merged-union length — a window ``lead``
    plus one aggregate, no interval array ever built.

    Scale shape: the ``duplicate_passages`` plan (explode -> hash-agg
    -> join, 16-byte hashes only) plus ONE extra exchange: the lead
    window hash-partitions by doc_id and the following groupBy reuses
    that partitioning (plan-pinned). Output rows only for docs with at
    least one duplicated gram — the score is 0 for absent docs.
    Zero-length docs are excluded before the coverage math (two empty
    docs share the md5('') gram, and 0-covered / 0-length divides to
    NULL in Spark but NaN in DuckDB — the guard pins both engines to
    "empty doc -> absent", matching its 0-duplicated-chars meaning)."""
    grams = _passage_grams(spark, sf_dir)
    dup = grams.where(F.col("n_chars") > 0).join(
        _multi_doc_grams(grams), "h"
    )
    w = Window.partitionBy("doc_id").orderBy("off")
    cov = F.least(
        F.coalesce(
            F.lead("off").over(w) - F.col("off"), F.lit(GRAM_LEN)
        ),
        F.lit(GRAM_LEN),
        F.col("n_chars") - F.col("off"),
    )
    return (
        dup.select("doc_id", "n_chars", "off")
        .withColumn("cov", cov)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_grams"),
            F.sum("cov").cast("long").alias("dup_chars"),
            F.round(F.sum("cov") / F.min("n_chars"), 4).alias(
                "dup_frac"
            ),
        )
    )


def c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global keep-first span dedup — C4's "discard all but one
    of any three-sentence span occurring more than once" rule (Raffel
    et al. 2020 §2.2), over the repo's deterministic pseudo-line spans
    (``LINE_TOKENS``-token windows; the test docs carry no newlines —
    same derivation as gopher_repetition / c4_line_stats). The FIRST
    occurrence in (doc_id, span index) order survives; every later
    occurrence anywhere in the corpus is dropped, and each doc's
    surviving text is reassembled in original span order.

    Scale shape: span TEXT never shuffles. The global first-occurrence
    table is ``min(struct(doc_id, idx))`` per span hash — a map-side
    combinable hash-aggregate, so a boilerplate span occurring 10^9
    times reduces to one row per map task instead of skewing a window
    sort (the window form would funnel every occurrence of a hot span
    through one partition). The join back is keyed on the same 16-byte
    hash; kept span INDICES (ints, bounded by doc length /
    LINE_TOKENS) aggregate per doc, and the final projection re-derives
    span text from each doc's tokens. Three branches read the
    tokenized corpus (the span-hash stream feeds BOTH sides of the
    first-occurrence join, plus the reassembly), so the tokenized
    frame is checkpointed once per invocation: one scan and one
    tokenization in all, and no tokenizer copy left in the final plan
    (the lambda-inlining trap; plan-pinned). Docs whose every span
    first occurred elsewhere have nothing to keep and are absent, like
    the other dedup outputs."""
    from .textstats import LINE_AT_I, _line_starts_sql

    span_of = f"i -> {LINE_AT_I}"
    toks = (
        read_spread(spark, sf_dir, "documents")
        .where(F.col("text").rlike(r"\S"))
        .select("doc_id", F.expr(_TOKENS).alias("t"))
        # shared parent of the span-hash stream (BOTH sides of the
        # first-occurrence join) and the reassembly branch: one
        # per-invocation materialization replaces three scan+tokenize
        # passes
        .localCheckpoint(eager=False)
    )
    hashed = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform({_line_starts_sql()}, {span_of})")
        ).alias("idx", "span"),
    ).select("doc_id", "idx", F.md5("span").alias("h"))
    firsts = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("f")
    )
    kept = (
        hashed.join(firsts, "h")
        .where(F.struct("doc_id", "idx") == F.col("f"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("idx")).alias("keep"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        toks.join(kept, "doc_id")
        .select(
            "doc_id",
            F.expr(f"size({_line_starts_sql()})")
            .cast("long")
            .alias("n_spans"),
            "n_kept",
            F.expr(
                f"concat_ws(' ', transform(keep, {span_of}))"
            ).alias("dedup_text"),
        )
    )


# --------------------------------------------------------------------------
# benchmark decontamination (test-set n-gram overlap)
# --------------------------------------------------------------------------

BENCH_DOC_MAX = 20  # driver stand-in benchmark: the 20 lowest doc_ids
DECON_GRAM = 8  # token n-gram width at test SFs (short synthetic docs)
DECON_GRAM_PROD = 13  # production default: the GPT-3 App. C width


def _gram_rows(df: DataFrame, n: int, *keep: str) -> DataFrame:
    """One row per distinct token ``n``-gram (column ``g``) of each row
    of ``df``'s ``text``, beside the ``keep`` columns. The token array
    is materialized before the gram transform (the lambda-inlining
    trap, tests/test_plans.py)."""
    return df.select(*keep, F.expr(_TOKENS).alias("t")).select(
        *keep, F.explode(F.expr(_grams_of_t(n))).alias("g")
    )


def _stand_in_benchmark(docs: DataFrame) -> DataFrame:
    """The stand-in benchmark when none is supplied: the texts of the
    ``BENCH_DOC_MAX`` lowest doc_ids."""
    return docs.where(F.col("doc_id") < BENCH_DOC_MAX).select("text")


def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    benchmark: DataFrame | None = None,
    gram_len: int = DECON_GRAM,
) -> DataFrame:
    """Benchmark decontamination — the standard pretraining hygiene op
    (GPT-3 App. C / C4 / Dolma style): flag corpus documents that share
    any token ``gram_len``-gram with the held-out ``benchmark`` table
    (any DataFrame with a ``text`` column — the eval suites in
    production, at their GPT-3 width pass ``gram_len=DECON_GRAM_PROD``).
    When no benchmark table is supplied, a deterministic stand-in is
    derived for the driver check: the ``BENCH_DOC_MAX`` lowest
    doc_ids' texts — through the same parameter a real deployment
    uses, so the operator itself is genuinely two-input.
    A benchmark document that also sits in the corpus flags itself —
    exactly the contamination the op exists to surface.

    Scale shape: benchmark gram sets are tiny (benchmarks are MBs even
    when the corpus is 100 TB) -> distinct grams BROADCAST to a hash
    join against the corpus gram stream: one explode + per-doc count,
    the text itself never shuffles."""
    docs = read_spread(spark, sf_dir, "documents")
    if benchmark is None:
        benchmark = _stand_in_benchmark(docs)
    corpus = _gram_rows(docs, gram_len, "doc_id")
    bench = _gram_rows(benchmark, gram_len).distinct()
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))  # grams are per-doc distinct
        .select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))
    )


def contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination SCORE — ``decontaminate`` upgraded
    from a flag to a measurement: for every corpus document, the
    fraction of its distinct token ``DECON_GRAM``-grams that appear in
    ``decontaminate``'s stand-in benchmark (the ``BENCH_DOC_MAX``
    lowest doc_ids). Pipelines threshold this
    (e.g. drop > 0.1, GPT-3 App. C removes matched SPANS) instead of
    dropping on any single shared gram; EVERY document appears in the
    output (zero-hit docs score 0.0), unlike ``decontaminate``'s
    hits-only rows.

    Scale shape: identical to ``decontaminate`` — benchmark gram sets
    broadcast (benchmarks are MBs at any corpus size), ONE corpus
    gram explode LEFT-joined against them, one per-doc count/count
    aggregate; the text never shuffles and zero-hit docs cost no
    extra pass (the left join keeps their gram rows)."""
    docs = read_spread(spark, sf_dir, "documents")
    corpus = _gram_rows(docs, DECON_GRAM, "doc_id")
    bench = (
        _gram_rows(_stand_in_benchmark(docs), DECON_GRAM)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        corpus.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("n_grams"), 6
            ).alias("contam_frac"),
        )
    )


VERIFY_MAX_DIST_FRAC = 0.2  # verified near-dup: edit dist <= 20% of
                            # the longer side


def _trim_affix_udf():
    """pandas_udf: (ta, tb) -> struct(ca, cb) — the pair's texts with
    their common prefix and common suffix stripped. Levenshtein
    distance is invariant under common-affix removal (any optimal
    edit script maps equal affixes to each other), so
    ``levenshtein(ca, cb) == levenshtein(ta, tb)`` exactly — but LSH
    candidates are near-identical, so the stripped cores collapse the
    DP from O(len^2) to roughly O(edit_region^2). Prefix/suffix
    lengths are found by binary search over C-level string equality
    (O(n log n) per pair vs the DP's O(n^2)). NULL inputs pass
    through as NULL cores, so the JVM levenshtein still yields NULL
    and the ``lev >= 0`` filter drops the pair, exactly as before."""

    def _common_prefix(a: str, b: str) -> int:
        lo, hi = 0, min(len(a), len(b))
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if a[:mid] == b[:mid]:
                lo = mid
            else:
                hi = mid - 1
        return lo

    @pandas_udf("struct<ca:string,cb:string>")
    def trim(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        cas, cbs = [], []
        for a, b in zip(ta, tb):
            if a is None or b is None:
                cas.append(None)
                cbs.append(None)
                continue
            p = _common_prefix(a, b)
            ra, rb = a[p:], b[p:]
            s = _common_prefix(ra[::-1], rb[::-1])
            cas.append(ra[: len(ra) - s])
            cbs.append(rb[: len(rb) - s])
        return pd.DataFrame({"ca": cas, "cb": cbs})

    # pure, but filters must not migrate below it (guide §4.4)
    return trim.asNondeterministic()


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-then-VERIFY near-dup: the LSH band candidates
    (recall-oriented, approximate) verified by exact Levenshtein
    distance, keeping pairs whose edit distance is at most
    ``VERIFY_MAX_DIST_FRAC`` of the longer text — the standard two-stage
    pipeline that restores exact precision after probabilistic
    blocking.

    Scale shape: ``levenshtein`` (JVM, codegen'd) runs ONLY on
    candidate pairs — band-bucketed and MAX_BUCKET_DF-capped, never
    corpus x corpus — and each side's text arrives through an id
    join, so the full corpus text never participates in the pair
    exchange. The verify budget is |candidates| * O(len_a * len_b);
    MAX_BUCKET_DF is the knob that bounds it.

    Spark's thresholded levenshtein, with the admitted boundary as the
    per-pair band, measured no faster on the 10x replica corpus (339 s
    vs 281 s best-of), where ~99% of candidates pass verification.
    BENCH/sf_scaling.json flags this query super-linear
    at 10x because its work is Theta(candidates) and the replica
    corpus carries 826x more near-dup candidates by construction —
    a duplication-density property, not an algorithmic blowup;
    MAX_BUCKET_DF is the knob that bounds it.

    Semantics notes: the distance is CHARACTER-based (Spark's
    levenshtein); DuckDB's levenshtein counts BYTES, so the oracle is
    value-exact on ASCII corpora (all driver corpora) and the Spark
    semantics are authoritative beyond ASCII
    (test_verified_pairs_non_ascii pins the char-based behavior).
    The denominator is floored at 1 so a pair of empty/identical
    texts keeps dist_frac 0 instead of NULL-dropping."""
    cand = minhash_band_candidates(spark, sf_dir)
    d = read_spread(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("a_id"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("text").alias("tb"))
    # the DP runs on the common-affix-stripped CORES (r7): LSH
    # candidates are near-identical, so stripping the shared prefix/
    # suffix shrinks the O(n*m) matrix to the edit region while
    # leaving the distance value untouched (_trim_affix_udf). The
    # full lengths are captured FIRST — the dist_frac denominator
    # reads original lengths, exactly as before.
    # A/B at sf1.0: 9.2 -> ~2.5 s, identical rows.
    paired = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.length("ta").alias("la"),
            F.length("tb").alias("lb"),
            _trim_affix_udf()(F.col("ta"), F.col("tb")).alias("c"),
        )
        .select(
            "a_id",
            "b_id",
            "la",
            "lb",
            F.col("c.ca").alias("ca"),
            F.col("c.cb").alias("cb"),
        )
    )
    lev = F.levenshtein("ca", "cb")
    frac = F.round(
        lev / F.greatest(F.col("la"), F.col("lb"), F.lit(1)),
        4,
    )
    return (
        paired.select(
            "a_id",
            "b_id",
            lev.cast("long").alias("lev"),
            frac.alias("dist_frac"),
        )
        .where(
            (F.col("lev") >= 0)
            & (F.col("dist_frac") <= VERIFY_MAX_DIST_FRAC)
        )
    )


# --------------------------------------------------------------------------
# distinct-shingle cardinality (deterministic HyperLogLog)
# --------------------------------------------------------------------------

HLL_BUCKETS = 1024  # 2^10 registers; standard error 1.04/sqrt(m) ~ 3.2%
HLL_HASH_HEX = 15   # md5 hex prefix -> 60-bit hash (10 bucket + 50 rho bits)
# Flajolet et al. 2007 bias constant for m=1024, spelled as the SAME
# literal SQL expression in both engines so the doubles are identical.
# e-notation is deliberate: a bare 0.7213 parses as DECIMAL in BOTH
# Spark and DuckDB, and their decimal scale-propagation rules differ;
# 0.7213e0 is DOUBLE in both, and double ops are IEEE-identical.
_HLL_ALPHA = f"(0.7213e0 / (1 + 1.079e0 / {HLL_BUCKETS}))"


def hll_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-shingle cardinality per source via a DETERMINISTIC
    HyperLogLog (Flajolet et al. 2007) — the vocabulary/key-space
    analytics a 100 TB corpus needs where exact ``countDistinct`` is
    a full shuffle of every shingle string. Spark's built-in
    ``approx_count_distinct`` is also HLL but seeds xxhash per run;
    this one derives bucket and rank from the md5 the dedup family
    already standardizes on, so DuckDB replays it bit-for-bit and two
    engines (or two runs over re-partitioned data) agree exactly.

    Per shingle: a 60-bit hash from the md5 hex prefix; low 10 bits
    pick one of 1024 registers, the remaining 50 bits' leading-zero
    rank (via ``length(bin(w))`` — no leading zeros in either
    engine's bin) updates it. Registers merge with ``max`` — the
    sketch property — so the per-(source, bucket) aggregate combines
    map-side and the shuffle carries AT MOST 1024 rows per source per
    map task regardless of corpus size; the per-source reduction is
    over <= 1024 register rows. The raw estimate applies the standard
    small-range linear-counting correction (inactive on the driver
    corpora — pinned by the accuracy test, present for semantic
    completeness; ln() is the one non-exact FP op and sits behind the
    4dp round).

    FP determinism: the harmonic sum is computed in EXACT integer
    units of 2^-51 (``shiftleft(1L, 51 - r)``, total <= 2^61) — a
    floating ``sum(pow(2, -r))`` spans more than 53 bits of magnitude
    so its value depends on Spark's partition ADDITION ORDER, which
    would make the estimate nondeterministic run-to-run, let alone
    engine-to-engine. The one double division happens once per
    source, on identical operands in both engines.

    Scale shape: scan -> project -> explode -> two bounded hash-aggs.
    No shingle string ever shuffles (the register row is three ints);
    contrast with exact distinct, whose exchange is corpus-sized."""
    regs = (
        _shingle_sketch_partials(read_spread(spark, sf_dir, "documents"))
        .groupBy("source", "bucket")
        .agg(F.max("r").alias("r"), F.sum("n").alias("n"))
    )
    return _hll_estimate(regs)


# The shingle sketches compute per-BATCH partial sketch rows —
# (source, bucket, max rho, occurrence count, min h) — inside one
# mapInPandas kernel: the tokenizer, shingle set, and md5-prefix hash
# run in-worker (hot shingles memoized, the _minhash_ab precedent),
# and each Arrow batch emits at most |sources| x HLL_BUCKETS rows, so
# the downstream hash-aggregate merges bounded partials exactly like a
# map-side combine. The DuckDB oracle's explode+md5 SQL form yields
# the identical 60-bit integers, and the sketch merges (max / sum /
# min) are order-free, so the two engines agree exactly.
_SHINGLE_H_MEMO: dict = {}
_SHINGLE_MEMO_CAP = 1_000_000


def _shingle_h(s: str) -> int:
    h = _SHINGLE_H_MEMO.get(s)
    if h is None:
        h = int(
            hashlib.md5(s.encode("utf-8")).hexdigest()[:HLL_HASH_HEX], 16
        )
        if len(_SHINGLE_H_MEMO) < _SHINGLE_MEMO_CAP:
            _SHINGLE_H_MEMO[s] = h
    return h


def _shingle_sketch_partials(docs: DataFrame) -> DataFrame:
    """Per-Arrow-batch partial sketch rows (source, bucket, r, n, mn)
    over the document shingle stream — the shared parent of the HLL
    registers, the OPH stripe minima (``OPH_STRIPES`` divides
    ``HLL_BUCKETS``, so ``h % stripes == bucket % stripes``), and the
    absolute-overlap composition. Replicates the oracle's SQL
    derivation bit-for-bit: Java-\\s tokenization, per-doc DISTINCT word-3-gram
    shingles with the short-doc single-shingle fallback (token-less
    and NULL docs contribute the '' shingle — the SQL explode's
    behavior), 60-bit md5-hex-prefix hash, bucket = h mod 1024,
    rho = 51 - bitlength(h div 1024)."""

    def gen(batches):
        for pdf in batches:
            agg: dict = {}
            for src, t in zip(pdf["source"], pdf["text"]):
                for s in _py_shingles(t):
                    h = _shingle_h(s)
                    b = h % HLL_BUCKETS
                    w = h // HLL_BUCKETS
                    rho = 51 if w == 0 else 51 - w.bit_length()
                    k = (src, b)
                    e = agg.get(k)
                    if e is None:
                        agg[k] = [rho, 1, h]
                    else:
                        if rho > e[0]:
                            e[0] = rho
                        e[1] += 1
                        if h < e[2]:
                            e[2] = h
            yield pd.DataFrame(
                {
                    "source": [k[0] for k in agg],
                    "bucket": [k[1] for k in agg],
                    "r": [v[0] for v in agg.values()],
                    "n": [v[1] for v in agg.values()],
                    "mn": [v[2] for v in agg.values()],
                }
            )

    return docs.select("source", "text").mapInPandas(
        gen, "source string, bucket long, r int, n long, mn long"
    )


def _hll_estimate(regs: DataFrame, keys: tuple = ("source",)) -> DataFrame:
    """Cardinality estimate per key group from register rows (keys
    default to the shingle sketch's per-source grouping; the hopping
    distinct-user composition groups by (window_start, event_type))."""
    m = HLL_BUCKETS
    two51 = 1 << 51  # one empty register's 2^0, in 2^-51 units
    est = (
        f"round(CASE WHEN {_HLL_ALPHA} * {m} * {m} * {two51} / si"
        f" <= 2.5e0 * {m} AND n_obs < {m} THEN {m} * ln({m} /"
        f" cast({m} - n_obs as double)) ELSE"
        f" {_HLL_ALPHA} * {m} * {m} * {two51} / si END, 4)"
    )
    return (
        regs.groupBy(*keys)
        .agg(
            F.sum("n").cast("long").alias("n_shingles"),
            F.count("*").cast("long").alias("n_obs"),
            (
                F.sum(F.expr("shiftleft(cast(1 as bigint), 51 - r)"))
                + (m - F.count("*")) * F.lit(two51)
            ).alias("si"),
        )
        .select(
            *keys,
            "n_shingles",
            F.col("n_obs").alias("n_buckets"),
            F.expr(est).alias("est_distinct"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (the 100 TB membership path)
# --------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # m: bitmap width (8 KiB)
BLOOM_K = 4           # k: probes per gram (Kirsch-Mitzenmacher double hash)
_BLOOM_WORDS = BLOOM_BITS // 64


def _md5_half_sql(arg: str, start: int) -> str:
    """SQL fragment: one 32-bit half of md5(``arg``) as a bigint —
    the shared building block of the Kirsch-Mitzenmacher double hash
    used by the MinHash, Bloom, and CMS families."""
    return f"cast(conv(substring(md5({arg}), {start}, 8), 16, 10) as bigint)"


def _bloom_pos_sql(a: str, b: str, i: str) -> str:
    """SQL fragment: Bloom position i of a gram whose md5 halves are
    ``a``/``b`` — ``(a + i*b) mod BLOOM_BITS`` (same double-hash family
    as the MinHash rows, so one documented derivation serves both)."""
    return f"pmod({a} + {i} * {b}, {BLOOM_BITS})"


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``decontaminate`` re-shaped for the regime where even the
    benchmark gram SET is too wide to broadcast as a hash relation: the
    held-out ``DECON_GRAM``-grams of the stand-in benchmark (the
    ``BENCH_DOC_MAX`` lowest doc_ids) compress into a fixed
    ``BLOOM_BITS``-bit Bloom filter (``BLOOM_K`` probes per gram), and
    every corpus document is scored against the bitmap. False-positive
    rate at fill ratio f is ~f^k (~6e-6 at the stand-in benchmark's ~5%
    fill — ~3.4k distinct positions of 65,536); false NEGATIVES are
    impossible, so the exact ``contamination_fraction`` hit set is
    always a subset of the Bloom hit set (pinned in
    tests/test_curation_edge.py).

    Scale shape: the ONLY cluster-wide data movement is zero — the
    bitmap folds into the plan as a 1024-element constant long array
    (built from one bounded construction-time collect of <= BLOOM_BITS
    distinct positions), and the probe is pure higher-order-function
    projection over each doc's gram array: no UDF, no join, no explode,
    no Exchange of any kind (plan-pinned). Per gram: one md5, two conv
    halves, k bit tests against the folded array. At 100 TB this is
    the decontamination pass that costs exactly one corpus scan."""
    docs = read_spread(spark, sf_dir, "documents")
    gram_expr = _grams_of_t(DECON_GRAM)

    a, b = _md5_half_sql("g", 1), _md5_half_sql("g", 9)
    # construction-time bounded collect: distinct bit positions set by
    # the benchmark grams (<= min(k * |bench grams|, BLOOM_BITS) ints)
    pos_rows = (
        _gram_rows(_stand_in_benchmark(docs), DECON_GRAM)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, %d), i -> %s)"
                    % (BLOOM_K - 1, _bloom_pos_sql(a, b, "i"))
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in pos_rows:
        words[r.p // 64] |= 1 << (r.p % 64)
    # fold to signed int64 so every element is a valid long literal
    bm = F.array(
        *[F.lit(w - (1 << 64) if w >= (1 << 63) else w) for w in words]
    )

    bit_test = (
        f"(shiftright(element_at(BM, cast(P div 64 as int) + 1),"
        f" cast(P % 64 as int)) & 1) = 1"
    )
    hit = (
        "forall(sequence(0, %d), i -> %s)"
        % (
            BLOOM_K - 1,
            bit_test.replace(
                "P", _bloom_pos_sql("s.a", "s.b", "i")
            ),
        )
    )
    return (
        docs.select("doc_id", F.expr(_TOKENS).alias("t"))
        .withColumn("BM", bm)
        .select(
            "doc_id",
            "BM",
            F.expr(
                "transform(%s, g -> named_struct('a', %s, 'b', %s))"
                % (
                    gram_expr,
                    _md5_half_sql("g", 1),
                    _md5_half_sql("g", 9),
                )
            ).alias("gs"),
        )
        .select(
            "doc_id",
            F.size("gs").cast("long").alias("n_grams"),
            F.expr(f"size(filter(gs, s -> {hit}))")
            .cast("long")
            .alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_hits",
            F.round(F.col("n_bloom_hits") / F.col("n_grams"), 6).alias(
                "bloom_frac"
            ),
            (F.col("n_bloom_hits") > 0).alias("flagged"),
        )
    )


# --------------------------------------------------------------------------
# One-permutation MinHash source-similarity sketch
# --------------------------------------------------------------------------

OPH_STRIPES = 128  # hash-space stripes per sketch; std err ~ sqrt(J(1-J)/m)


def minhash_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level Jaccard similarity through one-permutation
    MinHash (Li, Owen, Zhang 2012): hash every shingle ONCE, split the
    hash space into ``OPH_STRIPES`` stripes (``h % m``), and keep
    ``min(h)`` per (source, stripe). For a source pair the estimate is
    the fraction of stripes whose minima COINCIDE, over stripes where
    both sources populate the stripe (empty stripes — possible only
    for near-empty sources — are skipped rather than densified; the
    accuracy test pins the estimator against a known-overlap corpus).

    This is the corpus-composition question ("how much do my crawl
    snapshots overlap?") answered WITHOUT comparing shingle sets: the
    classic K-smallest-values sketch needs a per-source top-K (a sort
    or window somewhere), but the stripe-minimum form is a pure
    hash-aggregate — ``min`` partial-combines map-side into AT MOST
    ``OPH_STRIPES`` rows per source per map task, identical in shape
    to ``hll_distinct_shingles``'s register table. No shingle string
    ever shuffles; duplicate shingles need no ``distinct`` because
    ``min`` is idempotent. The pair comparison is a self-join of the
    (sources x stripes)-row sketch table — broadcast, never
    corpus-sized. Determinism: stripe minima are exact integers from
    the dedup family's shared md5-prefix hash, so the estimate is a
    ratio of identical integers in any engine at any parallelism."""
    m = OPH_STRIPES
    # OPH_STRIPES divides HLL_BUCKETS, so h % m == bucket % m and the
    # stripe minima fold directly from the shared Arrow partial-sketch
    # rows (min of per-batch minima == global min)
    regs = (
        _shingle_sketch_partials(read_spread(spark, sf_dir, "documents"))
        .groupBy("source", (F.col("bucket") % m).alias("stripe"))
        .agg(F.min("mn").alias("mn"))
    )
    return _oph_pair_jaccard(regs)


def _oph_pair_jaccard(regs: DataFrame) -> DataFrame:
    """(source, stripe, mn) sketch rows -> pairwise coincidence
    estimate — the comparison half of ``minhash_source_jaccard``,
    shared with ``source_overlap_stats``'s single-scan composition."""
    a, b = regs.alias("a"), regs.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.stripe") == F.col("b.stripe"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_both"),
            F.sum(
                F.when(F.col("a.mn") == F.col("b.mn"), 1).otherwise(0)
            ).cast("long").alias("n_equal"),
        )
        .select(
            "source_a",
            "source_b",
            "n_both",
            "n_equal",
            F.round(
                F.col("n_equal").cast("double")
                / F.col("n_both").cast("double"),
                6,
            ).alias("jaccard_est"),
        )
    )


def cluster_keepers_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based keeper selection: within each MinHash
    connected component, keep the document with the highest DEGREE in
    the capped candidate-pair graph (most near-duplicate partners —
    the 'most canonical' copy), ties to the lowest doc_id. The usual
    min-doc_id keeper is arbitrary; degree picks the template page of
    a boilerplate cluster rather than whichever crawl happened to get
    the smallest id.

    Scale shape: degree is one hash-aggregate over the (already
    bucket-capped) candidate edges; labels come from
    ``minhash_connected_components``'s O(edges)-per-round fixpoint;
    the per-cluster argmax is ``max(struct(degree, -doc_id))`` — a
    map-side-combinable aggregate, NEVER a row_number window (a
    mega-cluster reduces instead of funneling one task; the same rule
    as c4_span_dedup's keep-first). Singleton docs have degree 0 and
    keep themselves.

    The signature pipeline (the family's dominant stage) evaluates
    ONCE: the band-exploded table is checkpointed and BOTH the degree
    edges and the CC labels derive from it, so the Arrow UDF runs once
    (A/B at sf1.0: 12.56 -> ~7.4 s against rebuilding signatures per
    consumer); plan-pinned to one signature stage by
    test_keeper_single_signature_pass."""
    exploded = _band_exploded(spark, sf_dir).localCheckpoint(eager=False)
    edges = minhash_band_candidates(spark, sf_dir, exploded=exploded)
    touches = edges.select(F.col("a_id").alias("doc_id")).unionAll(
        edges.select(F.col("b_id").alias("doc_id"))
    )
    degrees = touches.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("degree")
    )
    cc = minhash_connected_components(
        spark, sf_dir, edges=_cc_bucket_edges(exploded)
    )
    labeled = cc.join(degrees, "doc_id", "left").select(
        "doc_id",
        "cluster_rep",
        F.coalesce(F.col("degree"), F.lit(0)).alias("degree"),
    )
    best = F.max(
        F.struct(F.col("degree"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("b")
    return (
        labeled.groupBy("cluster_rep")
        .agg(
            best,
            F.count("*").cast("long").alias("cluster_size"),
        )
        .select(
            "cluster_rep",
            (-F.col("b.neg_id")).cast("long").alias("keeper_id"),
            F.col("b.degree").cast("long").alias("keeper_degree"),
            "cluster_size",
        )
    )


PR_ITERS = 3          # unrolled power iterations (oracle mirrors each)
PR_TELEPORT = 150_000  # 0.15 in micro-units
PR_INIT = 1_000_000    # initial rank, micro-units


def pagerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank-style centrality over the capped near-dup candidate
    graph (the quantitative upgrade of ``cluster_keepers_degree``'s
    raw degree): ``PR_ITERS`` power iterations of
    ``r'(v) = 150000 + sum_u (85 * r(u)) div (100 * deg(u))`` —
    unnormalized (scores rank, they are not a distribution; dangling
    docs rest at the teleport mass) and in EXACT INTEGER micro-units:
    ``(85*r) div (100*deg)`` is the same truncating integer division
    in Spark and DuckDB, so three unrolled iterations are
    bit-reproducible at any parallelism — no float mass to drift.

    Scale shape: the classic O(edges)-per-round loop (CC's shape):
    each iteration is one equi-join of the degree-annotated edge list
    with the rank table plus one hash-aggregate by destination; no
    pairwise materialization beyond the already-capped candidate
    edges, no window, no collect. At 10^12 docs the edge list is the
    LSH band candidate set — linear in the corpus by the bucket
    cap."""
    edges = minhash_band_candidates(spark, sf_dir)
    ed = edges.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionAll(
        edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    dg = ed.groupBy("src").agg(F.count("*").alias("deg"))
    # the degree-annotated edge list feeds EVERY iteration: checkpoint
    # it once (the CC loop's rule) or the whole signature->banding
    # lineage recomputes per round
    e = ed.join(dg, "src").localCheckpoint()
    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    ranks = docs.select("doc_id", F.lit(PR_INIT).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            e.join(ranks, e["src"] == ranks["doc_id"])
            .select(
                "dst",
                F.expr("(85 * r) div (100 * deg)").alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = docs.join(
            contrib, docs["doc_id"] == contrib["dst"], "left"
        ).select(
            "doc_id",
            (
                F.lit(PR_TELEPORT)
                + F.coalesce(F.col("inflow"), F.lit(0))
            ).cast("long").alias("r"),
        )
    return ranks.select("doc_id", F.col("r").alias("rank_micro"))


def source_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source overlap in ABSOLUTE shingle counts, composed
    entirely from sketches: inclusion-exclusion over the HLL
    cardinalities and the one-permutation Jaccard —
    ``|A n B| ~= J/(1+J) * (|A|+|B|)`` and ``|A u B| ~= (|A|+|B|)/(1+J)``
    — so "how many distinct shingles do these two crawl snapshots
    share" is answered WITHOUT ever joining shingle sets: two bounded
    sketch tables (sources x 1024 registers, sources x 128 stripes)
    meet in a broadcast join of rows-per-source-pair size. Both
    inputs are the already-verified deterministic sketches, so the
    arithmetic here is identical doubles through identical operation
    order in both engines (round 4dp at the edge).

    Single-scan composition (VERDICT r6 item 3): both sketches derive
    from the SAME 60-bit md5 shingle hash, and ``OPH_STRIPES`` divides
    ``HLL_BUCKETS`` (h % 128 == (h % 1024) % 128), so ONE
    tokenize+shingle+hash pass reduces to a per-(source, HLL-bucket)
    table carrying max(rho), count, and min(h) — the HLL registers
    read it directly and the OPH stripe minima fold its min(h) by
    bucket-mod-stripe. The corpus is scanned once (plan-pinned by
    test_source_overlap_single_scan); register integers are identical
    to the two-pass form by construction, so the estimates are
    bit-equal. A/B at sf1.0: 11.29 -> ~4.5 s."""
    m = OPH_STRIPES
    merged = _shingle_sketch_partials(read_spread(spark, sf_dir, "documents"))
    per_bucket = (
        merged.groupBy("source", "bucket")
        .agg(
            F.max("r").alias("r"),
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
        )
        .localCheckpoint(eager=False)  # bounded: sources x HLL_BUCKETS rows
    )
    hll = _hll_estimate(
        per_bucket.select("source", "bucket", "r", "n")
    ).select("source", "est_distinct")
    oph = per_bucket.groupBy(
        "source", (F.col("bucket") % m).alias("stripe")
    ).agg(F.min("mn").alias("mn"))
    j = _oph_pair_jaccard(oph)
    da = hll.select(
        F.col("source").alias("source_a"),
        F.col("est_distinct").alias("est_a"),
    )
    db = hll.select(
        F.col("source").alias("source_b"),
        F.col("est_distinct").alias("est_b"),
    )
    out = j.join(F.broadcast(da), "source_a").join(
        F.broadcast(db), "source_b"
    )
    both = F.col("est_a") + F.col("est_b")
    jj = F.col("jaccard_est")
    return out.select(
        "source_a",
        "source_b",
        "est_a",
        "est_b",
        "jaccard_est",
        F.round(jj / (F.lit(1.0) + jj) * both, 4).alias(
            "est_intersection"
        ),
        F.round(both / (F.lit(1.0) + jj), 4).alias("est_union"),
    )
