"""Similarity search over the embedding column (array<float>).

Brute-force cosine top-k is the correctness baseline; LSH-bucketed
ANN (deterministic md5-seeded hyperplanes) is the scale path — at
10^12 rows the cross product is impossible, but hyperplane buckets
cut candidates by ~2^n_planes while staying pure DataFrame ops.
Pairwise dot products run JVM-side via ``zip_with``/``aggregate``
with one deliberate exception: scoring vectors against the k-means
centroids (assignment, multi-probe, the IVF query's probe lists) is
an Arrow-batched numpy fold (``_fold_dots``) at every k —
``zip_with``/``aggregate`` are interpreted (CodegenFallback) per row,
so k centroid dots per vector cost k x dim interpreted lambda steps,
while the numpy fold is vectorized over rows yet bit-equal to the JVM
fold by construction (sequential per-dimension accumulation).

Every pairwise search scores its candidate pairs through one join,
``_pair_cos``, over one checkpointed (vec_id, embedding, norm) frame;
every single-query search scores through ``_cos_to``. The kNN join
has one implementation, ``knn_join_multiprobe``; ``knn_join`` is that
join at one probe.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .spread import read_spread

N_PLANES = 16
EMB_DIM = 64  # fixed test-table dimensionality (TESTDATA.md)
LSH_RADIUS = 4  # multi-probe Hamming radius
QUERY_VEC_ID = 0  # the query vector of the single-query searches
TOP_K = 10  # results per single-query search


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
        f"0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * x), "
            f"0D, (acc, v) -> acc + v)"
        )
    )


def _cos_to(q: str, qn: str) -> Column:
    """Rounded cosine of each row's ``embedding`` against the query
    vector column ``q`` whose norm is the column ``qn``."""
    return F.round(_dot("embedding", q) / (_norm("embedding") * F.col(qn)), 4)


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm), checkpointed: both sides of a pair
    join (``_pair_cos``) read it."""
    return read_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    ).localCheckpoint(eager=False)


def _pair_cos(pairs: DataFrame, e: DataFrame) -> DataFrame:
    """(a_id, b_id) pairs -> (a_id, b_id, cos): both sides' embeddings
    and norms join in from ``e`` (``_normed``), cosine rounded to 4dp.
    A zero-norm side's 0/0 is a NULL cosine."""
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                _dot("ea", "eb") / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-``TOP_K`` against the ``QUERY_VEC_ID``
    vector (broadcast)."""
    e = read_spread(spark, sf_dir, "embeddings")
    # the query's norm is a scalar: compute it once on the broadcast
    # side instead of re-deriving it for every candidate row
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q"), _norm("embedding").alias("qn")
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", _cos_to("q", "qn").alias("cos"))
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(TOP_K)


NEARDUP_BANDS = 4  # 4 bands x 4 sign bits from the 16 hyperplanes
NEARDUP_COS = 0.30  # cosine at or above which a candidate pair is a near-dup


def cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with hyperplane-LSH band blocking.

    Candidates must share at least one of ``NEARDUP_BANDS`` bands of
    sign bits (the same md5-derived plane family as ``lsh_ann_topk``);
    exact cosine is then computed only inside those bucket-local pairs.
    This is the blocking a 10^12-row corpus requires — no global
    pairwise join ever forms, and the ``MAX_BUCKET_DF`` cap bounds any
    one bucket's pair explosion (mirrored in the DuckDB oracle).
    Recall is the standard LSH trade: pairs approach probability 1 of
    sharing a band as cosine -> 1; at a loose ``NEARDUP_COS`` of 0.30 the
    blocking is intentionally lossy.
    At real scale, raise N_PLANES and the band width together (e.g. 64
    planes -> 4 bands of 16 bits) to keep buckets sparse."""
    from .dedup import MAX_BUCKET_DF, _bucket_pairs, _capped_buckets

    width = N_PLANES // NEARDUP_BANDS
    e = _normed(spark, sf_dir)
    eb = e.withColumn("bucket", _bucket_col())
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.substring("bucket", b * width + 1, width).alias("band_val"),
        )
        for b in range(NEARDUP_BANDS)
    ]
    exploded = eb.select(
        "vec_id", F.explode(F.array(*bands)).alias("b")
    ).select("vec_id", F.col("b.band_idx"), F.col("b.band_val"))
    buckets = _capped_buckets(
        exploded, ["band_idx", "band_val"], "vec_id", MAX_BUCKET_DF
    )
    pairs = _bucket_pairs(buckets).distinct()
    return _pair_cos(pairs, e).where(F.col("cos") >= NEARDUP_COS)


def plane_weights(p: int) -> list[float]:
    """Deterministic ±1 hyperplane p: sign of the first md5 hex digit of
    ``"{p}_{i}"`` per position (seedless; reproducible in any engine)."""
    return [
        1.0
        if hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0] >= "8"
        else -1.0
        for i in range(EMB_DIM)
    ]


def _bucket_col() -> Column:
    """Per-row LSH bucket: one sign bit per hyperplane, each computed as
    a single ``aggregate(zip_with(...))`` over a plane-weight array
    *literal* — pure per-row projection, zero explode, zero shuffle."""
    bits = []
    for p in range(N_PLANES):
        w = F.array(*[F.lit(x) for x in plane_weights(p)])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"), w, lambda x, wv: x.cast("double") * wv
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_spread(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_col()
    )


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: multi-probe hyperplane LSH — candidates are vectors whose
    16-bit bucket lies within Hamming distance ``LSH_RADIUS`` of the
    ``QUERY_VEC_ID`` vector's bucket, then exact cosine within the
    probe set; the top ``TOP_K`` return.

    The Hamming predicate against the broadcast query bucket is the
    relational form of probing all C(16, <=LSH_RADIUS) neighbor buckets. At
    100 TB the bucket is a materialized partition/cluster key and the
    probe set enumerates those buckets for partition pruning; candidate
    generation never forms a pairwise join either way."""
    bucketed = _bucketed(spark, sf_dir)
    q = bucketed.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q"),
        F.col("bucket").alias("qb"),
        _norm("embedding").alias("qn"),
    )
    hamming = sum(
        (F.substring("bucket", j + 1, 1) != F.substring("qb", j + 1, 1)).cast(
            "int"
        )
        for j in range(N_PLANES)
    )
    cands = (
        bucketed.crossJoin(F.broadcast(q))
        .where((F.col("vec_id") != QUERY_VEC_ID) & (hamming <= LSH_RADIUS))
        .select("vec_id", _cos_to("q", "qn").alias("cos"))
    )
    return cands.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(TOP_K)


def embedding_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 mean-pool (training_page_embedder.py:119-124 analogue):
    per-label centroid, emitted as (label, pos, avg_val) rows so the
    result stays a flat relational shape."""
    e = read_spread(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .withColumn("pos", F.col("pos") + 1)
        .groupBy("label", "pos")
        .agg((F.round(F.avg("val"), 4) + F.lit(0.0)).alias("avg_val"))  # +0.0 kills -0.0
    )


K_LISTS = 10
KMEANS_ITERS = 3
CENTROID_DP = 6  # fixed-point quantization of centroids per update

# --- corpus-adaptive quantizer size --------------------------------------
# A fixed k means cluster size grows linearly with the corpus until
# SEM_MAX_CLUSTER silently caps (or drops) every cluster — the
# SemDeDup/IVF recipe is k grows with n so clusters stay bounded.
# k='auto' resolves on a DETERMINISTIC doubling grid {K_LISTS * 2^i}:
# the smallest grid value whose average cluster n/k is at most
# AUTO_TARGET_CLUSTER. The grid (not ceil(n/target) itself) makes the
# resolved k — and therefore every downstream oracle — stable under
# small corpus-size drift, and reproduces k=10 exactly for the
# 500-vector driver tables, so the unrolled k=10 SQL oracles replay
# the auto path verbatim at every driver-checked scale (larger
# corpora are checked against the same SQL unrolled at the resolved
# k, tests/test_oracle_parity.py::test_vector_family_at_resolved_k).
AUTO_TARGET_CLUSTER = 50
AUTO_K_MAX = 65536  # driver holds k x dim doubles; beyond this a real
                    # deployment trains a hierarchical/balanced quantizer
_N_EMB_MEMO: dict[str, int] = {}


def _auto_k(n: int) -> int:
    k = K_LISTS
    while k * AUTO_TARGET_CLUSTER < n and k * 2 <= AUTO_K_MAX:
        k *= 2
    return k


def _resolve_k(spark: SparkSession, sf_dir: str, k) -> int:
    """'auto' -> grid k for this corpus (one memoized count — parquet
    row-group metadata, not a data scan); an int passes through."""
    if k == "auto":
        n = _N_EMB_MEMO.get(sf_dir)
        if n is None:
            n = read_spread(spark, sf_dir, "embeddings").count()
            _N_EMB_MEMO[sf_dir] = n
        return _auto_k(n)
    return int(k)


def kmeans_assign(
    spark: SparkSession, sf_dir: str, k: int | str = K_LISTS
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd's, inner-product
    assignment, ``KMEANS_ITERS`` rounds) trained entirely with
    DataFrame ops; returns the final (vec_id, list_id) assignment.

    Determinism at cluster scale: init = the ``k`` lowest vec_ids'
    embeddings, ties on the dot break to the lowest list id, and every
    centroid update is quantized to ``CENTROID_DP`` decimals — so the
    result is bit-identical regardless of partitioning/aggregation
    order (and reproducible in the DuckDB oracle). Each iteration
    collects only k x dim doubles to the driver (bounded by k, never by
    data) and ships them inside one Arrow map (``_assigned``), so
    assignment is a per-row map — zero shuffle; the update is one
    hash-aggregate."""
    centroids = _kmeans_centroids(spark, sf_dir, k)
    e = read_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _assigned(e, centroids).select("vec_id", "list_id")


def _fold_dots(emb: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, d) float32 x (k, d) float64 -> (n, k) float64 dot matrix,
    bit-equal to the JVM ``aggregate(zip_with(...))`` fold.

    The JVM fold computes ``((0.0 + x0*w0) + x1*w1) + ...`` — one IEEE
    double multiply-then-add per dimension, strictly in order. Looping
    the DIMENSION sequentially here while vectorizing over rows x
    centroids performs the identical operation sequence on every
    element (float32 -> double is exact; ``acc += X[:,j,None] *
    W[None,:,j]`` is one mul + one add per element), so every dot is
    bit-identical to the JVM fold — no BLAS matmul, whose
    blocked/pairwise summation would differ in the last ulp and could
    flip argmax on near-ties."""
    acc = np.zeros((emb.shape[0], cents.shape[0]), dtype=np.float64)
    x = emb.astype(np.float64, copy=False)
    for j in range(x.shape[1]):
        acc += x[:, j, None] * cents[None, :, j]
    return acc


def _stack_emb(emb: pd.Series) -> np.ndarray:
    # keep the source dtype: float32 input widens exactly to double in
    # _fold_dots (mirroring the JVM's cast), while an already-double
    # embedding column must NOT round-trip through float32
    return np.stack([np.asarray(v) for v in emb])


def _assigned(e: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``e`` (vec_id, embedding, ...) -> same columns + ``list_id``, the
    argmax-dot centroid with ties to the lowest list id (``np.argmax``
    returns the FIRST max index, which is exactly the house tie rule).

    One Arrow map scores each batch against the k x dim centroid
    matrix with ``_fold_dots``: a per-row map, zero shuffle, and a
    plan whose size does not grow with k."""
    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        d = _fold_dots(_stack_emb(emb), cents)
        return pd.Series(np.argmax(d, axis=1).astype("int32"))

    # the function is pure, but the optimizer must NOT move filters
    # that reference its output below it (guide §4.4): IVF's
    # ``list_id IN (...)`` probe filter otherwise gets pushed under
    # the input-spread exchange and drags the ArrowEvalPython node
    # onto the unsplit scan — serializing the k x dim fold on one
    # core (measured: 4.9 s -> 0.9 s at sf1.0 with the marker)
    return e.withColumn(
        "list_id", assign.asNondeterministic()(F.col("embedding"))
    )


_KMEANS_MEMO: dict[tuple, list[list[float]]] = {}


def _kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int | str
) -> list[list[float]]:
    """Lloyd's loop (``KMEANS_ITERS`` rounds); returns the final
    quantized centroids as plain Python lists (k x dim doubles —
    bounded by k, never by data). ``k='auto'`` resolves on the
    deterministic grid (``_auto_k``) so clusters stay
    ~AUTO_TARGET_CLUSTER-sized as the corpus grows.
    Memoized per (sf_dir, resolved k): the quantizer is
    deterministic and in a real IVF deployment is trained once
    offline, then reused by every search."""
    k = _resolve_k(spark, sf_dir, k)
    memo_key = (sf_dir, k)
    cached = _KMEANS_MEMO.get(memo_key)
    if cached is not None:
        return cached
    e = read_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init = e.orderBy("vec_id").limit(k).orderBy("vec_id").collect()
    # init stays unrounded: float32 -> double is exact in any engine,
    # while Python/Spark/DuckDB rounding modes differ at exact halves
    centroids = [[float(x) for x in r.embedding] for r in init]
    for _ in range(KMEANS_ITERS):
        assigned = _assigned(e, centroids)
        upd = (
            assigned.select(
                "list_id", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("list_id", "pos")
            .agg(F.round(F.avg("v"), CENTROID_DP).alias("c"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {r.list_id: [float(x) for x in r.centroid] for r in upd}
        # a list that lost all members keeps its previous centroid
        centroids = [new.get(li, centroids[li]) for li in range(k)]
    _KMEANS_MEMO[memo_key] = centroids
    return centroids


def ivf_ann_topk(
    spark: SparkSession, sf_dir: str, n_probe: int = 2
) -> DataFrame:
    """IVF ANN on the k-means coarse quantizer (kmeans_assign's
    centroids): every vector's list assignment is one Arrow map over
    the k x dim centroids (``_assigned``, zero shuffle), the query's
    ``n_probe`` nearest lists are ranked driver-side by the same fold
    and tie rule, and candidates reduce to a literal ``list_id IN (...)``
    filter - partition-prunable when the table is laid out by list -
    followed by exact cosine against the ``QUERY_VEC_ID`` vector, top
    ``TOP_K``. No window, no centroid shuffle, no pairwise join. The
    coarse quantizer grows with the corpus (``k='auto'``,
    ``_auto_k``); a production deployment scales ``n_probe`` with it
    to hold the probed fraction."""
    cents = _kmeans_centroids(spark, sf_dir, "auto")
    e = read_spread(spark, sf_dir, "embeddings")
    q_row = e.where(F.col("vec_id") == QUERY_VEC_ID).first()
    if q_row is None:  # unknown query id -> empty result, not a crash
        return e.select(
            "vec_id", F.lit(0.0).alias("cos")
        ).where(F.lit(False))
    q_emb = [float(x) for x in q_row.embedding]
    # query's n_probe nearest lists, same dot + tie rule as _probe_lists
    d = _fold_dots(np.asarray([q_emb]), np.asarray(cents, dtype=np.float64))
    probe_lists = np.argsort(-d[0], kind="stable")[:n_probe].tolist()
    # the query vector is already on the driver: score against literals
    # (no second table scan, no broadcast join) and fold its constant
    # norm in once instead of recomputing it per candidate row
    import math

    q_lit = F.array(*[F.lit(x) for x in q_emb])
    q_norm = math.sqrt(sum(x * x for x in q_emb))
    q_dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), q_lit, lambda x, w: x.cast("double") * w
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cands = (
        _assigned(e.select("vec_id", "embedding"), cents)
        .where(
            F.col("list_id").isin(probe_lists)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            F.round(
                q_dot / (_norm("embedding") * F.lit(q_norm)), 4
            ).alias("cos"),
        )
    )
    return cands.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(TOP_K)


SEM_MAX_CLUSTER = 1000  # within-cluster pair cap for semantic dedup
SEM_THRESHOLD = 0.30


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-family semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then
    compute exact cosine ONLY within each cluster. Returned pairs
    (a_id < b_id by construction) are the semantic-duplicate edges: a
    removal policy drops each pair's b_id (or feeds the edges to the
    same label-propagation used by dedup_minhash_cc for transitive
    clusters).

    Scale shape: the cluster id is the blocking key, so no global
    pairwise join ever forms; within-cluster pairs expand
    bucket-locally capped at SEM_MAX_CLUSTER. The quantizer is
    ``k='auto'`` — k doubles along the deterministic grid as the
    corpus grows (``_auto_k``), holding average cluster size at
    ~AUTO_TARGET_CLUSTER so the cap stops binding at 10x+ scale
    (the SemDeDup recipe). At driver scales auto resolves to k=10, so
    the unrolled k=10 SQL oracle replays the auto path verbatim; at
    other k the same SQL unrolls at the resolved k.
    The quantizer is the same engine-deterministic k-means the IVF
    index uses."""
    from .dedup import _bucket_pairs, _capped_buckets

    assign = kmeans_assign(spark, sf_dir, k="auto")  # (vec_id, list_id)
    buckets = _capped_buckets(
        assign.select("vec_id", "list_id"),
        ["list_id"],
        "vec_id",
        SEM_MAX_CLUSTER,
    )
    pairs = _bucket_pairs(buckets, cap=SEM_MAX_CLUSTER)
    return _pair_cos(pairs, _normed(spark, sf_dir)).where(
        F.col("cos") >= SEM_THRESHOLD
    )


def semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup removal policy over ``semantic_dedup``'s duplicate
    edges (cosine >= ``SEM_THRESHOLD``): connected components by
    ``dedup._cc_labels`` (the closure
    dedup.minhash_connected_components uses, each pair a group named
    by its lower id), keeping the lowest vec_id of each component.
    Emits every vector with its component keeper and a keep flag — the
    training set is ``keep = 1``.

    Scale shape: the edge list is already bucket-capped upstream (no
    pair explosion); the closure runs over ONLY the vectors that occur
    in a duplicate edge (vectors with no edge are trivially their own
    keeper and join back at the end) — a duplicate mega-component
    costs O(edges) per round, never O(pairs), and a 10^12-vector
    corpus with 1% duplicates iterates over 1% of its rows."""
    from .dedup import _cc_labels

    pairs = (
        semantic_dedup(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    # each pair is a group named by its lower id a_id
    members = pairs.select(
        F.col("a_id").alias("vec_id"), F.col("a_id").alias("grp")
    ).unionAll(
        pairs.select(F.col("b_id").alias("vec_id"), F.col("a_id").alias("grp"))
    )
    labels = _cc_labels(members, "label")
    return (
        read_spread(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("label", F.col("vec_id").cast("long")).alias(
                "keeper_id"
            ),
            (F.col("vec_id") == F.coalesce("label", F.col("vec_id")))
            .cast("long")
            .alias("keep"),
        )
    )


KNN_K = 3  # neighbors per vector
KNN_PROBES = 2  # multi-probe default: lists searched per query vector


def _probe_lists(
    e: DataFrame, centroids: list[list[float]], probes: int
) -> DataFrame:
    """``e`` (vec_id, embedding) -> (vec_id, probe_rank, list_id):
    each vector's ``probes`` nearest centroids under the house dot +
    tie rule (highest dot, then lowest list id — identical to
    ``_assigned``, so probe_rank 1 reproduces the primary assignment
    bit-for-bit).

    One Arrow map ranks all k centroids per batch with ``_fold_dots``
    and returns the top-P array, then posexplode: zero shuffle, zero
    join. ``-d`` is an exact IEEE sign flip and the STABLE argsort
    keeps ties in ascending-index order."""
    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def probe(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        d = _fold_dots(_stack_emb(emb), cents)
        idx = np.argsort(-d, axis=1, kind="stable")[:, :probes]
        return pd.Series(list(idx.astype("int32")))

    probed = probe(F.col("embedding"))
    return e.select(
        "vec_id", F.posexplode(probed).alias("pos", "list_id")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("probe_rank"),
        F.col("list_id").cast("int").alias("list_id"),
    )


def knn_join_multiprobe(
    spark: SparkSession, sf_dir: str, probes: int = KNN_PROBES
) -> DataFrame:
    """Cluster-blocked k-nearest-neighbor JOIN with multi-probe: the
    top-``KNN_K`` cosine neighbors for EVERY vector (the general form
    of the single-query ANN searches). Every vector is INDEXED in its
    primary k-means list — the same engine-deterministic quantizer the
    IVF index and SemDeDup use, so the oracle replays it exactly — but
    QUERIES its ``probes`` nearest lists: the standard IVF multi-probe
    recall recovery, neighbors just across a quantization boundary
    become visible without widening any cluster. At probes=1 a vector
    sees only its own cluster (``knn_join``); recall@k grows
    monotonically with ``probes`` (pinned by
    test_multiprobe_recall_improves against a brute-force numpy
    oracle).

    Scale shape: index buckets are the capped primary-assignment
    arrays (cap BEFORE collect, same machinery as semantic_dedup but
    n_min=1 — a singleton bucket still serves OTHER vectors probing
    it); the probe table is `probes` rows per vector from one
    per-row Arrow map (``_probe_lists``, zero shuffle); candidates form
    only by probe-list join — never a global pairwise join — and each
    (a, b) pair arises exactly once because b lives in exactly one
    primary bucket (no distinct needed). Per-query cost is
    probes x cluster_size, the IVF knob. The per-vector top-k is a
    bounded window partitioned by vec_id; ties break on (cos desc,
    neighbor id asc) — engine-deterministic.

    Cosine economy: the candidate set splits into PRIMARY pairs
    (both sides share a primary cluster — symmetric by construction,
    so each unordered pair's cosine computes ONCE and mirrors into
    both directions) and FOREIGN probes (rank >= 2 — inherently
    directed: a probing b's cluster does not imply b probes a's).
    That removes a quarter of the cosine evaluations at probes=2 vs
    scoring every directed candidate (A/B in BENCH/BASELINE.md);
    results are bit-identical because FP dot products commute
    elementwise.

    A ZERO-NORM embedding has no defined cosine: its 0/0 evaluates to
    NULL and the ``cos IS NOT NULL`` filter drops every pair touching
    it, so such vectors emit no neighbor rows (the DuckDB oracle
    excludes zero-norm sides explicitly — its cosine returns -1.0
    instead of NULL; pinned by test_knn_join_zero_norm_parity)."""
    from pyspark.sql import Window

    from .dedup import _bucket_pairs, _capped_buckets

    cents = _kmeans_centroids(spark, sf_dir, "auto")
    e = _normed(spark, sf_dir)
    ev = e.select("vec_id", "embedding")
    # the probe table feeds the primary buckets AND the foreign
    # probes — checkpoint so the Arrow ranking UDF runs once
    probe = _probe_lists(ev, cents, probes).localCheckpoint(
        eager=False
    )
    primary = probe.where(F.col("probe_rank") == 1).select(
        "vec_id", "list_id"
    )
    foreign = probe.where(F.col("probe_rank") >= 2).select(
        "vec_id", "list_id"
    )
    buckets = _capped_buckets(
        primary, ["list_id"], "vec_id", SEM_MAX_CLUSTER, n_min=1
    )

    def _cos(cand: DataFrame) -> DataFrame:
        return _pair_cos(cand, e).where(F.col("cos").isNotNull())

    sym = _cos(_bucket_pairs(buckets, cap=SEM_MAX_CLUSTER))
    sym_bidi = sym.unionByName(
        sym.select(
            F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"), "cos"
        )
    )
    asym = _cos(
        foreign.join(buckets, "list_id")
        .select(
            F.col("vec_id").alias("a_id"), F.explode("ids").alias("b_id")
        )
        .where(F.col("a_id") != F.col("b_id"))
    )
    scored = sym_bidi.unionByName(asym)
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("b_id").alias("nn_id"),
            "cos",
        )
    )


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe k-nearest-neighbor JOIN: each vector's neighbors
    come from its own k-means cluster only."""
    return knn_join_multiprobe(spark, sf_dir, probes=1)


RRF_C = 60    # the standard RRF damping constant (Cormack et al. 2009)
RRF_K = 10    # fused results per query


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval through reciprocal-rank fusion (Cormack,
    Clarke, Buettcher 2009): the lexical arm is ``bm25_topk`` and the
    vector arm is brute-force cosine over the embeddings table for
    the SAME query ids (doc_id < 3 == vec_id < 3 — the tables are
    row-aligned by construction); a document's fused score is
    sum(1/(RRF_C + rank)) over the arms that returned it, and each
    query reports the top ``RRF_K`` fused docs.

    Determinism: the fused score is the sum of at most TWO doubles —
    IEEE addition of two operands is commutative, so there is no
    partition-order hazard — computed from identical integer ranks in
    both engines and pinned to integer NANO units with floor(+0.5).

    Scale shape: both arms are top-k-bounded BEFORE fusion, so the
    fusion join and re-rank run over <= 2k rows per query — driver-
    free and broadcast-sized at any corpus size. The vector arm here
    is the brute baseline (one crossJoin against the BROADCAST 3-row
    query set, corpus scanned once); at 100 TB swap in
    ``ivf_ann_topk``'s probe path — the fusion itself is unchanged.
    The per-query re-rank windows partition by qid over k-bounded
    rows, never the corpus."""
    from pyspark.sql import Window

    from .textstats import bm25_topk

    nq = 3  # mirrors BM25_N_QUERIES
    bm = bm25_topk(spark, sf_dir).select(
        "qid", "doc_id", F.col("rank").alias("rb")
    )
    e = read_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    # both arms retrieve from the SAME candidate universe: doc_id >=
    # nq (bm25 already excludes the query docs; the vector arm must
    # too, or a query doc could surface as another query's "result")
    scored = (
        e.where(F.col("vec_id") >= nq)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            _cos_to("qe", "qn").alias("cos"),
        )
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    vec = (
        scored.withColumn("rv", F.row_number().over(wv))
        .where(F.col("rv") <= RRF_K)
        .select("qid", "doc_id", "rv")
    )
    fused = bm.join(vec, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        F.floor(
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_C) + F.col("rb")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_C) + F.col("rv")), F.lit(0.0)
                )
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long").alias("rrf_nano"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("rrf_nano").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= RRF_K)
        .select(
            "qid",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "rrf_nano",
        )
    )
