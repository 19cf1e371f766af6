"""Driver-contract parity: every oracle-backed query in
``__spark_entry__`` must match its DuckDB SQL on the same parquet —
the same comparison the round driver performs (row count + sorted
values under sorted column names)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        # round FIRST, then collapse -0.0: a value like -4e-07 rounds
        # to -0.0 and must compare equal to +0.0 at the 6-dp tolerance
        return f"{round(v, 6) + 0.0:.6f}"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def ddb(sf_dir):
    return _duck(sf_dir)


QUERY_KEYS = sorted(entry_mod.oracle_sql().keys())


def test_every_oracle_has_a_query():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_parity(spark, sf_dir, ddb, key):
    sdf = entry_mod.queries()[key](spark, sf_dir)
    _assert_parity(key, sdf, ddb.execute(entry_mod.oracle_sql()[key]))


def _assert_parity(key, sdf, res):
    """Spark DataFrame ``sdf`` vs the executed DuckDB query ``res``:
    same row count, then the same sorted normalized rows under sorted
    column names."""
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert len(spark_rows) == len(duck_rows), (
        f"{key}: row count {len(spark_rows)} (spark) != {len(duck_rows)} (duckdb)"
    )
    s_norm, s_cols = _normalize(spark_rows, spark_cols)
    d_norm, d_cols = _normalize(duck_rows, duck_cols)
    assert s_cols == d_cols, f"{key}: columns {s_cols} != {d_cols}"
    mism = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mism, f"{key}: {len(mism)} mismatching rows, first: {mism[:3]}"


# the vector operators that run the k-means quantizer at k="auto"
AUTO_K_KEYS = (
    "ann_ivf_topk",
    "knn_join",
    "knn_join_multiprobe",
    "semantic_dedup",
    "semantic_keepers",
)


def _oracle_at_k(key, k):
    """``oracle_sql()[key]`` with its k-means CTEs unrolled at ``k``
    instead of K_LISTS; the rest of the SQL text is unchanged. The
    final-centroid name and the assignment query depend only on the
    iteration count, so the CTE list is the one part that moves."""
    ctes, final, assign = entry_mod._kmeans_parts(k)
    assert (final, assign) == (entry_mod._KM_FINAL, entry_mod._KM_ASSIGN)
    sql = entry_mod.oracle_sql()[key]
    assert entry_mod._KM_CTES in sql, key
    return sql.replace(entry_mod._KM_CTES, ctes)


def _check_vector_family(spark, sf_dir, con, k):
    """kmeans_assign at ``k`` and every auto-k operator against their
    oracles rebuilt at ``k``; the operators must resolve auto to it."""
    from service1_text_extraction_spark.functions import similarity

    assert similarity._resolve_k(spark, sf_dir, "auto") == k
    _assert_parity(
        "kmeans_assign",
        similarity.kmeans_assign(spark, sf_dir, k=k),
        con.execute(_oracle_at_k("kmeans_assign", k)),
    )
    for key in AUTO_K_KEYS:
        _assert_parity(
            key,
            entry_mod.queries()[key](spark, sf_dir),
            con.execute(_oracle_at_k(key, k)),
        )


@pytest.mark.parametrize("k", [10, 40, 70])
def test_kmeans_assign_at_k(spark, sf_dir, ddb, k):
    """The quantizer matches its unrolled SQL at the oracle k and at
    k the auto grid reaches on larger corpora."""
    from service1_text_extraction_spark.functions import similarity

    _assert_parity(
        "kmeans_assign",
        similarity.kmeans_assign(spark, sf_dir, k=k),
        ddb.execute(_oracle_at_k("kmeans_assign", k)),
    )


def test_probe_rank_one_is_the_assignment(spark, sf_dir):
    """knn_join_multiprobe indexes each vector under its probe rank 1,
    its oracle under the primary assignment: the two must agree."""
    from service1_text_extraction_spark.functions import similarity
    from service1_text_extraction_spark.functions.spread import read_spread

    e = read_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = similarity._kmeans_centroids(spark, sf_dir, 40)
    primary = {
        r.vec_id: r.list_id
        for r in similarity._assigned(e, cents).collect()
    }
    rank1 = {
        r.vec_id: r.list_id
        for r in similarity._probe_lists(e, cents, 3).collect()
        if r.probe_rank == 1
    }
    assert rank1 == primary and primary


def test_fold_dots_is_the_in_order_sum():
    """``_fold_dots`` (assignment, probes and the IVF query's lists)
    must equal the in-order double sum of products that the JVM
    ``aggregate(zip_with)`` fold computes, bit for bit."""
    import numpy as np

    from service1_text_extraction_spark.functions import similarity

    rng = np.random.default_rng(11)
    emb = rng.standard_normal((7, 64)).astype(np.float32)
    cents = np.round(rng.standard_normal((13, 64)), 6)
    got = similarity._fold_dots(emb, cents)
    for i, x in enumerate(emb.tolist()):
        for j, c in enumerate(cents.tolist()):
            acc = 0.0
            for a, b in zip(x, c):
                acc += a * b
            assert got[i, j] == acc, (i, j)


def test_vector_family_at_resolved_k(spark, sf_dir, ddb, monkeypatch):
    """With a smaller target cluster size, auto resolves to k=40 on
    the 500-vector table — the k that sf0.1 runs — and every auto-k
    operator must match its oracle unrolled at that k."""
    from service1_text_extraction_spark.functions import similarity

    monkeypatch.setattr(similarity, "AUTO_TARGET_CLUSTER", 20)
    monkeypatch.setattr(similarity, "_KMEANS_MEMO", {})
    _check_vector_family(spark, sf_dir, ddb, 40)


@pytest.mark.slow
def test_vector_family_sf01(spark, sf_dir):
    """The same check on the 2,000-vector sf0.1 tables (a sibling of
    the test tables' directory), where auto resolves to k=40
    unpatched."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip(f"no sf0.1 test data at {sf01}")
    _check_vector_family(spark, sf01, _duck(sf01), 40)


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without oracles must still execute and return rows."""
    qs = entry_mod.queries()
    no_oracle = set(qs) - set(entry_mod.oracle_sql())
    for key in sorted(no_oracle):
        n = qs[key](spark, sf_dir).count()
        assert n > 0, key  # empty results are regressions, not passes


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.count() > 0 and len(rows) > 0


def test_ann_variants_recall(spark, sf_dir):
    """Approximate searches must overlap the brute-force ground truth."""
    qs = entry_mod.queries()
    brute = [r.vec_id for r in qs["ann_cosine_topk"](spark, sf_dir).collect()]
    ivf = {r.vec_id for r in qs["ann_ivf_topk"](spark, sf_dir).collect()}
    lsh = {r.vec_id for r in qs["ann_lsh_topk"](spark, sf_dir).collect()}
    assert len(ivf & set(brute)) >= 3, (brute, ivf)
    assert len(lsh) > 0
    # IVF with all lists probed == exact brute force
    from service1_text_extraction_spark.functions import similarity

    exact = [
        r.vec_id
        for r in similarity.ivf_ann_topk(
            spark, sf_dir, n_probe=similarity.K_LISTS
        ).collect()
    ]
    assert exact == brute


def test_driver_cap_discipline():
    """The round driver's CORRECTNESS check covers only the FIRST 50
    queries() entries. Every query the driver has NEVER hash-verified
    must sit inside positions 1-50; the tail (51+) may hold only
    driver-green queries (still covered here by test_parity)."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    greens: dict[str, int] = {}
    for fn in sorted(os.listdir(repo)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            with open(os.path.join(repo, fn)) as f:
                for k, v in json.load(f).items():
                    if v.get("hash_match"):
                        greens[k] = greens.get(k, 0) + 1
    tail = list(entry_mod.queries())[50:]
    weak = [k for k in tail if greens.get(k, 0) < 1]
    assert not weak, (
        f"never-driver-verified queries outside the driver's 50-cap: "
        f"{weak} — rotate them into positions 1-50"
    )


def test_bench_keys_are_query_keys():
    """VERDICT r5 item 7: every timed key bench.py emits must be the
    exact queries() key of the function it times, so BENCH_r*.json
    rows join to CORRECTNESS_r*.json rows without a hand-kept map;
    and bench_registry.FRAMES (bench_extra.py's copy) must hold the
    same keys."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as f:
        src = f.read()
    bench_keys = re.findall(
        r'^\s{8}"([a-z0-9_]+)": (?:q\(|bench_extract)', src, re.M
    )
    assert len(bench_keys) >= 40  # the headline suite, not a subset
    unmatched = [k for k in bench_keys if k not in entry_mod.queries()]
    assert not unmatched, unmatched
    # bench_extra.py times bench_registry.FRAMES plus its own
    # extraction closure: the two registries must not drift apart
    import bench_registry

    assert set(bench_keys) - {"extract_turns"} == set(bench_registry.FRAMES)


def test_decontaminate_two_table_form(spark, sf_dir, tmp_path):
    """decontaminate must accept a genuinely external benchmark table
    (VERDICT r3): grams from the supplied DataFrame, corpus untouched
    by any magic doc_id constant — and the production 13-gram width
    must be selectable."""
    from service1_text_extraction_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one = docs.orderBy("doc_id").limit(1).collect()[0]
    bench = spark.createDataFrame([(one.text,)], "text string")
    out = dedup.decontaminate(spark, sf_dir, benchmark=bench)
    hits = {r.doc_id: r.n_hits for r in out.collect()}
    # the source document flags itself (verbatim contamination)
    assert hits.get(one.doc_id, 0) >= 1
    # 13-gram production width runs and can only tighten the match set
    out13 = dedup.decontaminate(
        spark, sf_dir, benchmark=bench, gram_len=dedup.DECON_GRAM_PROD
    )
    hits13 = {r.doc_id: r.n_hits for r in out13.collect()}
    assert set(hits13) <= set(hits) or hits13 == {}


def _members(pairs):
    """(a_id, b_id) pairs -> _cc_labels membership rows, each pair a
    group named by its a_id (semantic_keepers' encoding)."""
    return pairs.selectExpr("a_id AS vec_id", "a_id AS grp").unionAll(
        pairs.selectExpr("b_id AS vec_id", "a_id AS grp")
    )


def _cc(members, **kw):
    from service1_text_extraction_spark.functions import dedup

    labels = dedup._cc_labels(members, "label", **kw)
    return sorted(map(tuple, labels.collect()))


def test_cc_propagation_converges_on_deep_chain(spark):
    """Review r4: min-label propagation alone needs diameter rounds;
    with pointer jumping a 60-node path (diameter 59 > CC_MAX_ITERS=20)
    must still converge to the single component min."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "a_id long, b_id long"
    )
    # driver_max_edges=0 forces the DISTRIBUTED loop — the r5 driver
    # union-find shortcut would otherwise absorb this small graph
    labels = dict(_cc(_members(edges), driver_max_edges=0))
    assert len(labels) == 60 and set(labels.values()) == {0}
    # two components + an isolated pair keep distinct minima
    edges2 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)]
        + [(100 + i, 101 + i) for i in range(10)]
        + [(500, 501)],
        "a_id long, b_id long",
    )
    labels2 = dict(_cc(_members(edges2), driver_max_edges=0))
    assert set(labels2.values()) == {0, 100, 500}


def test_cc_driver_and_distributed_agree(spark, sf_dir):
    """The r5 driver union-find shortcut is a pure execution knob:
    labels must be identical to the distributed fixpoint on a
    multi-component graph AND on the real minhash bucket and
    semantic-dedup graphs."""
    from service1_text_extraction_spark.functions import dedup, similarity

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(25)]
        + [(40, 41), (41, 42), (40, 42)]
        + [(77, 99), (99, 55)],
        "a_id long, b_id long",
    )
    sem = similarity.semantic_dedup(spark, sf_dir).select("a_id", "b_id")
    for members in (_members(edges), _members(sem)):
        drv = _cc(members)
        assert drv == _cc(members, driver_max_edges=0) and drv

    buckets = dedup._cc_bucket_edges(dedup._band_exploded(spark, sf_dir))
    mh_drv = sorted(
        map(tuple, dedup.minhash_connected_components(spark, sf_dir).collect())
    )
    mh_dst = sorted(
        map(
            tuple,
            dedup._cc_labels(
                buckets, "cluster_rep", driver_max_edges=0
            ).collect(),
        )
    )
    assert mh_drv == mh_dst and mh_drv


def _tiny_documents(spark, tmp_path, rows):
    """Write ``rows`` (doc_id, text) as an sf_dir holding only a
    documents table; return the dir."""
    path = str(tmp_path / "d")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{path}/documents.parquet"
    )
    return path


def _tiny_oracle(path):
    """DuckDB over the Spark-written documents directory."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{path}/documents.parquet/*.parquet'"
    )
    return con


def test_simhash_arrow_tokenizer_edges(spark, tmp_path):
    """Arrow SimHash must replicate Spark's split semantics exactly:
    Java \\s is ASCII-only (a non-breaking space is NOT a separator),
    and null/whitespace-only docs are ABSENT (as the oracle's explode
    emits no row), not null-fingerprinted."""
    from service1_text_extraction_spark.functions import dedup

    rows = [
        (1, "Hello\tWorld\nhello  world"),
        (2, "nbsp joined stays one-token"),
        (3, "   \t  "),
        (4, None),
        (5, "x"),
    ]
    path = _tiny_documents(spark, tmp_path, rows)
    a = {r.doc_id: r.simhash
         for r in dedup.simhash_fingerprints(spark, path).collect()}
    b = dict(_tiny_oracle(path).execute(
        entry_mod.oracle_sql()["dedup_simhash"]
    ).fetchall())
    assert a == b
    assert set(a) == {1, 2, 5}  # 3 (ws-only) and 4 (null) absent
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in a.values())


def test_minhash_arrow_shingle_edges(spark, tmp_path):
    """Arrow MinHash must replicate SHINGLES_OF_T's short-document
    fallback exactly: <3 tokens collapse to ONE concat_ws shingle —
    '' for null/whitespace-only docs (which therefore DO get a
    signature, unlike SimHash's absent rows), the bare token for
    1-token docs, 'a b' for 2-token docs — and Java-\\s-only splitting
    (NBSP and U+2028 do NOT separate tokens)."""
    from service1_text_extraction_spark.functions import dedup

    rows = [
        (1, "one two three four"),     # 2 shingles
        (2, "one two"),                # single joined shingle
        (3, "solo"),                   # bare-token shingle
        (4, "   \t  "),                # token-less -> '' shingle
        (5, None),                     # null -> '' shingle
        (6, "nbsp pair stays one token"),
        (7, "line sep also one token"),
    ]
    path = _tiny_documents(spark, tmp_path, rows)
    a = sorted(map(tuple, dedup.minhash_signatures(spark, path).collect()))
    b = sorted(_tiny_oracle(path).execute(
        f"WITH {entry_mod._TOKS_CTE}, {entry_mod._SHINGLES_CTE}"
        f" SELECT doc_id, {entry_mod._MINHASH_AGGS} FROM sh GROUP BY doc_id"
    ).fetchall())
    assert a == b
    assert [r[0] for r in a] == [1, 2, 3, 4, 5, 6, 7]
    # 4 and 5 share the '' shingle, hence identical signatures
    assert a[3][1:] == a[4][1:]


def test_verified_pairs_affix_trim_matches_plain_lev(spark, sf_dir):
    """The common-affix-stripped Levenshtein must reproduce the plain
    full-text DP bit-for-bit (distance is invariant under common
    prefix/suffix removal): over the same LSH candidate pairs, an
    untrimmed ``levenshtein`` of the full texts with the same
    dist_frac rounding and filter yields the same rows."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ta = d.select(F.col("doc_id").alias("a_id"), F.col("text").alias("ta"))
    tb = d.select(F.col("doc_id").alias("b_id"), F.col("text").alias("tb"))
    lev = F.levenshtein("ta", "tb")
    frac = F.round(
        lev / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)), 4
    )
    full = (
        dedup.minhash_band_candidates(spark, sf_dir)
        .join(ta, "a_id")
        .join(tb, "b_id")
        .select("a_id", "b_id", lev.alias("lev"), frac.alias("dist_frac"))
        .where(
            (F.col("lev") >= 0)
            & (F.col("dist_frac") <= dedup.VERIFY_MAX_DIST_FRAC)
        )
    )
    trimmed = dedup.minhash_verified_pairs(spark, sf_dir)
    a = {(r.a_id, r.b_id): (r.lev, r.dist_frac) for r in trimmed.collect()}
    b = {(r.a_id, r.b_id): (r.lev, r.dist_frac) for r in full.collect()}
    assert a == b
    assert any(lev > 0 for lev, _ in a.values()), a  # trim did real work
