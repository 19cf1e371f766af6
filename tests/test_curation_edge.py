"""Edge-case parity for the curation operators beyond the driver
fixture: empty/whitespace documents (the sequence(0,-1) phantom-line
trap), PII embedded inside other PII, and sources that do not parse
as 'src<digits>'. Each test materializes a tiny corpus to parquet and
runs BOTH the Spark query and its registered DuckDB oracle on it —
the same contract the round driver checks, on inputs it never
generates."""

import duckdb
import pytest

import __spark_entry__ as entry_mod


def _mini_docs(spark, tmp_path, rows):
    """Write a documents.parquet shaped like the driver testdata."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def _oracle(sf_dir, key):
    import os

    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
    for table in ("documents", "embeddings", "events"):
        if os.path.exists(f"{sf_dir}/{table}.parquet"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM"
                f" '{sf_dir}/{table}.parquet/*.parquet'"
            )
    res = con.execute(entry_mod.oracle_sql()[key])
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()


def _spark_rows(spark, sf_dir, key):
    df = entry_mod.queries()[key](spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def _assert_parity(spark, sf_dir, key):
    s_cols, s_rows = _spark_rows(spark, sf_dir, key)
    d_cols, d_rows = _oracle(sf_dir, key)
    assert s_cols == d_cols, key
    norm = lambda rows: sorted(tuple(str(v) for v in r) for r in rows)
    assert norm(s_rows) == norm(d_rows), (
        key, norm(s_rows)[:4], norm(d_rows)[:4]
    )


EDGE_DOCS = [
    (0, "", "en", "src0", 0),                       # empty text
    (1, "   \t  ", "en", "src1", 6),                # whitespace only
    (2, "the quick brown fox jumps over a dog", "en", "src2", 36),
    (3, "one two three four five six seven eight nine ten eleven"
        " twelve", "fr", "src3", 57),
]


def test_c4_empty_doc_yields_no_lines(spark, tmp_path):
    """A token-less document must be absent from c4_line_stats (not
    report two phantom pseudo-lines from sequence(0, -1))."""
    sf = _mini_docs(spark, tmp_path, EDGE_DOCS)
    from service1_text_extraction_spark.functions import textstats

    got = {
        r.doc_id: r.n_lines
        for r in textstats.c4_line_stats(spark, sf).collect()
    }
    assert 0 not in got and 1 not in got, got
    assert got[2] >= 1 and got[3] >= 1
    _assert_parity(spark, sf, "c4_line_stats")


def test_gopher_repetition_empty_doc_parity(spark, tmp_path):
    """gopher_repetition shares the pseudo-line derivation — the same
    empty-doc guard must hold there."""
    sf = _mini_docs(spark, tmp_path, EDGE_DOCS)
    _assert_parity(spark, sf, "gopher_repetition")


def test_pii_counts_match_redactions(spark, tmp_path):
    """A phone-shaped digit run inside an email local part is redacted
    as part of <EMAIL>; the staged counts must NOT report it as a
    phone. Counts are checked against the actual redacted text."""
    rows = [
        # doc_id 5: %2=1 %3=1 %5=0 -> fixture adds only an IP; the
        # text itself carries a phone-in-email plus a real phone
        (5, "reach foo+1-555-123-4567@bar.com or +9-888-777-6666 now",
         "en", "src5", 55),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import textstats

    r = textstats.pii_redact(spark, sf).collect()[0]
    assert r.n_emails == 1
    assert r.n_phones == 1, r  # only the standalone phone
    assert r.n_ips == 1  # the fixture-injected one
    _assert_parity(spark, sf, "pii_redact")


def test_sample_by_source_unparseable_source(spark, tmp_path):
    """A source not shaped 'src<digits>' must yield NULL rate and zero
    kept in BOTH engines (TRY_CAST oracle), not a conversion error or
    a NULL n_kept."""
    rows = [
        (0, "alpha beta", "en", "web", 10),
        (1, "gamma delta", "en", "web", 11),
        (2, "epsilon zeta", "en", "src7", 12),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import curate

    got = {
        r.source: (r.rate_pct, r.n_in, r.n_kept)
        for r in curate.sample_by_source(spark, sf).collect()
    }
    assert got["web"] == (None, 2, 0), got
    assert got["src7"][0] == 50
    _assert_parity(spark, sf, "sample_by_source")


def test_ist_format_session_tz_free(spark, tmp_path):
    """Review r5: ist_timestamp_format must render identically under
    ANY spark.sql.session.timeZone — an instant TIMESTAMP column would
    double-shift on a cluster already configured to Asia/Kolkata if
    rendering went through date_format's session zone."""
    import datetime

    from service1_text_extraction_spark.functions import relational

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        # pin UTC for the WRITE so the naive datetime below denotes a
        # known instant on any host (conftest does not pin the zone)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.createDataFrame(
            [(1, datetime.datetime(2026, 8, 17, 23, 45, 7))],
            "event_id long, ts timestamp",
        )
        out = str(tmp_path)
        df.write.mode("overwrite").parquet(f"{out}/events.parquet")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        got_kolkata = tuple(
            relational.ist_timestamp_format(spark, out).collect()[0]
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        got_utc = tuple(
            relational.ist_timestamp_format(spark, out).collect()[0]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got_kolkata == got_utc
    assert got_utc[1] == "2026-08-18 05:15:07 IST"  # +5:30 over UTC
    assert got_utc[2] == "2026-08-18T05:15:07+05:30"


def test_bigram_logprob_short_docs_and_persist(spark, tmp_path):
    """A doc with < 2 tokens has no bigrams and must be ABSENT in both
    engines (the descending-sequence trap)."""
    rows = EDGE_DOCS + [(9, "solo", "en", "src9", 4)]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import textstats

    got = {
        r.doc_id: (r.n_bigrams, r.mean_nll)
        for r in textstats.bigram_logprob(spark, sf).collect()
    }
    assert set(got) == {2, 3}  # empty/ws/one-token docs absent
    assert got[2][0] == 7 and got[3][0] == 11
    _assert_parity(spark, sf, "bigram_logprob")


def test_trigram_logprob_short_docs_and_persist(spark, tmp_path):
    """Docs with < 3 tokens have no trigrams and must be ABSENT in
    both engines (empty, whitespace, one- and two-token docs — the
    descending sequence(2, size-1) trap); interpolation weights sum to
    1 so mean_nll is a proper NLL (> 0 for any non-degenerate
    corpus)."""
    rows = EDGE_DOCS + [
        (9, "solo", "en", "src9", 4),
        (10, "just two", "en", "src10", 8),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import textstats

    assert abs(sum(textstats.TRIGRAM_LAMBDAS) - 1.0) < 1e-12
    got = {
        r.doc_id: (r.n_trigrams, r.mean_nll)
        for r in textstats.trigram_logprob(spark, sf).collect()
    }
    assert set(got) == {2, 3}  # <3-token docs absent
    assert got[2][0] == 6 and got[3][0] == 10  # n_tokens - 2
    assert all(nll > 0 for _, nll in got.values())
    _assert_parity(spark, sf, "trigram_logprob")


def test_sample_exact_quota_under_and_over(spark, tmp_path):
    """Exact-count stratified sampling: a source with fewer docs than
    the quota keeps ALL of them; a source with more keeps exactly the
    quota, chosen by the salted md5 order in BOTH engines."""
    rows = [
        (i, f"doc {i} text", "en", "big", 10) for i in range(30)
    ] + [
        (100 + i, f"small {i}", "en", "tiny", 8) for i in range(3)
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import curate

    got = curate.sample_exact_quota(spark, sf).collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append(r.sample_rank)
    assert len(per["big"]) == curate.SAMPLE_QUOTA
    assert sorted(per["tiny"]) == [1, 2, 3]
    _assert_parity(spark, sf, "sample_exact_quota")

    # VERDICT r5 item 2: the sharded two-phase selection is bit-equal
    # to the one-phase window the oracle replays — at shards=1 (the
    # degenerate pin), the default, and an uneven shard count
    one = sorted(tuple(r) for r in
                 curate.sample_exact_quota(spark, sf, shards=1).collect())
    assert sorted(tuple(r) for r in got) == one
    for s in (3, curate.SAMPLE_SHARDS * 4):
        two = sorted(tuple(r) for r in
                     curate.sample_exact_quota(spark, sf, shards=s).collect())
        assert two == one, s


def test_vocab_oov_small_corpus_parity(spark, tmp_path):
    """The vocab cut and OOV profile agree on a corpus smaller than
    VOCAB_SIZE (every word in-vocab) including an empty doc."""
    sf = _mini_docs(spark, tmp_path, EDGE_DOCS)
    _assert_parity(spark, sf, "vocab_top_terms")
    _assert_parity(spark, sf, "vocab_oov")


def test_admit_corpus_edge_parity(spark, tmp_path):
    """The admission composite agrees with its composed oracle on a
    corpus with empty docs and odd source names — and the POSITIVE
    path is exercised: several docs pass every gate, so split labels,
    the gate intersection, and the keeper join are actually
    compared (an all-rejected corpus would vacuously 'match')."""
    passing = " ".join(
        "the quick brown fox jumps over the lazy dog and then"
        " runs far away with it for a while in the open field"
        .split() * 3
    )
    # texts must be DISTINCT per doc — identical texts would collapse
    # into one exact-dedup group whose single keeper could be a
    # mixture-dropped doc, silently re-vacuating the test
    rows = EDGE_DOCS + [
        # gate-passing text; 'web' source -> NULL mixture rate (drops)
        (4, passing + " alpha", "en", "web", 300),
        # gate-passing text on high-rate sources: the mixture hash
        # admits a deterministic subset of these
        (6, passing + " beta", "en", "src4", 300),
        (7, passing + " gamma", "en", "src9", 300),
        (8, passing + " delta", "en", "src14", 300),
        (9, passing + " epsilon", "en", "src19", 300),
        (10, passing + " zeta", "en", "src4", 300),
        (11, passing + " eta", "en", "src9", 300),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    s_cols, s_rows = _spark_rows(spark, sf, "admit_corpus")
    assert len(s_rows) > 0, "no doc admitted — the test corpus is vacuous"
    assert all(r[0] != 4 for r in s_rows)  # NULL-rate source dropped
    _assert_parity(spark, sf, "admit_corpus")


def test_admit_corpus_equals_gate_intersection(spark, sf_dir):
    """Cross-operator consistency on the driver corpus: the let-bound
    composite must admit exactly (gopher passes=1) ∩ (c4_keep=1) ∩
    (mixture-kept) ∩ (dedup keepers) — the standalone queries it
    claims to compose."""
    from service1_text_extraction_spark.functions import (
        curate,
        dedup,
        textstats,
    )

    admitted = {
        r.doc_id for r in curate.admit_corpus(spark, sf_dir).collect()
    }
    gopher = {
        r.doc_id
        for r in textstats.gopher_quality(spark, sf_dir)
        .where("passes = 1")
        .collect()
    }
    c4 = {
        r.doc_id
        for r in textstats.c4_line_stats(spark, sf_dir)
        .where("c4_keep = 1")
        .collect()
    }
    mixed = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(curate.mix_keep_expr())
        .select("doc_id")
        .collect()
    }
    keepers = {
        r.keeper_id for r in dedup.exact_dedup(spark, sf_dir).collect()
    }
    assert admitted == gopher & c4 & mixed & keepers
    assert len(admitted) > 0


def test_gopher_a1_symbol_and_line_rules(spark, tmp_path):
    """The r5 Gopher App. A1 completions must actually fire: docs that
    clear every legacy gate but violate the '#' ratio, ellipsis ratio,
    bullet-line fraction, or ellipsis-line fraction must fail the pass
    flag in BOTH engines (the driver corpus never exercises these)."""
    base_words = (
        "the quick brown fox jumps over the lazy dog and then runs"
        " far away with it for a while in the open field today"
    ).split()  # 24 tokens, all legacy-gate friendly

    def doc(extra=None, per_line_prefix=None, per_line_suffix=None):
        toks = (base_words * 3)[:60]  # 60 tokens -> 6 pseudo-lines
        if per_line_prefix is not None:
            for i in range(0, 60, 10):
                toks[i] = per_line_prefix + toks[i]
        if per_line_suffix is not None:
            for i in range(9, 60, 10):
                toks[i] = toks[i] + per_line_suffix
        return " ".join(toks) + (extra or "")

    rows = [
        (0, doc(), "en", "src0", 0),                        # clean: passes
        (1, doc(extra=" " + "# " * 9), "en", "src1", 0),    # hash ratio
        (2, doc(per_line_suffix="..."), "en", "src2", 0),   # ellipsis x2
        (3, doc(per_line_prefix="-"), "en", "src3", 0),     # 6/6 bullets
        (4, doc(per_line_suffix="…"), "en", "src4", 0),     # one-char …
    ]
    rows = [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows]
    sf = _mini_docs(spark, tmp_path, rows)
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import textstats

    got = {
        r.doc_id: r for r in textstats.gopher_quality(spark, sf).collect()
    }
    assert got[0].passes == 1, got[0]
    assert got[1].passes == 0 and got[1].hash_word_ratio > 0.1
    assert got[2].passes == 0 and got[2].ellipsis_line_frac == 1.0
    assert got[3].passes == 0 and got[3].bullet_line_frac == 1.0
    assert got[4].passes == 0 and got[4].ellipsis_line_frac == 1.0
    # the admission rendering of the same rule agrees doc by doc
    admitted = {
        r.doc_id: int(r.ok)
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text", F.expr(textstats._TOKENS).alias("t"))
        .select("doc_id", F.expr(textstats.gopher_pass_sql()).alias("ok"))
        .collect()
    }
    assert admitted == {i: r.passes for i, r in got.items()}, admitted
    _assert_parity(spark, sf, "gopher_quality")


def test_unigram_logprob_empty_corpus_and_laziness(spark, tmp_path):
    """ADVICE r4: unigram_logprob's totals must be lazy (no Spark job
    at plan-construction time) and an EMPTY corpus must yield an empty
    result — never a TypeError on NULL sum(c)."""
    sf = _mini_docs(spark, tmp_path, [])
    from service1_text_extraction_spark.functions import textstats

    tracker = spark.sparkContext.statusTracker()
    # reading the parquet schema itself costs a footer job; measure it,
    # then require construction to add nothing BEYOND its own footer
    # read (the r4 form ran the whole count aggregation eagerly here)
    n0 = len(tracker.getJobIdsForGroup(None))
    spark.read.parquet(f"{sf}/documents.parquet")
    n1 = len(tracker.getJobIdsForGroup(None))
    textstats.unigram_logprob(spark, sf)  # construction only
    n2 = len(tracker.getJobIdsForGroup(None))
    assert n2 - n1 <= n1 - n0, "construction ran an aggregation job"
    assert textstats.unigram_logprob(spark, sf).collect() == []


def _mini_emb(spark, tmp_path, rows):
    """Write an embeddings.parquet shaped like the driver testdata."""
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    return out


def test_knn_join_zero_norm_parity(spark, tmp_path):
    """ADVICE r4: a zero-norm embedding's cosine is NULL in Spark
    (dropped by the >= -1.0 filter) but -1.0 in DuckDB — the oracle
    must exclude zero-norm sides so both engines agree that such a
    vector emits and receives NO neighbor rows."""
    import math

    from service1_text_extraction_spark.functions import similarity

    dim = 4
    rows = []
    for v in range(12):
        ang = v * 0.5
        rows.append(
            (
                v,
                [
                    float(math.cos(ang)),
                    float(math.sin(ang)),
                    float(0.1 * v),
                    1.0,
                ],
                f"l{v % 3}",
            )
        )
    rows.append((12, [0.0] * dim, "l0"))  # the zero-norm vector
    sf = _mini_emb(spark, tmp_path, rows)

    got = similarity.knn_join(spark, sf).collect()
    ids_touched = {r.vec_id for r in got} | {r.nn_id for r in got}
    assert got, "vacuous: no neighbor rows at all"
    assert 12 not in ids_touched, got  # zero-norm emits/receives none
    _assert_parity(spark, sf, "knn_join")


def test_multiprobe_recall_improves(spark, sf_dir):
    """VERDICT r4 item 3: probing more k-means lists must recover
    recall lost to quantization boundaries. Ground truth is an exact
    numpy brute-force top-k; probes=3 must strictly beat probes=1 on
    the driver corpus, and probes=1 must reproduce single-probe
    knn_join's pair set exactly."""
    import numpy as np

    from service1_text_extraction_spark.functions import similarity

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=float)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -np.inf)
    k = similarity.KNN_K
    true_nn = {}
    for i, vid in enumerate(ids):
        order = np.lexsort((ids, -S[i]))  # cos desc, then id asc
        true_nn[int(vid)] = {int(ids[j]) for j in order[:k]}

    def recall(df) -> float:
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.vec_id, set()).add(r.nn_id)
        hits = sum(
            len(got.get(v, set()) & t) for v, t in true_nn.items()
        )
        return hits / (len(true_nn) * k)

    r1 = recall(similarity.knn_join_multiprobe(spark, sf_dir, probes=1))
    r3 = recall(similarity.knn_join_multiprobe(spark, sf_dir, probes=3))
    assert r3 > r1, (r1, r3)

    single = {
        (r.vec_id, r.nn_id)
        for r in similarity.knn_join(spark, sf_dir).collect()
    }
    mp1 = {
        (r.vec_id, r.nn_id)
        for r in similarity.knn_join_multiprobe(
            spark, sf_dir, probes=1
        ).collect()
    }
    assert mp1 == single


def test_auto_k_grid_and_driver_equivalence(spark, sf_dir):
    """VERDICT r5 item 1: the semantic/kNN family's quantizer grows
    with the corpus on the deterministic doubling grid — and resolves
    to EXACTLY the oracle's k=10 at every driver-checked scale, so
    the unrolled k=10 SQL oracles replay the auto path verbatim."""
    from service1_text_extraction_spark.functions import similarity

    assert similarity._auto_k(1) == 10
    assert similarity._auto_k(500) == 10        # sf0.001/sf0.01 tables
    assert similarity._auto_k(501) == 20
    assert similarity._auto_k(2000) == 40       # sf0.1 table
    assert similarity._auto_k(20000) == 640     # 10x replica
    assert similarity._auto_k(10**10) == 40960  # grid-capped
    assert similarity._auto_k(10**10) <= similarity.AUTO_K_MAX

    # the driver corpus resolves to the fixed oracle k...
    assert (
        similarity._resolve_k(spark, sf_dir, "auto") == similarity.K_LISTS
    )
    # ...and trains the identical quantizer (same memo entry or not)
    auto = similarity._kmeans_centroids(spark, sf_dir, "auto")
    fixed = similarity._kmeans_centroids(spark, sf_dir, similarity.K_LISTS)
    assert auto == fixed


def test_verified_pairs_non_ascii_and_empty(spark, tmp_path):
    """Pins the authoritative Spark semantics the oracle cannot mirror
    beyond ASCII: levenshtein is CHARACTER-based ('ééé' vs 'xyz' is 3
    edits, not 6 bytes), a pair of identical short/empty-ish texts
    keeps dist_frac 0 instead of NULL-dropping on a zero denominator,
    and the affix trim of a non-ASCII near-dup pair (shared prefix and
    suffix, one astral character) keeps the full-text distance."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import dedup

    head = "🎉 naïve café crème brûlée über straße señor année cœur"
    tail = ("résumé façade jalapeño piñata smörgåsbord fiancée déjà vu"
            " naïveté")
    near_a = f"{head} wörld {tail}"
    near_b = f"{head} wòrld {tail}"  # one edit inside one token
    rows = [
        # identical tiny texts -> exact dup candidates, lev 0
        (0, "x y z", "en", "src0", 5),
        (1, "x y z", "en", "src1", 5),
        # non-ASCII near-dup pair (same tokens -> same signature)
        (2, "héllo wörld héllo wörld", "en", "src2", 23),
        (3, "héllo wörld héllo wörld", "en", "src3", 23),
        (4, near_a, "en", "src4", len(near_a)),
        (5, near_b, "en", "src5", len(near_b)),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    got = {
        (r.a_id, r.b_id): (r.lev, r.dist_frac)
        for r in dedup.minhash_verified_pairs(spark, sf).collect()
    }
    assert got.get((0, 1)) == (0, 0.0), got   # no NULL drop
    assert got.get((2, 3)) == (0, 0.0), got   # char-based, identical
    cands = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_band_candidates(spark, sf).collect()
    }
    assert (4, 5) in cands, cands
    full = spark.range(1).select(
        F.levenshtein(F.lit(near_a), F.lit(near_b)).alias("d")
    ).collect()[0].d
    assert got[(4, 5)][0] == full > 0, (got, full)
    # char-based distance on genuinely different non-ASCII strings
    row = spark.range(1).select(
        F.levenshtein(F.lit("ééé"), F.lit("xyz")).alias("d")
    ).collect()[0]
    assert row.d == 3  # characters, not UTF-8 bytes


def test_ccnet_ppl_buckets_terciles_and_ties(spark, tmp_path):
    """Exact histogram terciles over the trigram NLL: <3-token docs
    are absent (no trigrams to score), buckets respect the NLL order
    (every head score <= every middle score <= every tail score), and
    TIED scores share a bucket — five identical docs spanning the n/3
    boundary all land in one bucket, which therefore overflows n/3
    (exactly how an exact value-quantile must behave)."""
    clone = "the cat sat on the mat and purred at the cat"
    rows = [
        (0, "", "en", "src0", 0),          # absent: token-less
        (1, "one two", "en", "src1", 7),   # absent: < 3 tokens
    ] + [
        (10 + i, clone, "en", "src2", len(clone)) for i in range(5)
    ] + [
        (20, "alpha beta gamma delta epsilon zeta", "en", "src3", 35),
        (21, "red green blue yellow purple orange pink", "en",
         "src4", 41),
        (22, "numbers count one two three four five six seven", "en",
         "src5", 48),
        (23, "a completely different sentence about ships and sails",
         "en", "src6", 53),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import textstats

    got = {
        r.doc_id: (r.mean_nll, r.ppl_bucket)
        for r in textstats.ccnet_ppl_buckets(spark, sf).collect()
    }
    assert set(got) == {10, 11, 12, 13, 14, 20, 21, 22, 23}
    # the five clones tie exactly -> one shared bucket
    clone_buckets = {got[10 + i][1] for i in range(5)}
    assert len(clone_buckets) == 1
    # buckets are ordered by score
    by_bucket = {}
    for nll, bucket in got.values():
        by_bucket.setdefault(bucket, []).append(nll)
    order = [b for b in ("head", "middle", "tail") if b in by_bucket]
    for lo, hi in zip(order, order[1:]):
        assert max(by_bucket[lo]) <= min(by_bucket[hi]), by_bucket
    _assert_parity(spark, sf, "ccnet_ppl_buckets")


def test_contamination_fraction_zero_hit_docs_present(spark, tmp_path):
    """Every corpus document must appear: zero-overlap docs at
    contam_frac 0.0 (decontaminate's inner join drops them), a
    verbatim benchmark copy at 1.0, and a SHORT doc (< DECON_GRAM
    tokens) scored through its single truncated gram."""
    bench_text = (
        "held out benchmark question about the capital of france"
    )
    rows = [
        (0, bench_text, "en", "src0", len(bench_text)),  # benchmark
        (1, "unrelated benchmark prompt listing prime numbers two"
            " three five seven", "en", "src1", 70),      # benchmark
        # corpus side (doc_id >= BENCH_DOC_MAX):
        (20, bench_text, "en", "src2", len(bench_text)),  # full copy
        (21, "totally disjoint document about gardening and soil"
             " acidity levels", "en", "src3", 66),        # zero hits
        (22, "held out benchmark", "en", "src4", 18),     # short doc
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import dedup

    got = {
        r.doc_id: (r.n_grams, r.n_hits, r.contam_frac)
        for r in dedup.contamination_fraction(spark, sf).collect()
    }
    assert set(got) == {0, 1, 20, 21, 22}  # every doc scored
    assert got[20][2] == 1.0               # verbatim copy
    assert got[21] == (got[21][0], 0, 0.0)  # zero hits, present
    assert got[0][2] == 1.0                # benchmark self-hit
    # the short doc has exactly ONE truncated gram, and it does not
    # match any full 8-gram of the benchmark
    assert got[22][0] == 1 and got[22][2] == 0.0
    _assert_parity(spark, sf, "contamination_fraction")


def test_dup_passage_fraction_edges(spark, tmp_path):
    """Fully-duplicated docs score dup_frac 1.0 (coverage clips at the
    doc end, so overlapping strided grams never overshoot); docs with
    no duplicated gram are absent; two ZERO-length docs — which share
    the md5('') gram — are absent instead of dividing 0/0 (NULL in
    Spark, NaN in DuckDB)."""
    from service1_text_extraction_spark.functions import dedup

    shared_long = " ".join(f"tok{i % 13}" for i in range(60))  # > GRAM_LEN
    docs = [
        (0, "", "en", "src0", 0),                   # empty (dup of 1!)
        (1, "", "en", "src1", 0),                   # empty -> absent
        (2, "x" * 40, "en", "src2", 40),            # short dup pair...
        (3, "x" * 40, "en", "src3", 40),            # ...-> frac 1.0
        (4, shared_long, "en", "src4", len(shared_long)),
        (5, shared_long, "en", "src5", len(shared_long)),
        (6, "totally unique text that no other document shares at"
            " all, padded well past the gram width to get grams xyzzy",
         "en", "src6", 110),                        # no dup -> absent
    ]
    sf = _mini_docs(spark, tmp_path, docs)
    got = {
        r.doc_id: r for r in dedup.dup_passage_fraction(spark, sf).collect()
    }
    assert set(got) == {2, 3, 4, 5}, sorted(got)
    assert got[2].dup_frac == 1.0 and got[2].dup_chars == 40
    # the strided scheme's last gram starts at floor((len-64)/16)*16,
    # so coverage of a fully-duplicated doc is last_off + 64 (the
    # final (len-64) % 16 chars have no gram — duplicate_passages has
    # the same deliberate tail stride-remainder blindness); the UNION
    # is still far below the 16-gram * 64-char raw sum
    last_off = (len(shared_long) - 64) // 16 * 16
    assert got[4].dup_chars == last_off + 64
    assert got[4].dup_chars < got[4].n_dup_grams * 64  # merged, not summed
    _assert_parity(spark, sf, "dup_passage_fraction")


def test_c4_span_dedup_keep_first(spark, tmp_path):
    """Global keep-first semantics: an exact-copy doc loses every span
    (absent); a doc sharing its head spans keeps only its novel tail;
    WITHIN-doc repeats collapse to the first occurrence; token-less
    docs are absent."""
    from service1_text_extraction_spark.functions import dedup

    base = " ".join(f"w{i}" for i in range(20))       # 2 spans
    tail = " ".join(f"u{i}" for i in range(10))       # 1 novel span
    docs = [
        (0, "", "en", "src0", 0),                     # absent
        (1, "   \t ", "en", "src1", 5),               # absent
        (2, base, "en", "src2", len(base)),           # keeps both
        (3, base, "en", "src3", len(base)),           # copy -> absent
        (4, base + " " + tail, "en", "src4", 0),      # keeps the tail
        (5, " ".join(["rep"] * 30), "en", "src5", 0), # 3 same spans
    ]
    sf = _mini_docs(spark, tmp_path, docs)
    got = {
        r.doc_id: r for r in dedup.c4_span_dedup(spark, sf).collect()
    }
    assert set(got) == {2, 4, 5}, sorted(got)
    assert (got[2].n_spans, got[2].n_kept) == (2, 2)
    assert got[2].dedup_text == base
    assert (got[4].n_spans, got[4].n_kept) == (3, 1)
    assert got[4].dedup_text == tail
    assert (got[5].n_spans, got[5].n_kept) == (3, 1)
    assert got[5].dedup_text == " ".join(["rep"] * 10)
    _assert_parity(spark, sf, "c4_span_dedup")


def test_hll_accuracy_and_order_independence(spark, tmp_path):
    """HLL-1024 lands within ~3 standard errors (1.04/sqrt(1024) ~
    3.25% each) of the exact distinct-shingle count, the estimate is
    IDENTICAL across input partitionings (the integer harmonic sum is
    addition-order-free — a float sum would not be), and the DuckDB
    oracle reproduces it bit-for-bit."""
    from service1_text_extraction_spark.functions import dedup

    rows = []
    for d in range(60):
        # near-injective token stream: an arithmetic one collapses the
        # trigram space (every shingle determined by its start index)
        toks = [
            f"w{(d * 1237 + j * 89 + (d * j) % 53) % 100000}"
            for j in range(120)
        ]
        text = " ".join(toks)
        rows.append(
            (d, text, "en", f"src{d % 2}", len(text))
        )
    sf_a = _mini_docs(spark, tmp_path / "a", rows)

    est = {
        r.source: r.est_distinct
        for r in dedup.hll_distinct_shingles(spark, sf_a).collect()
    }
    from pyspark.sql import functions as F
    from service1_text_extraction_spark.functions.textstats import _TOKENS

    exact = {
        r.source: r.n
        for r in (
            spark.read.parquet(f"{sf_a}/documents.parquet")
            .select("source", F.expr(_TOKENS).alias("t"))
            .select(
                "source",
                F.explode(F.expr(dedup.SHINGLES_OF_T)).alias("s"),
            )
            .groupBy("source")
            .agg(F.countDistinct("s").alias("n"))
            .collect()
        )
    }
    for src, e in est.items():
        rel = abs(e - exact[src]) / exact[src]
        assert exact[src] > 2.5 * dedup.HLL_BUCKETS  # correction off
        assert rel < 0.10, (src, e, exact[src], rel)

    # same rows, different file layout -> bit-identical estimates
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    out_b = str(tmp_path / "b")
    df.repartition(7).write.mode("overwrite").parquet(
        f"{out_b}/documents.parquet"
    )
    est_b = {
        r.source: r.est_distinct
        for r in dedup.hll_distinct_shingles(spark, out_b).collect()
    }
    assert est == est_b, (est, est_b)

    _assert_parity(spark, sf_a, "hll_distinct_shingles")


def _mini_events(spark, tmp_path, rows):
    """Write an events.parquet shaped like the driver testdata."""
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    return out


def test_bloom_superset_of_exact(spark, sf_dir):
    """A Bloom filter can false-positive but never false-negative:
    every document the exact gram-set decontamination flags MUST be
    Bloom-flagged, at any fill ratio."""
    from service1_text_extraction_spark.functions import dedup

    exact = {
        r.doc_id
        for r in dedup.contamination_fraction(spark, sf_dir)
        .where("n_hits > 0")
        .collect()
    }
    bloom = {
        r.doc_id
        for r in dedup.bloom_decontaminate(spark, sf_dir)
        .where("flagged")
        .collect()
    }
    assert exact <= bloom, sorted(exact - bloom)[:5]


def test_bloom_edge_corpus_parity(spark, tmp_path):
    """Empty/whitespace docs produce the single '' gram; the probe and
    the oracle must agree on them too (every mini doc is also bench,
    so all flag at frac 1.0 — the degenerate-but-legal case)."""
    sf = _mini_docs(spark, tmp_path, EDGE_DOCS)
    _assert_parity(spark, sf, "bloom_decontaminate")
    _assert_parity(spark, sf, "cms_heavy_hitters")


def test_cms_overestimates_never_under(spark, sf_dir):
    """CMS estimates are min-of-counters over hashed increments: for
    every reported token the estimate must be >= the exact corpus
    count (equality when none of its d cells collide)."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import textstats
    from service1_text_extraction_spark.functions.spread import read_spread

    hh = textstats.cms_heavy_hitters(spark, sf_dir)
    exact = (
        read_spread(spark, sf_dir, "documents")
        .select(F.explode(F.expr(textstats._TOKENS)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("true_cnt"))
    )
    rows = hh.join(exact, "w").collect()
    assert len(rows) == textstats.CMS_TOPK
    under = [r for r in rows if r.est_count < r.true_cnt]
    assert not under, under[:5]


def test_asof_join_tie_and_no_prior(spark, tmp_path):
    """As-of semantics at the edges: a purchase at the SAME instant as
    the click is visible (tag orders purchase first); a click with no
    prior purchase keeps NULLs; a later purchase is invisible."""
    t = "2024-01-01 12:00:00"
    later = "2024-01-01 13:00:00"
    rows = [
        (1, t, 1, "purchase", 10.0, None),      # same instant as click 2
        (2, t, 1, "click", None, None),         # sees purchase 1, gap 0
        (3, t, 2, "click", None, None),         # user 2: no purchase ever
        (4, later, 3, "purchase", 5.0, None),   # after user 3's click
        (5, t, 3, "click", None, None),         # must NOT see purchase 4
    ]
    import datetime

    rows = [
        (i, datetime.datetime.fromisoformat(ts), u, et, v, p)
        for i, ts, u, et, v, p in rows
    ]
    sf = _mini_events(spark, tmp_path, rows)
    from service1_text_extraction_spark.functions import relational

    got = {
        r.event_id: (r.asof_purchase_id, r.asof_value, r.gap_us)
        for r in relational.asof_join(spark, sf).collect()
    }
    assert got[2] == (1, 10.0, 0)
    assert got[3] == (None, None, None)
    assert got[5] == (None, None, None)
    _assert_parity(spark, sf, "asof_join")


def test_range_join_boundaries(spark, tmp_path):
    """Containment bounds are [e_ts, e_ts + W): a click AT the error
    instant counts, a click exactly W later does not, and a window
    that straddles a bucket boundary still matches (the 2-bin
    emission)."""
    import datetime

    from service1_text_extraction_spark.functions import relational

    W = relational.RANGE_WINDOW_S
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    s = lambda off: base + datetime.timedelta(seconds=off)
    rows = [
        (1, s(0), 1, "error", None, None),
        (2, s(0), 1, "click", None, None),        # at e_ts -> in
        (3, s(W), 1, "click", None, None),        # at e_ts + W -> out
        (4, s(W - 1), 1, "click", None, None),    # last second -> in
        # user 2: error late in bucket 0, click early in bucket 1
        (5, s(W - 10), 2, "error", None, None),
        (6, s(W + 10), 2, "click", None, None),   # cross-bucket -> in
    ]
    sf = _mini_events(spark, tmp_path, rows)
    got = {
        r.event_id: r.n_err_windows
        for r in relational.range_join_bucketed(spark, sf).collect()
    }
    assert got == {2: 1, 3: 0, 4: 1, 6: 1}, got
    _assert_parity(spark, sf, "range_join_bucketed")


def test_cms_sketch_merges_by_addition(spark, sf_dir):
    """CMS counters are linear: the cell-wise SUM of two disjoint
    shards' sketches must equal the whole-corpus sketch exactly —
    the property that makes the sketch a distributed-aggregation
    primitive (each executor folds its shard, merge is add)."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.functions import textstats
    from service1_text_extraction_spark.functions.spread import read_spread

    docs = read_spread(spark, sf_dir, "documents")
    tok_of = lambda d: d.select(
        F.explode(F.expr(textstats._TOKENS)).alias("w")
    )
    whole = {
        (r.r, r.col): r.cnt
        for r in textstats._cms_sketch(tok_of(docs))[1].collect()
    }
    even = textstats._cms_sketch(
        tok_of(docs.where("doc_id % 2 = 0"))
    )[1].collect()
    odd = textstats._cms_sketch(
        tok_of(docs.where("doc_id % 2 = 1"))
    )[1].collect()
    merged: dict = {}
    for r in list(even) + list(odd):
        merged[(r.r, r.col)] = merged.get((r.r, r.col), 0) + r.cnt
    assert merged == whole


def test_bloom_false_positive_is_real_and_oracled(spark, tmp_path):
    """The probe must be a REAL Bloom filter: at high fill a gram that
    is NOT in the benchmark can still hit all BLOOM_K positions. The
    test derives the benchmark's bit set in pure Python (same md5
    double-hash), searches deterministically for a colliding probe
    token, and checks that the operator flags it while the exact
    gram-set scorer does not — AND that the DuckDB oracle reproduces
    the same false positive (parity covers approximate semantics,
    not just happy paths)."""
    import hashlib

    from service1_text_extraction_spark.functions import dedup

    def pos_of(g):
        m = hashlib.md5(g.encode()).hexdigest()
        a, b = int(m[0:8], 16), int(m[8:16], 16)
        return [(a + i * b) % dedup.BLOOM_BITS for i in range(dedup.BLOOM_K)]

    pos = set()
    bench_rows = []
    for d in range(dedup.BENCH_DOC_MAX):
        toks = [f"b{d}_{i}" for i in range(1500)]
        for i in range(len(toks) - dedup.DECON_GRAM + 1):
            pos.update(pos_of(" ".join(toks[i:i + dedup.DECON_GRAM])))
        text = " ".join(toks)
        bench_rows.append((d, text, "en", f"src{d}", len(text)))
    assert len(pos) / dedup.BLOOM_BITS > 0.5  # high-fill regime

    fp_tok = next(
        f"fp{i}" for i in range(10_000)
        if all(p in pos for p in pos_of(f"fp{i}"))
    )
    # at this fill a random probe false-positives ~50% of the time, so
    # the negative control is SEARCHED too, not assumed
    tn_tok = next(
        f"tn{i}" for i in range(10_000)
        if not all(p in pos for p in pos_of(f"tn{i}"))
    )
    # a single-token doc's one gram IS the token (concat_ws skips the
    # out-of-range NULLs), so docs 100/101 probe exactly these tokens
    rows = bench_rows + [
        (100, fp_tok, "en", "src100", len(fp_tok)),
        (101, tn_tok, "en", "src101", len(tn_tok)),
    ]
    sf = _mini_docs(spark, tmp_path, rows)

    bloom = {
        r.doc_id: r.flagged
        for r in dedup.bloom_decontaminate(spark, sf).collect()
    }
    exact = {
        r.doc_id: r.n_hits
        for r in dedup.contamination_fraction(spark, sf).collect()
    }
    assert bloom[100] is True and exact[100] == 0  # the false positive
    assert bloom[101] is False and exact[101] == 0
    assert all(bloom[d] for d in range(dedup.BENCH_DOC_MAX))
    _assert_parity(spark, sf, "bloom_decontaminate")


def test_hdr_quantiles_within_sketch_error(spark, sf_dir):
    """The sketch pick is the bucket of the DISCRETE order statistic
    v_ceil(q*n) (the 100*cum >= qq*n rule), and the bucket keeps the
    top HDR_SUB_BITS+1 significant bits of it — so per event_type and
    quantile the estimate must sit in
    [v_k * (1 - 2^-HDR_SUB_BITS), v_k] around the exact order stat
    computed independently here (NOT the interpolated quantile_cont,
    which the discrete pick may legitimately straddle by one stat)."""
    import math

    from service1_text_extraction_spark.functions import relational

    est = {
        r.event_type: (r.p50_est, r.p90_est, r.p99_est)
        for r in relational.hdr_value_quantiles(spark, sf_dir).collect()
    }
    vals: dict = {}
    for r in (
        relational._t(spark, sf_dir, "events")
        .where("value IS NOT NULL AND value >= 0")
        .select("event_type", "value")
        .collect()
    ):
        vals.setdefault(r.event_type, []).append(r.value)
    assert set(est) == set(vals)
    tol = 2 ** -relational.HDR_SUB_BITS
    unit = 1.0 / relational.HDR_UNIT
    for et, es in est.items():
        vs = sorted(vals[et])
        for e, q in zip(es, (50, 90, 99)):
            v_k = vs[math.ceil(q * len(vs) / 100) - 1]
            assert e <= v_k + unit, (et, q, e, v_k)
            assert e >= v_k * (1 - tol) - unit, (et, q, e, v_k)


def test_asof_salted_equals_one_phase(spark, sf_dir, tmp_path):
    """The two-phase (time-blocked) as-of must equal the one-phase
    window form row for row — on the driver corpus at the default
    block width AND at a pathologically narrow one (60 s: nearly
    every event in its own block, so the carry path does all the
    work), AND on a fixture where the purchase sits many EMPTY blocks
    before a click-only block (the carry-spine case)."""
    import datetime as dt

    from service1_text_extraction_spark.functions import relational

    one = {
        tuple(r) for r in relational.asof_join(spark, sf_dir).collect()
    }
    for block_s in (relational.ASOF_BLOCK_S, 60):
        two = {
            tuple(r)
            for r in relational.asof_join_salted(
                spark, sf_dir, block_s=block_s
            ).collect()
        }
        assert two == one, block_s

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 5, "purchase", 9.0, None),
        # 50 blocks later at block_s=60 — every block between is empty
        (2, t0 + dt.timedelta(seconds=3000), 5, "click", None, None),
        (3, t0 + dt.timedelta(seconds=3001), 6, "click", None, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    got = {
        r.event_id: (r.asof_purchase_id, r.asof_value, r.gap_us)
        for r in relational.asof_join_salted(
            spark, out, block_s=60
        ).collect()
    }
    assert got[2] == (1, 9.0, 3_000_000_000)
    assert got[3] == (None, None, None)
    _assert_parity(spark, out, "asof_join_salted")


def test_bm25_semantics_and_parity(spark, tmp_path):
    """BM25 retrieval on a corpus built to separate the three moving
    parts: idf (the rare-term doc must win), tf saturation (doubled tf
    beats single tf at equal length), and length normalization
    (shorter doc beats longer at equal tf). Empty query docs and
    queries whose terms never occur in the candidates must vanish, not
    error — and the oracle must agree on all of it."""
    rows = [
        (0, "rare common", "en", "src0", 11),   # the live query
        (1, "", "en", "src1", 0),               # empty query
        (2, "zzz", "en", "src2", 3),            # out-of-vocab query
        (3, "rare common pad pad pad pad pad pad", "en", "src3", 35),
        (4, "common pad pad pad pad pad pad pad", "en", "src4", 34),
        (5, "common common pad pad pad pad pad pad", "en", "src5", 37),
        (6, "common pad", "en", "src6", 10),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "bm25_topk")
    _, out = _spark_rows(spark, sf, "bm25_topk")
    by_q = {}
    for qid, rank, doc_id, score in out:
        by_q.setdefault(qid, []).append((rank, doc_id, score))
    # empty and out-of-vocabulary queries yield no rows at all
    assert set(by_q) == {0}
    scores = {d: s for _, d, s in by_q[0]}
    assert set(scores) == {3, 4, 5, 6}
    # idf: the only doc carrying the rare term ranks first
    assert sorted(by_q[0])[0][1] == 3
    # tf: doubled count outscores single at equal length (4 vs 5)
    assert scores[5] > scores[4]
    # length norm: equal tf, shorter doc outscores longer (6 vs 4)
    assert scores[6] > scores[4]


def test_oph_jaccard_accuracy_and_parity(spark, tmp_path):
    """One-permutation MinHash estimator against a corpus with KNOWN
    overlap: sources A and B each hold 400 distinct shingles, 200 of
    them shared -> true Jaccard 200/600 = 1/3. Each 3-token doc
    contributes exactly one shingle, so the set sizes are exact. The
    estimate must land within the sketch's sampling error (~4 sigma of
    sqrt(J(1-J)/128) ~ 0.042), and the oracle must replay it."""
    rows = []
    did = 0
    for i in range(200):
        for src, w in (("srcA", f"a{i}"), ("srcB", f"b{i}")):
            rows.append((did, f"{w} {w} {w}", "en", src, 10))
            did += 1
        for src in ("srcA", "srcB"):  # the shared shingles
            rows.append((did, f"c{i} c{i} c{i}", "en", src, 10))
            did += 1
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "minhash_source_jaccard")
    _, out = _spark_rows(spark, sf, "minhash_source_jaccard")
    assert len(out) == 1
    src_a, src_b, n_both, n_equal, est = out[0]
    assert (src_a, src_b) == ("srcA", "srcB")
    # 400 hashes per source over 128 stripes: ~5.6 stripes empty per
    # source in expectation (128 * e^(-400/128)), so both-populated
    # lands near 117 — never below ~100
    assert 100 <= n_both <= 128
    assert abs(est - 1.0 / 3.0) < 0.17


def test_leak_safe_split_keeps_dup_pairs_together(spark, tmp_path):
    """The whole point of split_leak_safe: two identical documents
    whose DOC-ID buckets fall on opposite sides of the split (leaked
    by train_test_split) must land in the SAME split under the
    cluster-keyed rule; singleton docs must agree with
    train_test_split exactly. Oracle parity runs on the same corpus."""
    import hashlib

    def doc_bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100

    # find a pair (i, j) the naive split separates
    i = next(k for k in range(1000) if doc_bucket(k) < 10)
    j = next(
        k for k in range(i + 1, 1000)
        if doc_bucket(k) >= 10
    )
    dup_text = "the exact same page crawled twice word for word " * 3
    rows = [
        (i, dup_text, "en", "src0", len(dup_text)),
        (j, dup_text, "en", "src0", len(dup_text)),
        # singletons with unique text
        (2000, "alpha beta gamma delta epsilon zeta", "en", "src1", 35),
        (2001, "one two three four five six seven", "en", "src1", 33),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "split_leak_safe")
    _, naive = _spark_rows(spark, sf, "train_test_split")
    naive_split = {r[0]: r[2] for r in naive}
    assert naive_split[i] != naive_split[j]  # the leak exists
    _, safe = _spark_rows(spark, sf, "split_leak_safe")
    safe_split = {r[0]: r[3] for r in safe}
    assert safe_split[i] == safe_split[j]  # and is prevented
    # singletons: cluster_rep == doc_id, so the two rules agree
    for d in (2000, 2001):
        assert safe_split[d] == naive_split[d]


def test_hopping_window_boundaries(spark, tmp_path):
    """Window-boundary law: an event AT a hop boundary belongs to the
    window starting there and the one before — never three; an event
    one microsecond earlier belongs to the two preceding windows.
    Negative values round away from zero in both engines."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (0, base, 1, "click", 1.005, None),                  # on boundary
        (1, base - dt.timedelta(microseconds=1), 1, "click", -2.675, None),
        (2, base + dt.timedelta(minutes=5), 1, "view", 0.004, None),
        (3, None, 1, "view", 9.0, None),  # null ts: absent in BOTH
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    _assert_parity(spark, out, "hopping_window_stats")
    _, got = _spark_rows(spark, out, "hopping_window_stats")
    per_event_windows = {}
    for ws, etype, n, cents in got:
        per_event_windows.setdefault(etype, []).append((ws, n, cents))
    # every event appears in exactly two windows
    clicks = sorted(per_event_windows["click"])
    views = sorted(per_event_windows["view"])
    assert sum(n for _, n, _ in clicks) == 4  # 2 events x 2 windows
    assert sum(n for _, n, _ in views) == 2
    # the boundary event's earliest window starts AT its timestamp - 5min
    assert clicks[-1][0] == base  # on-boundary event opens a new window
    # cents rounding: 1.005 -> 101 is float-representation-dependent,
    # but BOTH engines see the same double; -2.675 * 100 rounds away
    # from zero identically; the parity assert above is the real pin


def test_char_entropy_known_values(spark, tmp_path):
    """Closed-form entropies: a one-symbol doc is exactly 0 bits; a
    uniform two-symbol doc exactly 1 bit (1_000_000 micro-bits); a
    uniform four-symbol doc exactly 2 bits; empty and NULL docs are
    ABSENT (the x/0 rule), not zero rows. Oracle parity on the same
    corpus pins the floor(+0.5) rounding and log2 agreement."""
    rows = [
        (0, "aaaaaaaa", "en", "src0", 8),
        (1, "abababab", "en", "src1", 8),
        (2, "abcdabcd", "en", "src2", 8),
        (3, "", "en", "src3", 0),
        (4, None, "en", "src4", 0),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "char_entropy")
    _, out = _spark_rows(spark, sf, "char_entropy")
    got = {r[0]: (r[1], r[2], r[3]) for r in out}
    assert set(got) == {0, 1, 2}
    assert got[0] == (8, 1, 0)
    assert got[1] == (8, 2, 1_000_000)
    assert got[2] == (8, 4, 2_000_000)


def test_weighted_sample_favors_heavy_docs(spark, tmp_path):
    """A-ES semantics: with one doc weighted 10^6 heavier than 200
    unit-weight docs, the heavy doc must be sampled (its key is
    ~10^6 smaller than any unit key except u within 1e-6 of 1, a
    measure-zero slice of the 60-bit hash); zero-weight docs are
    never sampled; the Spark selection equals a NumPy replay of the
    exact formula; and the oracle agrees."""
    import hashlib
    import math

    rows = [(0, "x", "en", "heavy", 1_000_000)]
    rows += [(i, "y", "en", "unit", 1) for i in range(1, 201)]
    rows += [(999, "z", "en", "zero", 0)]
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "weighted_sample")
    _, out = _spark_rows(spark, sf, "weighted_sample")
    picked = {r[0] for r in out}
    assert 0 in picked and 999 not in picked and len(out) == 50
    # exact replay of the selection in plain Python
    def key(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return -math.log((h + 1) / float(1 << 60)) / w
    keyed = sorted(
        (key(d, w), d) for d, w in
        [(0, 1_000_000)] + [(i, 1) for i in range(1, 201)]
    )
    assert picked == {d for _, d in keyed[:50]}


def test_corpus_delta_statuses(spark, tmp_path):
    """Every status must arise exactly per the snapshot law: %4==3 ->
    added, %5==4 (and present in old) -> removed, %4==1 -> changed
    (stale marker), everything else absent (unchanged). A doc that is
    both %4==3 and %5==4 exists in NEITHER snapshot and must not
    appear at all."""
    rows = [
        (i, f"text of document {i}", "en", "src0", 20) for i in range(25)
    ]
    rows.append((40, None, "en", "src0", 0))  # NULL text: present, '' hash
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "corpus_delta")
    _, out = _spark_rows(spark, sf, "corpus_delta")
    got = {r[0]: r[1] for r in out}
    # a NULL-text doc present in both snapshots (40 % 4 == 0, unmarked;
    # 40 % 5 == 0) hashes '' on both sides -> unchanged, absent
    assert 40 not in got
    for i in range(25):
        in_old, in_new = i % 4 != 3, i % 5 != 4
        if in_old and not in_new:
            assert got[i] == "removed", (i, got.get(i))
        elif in_new and not in_old:
            assert got[i] == "added", (i, got.get(i))
        elif in_old and in_new and i % 4 == 1:
            assert got[i] == "changed", (i, got.get(i))
        else:
            assert i not in got, (i, got.get(i))


def test_funnel_strict_ordering(spark, tmp_path):
    """The funnel is ORDER-sensitive: steps only count strictly after
    the previous step's entry — a click before (or simultaneous with)
    the first view is not a conversion; a purchase before the first
    qualifying click is not either; users with no view are absent."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [
        # user 1: clean view -> click -> purchase
        (0, m(0), 1, "view", 0.0, None),
        (1, m(1), 1, "click", 0.0, None),
        (2, m(2), 1, "purchase", 0.0, None),
        # user 2: click BEFORE view -> depth 1
        (3, m(0), 2, "click", 0.0, None),
        (4, m(1), 2, "view", 0.0, None),
        # user 3: view only
        (5, m(0), 3, "view", 0.0, None),
        # user 4: click simultaneous with view (strict >) -> depth 1
        (6, m(0), 4, "view", 0.0, None),
        (7, m(0), 4, "click", 0.0, None),
        # user 5: purchase between view and click -> depth 2
        (8, m(0), 5, "view", 0.0, None),
        (9, m(1), 5, "purchase", 0.0, None),
        (10, m(2), 5, "click", 0.0, None),
        # user 6: no view at all -> absent
        (11, m(0), 6, "click", 0.0, None),
        (12, m(1), 6, "purchase", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    _assert_parity(spark, out, "funnel_steps")
    _, got = _spark_rows(spark, out, "funnel_steps")
    depth = {r[0]: r[4] for r in got}
    assert depth == {1: 3, 2: 1, 3: 1, 4: 1, 5: 2}


def test_rrf_both_arms_beat_single_arm(spark, tmp_path):
    """RRF law: a doc ranked by BOTH arms outranks a doc that tops one
    arm only — doc 4 wins BM25 (doubled tf), doc 3 wins cosine AND
    holds BM25 #2, so fused #1 must be doc 3
    (1/62 + 1/61 > 1/61 + 1/(60+rv_low)); oracle parity on the same
    two-table mini corpus."""
    rows = [
        (0, "alpha beta", "en", "src0", 10),      # the query doc
        (1, "unrelated one", "en", "src1", 13),
        (2, "unrelated two", "en", "src2", 13),
        (3, "alpha beta pad", "en", "src3", 14),  # lexical #2, vector #1
        (4, "alpha beta alpha beta", "en", "src4", 21),  # lexical #1
        (5, "zzz yyy xxx", "en", "src5", 11),     # vector #2
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    emb = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (2, [0.0, 1.0], 0),
        (3, [1.0, 0.0], 0),   # cos 1.0 to the query
        (4, [0.0, 1.0], 0),   # orthogonal
        (5, [0.9, 0.1], 0),   # cos ~0.99
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/embeddings.parquet"
    )
    _assert_parity(spark, sf, "rrf_fusion")
    _, out = _spark_rows(spark, sf, "rrf_fusion")
    q0 = sorted((r[1], r[2]) for r in out if r[0] == 0)
    assert q0[0][1] == 3, q0  # both-arms doc fuses first
    assert {d for _, d in q0[:3]} >= {3, 4}  # the two arm winners lead


def test_degree_keeper_prefers_the_hub(spark, tmp_path):
    """A star-shaped near-dup cluster: the hub shares a band with every
    spoke, spokes only with the hub (distinct tails) -> the hub has the
    max degree and must be the keeper even though a spoke holds the
    smaller doc_id; singletons keep themselves at degree 0."""
    hub = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(10, hub, "en", "src0", len(hub))]
    # spokes: same first 12 tokens (shared band), distinct tails
    for i, tail in enumerate(["alpha beta", "gamma delta", "epsilon zeta"]):
        t = hub + " " + tail * 6
        rows.append((i, t, "en", "src0", len(t)))
    rows.append((99, "completely unrelated text here", "en", "src1", 30))
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "cluster_keepers_degree")
    _, out = _spark_rows(spark, sf, "cluster_keepers_degree")
    got = {r[0]: (r[1], r[2], r[3]) for r in out}
    # the dup cluster is labeled by its min doc_id (0)
    assert 0 in got and got[0][2] >= 4
    keeper, deg, _ = got[0]
    # the keeper must be the measured max-degree node, tie to min id
    _, rows2 = _spark_rows(spark, sf, "dedup_minhash_candidates")
    from collections import Counter
    dg = Counter()
    for a, b in ((r[0], r[1]) for r in rows2):
        dg[a] += 1
        dg[b] += 1
    best = max(dg.items(), key=lambda kv: (kv[1], -kv[0]))
    assert (keeper, deg) == best, (got[0], dg)
    # singleton: keeps itself, degree 0, size 1
    assert got[99] == (99, 0, 1)


def test_bm25_empty_candidate_corpus(spark, tmp_path):
    """A corpus holding ONLY query docs (every doc_id < 3) has no
    candidates: both engines must return an empty result with the full
    schema — not a ZeroDivisionError at plan construction (avgdl has
    no denominator)."""
    rows = [
        (0, "alpha beta", "en", "src0", 10),
        (1, "gamma delta", "en", "src1", 11),
    ]
    sf = _mini_docs(spark, tmp_path, rows)
    cols, out = _spark_rows(spark, sf, "bm25_topk")
    assert cols == ["qid", "rank", "doc_id", "score_micro"]
    assert out == []
    _assert_parity(spark, sf, "bm25_topk")


def test_session_window_boundary_and_parity(spark, tmp_path):
    """The native session_window merge boundary: an event EXACTLY 30
    minutes after the previous one merges (strict-> rule, pinned
    empirically against Spark's operator); one microsecond beyond
    opens a new session; session_end = last event + gap; tied
    timestamps collapse into one session. And the per-user session
    COUNTS must equal the lag-based sessionize's."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    m = lambda **kw: t0 + dt.timedelta(**kw)
    rows = [
        # user 1: chain of exact-boundary merges -> ONE session
        (0, t0, 1, "view", 1.0, None),
        (1, m(minutes=30), 1, "view", 1.0, None),
        (2, m(minutes=60), 1, "view", 1.0, None),
        # user 2: one microsecond past the gap -> TWO sessions
        (3, t0, 2, "view", 1.0, None),
        (4, m(minutes=30, microseconds=1), 2, "view", 1.0, None),
        # user 3: tied timestamps -> one session of 2 events
        (5, t0, 3, "view", 2.5, None),
        (6, t0, 3, "click", 0.5, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    _assert_parity(spark, out, "session_window_stats")
    _, got = _spark_rows(spark, out, "session_window_stats")
    by_user = {}
    for u, s, e, n, cents in got:
        by_user.setdefault(u, []).append((s, e, n, cents))
    assert len(by_user[1]) == 1 and by_user[1][0][2] == 3
    assert by_user[1][0][1] == t0 + dt.timedelta(minutes=90)  # last + gap
    assert len(by_user[2]) == 2
    assert len(by_user[3]) == 1 and by_user[3][0][2:] == (2, 300)
    # session COUNTS agree with the lag-based sessionize
    _, sz = _spark_rows(spark, out, "sessionize")
    lag_counts = {r[0]: r[1] for r in sz}
    native_counts = {u: len(v) for u, v in by_user.items()}
    assert native_counts == lag_counts


def test_char_entropy_matches_python_reference_randomized(spark, tmp_path):
    """Seeded random corpora: Spark's Arrow entropy must equal a pure
    Python replay (Counter + math.log2 + floor(+0.5)) doc for doc —
    including single-char docs, long skewed docs, and every printable
    ASCII symbol."""
    import math
    import random
    from collections import Counter

    rng = random.Random(20260817)
    alphabet = [chr(c) for c in range(32, 122)]
    rows = []
    for i in range(80):
        n = rng.randint(1, 400)
        skew = rng.choice([1, 1, 4])  # some heavily repeated docs
        pool = rng.sample(alphabet, rng.randint(1, 30))
        text = "".join(rng.choice(pool[: max(1, len(pool) // skew)])
                       for _ in range(n))
        rows.append((i, text, "en", "src0", len(text)))
    sf = _mini_docs(spark, tmp_path, rows)
    _, out = _spark_rows(spark, sf, "char_entropy")
    got = {r[0]: (r[1], r[2], r[3]) for r in out}

    def ref(t):
        c = Counter(t)
        n = sum(c.values())
        e = sum(
            int(math.floor(-(k / n) * math.log2(k / n) * 1e6 + 0.5))
            for k in c.values()
        )
        return (n, len(c), e)

    want = {i: ref(t) for i, t, *_ in rows}
    assert got == want


def test_weighted_sample_matches_python_reference_randomized(
    spark, tmp_path
):
    """Seeded random weights (1..10^6, plus zero-weight docs): the
    Spark selection must equal the exact A-ES formula replayed in
    plain Python over the same ids."""
    import hashlib
    import math
    import random

    rng = random.Random(4242)
    rows = []
    weights = {}
    for i in range(300):
        w = rng.choice([0, 1, 3, 17, 400, 9001, 1_000_000])
        rows.append((i, "x", "en", "s", w))
        weights[i] = w
    sf = _mini_docs(spark, tmp_path, rows)
    _, out = _spark_rows(spark, sf, "weighted_sample")
    got = sorted(r[0] for r in out)

    def key(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return (-math.log((h + 1) / float(1 << 60)) / w, doc_id)

    keyed = sorted(key(d, w) for d, w in weights.items() if w > 0)
    want = sorted(d for _, d in keyed[:50])
    assert got == want


def test_hopping_distinct_users_accuracy(spark, tmp_path):
    """Windowed cardinality sanity on a known corpus: 3 distinct users
    firing inside one 5-minute slot -> each of the 2 containing
    windows estimates ~3 via the linear-counting branch
    (1024 * ln(1024/1021) = 3.0044); duplicate events from the same
    user must not raise the estimate. Oracle parity on the same
    events."""
    import datetime as dt

    t0 = dt.datetime(2026, 3, 1, 12, 2)
    rows = []
    for e, (u, k) in enumerate(
        [(7, 0), (8, 1), (9, 2), (7, 3), (7, 4)]  # user 7 fires 3x
    ):
        rows.append((e, t0 + dt.timedelta(seconds=k), u, "view", 1.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    _assert_parity(spark, out, "hopping_distinct_users")
    _, got = _spark_rows(spark, out, "hopping_distinct_users")
    assert len(got) == 2  # one 5-min slot -> two hopping windows
    for _, etype, n_events, n_buckets, est in got:
        assert etype == "view" and n_events == 5
        assert n_buckets <= 3  # 3 distinct hashes at most 3 registers
        assert abs(est - 3.0) < 0.1, est


def test_pagerank_matches_python_replay(spark, tmp_path):
    """The 3-iteration integer PageRank must equal a plain-Python
    replay of the exact recurrence over the measured candidate edges
    (hub outranks spokes outrank singletons), and the oracle agrees."""
    hub = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(10, hub, "en", "src0", len(hub))]
    for i, tail in enumerate(["alpha beta", "gamma delta", "epsilon zeta"]):
        t = hub + " " + tail * 6
        rows.append((i, t, "en", "src0", len(t)))
    rows.append((99, "completely unrelated text here", "en", "src1", 30))
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "pagerank_candidates")
    _, out = _spark_rows(spark, sf, "pagerank_candidates")
    got = {r[0]: r[1] for r in out}

    _, cand = _spark_rows(spark, sf, "dedup_minhash_candidates")
    edges = []
    for a, b in ((r[0], r[1]) for r in cand):
        edges += [(a, b), (b, a)]
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {d: 1_000_000 for d, *_ in rows}
    for _ in range(3):
        nxt = {d: 150_000 for d in ranks}
        for s, d in edges:
            nxt[d] += (85 * ranks[s]) // (100 * deg[s])
        ranks = nxt
    assert got == ranks
    assert got[99] == 150_000  # singleton rests at the teleport mass
    hub_rank = got[10]
    assert all(hub_rank > got[i] for i in (0, 1, 2)) or max(
        got, key=got.get
    ) in (0, 1, 2, 10)  # the hub-side of the star dominates


def test_source_overlap_known_truth(spark, tmp_path):
    """Sketch-composed inclusion-exclusion against exact set sizes:
    sources with 400 shingles each sharing exactly 200 -> intersection
    ~200, union ~600, within the stacked HLL (~3.2%) + OPH (~4%)
    error budget. Oracle parity on the same corpus."""
    rows = []
    did = 0
    for i in range(200):
        for src, w in (("srcA", f"a{i}"), ("srcB", f"b{i}")):
            rows.append((did, f"{w} {w} {w}", "en", src, 10))
            did += 1
        for src in ("srcA", "srcB"):
            rows.append((did, f"c{i} c{i} c{i}", "en", src, 10))
            did += 1
    sf = _mini_docs(spark, tmp_path, rows)
    _assert_parity(spark, sf, "source_overlap_stats")
    _, out = _spark_rows(spark, sf, "source_overlap_stats")
    assert len(out) == 1
    (_, _, est_a, est_b, j, inter, union) = out[0]
    assert abs(est_a - 400) < 60 and abs(est_b - 400) < 60
    assert abs(inter - 200) < 70, inter
    assert abs(union - 600) < 100, union
