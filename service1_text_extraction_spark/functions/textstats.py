"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting — all JVM-side built-ins (regex /
array ops), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..kernels import textnorm as _tn
from .spread import read_spread

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "ein", "zu"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "del"],
}

_TOKENS = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
# BPE-ish tokenization: letter runs, digit runs, single punctuation
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _stop_count(lang: str) -> F.Column:
    """Stopword hits within the *materialized* token column ``t`` — the
    tokenizer runs once per row, not once per language (retokenizing a
    100 TB corpus 5x is real money; Catalyst does not CSE the split
    across sibling projections unless it lives in its own Project)."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(f"size(filter(t, x -> x in ({words})))")


def with_lang_pred(df: DataFrame, keep_scores: bool = False) -> DataFrame:
    """Adds ``lang_pred`` to a frame that carries a materialized token
    column ``t`` (single-scan reusable form — curation composes this
    with the other per-row signals over ONE projection).
    ``keep_scores`` retains the per-language ``sc_*`` stop-counts so a
    downstream expression (e.g. the quality score's English
    stop-ratio) can reuse them instead of re-filtering the tokens."""
    score_cols = []
    for lang in STOPWORDS:
        df = df.withColumn(f"sc_{lang}", _stop_count(lang))
        score_cols.append(f"sc_{lang}")
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in STOPWORDS:  # dict order = deterministic tie-break
        pred = pred.when(F.col(f"sc_{lang}") == best, F.lit(lang))
    df = df.withColumn("lang_pred", pred)
    return df if keep_scores else df.drop(*score_cols)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (n-gram-heuristic family). Ties and
    zero-evidence rows resolve to 'und' / first-wins deterministically."""
    df = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("t")
    )
    return with_lang_pred(df).select("doc_id", "lang_pred")


def _punct_ratio_expr() -> F.Column:
    punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), F.lit(0)))
    return punct / F.nullif(F.length("text"), F.lit(0))


def quality_expr(stop_en: F.Column | None = None) -> F.Column:
    """Per-row quality score in [0, 1], rounded 4dp — over columns
    ``text`` + materialized tokens ``t`` (single-scan reusable form).
    Pass ``stop_en`` to reuse an already-computed English stop-count
    (with_lang_pred's ``sc_en``) instead of re-filtering the tokens."""
    n = F.length("text")
    if stop_en is None:
        stop_en = _stop_count("en")
    stop_ratio = stop_en / F.nullif(F.size("t"), F.lit(0))
    score = (
        0.4 * F.least(n / F.lit(500.0), F.lit(1.0))
        + 0.3 * (1.0 - F.coalesce(_punct_ratio_expr(), F.lit(0.0)))
        + 0.3 * F.least(
            F.coalesce(stop_ratio, F.lit(0.0)) * 4.0, F.lit(1.0)
        )
    )
    return F.round(score, 4)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword quality heuristics -> [0, 1]."""
    df = read_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", F.expr(_TOKENS).alias("t")
    )
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_obs"),
        F.size("t").cast("long").alias("n_tokens"),
        F.round(F.coalesce(_punct_ratio_expr(), F.lit(0.0)), 4)
        .alias("punct_ratio"),
        quality_expr().alias("quality"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    return read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"size({_TOKENS})").cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("bpe_tokens"),
    )


# doc_fingerprint computes each document's min-over-8-gram md5 in ONE
# Arrow-batched map: the SQL form the DuckDB oracle uses materializes
# a length(text)-element array of 32-char hash strings per row through
# an interpreted (CodegenFallback) transform, which at sf1.0 costs
# 18.7 s for a map-only query; the Arrow kernel streams C-backed
# digests with no array ever built (1.0 s, guide §4.2). Both are the
# same md5 bytes, and min-by-digest == min-by-hex because hex encoding
# is a byte-wise monotone map.
FP_GRAM = 8


def _fp_min_md5_udf():
    """pandas_udf: text -> min md5 hex over all char 8-grams,
    replicating the oracle's SQL shape bit-for-bit: substring counts CHARS
    (Python slicing matches), docs shorter than ``FP_GRAM + 1`` chars
    collapse to the single gram substring(text, 1, 8) == the whole
    text, and NULL text yields NULL (array_min over all-null)."""
    import hashlib

    md5 = hashlib.md5

    @F.pandas_udf("string")
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            n = len(t)
            if n <= FP_GRAM:
                out.append(md5(t.encode("utf-8")).hexdigest())
                continue
            if t.isascii():
                b = t.encode()
                mn = min(
                    md5(b[i:i + FP_GRAM]).digest()
                    for i in range(n - FP_GRAM + 1)
                )
            else:  # non-ASCII: slice by CHARS like Spark's substring
                mn = min(
                    md5(t[i:i + FP_GRAM].encode("utf-8")).digest()
                    for i in range(n - FP_GRAM + 1)
                )
            out.append(mn.hex())
        return pd.Series(out)

    return fp


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum md5 over all
    char 8-grams (winnowing-style min-sampling, window = whole doc).
    DuckDB computes identical digests, so the oracle checks values.
    One Arrow map emits the hex strings with zero exchanges and no
    per-row hash array."""
    df = read_spread(spark, sf_dir, "documents")
    return df.select(
        "doc_id", _fp_min_md5_udf()(F.col("text")).alias("fingerprint")
    )


# the exact kernel constants drive both the Spark expression and the
# DuckDB oracle (see __spark_entry__), so the SQL form cannot drift
DIRTY_SUFFIX = " \u201cq\u201d \u2013 \u2026 \u00a0x\ufeff ctrl\x01 high\u4e16 \u20ac"
# translate() deletes chars beyond len(TO), so kept mappings must come
# first and deletions last \u2014 built positionally here so a None (delete)
# entry added anywhere in _CHAR_TABLE cannot shift later mappings
_KEPT = [(k, v) for k, v in _tn._CHAR_TABLE.items() if v is not None]
_DELETED = [k for k, v in _tn._CHAR_TABLE.items() if v is None]
TRANS_FROM = "".join(chr(k) for k, _ in _KEPT) + "".join(
    chr(k) for k in _DELETED
)
TRANS_TO = "".join(v for _, v in _KEPT)
CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
HIGH_CLASS = "[^\\x00-\\xff\u20ac\u20a9\u20aa\u20ab\u20b9\u20bd]"


def clean_unicode_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 clean_unicode (text_utils.py:16-75) as a pure SQL-pushdown
    expression chain (replace -> translate -> two regexp sweeps), run
    over text salted with the unicode corruptions it must fix."""
    cleaned = F.concat(F.col("text"), F.lit(DIRTY_SUFFIX))
    for old, new in _tn._MULTI_REPLACEMENTS:
        cleaned = F.replace(cleaned, F.lit(old), F.lit(new))
    cleaned = F.translate(cleaned, TRANS_FROM, TRANS_TO)
    cleaned = F.regexp_replace(cleaned, CTRL_CLASS, " ")
    cleaned = F.regexp_replace(cleaned, HIGH_CLASS, " ")
    return read_spread(spark, sf_dir, "documents").select(
        "doc_id", cleaned.alias("cleaned")
    )


def normalize_ws_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 normalize_whitespace (text_utils.py:142-147) as SQL."""
    s = F.concat(F.lit("  a\t"), F.col("text"), F.lit("\n\nz  "))
    return read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(F.regexp_replace(s, r"\s+", " ")).alias("normalized"),
    )


def chunk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 chunk_text (text_utils.py:77-117) through an Arrow-batched
    pandas UDF (the rfind break-point rule is not SQL-expressible)."""
    from ..kernels.textnorm import chunk_text

    @F.pandas_udf(LongType())
    def n_chunks(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                len(chunk_text(t, max_chars=100, overlap=20))
                if isinstance(t, str)
                else 0
                for t in texts
            ]
        )

    return read_spread(spark, sf_dir, "documents").select(
        "doc_id", n_chunks("text").alias("n_chunks")
    )


TEST_PCT = 10  # held-out percentage (mirrored by the oracles)


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split for corpus curation: bucket =
    int(md5(doc_id)[:4], 16) % 100, 'test' below ``TEST_PCT``. Unlike
    ``df.sample`` this is reproducible across engines, runs, and
    cluster sizes — the property a 100 TB train/held-out split must
    have (re-running the job can never migrate a document across the
    split). The %100 of a 16-bit value carries a ~0.05% bucket-size
    bias, irrelevant for splitting."""
    return read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        split_bucket_expr().alias("bucket"),
        split_label_expr().alias("split"),
    )


def split_bucket_expr() -> F.Column:
    """Deterministic 0..99 split bucket over ``doc_id`` (single-scan
    reusable form of train_test_split's hash)."""
    h = F.md5(F.col("doc_id").cast("string"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 100


def split_label_expr() -> F.Column:
    """'test'/'train' label over split_bucket_expr — the ONE place the
    labeling rule lives (train_test_split and curate both use it; the
    oracles interpolate TEST_PCT)."""
    return (
        F.when(split_bucket_expr() < TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


TFIDF_TOPK = 3  # terms per document


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOPK`` TF-IDF terms per document (classic corpus
    characterization): tf = in-doc term count, idf = ln((N+1)/(df+1))+1
    (the smoothed scikit-style form). The tf↔df join is a plain
    shuffle join on ``tok``: at 100 TB the df table is
    vocabulary-sized (10^8–10^9 distinct tokens), far past any
    broadcast threshold, so it must NOT carry a broadcast hint — both
    sides are partial-aggregated before the exchange and token skew is
    AQE's skew-join case. The per-doc top terms are a bounded window over
    each doc's distinct terms. Ties break on the term string, so
    results are deterministic and oracle-checkable."""
    from pyspark.sql import Window

    docs = read_spread(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar action (corpus size)
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # tf's rows ARE the corpus's distinct (doc_id, tok) pairs, so df
    # reduces FROM tf — the former toks.distinct() arm re-tokenized the
    # whole corpus and paid a second occurrence-stream exchange for the
    # identical integers (guide §2.4). One per-invocation checkpoint of
    # the (doc-distinct-term-sized) tf table feeds both consumers.
    tf = tf.localCheckpoint(eager=False)
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(df, "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                "tok", "tfidf")
    )


PACK_BUDGET = 2048  # tokens per training pack
N_PACK_SHARDS = 16  # independent packing streams


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: assign documents to
    fixed token-budget packs (the op that turns a shuffled corpus into
    dense training sequences). Greedy by running token total in
    deterministic doc_id order; a document's pack is
    ``floor(start_offset / PACK_BUDGET)`` of its shard's running sum.

    Scale shape: a single global running sum would be one partition —
    instead documents shard by ``doc_id % N_PACK_SHARDS`` and each
    shard packs independently (the window partitions by shard, so the
    sort is shard-local and parallel; at 100 TB the shard count scales
    with the cluster). Deterministic across engines and cluster sizes:
    only doc_id arithmetic and token counts feed the assignment."""
    from pyspark.sql import Window

    n = read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).cast("int").alias("shard"),
        F.expr(f"size({_TOKENS})").cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tok").over(w)
    return n.select(
        "doc_id",
        "shard",
        "n_tok",
        cum.cast("long").alias("cum_tokens"),
        F.floor((cum - F.col("n_tok")) / F.lit(PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )


# --------------------------------------------------------------------------
# Gopher-style corpus filters (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1 — the standard pretraining quality
# and repetition rules; also used by MassiveText/Dolma-family
# pipelines). All JVM-side expressions, no UDFs.
# --------------------------------------------------------------------------

LINE_TOKENS = 10  # pseudo-line width (test docs carry no newlines)


def _line_starts_sql() -> str:
    """Spark SQL array of pseudo-line start indices for a materialized
    token column ``t`` — EMPTY for a token-less document. The naive
    ``sequence(0, floor((size(t)-1)/W))`` yields the descending pair
    [0, -1] when size(t)=0 (two phantom lines), while the oracles'
    ``generate_series(0, -1)`` yields no rows; the CASE guard pins
    both engines to "empty doc -> no lines". ONE definition serves
    every pseudo-line operator so the derivation cannot
    desynchronize."""
    return (
        "CASE WHEN size(t) = 0 THEN array() ELSE sequence(0,"
        f" cast(floor((size(t) - 1) / {LINE_TOKENS}) as int)) END"
    )


# Spark SQL: the text of the pseudo-line starting at line index ``i``
# of the token column ``t``
LINE_AT_I = f"concat_ws(' ', slice(t, i * {LINE_TOKENS} + 1, {LINE_TOKENS}))"


def _grams_sql(n: int) -> str:
    """Spark SQL: the token ``n``-grams of the materialized token array
    ``t``, in order, duplicates kept (concat_ws skips out-of-range NULL
    elements, so a doc shorter than ``n`` tokens contributes one
    truncated gram)."""
    els = ", ".join(
        f"try_element_at(t, i+{j})" if j else "try_element_at(t, i)"
        for j in range(n)
    )
    return (
        f"transform(sequence(1, greatest(size(t)-{n - 1}, 1)),"
        f" i -> concat_ws(' ', {els}))"
    )


def _struct_grams_sql(fields: tuple[str, ...]) -> str:
    """Spark SQL: the adjacent token tuples of ``t`` as structs named
    ``fields`` (one field per token, in order). The CASE guard keeps
    a doc shorter than the tuple gram-free: ``sequence(n-1, size-1)``
    would otherwise run DESCENDING (the phantom-pseudo-line trap)."""
    n = len(fields)
    typ = ",".join(f"{f}:string" for f in fields)
    els = ", ".join(
        f"t[i-{n - 1 - j}] AS {f}" if j < n - 1 else f"t[i] AS {f}"
        for j, f in enumerate(fields)
    )
    return (
        f"CASE WHEN size(t) < {n} THEN array()::array<struct<{typ}>>"
        f" ELSE transform(sequence({n - 1}, size(t) - 1), i ->"
        f" struct({els})) END"
    )


GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2
# The remaining published App. A1 thresholds:
# symbol-to-word ratio > 0.1 for either '#' or ellipsis rejects; more
# than 90% of lines starting with a bullet or more than 30% ending
# with an ellipsis rejects. The PASS flag evaluates these as exact
# integer comparisons (10*count <= size etc.) so neither engine ever
# rounds inside the predicate; the reported ratio columns round 4dp.
_ELLIPSIS_RE = "[.]{3}|…"   # '...' or the one-char ellipsis
_BULLET_RE = "^[-*•]"       # line starts with -, *, or bullet
_ELLIPSIS_END_RE = "([.]{3}|…)$"


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals per document: duplicate-line fraction,
    duplicate-line CHARACTER fraction, and the most common word
    bigram's character coverage (tie -> lexicographically smallest
    bigram, so the result is engine-deterministic).

    The test documents carry no newlines, so a "line" is a
    deterministic ``LINE_TOKENS``-token window of the token array —
    the same derivation the DuckDB oracle replays. Scale shape: two
    hash-aggregates over exploded lines/bigrams plus one max-filter
    join, all keyed by doc_id — no pairwise anything; the token array
    is materialized once per branch (the lambda-inlining trap)."""
    toks = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"), F.expr(_TOKENS).alias("t")
    )
    lines = toks.select(
        "doc_id",
        F.explode(F.expr(_gopher_lines_sql())).alias("line"),
    )
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.round(
                (F.sum("cnt") - F.count("*")) / F.sum("cnt"), 4
            ).alias("dup_line_frac"),
            F.round(
                F.sum((F.col("cnt") - 1) * F.length("line"))
                / F.sum(F.col("cnt") * F.length("line")),
                4,
            ).alias("dup_line_char_frac"),
        )
    )
    bigrams = toks.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr(_grams_sql(2))).alias("g"),
    )
    counts = bigrams.groupBy("doc_id", "n_chars", "g").agg(
        F.count("*").alias("cnt")
    )
    # per-doc max via window over the (small) post-agg counts — a
    # groupBy+self-join here would recompute the tokenize+explode
    # branch twice (pinned by the plan test: one split() per branch)
    from pyspark.sql import Window as _W

    top = (
        counts.withColumn(
            "mx", F.max("cnt").over(_W.partitionBy("doc_id"))
        )
        .where(F.col("cnt") == F.col("mx"))
        .groupBy("doc_id")
        .agg(
            F.min("g").alias("top_bigram"),
            F.first("mx").alias("top_cnt"),
            F.first("n_chars").alias("n_chars"),
        )
        .select(
            "doc_id",
            "top_bigram",
            F.round(
                F.col("top_cnt") * F.length("top_bigram") / F.col("n_chars"),
                4,
            ).alias("top_bigram_char_frac"),
        )
    )
    return line_stats.join(top, "doc_id").select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac",
        "dup_line_char_frac",
        "top_bigram",
        "top_bigram_char_frac",
    )


def _gopher_lines_sql() -> str:
    """Spark SQL: the RAW pseudo-line array over a materialized token
    column ``t`` (the gopher_repetition derivation — no C4 fixture
    suffixes; the bullet/ellipsis line rules read real line content)."""
    return f"transform({_line_starts_sql()}, i -> {LINE_AT_I})"


def _gopher_sig_sql() -> dict[str, str]:
    """The Gopher quality signals (full App. A1 set) as Spark SQL over
    ``text``, a token array bound to ``t``, and the pseudo-line array
    bound to ``L`` (materialize ``_gopher_lines_sql()`` ONCE per row
    before evaluating these — the lambda-inlining trap) — the ONE
    definition gopher_quality, gopher_pass_sql, and the admission
    composite all derive from. The count signals are exact integers;
    ratio COLUMNS are derived (rounded) from them in gopher_quality."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return {
        "n_words": "size(t)",
        "mean_word_len": (
            "round(aggregate(t, 0L, (a, x) -> a + length(x))"
            " / cast(size(t) as double), 4)"
        ),
        "alpha_word_frac": (
            "round(size(filter(t, x -> x rlike '[a-z]'))"
            " / cast(size(t) as double), 4)"
        ),
        "n_stop_hits": f"size(filter(t, x -> x in ({words})))",
        "n_hash": "size(regexp_extract_all(text, '#', 0))",
        "n_ellipsis": (
            f"size(regexp_extract_all(text, '{_ELLIPSIS_RE}', 0))"
        ),
        "n_lines": "size(L)",
        "n_bullet_lines": (
            f"size(filter(L, l -> l rlike '{_BULLET_RE}'))"
        ),
        "n_ellipsis_lines": (
            f"size(filter(L, l -> l rlike '{_ELLIPSIS_END_RE}'))"
        ),
    }


# The Gopher App. A1 pass rule. The legacy rules compare the rounded
# values, as the oracle does; the symbol/line rules compare exact
# integer counts (never a rounded division):
#   10 * n_hash        <= n_words   <=>  hash ratio     <= 0.1
#   10 * n_ellipsis    <= n_words   <=>  ellipsis ratio <= 0.1
#   10 * n_bullet_lines   <= 9 * n_lines  <=>  bullet frac   <= 0.9
#   10 * n_ellipsis_lines <= 3 * n_lines  <=>  ellipsis frac <= 0.3
def _gopher_rules(s: dict[str, str]) -> list[str]:
    """The eight pass comparisons as SQL over ``s``, the signal SQL by
    signal name; the last two are the line rules."""
    return [
        f"{s['n_words']} between {GOPHER_MIN_WORDS} and {GOPHER_MAX_WORDS}",
        f"{s['mean_word_len']} between {GOPHER_MIN_MEAN_WLEN} and"
        f" {GOPHER_MAX_MEAN_WLEN}",
        f"{s['alpha_word_frac']} >= {GOPHER_MIN_ALPHA_FRAC}",
        f"{s['n_stop_hits']} >= {GOPHER_MIN_STOP_HITS}",
        f"10 * {s['n_hash']} <= {s['n_words']}",
        f"10 * {s['n_ellipsis']} <= {s['n_words']}",
        f"10 * {s['n_bullet_lines']} <= 9 * {s['n_lines']}",
        f"10 * {s['n_ellipsis_lines']} <= 3 * {s['n_lines']}",
    ]


def gopher_pass_sql() -> str:
    """The full Gopher admission predicate as one SQL boolean over
    ``text`` plus a token array bound to ``t`` — composable inside a
    lambda scope (curate.admit_corpus's let-binding). The line-level
    rules get their OWN let-binding (``transform(array(<lines>),
    L -> ...)[0]``) so the line array materializes exactly once even
    inside a pushed-down Filter."""
    r = _gopher_rules(_gopher_sig_sql())
    line_rules = (
        f"transform(array({_gopher_lines_sql()}), L ->"
        f" {r[6]} and {r[7]})[0]"
    )
    return " and ".join(r[:6] + [line_rules])


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules per document — the FULL published App. A1
    set (word-count bounds, mean word length bounds, alphabetic-word
    fraction, minimum stopword hits, '#'/ellipsis symbol-to-word
    ratios, bullet-start and ellipsis-end line fractions) with a
    combined pass flag — the standard pretraining admission gate.
    One scan; the token array and pseudo-line array each materialize
    once per row in their own projections; zero shuffles."""
    toks = read_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", F.expr(_TOKENS).alias("t")
    ).withColumn("L", F.expr(_gopher_lines_sql()))
    sig = toks.select(
        "doc_id",
        *[F.expr(q).alias(n) for n, q in _gopher_sig_sql().items()],
    )
    passes = F.expr(
        " and ".join(_gopher_rules({n: n for n in _gopher_sig_sql()}))
    )
    nl = F.nullif(F.col("n_lines").cast("double"), F.lit(0.0))
    nw = F.nullif(F.col("n_words").cast("double"), F.lit(0.0))
    return sig.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "alpha_word_frac",
        F.col("n_stop_hits").cast("long").alias("n_stop_hits"),
        F.round(F.col("n_hash") / nw, 4).alias("hash_word_ratio"),
        F.round(F.col("n_ellipsis") / nw, 4).alias(
            "ellipsis_word_ratio"
        ),
        F.round(F.col("n_bullet_lines") / nl, 4).alias(
            "bullet_line_frac"
        ),
        F.round(F.col("n_ellipsis_lines") / nl, 4).alias(
            "ellipsis_line_frac"
        ),
        passes.cast("long").alias("passes"),
    )


# --------------------------------------------------------------------------
# C4-style line cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
# the C4 heuristics: keep only lines that end in a terminal
# punctuation mark and have >= 5 words, drop lines mentioning
# javascript, drop whole pages containing "lorem ipsum" or a curly
# brace, and drop pages with < 3 surviving sentences). All JVM-side
# expressions, no UDFs.
# --------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5  # C4: "only retained lines that contained at
                       # least 5 words"
C4_MIN_KEPT_LINES = 3  # C4: "only retained pages that contained at
                       # least 3 sentences"
C4_TERMINAL = (".", "!", "?", '"')  # C4 terminal punctuation marks
_C4_FIX_MOD = 10  # deterministic punctuation-fixture buckets


def _c4_fixture_bucket_sql(doc: str, i: str) -> str:
    """Spark SQL for the deterministic fixture bucket in
    [0, _C4_FIX_MOD): md5(doc_id:line_idx). The test corpus carries no
    punctuation at all, so the C4 punctuation/javascript rules would
    be vacuously all-drop on it; c4_line_stats therefore augments each
    pseudo-line with a fixture suffix keyed by this bucket — '.'
    (b<5), '!' (b=5), '?' (b=6), ' javascript.' (b=7), none (b>=8) —
    which the DuckDB oracle replays bit-for-bit. The keep/drop rules
    themselves read only the final line content (last char, word
    count, substring), exactly as C4 does on real corpora."""
    return (
        f"pmod(cast(conv(substring(md5(concat(cast({doc} as string), ':',"
        f" cast({i} as string))), 1, 4), 16, 10) as int), {_C4_FIX_MOD})"
    )


def _c4_lines_sql() -> str:
    """Spark SQL: array<struct<line, n_words>> of fixture-augmented
    pseudo-lines over a materialized token column ``t`` plus
    ``doc_id``. Two nested transforms so the fixture md5 bucket
    evaluates exactly ONCE per line (the inner struct carries it; the
    outer transform derives suffix and word adjustment from the struct
    field)."""
    bucket = _c4_fixture_bucket_sql("doc_id", "i")
    return (
        f"transform(transform({_line_starts_sql()}, i -> struct("
        f" {LINE_AT_I} AS line0,"
        f" least({LINE_TOKENS}, size(t) - i * {LINE_TOKENS})"
        f" AS w0, {bucket} AS b)),"
        " s -> struct(concat(s.line0, CASE WHEN s.b < 5 THEN '.'"
        " WHEN s.b = 5 THEN '!' WHEN s.b = 6 THEN '?' WHEN s.b = 7"
        " THEN ' javascript.' ELSE '' END) AS line,"
        " s.w0 + CASE WHEN s.b = 7 THEN 1 ELSE 0 END AS n_words))"
    )


def _c4_kept_sql(lines_col: str) -> str:
    """Spark SQL: the C4 line rules as a filter over the line-struct
    array — >= C4_MIN_LINE_WORDS words, terminal punctuation, no
    'javascript'."""
    terms = ", ".join(
        "'" + c.replace("'", "''") + "'" for c in C4_TERMINAL
    )
    return (
        f"filter({lines_col}, s -> s.n_words >= {C4_MIN_LINE_WORDS}"
        f" AND substring(s.line, -1, 1) IN ({terms})"
        " AND NOT s.line LIKE '%javascript%')"
    )


def c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning per document: pseudo-line segmentation (the
    ``LINE_TOKENS``-token windows the Gopher filters also use — the
    test docs carry no newlines), the C4 line rules (terminal
    punctuation, >= 5 words, no 'javascript'), and the C4 page rules
    ('lorem ipsum' / '{' anywhere, >= 3 surviving lines).

    Scale shape: ZERO shuffles — the per-doc stats are higher-order
    array functions (size / filter / aggregate) over the line array,
    so the plan is scan -> project -> filter with no Exchange at all
    (plan-pinned); the token array and the line/kept arrays each
    materialize once per row in their own projections (Catalyst does
    not inline non-cheap aliases referenced more than once). A
    token-less document yields no lines and is absent from the output
    (both engines — ``_line_starts_sql``); the exclusion is the CHEAP
    scan-level guard ``text rlike '\\S'`` (equivalent to "tokens
    nonempty"), not a filter on a derived column — a derived-column
    filter pushes down by substituting the whole line pipeline into
    the Filter and recomputes it per row (measured: 6 tokenizer
    copies)."""
    toks = (
        read_spread(spark, sf_dir, "documents")
        .where(F.col("text").rlike(r"\S"))
        .select(
            "doc_id",
            F.lower("text").alias("lt"),
            F.expr(_TOKENS).alias("t"),
        )
    )
    staged = (
        toks.withColumn("lines", F.expr(_c4_lines_sql()))
        .withColumn("kept", F.expr(_c4_kept_sql("lines")))
    )
    return staged.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        F.expr("aggregate(kept, 0L, (a, s) -> a + length(s.line))")
        .cast("long")
        .alias("kept_chars"),
        (
            (F.size("kept") >= C4_MIN_KEPT_LINES)
            & ~F.col("lt").contains("lorem ipsum")
            & ~F.col("lt").contains("{")
        ).cast("long").alias("c4_keep"),
    )


# --------------------------------------------------------------------------
# PII redaction (the standard pretraining scrub — e.g. ROOTS/BigScience
# and FineWeb pipelines redact emails / IP addresses / phone numbers
# with typed placeholder tokens before training). RE2-compatible
# patterns (no lookaround, no backrefs) so Spark (Java regex) and the
# DuckDB oracle (RE2) agree literally.
# --------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact PII per document and report counts + an md5 of the
    redacted text. The test corpus contains no PII, so the query
    splices a DETERMINISTIC PII fixture into each document first —
    an email when doc_id % 2 = 0, a phone when doc_id % 3 = 0, an IP
    when doc_id % 5 < 2, all derived from doc_id arithmetic the
    DuckDB oracle replays — leaving a mix of docs with 0-3 PII kinds.
    The detection/redaction expressions themselves read only the text.

    Scale shape: one scan, per-row regex projections, no shuffle at
    all before the (row-per-doc) result — the 100 TB form is a pure
    map job that never moves the corpus."""
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit(" contact user"),
                d.cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 < 2,
            F.concat(
                F.lit(" from 10."),
                (d % 200).cast("string"),
                F.lit(".0."),
                (d % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    # counts are STAGED to mirror the sequential replacement: each
    # pattern is counted on the text the corresponding replace
    # actually sees, so the counts always agree with the redacted
    # output (a phone digit-run inside an email local part is part of
    # the <EMAIL> redaction, not a phantom n_phones hit)
    base = read_spread(spark, sf_dir, "documents").select(
        "doc_id", aug.alias("aug")
    )
    r1 = base.withColumn(
        "r1", F.regexp_replace("aug", PII_EMAIL, "<EMAIL>")
    )
    r2 = r1.withColumn(
        "r2", F.regexp_replace("r1", PII_PHONE, "<PHONE>")
    )
    return r2.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("r1", F.lit(PII_PHONE), F.lit(0)))
        .cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all("r2", F.lit(PII_IP), F.lit(0)))
        .cast("long").alias("n_ips"),
        F.md5(F.regexp_replace("r2", PII_IP, "<IP>")).alias(
            "redacted_md5"
        ),
    )


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — hashed-n-gram bag
# importance weights log p_target(x) - log p_raw(x), the standard
# cheap domain-relevance scorer for pretraining selection).
# --------------------------------------------------------------------------

DSIR_BUCKETS = 64  # hashed feature buckets (production: 10^4; the
                   # oracle interpolates this constant either way)


def _dsir_bucket(col) -> F.Column:
    """Unigram -> feature bucket via the house md5 derivation (first 8
    hex chars as int, mod DSIR_BUCKETS) — engine-portable, unlike
    Spark's hash()."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight against the English subset
    as the target domain: weight(d) = sum over tokens w of
    ln p_target(bucket(w)) - ln p_raw(bucket(w)), with add-one
    smoothing over DSIR_BUCKETS hashed unigram buckets (bigram
    features in the paper; unigrams here keep the oracle linear).

    Scale shape: DSIR's real two-pass form — pass 1 reduces the corpus
    to a DSIR_BUCKETS-row feature table (hash-agg with map-side
    combine), pass 2 re-scans and scores each token against the
    broadcast log-ratio lookup (BroadcastHashJoin — the lookup is B
    rows at any corpus size) then hash-aggregates per doc. The corpus
    text itself never shuffles; only (doc_id, bucket) pairs do.

    The tokenize+bucket stream feeds both passes; one per-invocation
    ``localCheckpoint`` of it (narrow integer rows — the md5 bucketing
    runs once) replaces a second tokenize+hash scan of the corpus."""
    tok = (
        read_spread(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.expr(_TOKENS)).alias("w"))
        .select("doc_id", "lang", _dsir_bucket(F.col("w")).alias("b"))
        .localCheckpoint(eager=False)
    )
    # ONE aggregation builds both distributions (raw count + target
    # count per bucket) — the corpus is scanned exactly twice total,
    # never once per distribution (plan-pinned: two split() branches)
    lk = tok.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
    )
    # totals via an unpartitioned window over the B-row feature table
    # (NOT a separate .agg branch, which would re-run the count scan)
    from pyspark.sql import Window as _W

    whole = _W.partitionBy()
    lr = lk.select(
        "b",
        (
            F.log(
                (F.col("ct") + 1.0)
                / (F.sum("ct").over(whole) + DSIR_BUCKETS)
            )
            - F.log(
                (F.col("cr") + 1.0)
                / (F.sum("cr").over(whole) + DSIR_BUCKETS)
            )
        ).alias("lr"),
    )
    return (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.round(F.sum("lr"), 4).alias("dsir_weight"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer vocabulary induction + OOV profiling (the step before any
# tokenizer training run: pick the top-V corpus wordforms, then
# measure what fraction of each document falls outside them).
# --------------------------------------------------------------------------

VOCAB_SIZE = 20  # top-V wordforms, chosen BELOW the test corpus's 31
                 # distinct words so the OOV branch is genuinely
                 # exercised (production: 10^4-10^5; the oracle
                 # interpolates the constant either way)


def _top_vocab(tokens: DataFrame) -> DataFrame:
    """(w, cnt): the top ``VOCAB_SIZE`` wordforms of a token stream
    with a ``w`` column, by count, ties broken on the token string so
    the cut is engine-deterministic."""
    return (
        tokens.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(VOCAB_SIZE)
    )


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The induced vocabulary: top ``VOCAB_SIZE`` wordforms by corpus
    frequency, ties broken on the token string so the cut is
    engine-deterministic. Scale shape: one scan, one hash-aggregate
    with map-side combine (vocabulary-sized output, 10^8-10^9 distinct
    keys at 100 TB — a plain shuffle agg, NOT a global sort: the top-V
    head is taken with a rank window over the aggregated counts, and
    Spark's TakeOrderedAndProject handles the small-V case)."""
    tokens = read_spread(spark, sf_dir, "documents").select(
        F.explode(F.expr(_TOKENS)).alias("w")
    )
    return _top_vocab(tokens).select(
        "w", F.col("cnt").cast("long").alias("cnt")
    )


def vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary profile against the induced
    vocabulary: token count, OOV token count, OOV fraction (4dp).
    Scale shape: the vocabulary is V rows at any corpus size, so the
    membership test is a broadcast LEFT join (never a shuffle of the
    corpus tokens' payload); the per-doc rollup is one hash-aggregate
    with partial combine."""
    tok = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("w")
    )
    # the vocabulary derives from the SAME token stream the membership
    # test scans — one per-invocation checkpoint tokenizes the corpus
    # once where the former vocab_top_terms() arm re-scanned and
    # re-tokenized it (identical counts, hence identical top-V cut)
    tok = tok.localCheckpoint(eager=False)
    vocab = _top_vocab(tok).select("w", F.lit(1).alias("in_vocab"))
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum((F.col("in_vocab").isNull()).cast("long"))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum((F.col("in_vocab").isNull()).cast("long"))
                / F.count("*"),
                4,
            ).alias("oov_frac"),
        )
    )


# --------------------------------------------------------------------------
# Unigram language-model scoring (the CCNet/fastText-era quality
# signal: mean negative log-likelihood of a document under a corpus
# unigram LM — low surprise ~ fluent/common text, high surprise ~
# noise). Wikipedia-LM perplexity in CCNet (Wenzek et al. 2020);
# here the LM is the corpus itself, the standard self-scoring form.
# --------------------------------------------------------------------------


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean CONDITIONAL negative log-likelihood under the
    corpus bigram model with add-one smoothing — one n-gram order up
    from ``unigram_logprob``, toward the CCNet-style n-gram-LM quality
    signal: nll(d) = -(1/|bigrams(d)|) * sum ln((c(w1,w2) + 1) /
    (c1(w1) + V)), where c1 counts bigram LEFT contexts (positions
    1..n-1) and V is the corpus unigram vocabulary size. Documents
    with fewer than two tokens have no bigrams and are absent from
    the output (both engines).

    Scale shape: the bigram stream derives from the materialized
    token array per row (adjacent pairs — no self-join, no window);
    pass 1 hash-aggregates it into the bigram count table with
    map-side combine (vocabulary-squared-bounded but corpus-sparse —
    NOT broadcast at 100 TB, the tfidf df-join reasoning); context
    counts c1 reduce FROM the bigram table (tiny second agg, never a
    corpus re-scan); V and the totals ride a broadcast one-row
    aggregate (lazy, empty-safe, as in unigram_logprob); the
    scoring join is a plain shuffle join on (w1, w2)."""
    # the tokenized frame is the shared parent of the bigram stream
    # (twice: count build + scoring join) and the vocabulary
    # aggregate — four corpus tokenizations without help. One
    # per-invocation localCheckpoint tokenizes ONCE; unlike persist()
    # it cannot leak results into a later run (each call builds a
    # fresh RDD).
    toks = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("t")
    ).localCheckpoint(eager=False)
    big = toks.select(
        "doc_id", F.explode(F.expr(_struct_grams_sql(("w1", "w2")))).alias("g")
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    # c2 has one consumer, the context window below, so it is not
    # checkpointed: a checkpoint would only run the aggregation's
    # shuffle while the frame is built and leave a storage block behind
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # context totals c1 via a window over c2 itself (guide §2.4): the
    # per-w1 sum computes in the exchange c2 already pays — exact
    # integer sum, no second aggregate and join
    from pyspark.sql import Window as _W

    c2w = c2.withColumn("c1", F.sum("c12").over(_W.partitionBy("w1")))
    vocab = toks.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").cast("double").alias("v")
    )
    lp = (
        c2w.crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))
            ).alias("lp"),
        )
    )
    return (
        big.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(-F.avg("lp"), 4).alias("mean_nll"),
        )
    )


TRIGRAM_LAMBDAS = (0.7, 0.2, 0.1)  # interpolation: trigram/bigram/unigram


def trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus
    JELINEK-MERCER-INTERPOLATED trigram model — the top rung of the
    CCNet-style n-gram quality ladder (unigram -> bigram -> trigram):
    score(w3 | w1 w2) = l3*(c123+1)/(c12+V) + l2*(c23+1)/(c2+V)
    + l1*(c3+1)/(T+V) with (l3, l2, l1) = ``TRIGRAM_LAMBDAS`` and
    add-one smoothing at every order, so the score is defined for any
    trigram over the corpus vocabulary and every order contributes
    even when the corpus is the scoring target (a pure-backoff rule
    would never leave the top order on self-scoring, leaving the
    lower-order machinery untested). nll(d) = -avg ln(score) over
    d's trigrams; documents with fewer than three tokens have no
    trigrams and are absent from the output (both engines).

    Scale shape (the bigram_logprob recipe, one order up): trigram
    and bigram streams both derive from the materialized token array
    per row (adjacent triples/pairs — no self-join, no window); the
    count tables hash-aggregate with map-side combine and are gram-
    type-sized, NOT broadcast at 100 TB (the tfidf df-join
    reasoning); the trigram CONTEXT counts c12 reduce FROM the
    trigram table and the bigram contexts c2 FROM the bigram table
    (tiny second aggs, never corpus re-scans); T and V ride one
    broadcast one-row aggregate (lazy, empty-safe); scoring happens
    per trigram TYPE (4 type-table joins) and only then joins back
    to the per-document stream. All joins are inner and total: every
    document trigram exists in c123, its (w1,w2) in c12, its
    (w2,w3)/(w2) in the bigram tables, its w3 in the unigram table."""
    l3, l2, l1 = TRIGRAM_LAMBDAS
    # shared parent of the trigram stream (x2), bigram stream, and
    # unigram aggregate — one per-invocation materialization replaces
    # five corpus tokenizations (see bigram_logprob)
    toks = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("t")
    ).localCheckpoint(eager=False)
    tri = toks.select(
        "doc_id",
        F.explode(F.expr(_struct_grams_sql(("w1", "w2", "w3")))).alias("g"),
    ).select("doc_id", "g.w1", "g.w2", "g.w3")
    big = toks.select(
        F.explode(F.expr(_struct_grams_sql(("b1", "b2")))).alias("g")
    ).select("g.b1", "g.b2")
    # each count table has one consumer, its context window below, so
    # neither is checkpointed (see bigram_logprob's c2)
    c3t = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123"))
    c2t = big.groupBy("b1", "b2").agg(F.count("*").alias("c23"))
    # context totals via windows over the SAME tables (guide §2.4):
    # c12 is the per-(w1,w2) sum of c123 and c2 the per-b1 sum of c23
    # — exact integer sums computed in the exchange the join needs
    # anyway, where separate aggregates would cost two more exchanges
    # and two joins
    from pyspark.sql import Window as _W

    c3w = c3t.withColumn(
        "c12", F.sum("c123").over(_W.partitionBy("w1", "w2"))
    )
    c2w = c2t.withColumn(
        "c2", F.sum("c23").over(_W.partitionBy("b1"))
    )
    cu = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count("*").alias("c3")
    )
    tot = cu.agg(
        F.sum("c3").cast("double").alias("t_tot"),
        F.count("*").cast("double").alias("v"),
    )
    lp = (
        c3w.join(
            c2w.select(
                F.col("b1").alias("w2"), F.col("b2").alias("w3"),
                "c23", "c2",
            ),
            ["w2", "w3"],
        )
        .join(cu.select(F.col("w").alias("w3"), "c3"), "w3")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "w3",
            F.log(
                F.lit(l3) * (F.col("c123") + 1.0)
                / (F.col("c12") + F.col("v"))
                + F.lit(l2) * (F.col("c23") + 1.0)
                / (F.col("c2") + F.col("v"))
                + F.lit(l1) * (F.col("c3") + 1.0)
                / (F.col("t_tot") + F.col("v"))
            ).alias("lp"),
        )
    )
    return (
        tri.join(lp, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.round(-F.avg("lp"), 4).alias("mean_nll"),
        )
    )


def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity terciles (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document with the corpus trigram LM
    (``trigram_logprob``) and label the best-scoring third 'head',
    the next 'middle', and the worst 'tail' — the standard
    quality-stratified sampling key for web-crawl pretraining data.

    The tercile cut is EXACT but never globally sorts the corpus —
    the scale trap of a naive ``ntile(3) OVER (ORDER BY nll)``, which
    funnels every row through one task. ``mean_nll`` is already
    quantized to 4 decimals, so exact quantiles come from a
    HISTOGRAM: hash-aggregate doc counts per distinct score
    (value-bounded — at most ~10^4 distinct cells per unit of NLL
    range, independent of corpus rows), one cumulative window over
    that tiny table, and thresholds t_k = min{v : 3*cum(v) >= k*n}.
    Buckets then assign by broadcast comparison. Ties share a value
    and therefore a bucket, so boundary buckets can exceed n/3 by
    construction (exactly how any exact value-quantile behaves)."""
    from pyspark.sql import Window

    # base feeds the histogram pass AND the final projection — without
    # help the whole trigram-LM pipeline runs twice; one per-invocation
    # checkpoint of the doc-sized scored table halves the query (guide
    # §5 caching rule)
    base = trigram_logprob(spark, sf_dir).localCheckpoint(eager=False)
    hist = base.groupBy("mean_nll").agg(F.count("*").alias("n"))
    w_cum = (
        Window.orderBy("mean_nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "mean_nll",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("n_tot"),
    )
    thr = cum.agg(
        F.min(
            F.when(
                F.col("cum") * 3 >= F.col("n_tot"), F.col("mean_nll")
            )
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") * 3 >= 2 * F.col("n_tot"), F.col("mean_nll")
            )
        ).alias("t2"),
    )
    return (
        base.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "n_trigrams",
            "mean_nll",
            F.when(F.col("mean_nll") <= F.col("t1"), "head")
            .when(F.col("mean_nll") <= F.col("t2"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token negative log-likelihood under the
    corpus unigram distribution with add-one smoothing:
    nll(d) = -(1/|d|) * sum_w ln((c(w) + 1) / (T + V)).

    Scale shape: pass 1 reduces the corpus to its unigram count table
    (hash-agg with map-side combine; vocabulary-sized, NOT broadcast
    at 100 TB — the score join is a plain shuffle join on the token,
    exactly tfidf_top_terms' df-join reasoning), pass 2 re-scans,
    joins each token to its log-prob, and hash-aggregates per doc.
    The totals (T, V) are a one-row aggregate of the counts table
    CROSS-JOIN-BROADCAST into the log-prob projection — fully lazy
    (no job at plan-construction time; review r4), empty-corpus-safe
    (no rows -> empty result, never a driver-side TypeError), and
    never an unpartitioned window over the vocabulary-sized table
    (which would serialize it through one task).

    The counts table feeds both the totals and the scoring join, and
    nothing shares it, so the counts COMPUTE TWICE: two scans and two
    aggregations of the corpus tokens per query. Sharing that
    intermediate (and releasing it after the action) is the ROADMAP
    direction "Executor loss: a fault-injection test, then one helper
    for shared intermediates"."""
    tok = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("w")
    )
    # deliberately lazy: construction must not run a job (the ADVICE-r4
    # pin). The heavier multi-consumer pipelines (bigram, trigram,
    # ccnet, dsir, bm25, cms) checkpoint instead — their shared parents
    # are consumed 3-5x, not 2x.
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").cast("double").alias("t_tot"),
        F.count("*").cast("double").alias("v"),
    )
    lp = counts.crossJoin(F.broadcast(tot)).select(
        "w",
        F.log(
            (F.col("c") + 1.0) / (F.col("t_tot") + F.col("v"))
        ).alias("lp"),
    )
    return (
        tok.join(lp, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.round(-F.avg("lp"), 4).alias("mean_nll"),
        )
    )


# --------------------------------------------------------------------------
# Count-Min-Sketch heavy hitters
# --------------------------------------------------------------------------

CMS_D = 4       # sketch depth (independent hash rows)
CMS_W = 1024    # sketch width (counters per row)
CMS_TOPK = 20   # heavy hitters reported


def _cms_sketch(tok: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A token stream (column ``w``) -> ``(cells, sketch)``.

    ``cells`` is ``(w, c, r, col)``: every distinct token, its count
    ``c`` and its ``CMS_D`` cells (row r's column is
    ``(a + r*b) mod CMS_W`` from the md5 halves of ``w``). ``sketch``
    is the CMS counter table ``(r, col, cnt)``, the cell-wise sum of
    the counts: one fixed-size (<= CMS_D * CMS_W rows) hash-aggregate.
    Counts are linear in the input, so sketches of disjoint corpus
    shards merge by cell-wise ADDITION into exactly the whole-corpus
    sketch — the property that lets 1000 executors each fold their
    partition map-side (pinned in tests/test_curation_edge.py)."""
    # Aggregate to DISTINCT tokens before any hashing (guide §2.3
    # "aggregate before you shuffle"): the previous shape evaluated
    # the Kirsch-Mitzenmacher cell transform — with the md5 halves
    # INSIDE the per-cell lambda, 2 digests x CMS_D cells — once per
    # token OCCURRENCE for the sketch arm, then re-tokenized the
    # corpus a second time for the candidate distinct. Token counts
    # are sufficient statistics for both arms: the sketch is the
    # cell-wise SUM of counts (identical integers — addition groups),
    # and the candidate set is the count table's key column. One
    # corpus pass, md5 once per DISTINCT token, halves projected once
    # per token (not once per cell). A/B at sf1.0: 18.09 -> ~1.6 s.
    from .dedup import _md5_half_sql

    wc = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .select(
            "w",
            "c",
            F.expr(_md5_half_sql("w", 1)).alias("ha"),
            F.expr(_md5_half_sql("w", 9)).alias("hb"),
        )
        .localCheckpoint(eager=False)  # vocabulary-sized; feeds both arms
    )
    cells = wc.select(
        "w",
        "c",
        F.posexplode(
            F.expr(
                "transform(sequence(0, %d), r -> pmod(ha + r * hb, %d))"
                % (CMS_D - 1, CMS_W)
            )
        ).alias("r", "col"),
    )
    return cells, cells.groupBy("r", "col").agg(F.sum("c").alias("cnt"))


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining through a Count-Min sketch (``_cms_sketch``):
    every token occurrence increments ``CMS_D`` counters (row r's
    column is ``(a + r*b) mod CMS_W`` from the md5 halves — the same
    Kirsch-Mitzenmacher family as the MinHash/Bloom ops), a token's
    estimate is the MIN of its ``CMS_D`` counters (always >= the true
    count, never under), and the report is the ``CMS_TOPK`` tokens by
    estimate (ties on the token string — engine-deterministic).

    Scale shape: the sketch is the 100 TB aggregation primitive — the
    counter table is AT MOST ``CMS_D * CMS_W`` rows at any corpus
    size, so its hash-aggregate partial-combines map-side into a
    fixed-size state and the merged sketch BROADCASTS back onto the
    candidate tokens (never a shuffle of the sketch). The only
    corpus-sized stage is the candidate-token distinct — at 100 TB
    the query set would be an external dictionary instead; the sketch
    itself never grows. Overestimate-only + monotone-merge properties
    are pinned in tests/test_curation_edge.py."""
    cells, sketch = _cms_sketch(
        read_spread(spark, sf_dir, "documents").select(
            F.explode(F.expr(_TOKENS)).alias("w")
        )
    )
    return (
        cells.join(F.broadcast(sketch), ["r", "col"])
        .groupBy("w")
        .agg(F.min("cnt").cast("long").alias("est_count"))
        .orderBy(F.col("est_count").desc(), F.col("w"))
        .limit(CMS_TOPK)
    )


BM25_K1 = 1.2  # Okapi term-frequency saturation
BM25_B = 0.75  # Okapi length normalization
BM25_TOPK = 10  # results per query
BM25_N_QUERIES = 3  # doc_id < 3 are the driver stand-in query docs


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-``BM25_TOPK`` retrieval — the ranking counterpart of
    ``tfidf_top_terms``: the ``BM25_N_QUERIES`` lowest doc_ids act as
    queries (the same stand-in parameterization as ``decontaminate``'s
    benchmark table) and retrieve the best-matching candidate documents
    (doc_id >= ``BM25_N_QUERIES``) with
    ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``,
    idf = ln(1 + (N-df+0.5)/(df+0.5)).

    Scale shape (an inverted-index probe, never corpus x queries):
    the distinct query-term table is query-sized -> BROADCAST onto the
    token postings, so only postings that match a query term survive
    the first join; tf partial-aggregates map-side; df is computed
    FROM those matched postings (query-term-sized, broadcast back) —
    the vocabulary-wide df table is never built, unlike tf-idf where
    every doc needs scores. Per-doc length rides the explode
    projection (no extra join). Corpus stats (N, avgdl) are one
    scalar aggregate. Per-term contributions are rounded to integer
    MICROS before the (qid, doc) sum, so the float addition is
    replaced by an exact integer sum and the score is
    partition-order-free (see hll_distinct_shingles for the same
    trick); ranking ties break on doc_id."""
    from pyspark.sql import Window

    nq = BM25_N_QUERIES
    base = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("t")
        # shared parent of the corpus-stats aggregate, the candidate
        # postings, and the query-term table: one scan+tokenize per
        # invocation instead of three (lazy; the eager stats collect
        # below materializes it)
    ).localCheckpoint(eager=False)
    toks = base.select(
        "doc_id", F.size("t").alias("dl"), F.explode("t").alias("tok")
    )
    cand = toks.where(F.col("doc_id") >= nq)
    qt = (
        toks.where(F.col("doc_id") < nq)
        .select(F.col("doc_id").alias("qid"), "tok")
        .distinct()
        # query-term-sized; probes the postings AND re-joins the
        # scored rows — materialize once per invocation (lazily: no
        # job at plan-construction time)
        .localCheckpoint(eager=False)
    )
    # corpus stats over candidate docs: one bounded scalar action
    stats = (
        base.where(F.col("doc_id") >= nq)
        .agg(F.count("*").alias("n"), F.sum(F.size("t")).alias("s"))
        .collect()[0]
    )
    if not stats["n"]:  # no candidate docs: empty result, same schema
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id long, score_micro long"
        )
    n_docs, avgdl = float(stats["n"]), float(stats["s"]) / float(stats["n"])
    hits = cand.join(F.broadcast(qt.select("tok").distinct()), "tok")
    tf = hits.groupBy("doc_id", "tok").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )
    # tf feeds the df reduction AND the scoring join — checkpoint the
    # (matched-postings-sized) table so the corpus probe runs once per
    # invocation, not once per consumer
    tf = tf.localCheckpoint(eager=False)
    dfc = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    contrib = idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(dfc), "tok")
        .join(F.broadcast(qt), "tok")
        .select(
            "qid",
            "doc_id",
            F.round(contrib * F.lit(1e6)).cast("long").alias("micro"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("micro").alias("score_micro"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOPK)
        .select(
            "qid",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score_micro",
        )
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/boilerplate signal (near-0 bits: one repeated char;
    ~4.1 bits: typical English; ~6 bits: base64/compressed junk) that
    complements the word-level Gopher/C4 gates.

    Scale shape: ONE Arrow-batched pandas UDF over one scan — a
    per-doc Counter is O(len) per row, where the pure-SQL
    formulations are either a corpus-sized char explode + shuffle
    (chars x docs exchange rows) or an O(len x distinct) per-row
    filter scan; zero exchanges in the plan (pinned). Python is
    justified here exactly because the built-ins lack a per-row
    histogram.

    FP determinism: each term -(c/n)*log2(c/n) is computed from the
    same integer (c, n) pair in both engines and rounded to integer
    MICRO-bits via ``floor(x*1e6 + 0.5)`` — not banker's ``round`` —
    then summed exactly, so the result is partition-order-free and
    engine-stable. Empty/NULL docs are excluded (the x/0 rule:
    Spark NULL vs DuckDB NaN would diverge)."""
    import math
    from collections import Counter

    @F.pandas_udf(
        "n_chars long, n_distinct int, entropy_micro long"
    )
    def ent(texts: pd.Series) -> pd.DataFrame:
        out = []
        for t in texts:
            c = Counter(t)
            n = sum(c.values())
            e = 0
            for k in c.values():
                p = k / n
                e += int(math.floor(-p * math.log2(p) * 1e6 + 0.5))
            out.append((n, len(c), e))
        return pd.DataFrame(
            out, columns=["n_chars", "n_distinct", "entropy_micro"]
        )

    return (
        read_spread(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", ent("text").alias("s"))
        .select("doc_id", "s.*")
    )
