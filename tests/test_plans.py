"""Physical-plan quality gates — the 100 TB questions as assertions.

These tests pin the plan properties that matter at scale: filters
reach the parquet scan, small dims broadcast, the extraction job has
exactly its one intended exchange, and the UDF runs on the Arrow
path. A regression here is a performance bug even if results stay
correct.
"""

import re

from pyspark.sql import functions as F

from service1_text_extraction_spark.functions import (
    dedup,
    relational,
    similarity,
)
from service1_text_extraction_spark.pipeline import (
    assemble_documents,
    extraction_metrics,
    run_extraction,
    run_with_resume,
)
from service1_text_extraction_spark.streaming import stream_extract


def _exchange_args(plan: str) -> list[str]:
    """One entry per shuffle Exchange node in a formatted plan's node
    details: its ``Arguments:`` line, or ``""`` when the node has none
    (BroadcastExchange is not counted)."""
    out = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if lines and re.match(r"\(\d+\) Exchange\b", lines[0]):
            args = [ln for ln in lines if ln.startswith("Arguments:")]
            out.append(args[0] if args else "")
    return out


def _n_algo_exchanges(plan: str) -> int:
    """Exchange count EXCLUDING the adaptive input-spread repartition
    (functions/spread.py). That round-robin exchange exists only
    because the driver test tables are single-row-group parquet files
    (an unsplittable input scans as 1-2 tasks, serializing every
    scan-side UDF/projection); at real scale the scan has >= cores
    partitions and the spread is a no-op. The algorithmic zero/one-
    exchange pins below must hold with or without it, so Exchange
    nodes whose arguments say REPARTITION_BY_NUM are subtracted."""
    return sum("REPARTITION_BY_NUM" not in a for a in _exchange_args(plan))


def _executed_plans(spark, action) -> list[str]:
    """Run ``action`` and return the formatted physical plan of every
    SQL execution it started, read from the session's SQL status store
    (the plans of writes and collects, which ``explain`` cannot show)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return {e.executionId(): e for e in map(lst.apply, range(lst.size()))}

    before = set(executions())
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        e.physicalPlanDescription()
        for k, e in executions().items()
        if k not in before
    ]


def _plan_tree(plan: str) -> str:
    """The operator tree of a formatted plan: the adaptive final (or
    current) plan when there is one, without the initial plan."""
    tree = plan.split("\n\n", 1)[0]
    return re.split(r"== Initial Plan ==", tree)[0]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pending_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(relational.pending_filter(spark, sf_dir))
    assert "PushedFilters" in plan
    # the OR-of-null-and-range predicate pushes as an Or filter
    assert re.search(r"PushedFilters: \[.*Or\(IsNull\(value\).*\]", plan), plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(relational.success_counts(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "event_type:string", plan


def test_broadcast_joins_chosen(spark, sf_dir):
    for q in (relational.resume_antijoin, relational.broadcast_dim_rollup,
              relational.revenue_by_nation):
        plan = _plan(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
            q.__name__, plan,
        )


def test_extraction_plan_shape(spark):
    rows = [("c", 1, "u", "<p>x</p>", None, None)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    plan = _plan(run_extraction(spark, tdf, n_buckets=8))
    assert "ArrowEvalPython" in plan  # vectorized UDF, not BatchEvalPython
    assert "BatchEvalPython" not in plan
    # exactly ONE exchange, keyed on bucket_id: it feeds the ordering
    # window and the bucket-partitioned sink. The UDF is a pure
    # per-row map and runs on scan partitions — shuffling raw payload
    # bytes before it was r2's top non-kernel cost.
    exchanges = _exchange_args(plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("Arguments: hashpartitioning(bucket_id#"), plan
    # the window sorts within partitions only (no global sort)
    assert "rangepartitioning" not in plan.lower()


def test_extraction_plan_shape_pre_shuffle_opt_in(spark):
    """The salted pre-UDF spread stays available for pathological
    input layouts: opting in adds exactly the one salt exchange."""
    rows = [("c", 1, "u", "<p>x</p>", None, None)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    plan = _plan(
        run_extraction(spark, tdf, n_buckets=8, salt=4, pre_shuffle=True)
    )
    assert len(_exchange_args(plan)) == 2, plan


def test_resume_write_plan_shape(spark, tmp_path):
    """The resumable job's data write: the bucket_id exchange feeds
    both the window and the partitioned writer, whose ordering the
    window's sort already satisfies — one Exchange, one Sort, no
    writer sort. The pending set is a driver-side IN filter, so no
    run (fresh or resumed) plans a broadcast join."""
    rows = [
        (f"c{i}", t, "user", f"<p>turn {t} of conversation {i}</p>",
         None, None)
        for i in range(12)
        for t in (1, 2)
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )

    def run(name, **kw):
        out, mk = str(tmp_path / name / "out"), str(tmp_path / name / "mk")
        return _executed_plans(
            spark, lambda: run_with_resume(spark, tdf, out, mk, n_buckets=8, **kw)
        )

    for plans in (
        run("fresh"), run("resumed", fail_after_buckets=3), run("resumed")
    ):
        assert not any("BroadcastHashJoin" in p for p in plans), plans
        writes = [
            _plan_tree(p)
            for p in plans
            if "ArrowEvalPython" in p and "InsertIntoHadoopFsRelation" in p
        ]
        assert len(writes) == 1, plans
        assert len(re.findall(r"\bExchange \(\d+\)", writes[0])) == 1, writes
        assert len(re.findall(r"\bSort \(\d+\)", writes[0])) == 1, writes
        assert "Window" in writes[0], writes


def test_extraction_exchange_pruned_with_window(spark):
    """The bucket_id exchange belongs to the ordering window, so callers
    that use neither turn_seq nor doc_char_offset prune both: their
    plans keep only the exchanges of their own operators."""
    rows = [("c", 1, "u", "<p>x</p>", None, None)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    ex = run_extraction(spark, tdf, n_buckets=8)
    for df, keys in (
        (ex.drop("turn_seq", "doc_char_offset"), []),
        (assemble_documents(ex), ["conv_id"]),
        (extraction_metrics(ex), ["method"]),
    ):
        plan = _plan(df)
        assert "Window" not in _plan_tree(plan), plan
        exchanges = _exchange_args(plan)
        assert len(exchanges) == len(keys), plan
        for arg, key in zip(exchanges, keys):
            assert arg.startswith(f"Arguments: hashpartitioning({key}#"), plan


def test_stream_batch_write_plan_shape(spark, tmp_path):
    """Each micro-batch write of stream_extract drops the ordering
    columns, so its plan has the salted pre-UDF exchange and nothing
    after it: no window, no bucket_id exchange."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(
        [(f"c{i}", t, "user", f"<p>turn {t}</p>", None, None)
         for i in range(6) for t in (1, 2)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    ).write.parquet(inp)

    def run():
        q = stream_extract(spark, inp, out, ckpt, n_buckets=8, salt=4)
        q.awaitTermination(120)

    writes = [
        p
        for p in _executed_plans(spark, run)
        if "ArrowEvalPython" in p and "InsertIntoHadoopFsRelation" in p
    ]
    assert len(writes) == 1, writes
    tree = _plan_tree(writes[0])
    assert "Window" not in tree, writes
    assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1, writes
    assert all("pmod(" in a for a in _exchange_args(writes[0])), writes


def test_aggregates_partial_combine(spark, sf_dir):
    plan = _plan(relational.pricing_summary(spark, sf_dir))
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_dedup_exact_shuffles_hash_not_text(spark, sf_dir):
    plan = _plan(dedup.exact_dedup(spark, sf_dir))
    # the group key is md5(text): 32 bytes cross the wire, not documents
    assert "md5" in plan and "HashAggregate" in plan


def test_lsh_bucket_is_per_row(spark, sf_dir):
    """LSH buckets must come from per-row plane-literal expressions —
    never an explode of the embedding column (the round-1 scale-killer:
    rows x dim x planes shuffled twice)."""
    plan = _plan(similarity.lsh_ann_topk(spark, sf_dir))
    assert "Generate" not in plan, plan  # no explode anywhere
    assert "posexplode" not in plan
    # only broadcast of the 1-row query side, no hash-shuffle join
    assert "SortMergeJoin" not in plan


def test_ivf_assignment_is_sort_free(spark, sf_dir):
    """Nearest-list assignment must be a partial-aggregating struct-max,
    not a row_number window (which forces a per-vector sort)."""
    plan = _plan(similarity.ivf_ann_topk(spark, sf_dir))
    assert "Window" not in plan, plan


def test_shingles_tokenize_once(spark, sf_dir):
    """The SQL shingle path must materialize the token array before the
    per-element transform — inlining the tokenizer into the lambda
    re-tokenizes the document per shingle (measured O(n^2): 9.6 s for a
    260k-row explode at sf0.1; ~1 s materialized). Pinned on the SQL
    strategy (the oracle mirror and the shape `_shingled`'s Jaccard
    consumers still use); the default Arrow path tokenizes in-worker,
    once per doc by construction, and must show NO plan-side split."""
    prev = dedup.MINHASH_STRATEGY
    try:
        dedup.MINHASH_STRATEGY = "sql"
        plan = _plan(dedup.minhash_band_candidates(spark, sf_dir))
        assert plan.count("split(") == 1, plan
        dedup.MINHASH_STRATEGY = "arrow"
        plan = _plan(dedup.minhash_band_candidates(spark, sf_dir))
        assert plan.count("split(") == 0, plan
    finally:
        dedup.MINHASH_STRATEGY = prev


def test_textstats_tokenize_once(spark, sf_dir):
    """lang_id/quality_score must tokenize each row exactly once — not
    once per stopword language (5x the corpus at 100 TB)."""
    from service1_text_extraction_spark.functions import textstats

    for q in (textstats.lang_id, textstats.quality_score):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") == 1, (q.__name__, plan)


def test_kmeans_assignment_is_pure_projection(spark, sf_dir):
    """The final k-means assignment must be a per-row expression over
    centroid literals: no Exchange in the plan at all."""
    from service1_text_extraction_spark.functions import similarity

    plan = _plan(similarity.kmeans_assign(spark, sf_dir))
    assert _n_algo_exchanges(plan) == 0, plan


def test_duplicate_passages_never_joins_text(spark, sf_dir):
    """Gram hashes shuffle (16-byte md5), never document text: the
    aggregate side's exchange must not carry the text column."""
    from service1_text_extraction_spark.functions import dedup

    plan = _plan(dedup.duplicate_passages(spark, sf_dir))
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), plan


def test_json_sanitize_is_arrow_batched(spark, sf_dir):
    from service1_text_extraction_spark.functions import jsonfuncs

    plan = _plan(jsonfuncs.json_sanitize(spark, sf_dir))
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_filter_pushdown_quality_gate(spark, sf_dir):
    plan = _plan(relational.quality_gate_length(spark, sf_dir))
    # length(trim(x)) is not pushable, but the scan must still prune
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "doc_id:bigint", "text:string"
    }, plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set is tiny (eval suites are MBs at any
    corpus scale) — it must broadcast; a shuffle join here would move
    the full corpus gram stream twice."""
    plan = _plan(dedup.decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_contamination_fraction_broadcasts_benchmark(spark, sf_dir):
    """Same contract as decontaminate: the benchmark gram set
    broadcasts to a (left) hash join; the corpus gram stream must
    never sort-merge against it."""
    plan = _plan(dedup.contamination_fraction(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ccnet_buckets_never_sort_the_corpus(spark, sf_dir):
    """The tercile cut must come from the score HISTOGRAM — a
    value-bounded table — never a global ntile/rank over document
    rows (one task at 100 TB); the two scalar thresholds then reach
    the docs via broadcast."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.ccnet_ppl_buckets(spark, sf_dir))
    assert "ntile" not in plan.lower(), plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """Sequence packing must never serialize into one global running
    sum: the window partitions by shard (parallel), so no
    SinglePartition exchange may appear."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.pack_sequences(spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan


def test_curate_corpus_two_scans_one_join(spark, sf_dir):
    """The curation composition computes quality/lang/split in ONE
    projection over ONE scan and joins only the dedup keepers: one
    visible parquet scan (the keeper aggregate) plus the checkpointed
    signal table (since r7 the signal projection materializes behind
    an RDD barrier so the quality/lang filter cannot be substituted
    into the serial scan stage — the r6 shape re-tokenized ~25x per
    row inside a pushed-down Filter), one join, no cartesian
    product."""
    from service1_text_extraction_spark.functions import curate

    import re as _re

    plan = _plan(curate.curate_corpus(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert "HashAggregate" in plan
    # operator ids "(N) Scan parquet" appear once per operator in the
    # formatted detail section
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "ExistingRDD" in plan, plan
    assert "split(" not in plan, plan  # no tokenizer above the barrier
    joins = _re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
        plan,
    )
    assert len(joins) == 1, plan


def _window_below_collect(plan: str) -> bool:
    """Formatted plans number nodes bottom-up: the sizing Window must
    have a LOWER node number (deeper in the tree) than every
    collect_list aggregate."""
    win = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    colls = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Object|Sort)?(?:Hash)?Aggregate", plan)
        if "collect_list" in plan.split(f"({m.group(1)}) ")[1].split("\n\n")[0]
    ]
    return bool(win) and bool(colls) and min(win) < min(colls)


def test_capped_buckets_cap_precedes_collect(spark):
    """VERDICT r3 hardening: an over-cap bucket must be dropped BEFORE
    collect_list ever aggregates it — the size gate is a spill-backed
    window count, and the follow-up groupBy reuses the window's hash
    partitioning (ONE exchange, ONE upstream computation)."""
    rows = [("mega", i) for i in range(500)] + [
        ("ok", 1), ("ok", 2), ("single", 9),
    ]
    df = spark.createDataFrame(rows, "shingle string, doc_id int")
    capped = dedup._capped_buckets(df, ["shingle"], "doc_id", cap=100)
    plan = _plan(capped)
    # exactly one exchange: the window's; the aggregate reuses it
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert _window_below_collect(plan)
    # functional: mega-bucket and singleton are gone, survivor intact
    out = {r.shingle: r.ids for r in capped.collect()}
    assert out == {"ok": [1, 2]}


def test_capped_buckets_semijoin_strategy(spark):
    """The selectable "semijoin" cap shape (BENCH/capped_ab_*.json)
    must keep the same safety property — the n_members size gate runs
    BELOW collect_list, via a LEFT SEMI join against the hash-agg'd
    bucket sizes — and agree bit-for-bit with the window default."""
    rows = [("mega", i) for i in range(500)] + [
        ("ok", 1), ("ok", 2), ("single", 9),
    ]
    df = spark.createDataFrame(rows, "shingle string, doc_id int")
    capped = dedup._capped_buckets(
        df, ["shingle"], "doc_id", cap=100, strategy="semijoin"
    )
    plan = _plan(capped)
    assert "LeftSemi" in plan, plan
    # the size filter sits on the semi-join's build side, so it is
    # evaluated before any collect_list buffer can form
    m_filter = re.search(r"\((\d+)\) Filter", plan)
    m_coll = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Object|Sort)?(?:Hash)?Aggregate", plan)
        if "collect_list" in plan.split(f"({m.group(1)}) ")[1].split("\n\n")[0]
    ]
    assert m_filter and m_coll and int(m_filter.group(1)) < min(m_coll), plan
    out = {r.shingle: r.ids for r in capped.collect()}
    assert out == {"ok": [1, 2]}

    # ADVICE r5: the strategy's MEMORY_AND_DISK entry is registered
    # and releasable — after the action completes, one call frees it
    assert len(dedup._SEMIJOIN_CACHES) >= 1
    cached = dedup._SEMIJOIN_CACHES[-1]
    assert cached.storageLevel.useMemory  # actually persisted
    released = dedup.release_semijoin_caches(blocking=True)
    assert released >= 1
    assert dedup._SEMIJOIN_CACHES == []
    assert not cached.storageLevel.useMemory  # unpersisted for real


def test_capped_buckets_in_neardup_pipelines(spark, sf_dir):
    """Every bucket-pair pipeline routes through the pre-collect cap:
    the plan of each candidate generator must carry the window count
    below its collect_list."""
    for q in (
        dedup.minhash_band_candidates,
        dedup.ngram_jaccard_pairs,
        dedup.simhash_neardup_pairs,
        similarity.cosine_neardup_pairs,
        similarity.semantic_dedup,
    ):
        assert _window_below_collect(_plan(q(spark, sf_dir))), q.__name__


def test_twice_scanned_pipelines_persist_knob(spark, sf_dir):
    """VERDICT r4 item 5: unigram_logprob and dsir_weights re-derive
    an intermediate across their two passes; persist=True must route
    the second pass through the cache (InMemoryTableScan in the plan)
    so the corpus aggregation executes once at scale."""
    from service1_text_extraction_spark.functions import textstats

    for q in (
        textstats.unigram_logprob,
        textstats.dsir_weights,
        textstats.bigram_logprob,
        textstats.trigram_logprob,
    ):
        plan = _plan(q(spark, sf_dir, persist=True))
        assert (
            "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
        ), (q.__name__, plan)
    spark.catalog.clearCache()


def test_large_k_assignment_broadcasts_centroids(spark):
    """At k > ASSIGN_ARROW_K the default assignment is the Arrow
    fold (map-only, bounded plan); the UDF-free fallback
    (use_join=True) must broadcast the centroid TABLE
    (BroadcastNestedLoopJoin + one partial-aggregated exchange).
    Neither may inline a k x dim literal expression tree. Exercises
    an array<double> embedding column — the arrow fold must not
    round-trip doubles through float32."""
    import numpy as np

    rng = np.random.default_rng(7)
    e = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(x) for x in rng.standard_normal(8)] for _ in range(100)]
    df = similarity._assigned(spark, e, cents)  # auto-selects arrow path
    plan = _plan(df)
    assert "ArrowEvalPython" in plan, plan
    join_df = similarity._assigned(spark, e, cents, use_join=True)
    join_plan = _plan(join_df)
    assert (
        "BroadcastNestedLoopJoin" in join_plan
        or "BroadcastHashJoin" in join_plan
    )
    # bounded expression trees: no 100-way greatest() literal chain
    for p in (plan, join_plan):
        assert "greatest" not in p
        assert len(p) < 100_000, len(p)
    # argmax semantics hold and both paths agree bit-for-bit
    arr = np.array(cents)
    rows = {r.vec_id: r.list_id for r in df.collect()}
    assert rows == {r.vec_id: r.list_id for r in join_df.collect()}
    for r in e.collect():
        dots = arr @ np.array(r.embedding)
        assert rows[r.vec_id] == int(np.argmax(dots)), r.vec_id


def test_gopher_filters_tokenize_once_per_branch(spark, sf_dir):
    """The Gopher signals reference the token array many times — the
    tokenizer must run once per scan branch, never once per signal."""
    from service1_text_extraction_spark.functions import textstats

    plan = (
        textstats.gopher_quality(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("split(") == 1, plan
    # repetition has two branches (lines, bigrams): one tokenize each
    plan2 = (
        textstats.gopher_repetition(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan2.count("split(") == 2, plan2


def test_c4_line_stats_is_shuffle_free(spark, sf_dir):
    """C4 cleaning is per-row array math: tokenize once, the fixture
    md5 evaluates in exactly one lambda, and the plan has NO Exchange
    at all (the 100 TB form is a pure map job)."""
    from service1_text_extraction_spark.functions import textstats

    df = textstats.c4_line_stats(spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert exec_plan.count("split(") == 1, exec_plan
    # the md5(conv(...)) bucket must appear once — not re-inlined into
    # every CASE branch or stat expression
    assert exec_plan.count("conv(") == 1, exec_plan
    plan = _plan(df)
    assert _n_algo_exchanges(plan) == 0, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_pii_redact_is_shuffle_free(spark, sf_dir):
    """Redaction is a per-row projection — the plan must contain no
    Exchange at all (the corpus never moves)."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.pii_redact(spark, sf_dir))
    assert _n_algo_exchanges(plan) == 0, plan


def test_dsir_two_scans_broadcast_lookup(spark, sf_dir):
    """DSIR must tokenize the corpus exactly ONCE (the bucketed token
    stream is checkpointed and feeds both the count pass and the score
    pass — since r7 the default path materializes it per invocation,
    so the final plan shows ZERO tokenizer copies) and join the B-row
    log-ratio lookup via broadcast, not shuffle."""
    from service1_text_extraction_spark.functions import textstats

    df = textstats.dsir_weights(spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert exec_plan.count("split(") == 0, exec_plan
    assert "ExistingRDD" in exec_plan, exec_plan
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sample_by_source_no_corpus_shuffle(spark, sf_dir):
    """The mixture decision is per-row; only the 20-row source rollup
    may exchange (partial aggregation applies)."""
    from service1_text_extraction_spark.functions import curate

    plan = _plan(curate.sample_by_source(spark, sf_dir))
    assert _n_algo_exchanges(plan) <= 1, plan
    assert "partial_" in plan, plan


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """The OOV membership test must be a broadcast join against the
    V-row vocabulary — never a shuffle of the exploded corpus tokens."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.vocab_oov(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_admit_corpus_one_signal_scan_one_join(spark, sf_dir):
    """The admission composite must evaluate every per-row signal
    (mixture, Gopher, C4) inside ONE let-bound predicate over one
    corpus scan and join only the keeper aggregate. The naive
    signal-columns-then-filter form collapses under predicate
    pushdown into 14 tokenizer copies — the let-binding pins it to a
    single split() in the Filter (the second textual occurrence is
    the scan's DataFilters metadata echoing the same predicate)."""
    from service1_text_extraction_spark.functions import curate

    df = curate.admit_corpus(spark, sf_dir)
    plan = _plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "ExistingRDD" in plan, plan
    assert len(re.findall(r"\(\d+\) \w*HashJoin", plan)) == 1, plan
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    # the signal chain evaluated once, behind the barrier: the final
    # plan carries NO tokenizer at all
    assert exec_plan.count("split(") == 0, exec_plan


def test_sample_exact_quota_two_phase_plan(spark, sf_dir):
    """VERDICT r5 item 2: the full corpus scan must never feed a
    window partitioned by source alone (the mega-source single-task
    funnel). Phase 1 windows over (source, shard) with the
    WindowGroupLimit rank pushdown running map-side BEFORE the first
    exchange; the per-source phase-2 window sees only the
    quota x shards survivors."""
    from service1_text_extraction_spark.functions import curate

    plan = _plan(curate.sample_exact_quota(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    # the scan-side exchange hashes on (source, shard), not source
    m = re.search(r"hashpartitioning\(source#\d+, shard#\d+L?", plan)
    assert m, plan
    # phase 1's rank limit runs Partial (map-side, pre-shuffle)
    assert re.search(
        r"\[source#\d+, shard#\d+L?\], .*row_number\(\), \d+, Partial", plan
    ), plan
    # exactly the two intended windows
    assert len(re.findall(r"\(\d+\) Window\b", final)) == 2, final
    # shards=1 degenerates to the single per-source window (the
    # oracle's verbatim shape)
    plan1 = _plan(curate.sample_exact_quota(spark, sf_dir, shards=1))
    final1 = plan1.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\(\d+\) Window\b", final1)) == 1, final1
    assert "shard" not in plan1


def test_large_k_assign_and_probe_are_maponly_arrow(spark, sf_dir):
    """At k > ASSIGN_ARROW_K the default assign/probe paths must be
    Arrow-vectorized per-row maps: ArrowEvalPython in the plan and NO
    Exchange — the join fallback's n x k expansion (exchange into a
    groupBy/window) is exactly what the arrow path exists to avoid."""
    from service1_text_extraction_spark.functions import similarity

    e = similarity._emb(spark, sf_dir).select("vec_id", "embedding")
    rows = e.orderBy("vec_id").limit(
        similarity.ASSIGN_BROADCAST_K + 6
    ).collect()
    cents = [[round(float(x), 6) for x in r.embedding] for r in rows]

    assign_plan = _plan(similarity._assigned(spark, e, cents))
    assert "ArrowEvalPython" in assign_plan, assign_plan
    assert _n_algo_exchanges(assign_plan) == 0, assign_plan

    probe_plan = _plan(similarity._probe_lists(spark, e, cents, 3))
    assert "ArrowEvalPython" in probe_plan, probe_plan
    assert _n_algo_exchanges(probe_plan) == 0, probe_plan


def test_dup_passage_fraction_single_doc_exchange(spark, sf_dir):
    """The coverage window partitions by doc_id and the per-doc
    aggregate reuses that partitioning — no SinglePartition exchange,
    no global rank, and the gram stream reaches the window as 16-byte
    hashes (the text column never survives past the scan
    projections)."""
    plan = _plan(dedup.dup_passage_fraction(spark, sf_dir))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "row_number" not in plan.lower(), plan


def test_c4_span_dedup_min_struct_not_window(spark, sf_dir):
    """Global keep-first must be the map-side-combinable
    min(struct(doc_id, idx)) hash-aggregate, NEVER a row_number window
    over the span hash (a boilerplate span occurring 10^9 times would
    funnel through one window partition). Since r7 the tokenized frame
    is checkpointed once and every branch (both sides of the
    first-occurrence join + the reassembly scan) reads the
    materialized RDD — ZERO tokenizer copies in the final plan, where
    the r6 shape paid three scan+tokenize passes."""
    plan = _plan(dedup.c4_span_dedup(spark, sf_dir))
    assert "row_number" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("split(lower") == 0, plan.count("split(lower")
    assert "ExistingRDD" in plan, plan


def test_hll_register_aggregate_combines_map_side(spark, sf_dir):
    """The register update must be a partial-combinable hash-aggregate
    over (source, bucket) so the shuffle is bounded by 1024 register
    rows per source per map task — never a window, never a sort, and
    no shingle string past the scan side."""
    plan = _plan(dedup.hll_distinct_shingles(spark, sf_dir))
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "collect_list" not in plan, plan


def test_bloom_decontaminate_zero_exchange(spark, sf_dir):
    """The Bloom probe must be pure projection: the bitmap folds into
    the plan as a constant array and every doc scores map-side — no
    Exchange, no Join, no UDF of any kind. (The bounded
    construction-time collect of bench positions happens before this
    plan exists.)"""
    plan = _plan(dedup.bloom_decontaminate(spark, sf_dir))
    assert _n_algo_exchanges(plan) == 0, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_asof_join_single_exchange_no_join(spark, sf_dir):
    """As-of enrichment must be the union-window shape: ONE hash
    exchange on user_id feeding one ordered window — never a per-pair
    join (a theta join is quadratic per key) and never a single
    partition."""
    import re

    plan = _plan(relational.asof_join(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The interval join must execute as hash equi-joins on
    (user_id, bin) — never a BroadcastNestedLoopJoin / CartesianProduct
    (what Spark falls back to for raw theta joins), so candidates stay
    same-bin-or-neighbor pairs at any corpus size."""
    plan = _plan(relational.range_join_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_cms_sketch_broadcasts_and_takeordered(spark, sf_dir):
    """The CMS counter table is <= CMS_D * CMS_W rows at ANY corpus
    size: it must partial-combine map-side and BROADCAST onto the
    candidate probes (never shuffle the candidates against it), and
    the top-k must be TakeOrderedAndProject, not a global sort. Since
    r7 both arms derive from ONE checkpointed distinct-token count
    table (md5 once per distinct token, never per occurrence), so the
    downstream plan must show the sketch's partial SUM of counts, the
    probe-side partial min, and exactly one scan (the checkpointed
    RDD) feeding both."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.cms_heavy_hitters(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "partial_sum" in plan, plan
    assert "partial_min" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "md5" not in plan, plan  # hashing happened once, upstream


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-located joins via bucketing (the 100 TB repeat-join
    strategy): two tables written bucketed on doc_id join with ZERO
    Exchanges, while the identical merge join over plain parquet
    needs one per side."""
    import re

    from service1_text_extraction_spark.pipeline import bucketed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.select("doc_id", "n_chars")
    b = docs.select("doc_id", "lang")
    try:
        bucketed.write_bucketed(
            a, "bkt_a", str(tmp_path / "bkt_a"), n_buckets=8
        )
        bucketed.write_bucketed(
            b, "bkt_b", str(tmp_path / "bkt_b"), n_buckets=8
        )
        plan = _plan(bucketed.bucketed_join(spark, "bkt_a", "bkt_b"))
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan

        # contrast: same join over non-bucketed input shuffles
        plain = _plan(a.hint("merge").join(b, "doc_id"))
        assert len(re.findall(r"\(\d+\) Exchange", plain)) == 2, plain

        # and the join is not just planned — it runs and matches
        n = bucketed.bucketed_join(spark, "bkt_a", "bkt_b").count()
        assert n == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_hdr_sketch_aggregate_is_fixed_size(spark, sf_dir):
    """The HDR quantile sketch must partial-combine map-side into the
    bounded (event_type, bucket) table — never a per-type global sort
    of raw values (what the exact percentile does), never a single
    partition."""
    plan = _plan(relational.hdr_value_quantiles(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "percentile" not in plan.lower(), plan


def test_asof_salted_windows_by_user_and_block(spark, sf_dir):
    """The salted as-of's event-stream window must partition by
    (user_id, blk) — a mega-user splits across time blocks instead of
    funneling one task — while only the TINY per-block summary table
    windows by user alone; and the carry join stays an equi-join."""
    plan = _plan(relational.asof_join_salted(spark, sf_dir))
    assert re.search(r"hashpartitioning\(user_id#\d+L, blk#", plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_is_an_inverted_index_probe(spark, sf_dir):
    """Every join in BM25 is query-term-sized — the distinct-term
    semi-filter onto the postings, the df counts, and the (qid, tok)
    attach must ALL broadcast (a SortMergeJoin would shuffle the
    corpus-sized posting stream against a KB-sized side), and the tf
    aggregate must partial-combine map-side so hot query terms reduce
    before the exchange."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.bm25_topk(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_oph_jaccard_is_a_pure_hash_aggregate(spark, sf_dir):
    """The stripe-minimum sketch must partial-combine map-side (the
    whole point of the one-permutation form over per-source top-K:
    no Window, no sort of the shingle stream), and the pairwise
    comparison must broadcast the stripes-x-sources sketch table."""
    plan = _plan(dedup.minhash_source_jaccard(spark, sf_dir))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_leak_safe_split_adds_no_exchange(spark, sf_dir):
    """The split labels are one projection over the connected-component
    output — the plan must carry exactly the exchanges the CC operator
    itself has, no new shuffle for the bucketing."""
    from service1_text_extraction_spark.functions import curate, dedup

    cc_plan = _plan(dedup.minhash_connected_components(spark, sf_dir))
    split_plan = _plan(curate.split_leak_safe(spark, sf_dir))
    assert split_plan.count("Exchange") == cc_plan.count("Exchange"), (
        split_plan
    )


def test_hopping_window_is_expand_plus_one_exchange(spark, sf_dir):
    """A sliding window must plan as Expand (x2 fan-out) into a
    partial hash-aggregate — one exchange carrying window-count-sized
    partials, never a per-key sort or a single partition."""
    plan = _plan(relational.hopping_window_stats(spark, sf_dir))
    assert "Expand" in plan, plan
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_char_entropy_is_one_arrow_scan(spark, sf_dir):
    """The entropy signal must be ONE Arrow-batched UDF over one scan —
    zero exchanges (the pure-SQL alternative explodes a corpus-sized
    char stream into a shuffle), with the not-empty filter pushed to
    the parquet scan."""
    from service1_text_extraction_spark.functions import textstats

    plan = _plan(textstats.char_entropy(spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan
    assert _n_algo_exchanges(plan) == 0, plan
    assert "PushedFilters" in plan and "IsNotNull(text)" in plan, plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """The weighted sample must plan as TakeOrderedAndProject —
    per-partition top-k heaps plus one bounded merge — never a global
    Sort/Exchange of the keyed corpus or a Window."""
    from service1_text_extraction_spark.functions import curate

    plan = _plan(curate.weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert _n_algo_exchanges(plan) == 0, plan


def test_corpus_delta_shuffles_hashes_not_text(spark, sf_dir):
    """The snapshot join's exchanges must carry (doc_id, md5) — 16-byte
    hashes — never the text column (exact_dedup's rule applied to the
    two-snapshot diff)."""
    from service1_text_extraction_spark.functions import curate

    plan = _plan(curate.corpus_delta(spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), plan
    assert "md5" in plan, plan


def test_funnel_pushes_step_filters_to_scan(spark, sf_dir):
    """Each funnel step must scan only its event type (the type
    predicate reaches the parquet scan) and aggregate before joining —
    no window, no cartesian."""
    plan = _plan(relational.funnel_steps(spark, sf_dir))
    assert "EqualTo(event_type,view)" in plan, plan
    assert "EqualTo(event_type,click)" in plan, plan
    assert "EqualTo(event_type,purchase)" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_fuses_bounded_sets_only(spark, sf_dir):
    """Fusion must operate on top-k-bounded arms: the 3-row query side
    broadcasts into the brute arm, and every Window in the plan sits
    ABOVE a rank filter (k-bounded input) — no cartesian, no
    corpus-sized sort-merge of the fusion join."""
    from service1_text_extraction_spark.functions import similarity

    plan = _plan(similarity.rrf_fusion(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan
    )
    assert "CartesianProduct" not in plan, plan


def test_degree_keeper_argmax_is_not_a_window(spark, sf_dir):
    """The per-cluster keeper must reduce through
    max(struct(degree, -doc_id)) — map-side combinable (partial_max in
    the plan) — never a row_number window keyed on the cluster label,
    which would funnel a mega-cluster through one task. The only
    Window allowed in this plan is the upstream band-bucket cap inside
    the candidate generator (bounded groups by construction)."""
    plan = _plan(dedup.cluster_keepers_degree(spark, sf_dir))
    assert "partial_max(struct(degree" in plan, plan
    for m in re.finditer(r"\(\d+\) Window[\s\S]*?Arguments: (.*)", plan):
        assert "cluster_rep" not in m.group(1), plan
        assert "degree" not in m.group(1), plan


def test_session_window_single_exchange(spark, sf_dir):
    """The native session aggregation must shuffle ONCE on user_id and
    merge sessions within partitions — no second exchange, no
    cartesian."""
    plan = _plan(relational.session_window_stats(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_hopping_distinct_is_bounded_sketch(spark, sf_dir):
    """The windowed-cardinality plan must be Expand -> register
    hash-aggregate -> estimate aggregate: both aggregates partial-
    combine (the shuffle carries at most 1024 register rows per
    (window, type) cell, never user ids), no Window, no third
    exchange."""
    plan = _plan(relational.hopping_distinct_users(spark, sf_dir))
    assert "Expand" in plan, plan
    assert "partial_max" in plan and "partial_count" in plan, plan
    assert "Window" not in plan, plan
    assert _n_algo_exchanges(plan) <= 2, plan


def test_pagerank_iterations_are_join_plus_agg(spark, sf_dir):
    """Each power iteration must be one equi-join + one hash-aggregate
    over the edge list — no window, no cartesian, no collect-driven
    loop (the plan is a static 3-deep join tree)."""
    plan = _plan(dedup.pagerank_candidates(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    for m in re.finditer(r"\(\d+\) Window[\s\S]*?Arguments: (.*)", plan):
        assert "rank" not in m.group(1) and "r#" not in m.group(1), plan


def test_source_overlap_joins_sketches_broadcast(spark, sf_dir):
    """Both sketch tables are bounded (sources x registers/stripes):
    the inclusion-exclusion joins must broadcast — a SortMergeJoin here
    would mean a sketch grew corpus-shaped."""
    plan = _plan(dedup.source_overlap_stats(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_keeper_single_signature_pass(spark, sf_dir):
    """VERDICT r6 item 1: cluster_keepers_degree must evaluate the
    MinHash signature pipeline ONCE — the banded table is checkpointed
    and both the degree edges and the CC labels derive from it. The
    plan must show ZERO ArrowEvalPython signature stages (the UDF ran
    at checkpoint time) and the checkpointed RDD scan feeding the
    degree/cap machinery."""
    plan = _plan(dedup.cluster_keepers_degree(spark, sf_dir))
    assert "ArrowEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_source_overlap_single_scan(spark, sf_dir):
    """VERDICT r6 item 3: source_overlap_stats derives BOTH sketches
    (HLL registers and OPH stripe minima) from one tokenize+shingle+
    hash pass over the corpus — the checkpointed per-(source, bucket)
    table. The final plan therefore scans documents.parquet ZERO times
    (the one scan ran at checkpoint time) and never re-tokenizes."""
    plan = _plan(dedup.source_overlap_stats(spark, sf_dir))
    assert "documents.parquet" not in plan, plan
    assert "split(" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 1, plan
