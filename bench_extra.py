#!/usr/bin/env python
"""Side benchmark for optimization work (guide §1.4): times any subset
of the bench.py queries with the identical methodology (noop sink,
min-of-N) without touching the frozen bench.py. Also captures
``explain("formatted")`` plans.

Usage:
  python bench_extra.py q1 q2 ...          # time the named queries
  python bench_extra.py --all              # every query
  python bench_extra.py --plan DIR q1 ...  # also write DIR/<q>.txt plans
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1
  BENCH_REPEATS=3 python bench_extra.py q1

Prints one JSON line {"queries": {...}, "sf": ..., "repeats": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench as _bench  # reuse the frozen harness's session + corpus

SF_DIR = _bench.SF_DIR
REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plan_dir = None
    if "--plan" in args:
        i = args.index("--plan")
        plan_dir = args[i + 1]
        del args[i:i + 2]
        os.makedirs(plan_dir, exist_ok=True)
    run_all = "--all" in args
    if run_all:
        args.remove("--all")

    spark = _bench.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = _bench.ensure_transcripts(spark)
    transcripts.count()

    from service1_text_extraction_spark.functions import (  # noqa: F401
        curate,
        dedup,
        jsonfuncs,
        relational,
        similarity,
        textstats,
    )
    from service1_text_extraction_spark.pipeline import run_extraction

    run_extraction(spark, transcripts.limit(256), n_buckets=4).write.format(
        "noop"
    ).mode("overwrite").save()

    def bench_extract():
        out = run_extraction(spark, transcripts, n_buckets=64)
        out.write.format("noop").mode("overwrite").save()

    def q(fn):
        return lambda: fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    # mirror of bench.py's registry (kept in sync by
    # tests/test_oracle_parity.py::test_bench_keys_are_query_keys)
    queries = {
        "extract_turns": bench_extract,
    }
    from bench_registry import FRAMES

    queries.update({name: q(fn) for name, fn in FRAMES.items()})

    names = list(queries) if run_all else args
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; known: {sorted(queries)}")

    if plan_dir:
        from contextlib import redirect_stdout

        for name in names:
            if name == "extract_turns":
                df = run_extraction(spark, transcripts, n_buckets=64)
            else:
                df = FRAMES[name](spark, SF_DIR)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                with redirect_stdout(fh):
                    df.explain("formatted")

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = float("inf")
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            queries[name]()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "queries": timings,
        "value": round(sum(timings.values()), 3),
        "sf": _bench.SF,
        "repeats": REPEATS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
