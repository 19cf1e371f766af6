#!/usr/bin/env python3
"""Benchmark of the extraction job and the operator library.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload fresh_mixed --seed 1 --seconds 10 --trace 0

Workloads:

- ``fresh_mixed``: ``run_with_resume`` into empty output and marker
  dirs over a mixed HTML/PDF/text corpus.
- ``curate_ops``: operators of ``bench_registry.FRAMES`` over seeded
  ``documents``/``embeddings``/``events`` tables, each into a parquet
  sink.

One driver process at ``local[<cores>]`` runs a closed loop: each run
starts after the previous one ends. One untimed run primes the JIT;
timed runs follow, at least a fixed number and until ``--seconds`` of
timed work is done. Outputs are checked after every run, outside the
timer. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (which also
writes a Spark event log and a span file under ``.perfbench_work/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "service1_text_extraction_spark")

SIZES = {"fresh_mixed": 16_000, "curate_ops": 500}
N_BUCKETS = 64
WARMUP_ROWS = 256
KERNEL_SAMPLE = 2_000
# Operators that ROADMAP items target: the MinHash strategies, the
# corpus-sized localCheckpoint sites, the top-V cut, the n-gram chain and
# the salted as-of join whose checkpoints pile up.
CURATE_OPS = (
    "dedup_minhash_candidates",
    "c4_span_dedup",
    "vocab_oov",
    "trigram_logprob",
    "asof_join_salted",
)

E2E_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "turns_per_s": "1/s",
    "worker_rss_peak_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
LAYER_UNITS = {
    "kernels.us_per_turn": "us",
    "kernels.pdf.us_per_turn": "us",
    "kernels.html.us_per_turn": "us",
    "kernels.text.us_per_turn": "us",
    "kernels.sniff.us": "us",
    "kernels.pdf.load.us": "us",
    "kernels.pdf.content.us": "us",
    "kernels.pdf.interpret.us": "us",
    "kernels.pdf.assemble.us": "us",
    "kernels.html.extract.us": "us",
    "kernels.gate.us": "us",
    "kernels.turns.pdf": "count",
    "kernels.turns.html": "count",
    "kernels.turns.text": "count",
    "kernels.turns.failed": "count",
    "extract.noop_s": "s",
    "extract.udf_stage_s": "s",
    "extract.udf_task_skew": "ratio",
    "extract.python_time_s": "s",
    "extract.python_boot_init_s": "s",
    "extract.arrow_bytes_sent": "bytes",
    "extract.arrow_bytes_received": "bytes",
    "extract.dup_frac": "ratio",
    "extract.window_shuffle_bytes": "bytes",
    "extract.window_task_skew": "ratio",
    "extract.spill_bytes": "bytes",
    "checkpoint.write_stage_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.bookkeeping_s": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.input_scans": "count",
    "checkpoint.extracted_per_pending": "ratio",
    **{f"functions.{op}.s": "s" for op in CURATE_OPS},
    "functions.shuffle_bytes": "bytes",
    "functions.spill_bytes": "bytes",
    "functions.spark_jobs": "count",
    "functions.storage_blocks": "count",
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "trace.job_s": "s",
    "trace.spark_job_share": "ratio",
}


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_gb() -> int:
    """A quarter of the machine, between 1 and 4 GB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


class Bench:
    """Session set-up, the closed loop, and the trace plumbing shared by
    the workloads. Subclasses provide ``warmup``, ``measure`` and
    ``layers``, and ``kernel_layer`` if they call the kernels.

    The closed loop runs once untimed to prime the JIT, then at least
    ``min_timed`` timed runs, and more until ``seconds`` of timed work
    is done; a fixed floor keeps the number of runs behind each median
    the same from run to run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from probes import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.scratch = os.path.join(WORK, "run", workload)
        self.eventlog_dir = os.path.join(WORK, "eventlog")
        self.layer: dict[str, float] = {}

    def run(self) -> dict:
        import corpora

        self.inputs, self.stats = corpora.ensure(
            WORK, self.workload, self.seed, SIZES[self.workload]
        )
        print(
            f"corpus {self.workload} seed={self.seed}: {json.dumps(self.stats)}",
            flush=True,
        )
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        try:
            self.setup()
            metrics = self.measure()
            if self.trace:
                metrics = self.traced_layers()
        finally:
            self.shutdown()
        units = LAYER_UNITS if self.trace else E2E_UNITS
        return {
            "correct": self.failed == 0 and not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                for k, u in units.items()
            },
        }

    # -- session -----------------------------------------------------------
    def _session(self):
        from pyspark.sql import SparkSession

        cores = _cores()
        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.driver.memory", f"{_driver_memory_gb()}g")
            .config("spark.sql.shuffle.partitions", str(max(8, cores)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            # workers import the package from the checkout, whatever the cwd
            .config("spark.executorEnv.PYTHONPATH", ROOT)
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            )
        )
        if self.trace:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.eventlog_dir)
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.compress", "false")
            )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Launch the JVM, start the session and warm it, once."""
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("setup.session"):
                self.spark = self._session()
            t1 = time.perf_counter()
            with self.tracer.span("setup.warmup"):
                self.warmup()
            t2 = time.perf_counter()
        self.setup_s = t2 - t0
        self.layer["setup.session_s"] = t1 - t0
        self.layer["setup.warmup_s"] = t2 - t1

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- closed loop -------------------------------------------------------
    def attempt(self, name: str, timed, check, **attrs) -> dict | None:
        """One timed run and its check. Returns its record, or None when
        it raised or failed its check (counted as failed)."""
        self.attempted += 1
        rec = {"job_s": 0.0, **attrs}
        try:
            with self.tracer.span(name, **attrs) as sp:
                t0 = time.perf_counter()
                try:
                    timed(rec)
                finally:
                    rec["job_s"] = time.perf_counter() - t0
            rec["span"] = sp
            problems = check(rec)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print("\n".join(problems), file=sys.stderr)
            return None
        return rec

    def tagging(self):
        from probes import tag_actions

        if not self.trace:
            return contextlib.nullcontext()
        return tag_actions(self.spark, self.tracer, (PACKAGE + os.sep,))

    # -- trace -------------------------------------------------------------
    def kernel_layer(self) -> dict:
        return {}  # kernels.* read 0 where the workload does not call them

    def traced_layers(self) -> dict:
        import eventlog

        layer = dict(self.layer)
        layer.update(self.kernel_layer())
        spark = self.spark
        app_id = spark.sparkContext.applicationId
        self.shutdown()  # closes the event log
        log = eventlog.parse(os.path.join(self.eventlog_dir, app_id))
        self.attach(log)
        layer.update(self.layers(log))
        path = os.path.join(WORK, "traces", f"{self.workload}.json")
        self.tracer.write(path)
        print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        return layer

    def attach(self, log) -> None:
        """Make each Spark job and stage a child of the span holding it."""
        names = {s["name"] for s in self.tracer.spans}
        for job in sorted(log.jobs.values(), key=lambda j: j.submit_ms):
            parent = self.tracer.innermost(job.submit_ms, job.end_ms, names)
            js = self.tracer.add(
                "spark.job",
                job.submit_ms,
                job.end_ms,
                parent["id"] if parent else None,
                job_id=job.job_id,
                key=job.key,
            )
            for st in log.stages_of([job]):
                self.tracer.add(
                    "spark.stage",
                    st.submit_ms,
                    st.complete_ms,
                    js["id"],
                    stage_id=st.stage_id,
                    tasks=st.n_tasks,
                    task_skew=st.task_skew,
                    shuffle_read_bytes=st.shuffle_read_bytes,
                    shuffle_write_bytes=st.shuffle_write_bytes,
                    spill_bytes=st.spill_bytes,
                )


class Extraction(Bench):
    """``fresh_mixed``: timed ``run_with_resume``."""

    min_timed = 3

    def warmup(self) -> None:
        from service1_text_extraction_spark.pipeline import run_extraction

        # a sample across every input file, so every Python worker forks
        sample = self.spark.read.parquet(self.corpus).sample(
            fraction=min(1.0, WARMUP_ROWS / self.stats["turns"]), seed=0
        )
        run_extraction(self.spark, sample, n_buckets=4).write.format("noop").mode(
            "overwrite"
        ).save()

    @property
    def corpus(self) -> str:
        return os.path.join(self.inputs, "transcripts")

    def measure(self) -> dict:
        import checks
        from probes import WorkerRssSampler, tree_size
        from service1_text_extraction_spark.pipeline import run_with_resume

        spark = self.spark
        out = os.path.join(self.scratch, "out")
        markers = os.path.join(self.scratch, "markers")
        with self.tracer.span("input_counts"):
            per_bucket = checks.rows_per_bucket(spark, self.corpus, N_BUCKETS)
        expected = {b: n for b, (n, _) in per_bucket.items()}
        reference = None  # every run must write the same output
        self.turns = sum(n for n, _ in per_bucket.values())
        in_bytes = sum(b for _, b in per_bucket.values())
        self.corpus_pd = pd.read_parquet(
            self.corpus, columns=["conv_id", "turn_idx", "text"]
        )

        def timed(rec):
            run_with_resume(
                spark, spark.read.parquet(self.corpus), out, markers, n_buckets=N_BUCKETS
            )

        def check(rec):
            nonlocal reference
            rec["files_written"], rec["bytes_written"] = tree_size(out, markers)
            problems, got = checks.check_output(spark, out, markers, expected)
            if reference is None:
                reference = got
            elif got != reference:
                problems.append(f"output digest {got} != first run's {reference}")
            if not self.records:
                written = spark.read.parquet(out)
                problems += checks.check_turn_seq(written)
                problems += checks.check_sample(written, self.corpus_pd, self.seed)
            return problems

        self.records = []
        measured = 0.0
        with WorkerRssSampler() as rss, self.tagging():
            while len(self.records) <= self.min_timed or measured < self.seconds:
                for d in (out, markers):
                    shutil.rmtree(d, ignore_errors=True)
                rec = self.attempt("run_with_resume", timed, check, iteration=self.attempted)
                if rec is None:
                    break  # a failing program is reported, not retried
                if self.records:  # the first run only primes the JIT
                    measured += rec["job_s"]
                self.records.append(rec)
        self.records = self.records[1:]
        job_s = _median([r["job_s"] for r in self.records])
        return {
            "setup_s": self.setup_s,
            "job_s": job_s,
            "turns_per_s": self.turns / job_s if job_s else 0.0,
            "worker_rss_peak_mb": rss.peak_mb,
            "out_bytes_per_in_byte": _median(
                [r["bytes_written"] for r in self.records]
            )
            / max(1, in_bytes),
        }

    def kernel_layer(self) -> dict:
        from pyspark.sql import functions as F

        import kernelprobe
        from service1_text_extraction_spark.pipeline import run_extraction

        corpus = self.spark.read.parquet(self.corpus)
        out = {}
        with self.tracer.span("extract.noop"):
            t0 = time.perf_counter()
            run_extraction(self.spark, corpus, n_buckets=N_BUCKETS).write.format(
                "noop"
            ).mode("overwrite").save()
            out["extract.noop_s"] = time.perf_counter() - t0
        per_part = (
            corpus.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("text").alias("d"))
            .collect()
        )
        rows = sum(r.n for r in per_part)
        out["extract.dup_frac"] = 1.0 - sum(r.d for r in per_part) / max(1, rows)
        sample = self.corpus_pd.sample(
            n=min(KERNEL_SAMPLE, len(self.corpus_pd)), random_state=self.seed
        )["text"].tolist()
        with self.tracer.span("kernels.sample"):
            out.update(kernelprobe.profile(sample))
        return out

    def layers(self, log) -> dict:
        import eventlog

        corpus_abs = os.path.abspath(self.corpus)
        per_run = []
        for rec in self.records:
            sp = rec["span"]
            jobs = log.jobs_between(sp["start_ms"], sp["end_ms"])
            execs = {j.execution_id for j in jobs} & set(log.executions)
            udf_execs = {e for e in execs if log.executions[e].python_row_accums}
            udf_jobs = [j for j in jobs if j.execution_id in udf_execs]
            book_jobs = [j for j in jobs if j.execution_id not in udf_execs]
            stages = log.stages_of(udf_jobs)
            udf_st = [s for s in stages if s.sql.get(eventlog.PY_SENT, 0) > 0]
            write_st = [s for s in stages if s not in udf_st]
            py_rows = sum(
                s.accum.get(a, 0.0)
                for s in stages
                for e in udf_execs
                for a in log.executions[e].python_row_accums
            )
            scans = sum(
                line.startswith("Location:") and corpus_abs in line
                for e in execs
                for line in log.executions[e].plan.splitlines()
            )

            def sql(name, sts=stages):
                return sum(s.sql.get(name, 0.0) for s in sts)

            per_run.append(
                {
                    "extract.udf_stage_s": sum(s.wall_s for s in udf_st),
                    "extract.udf_task_skew": max(
                        (s.task_skew for s in udf_st), default=0.0
                    ),
                    "extract.python_time_s": sql(eventlog.PY_RUN),
                    "extract.python_boot_init_s": sum(
                        s.python_boot_init_s for s in stages
                    ),
                    "extract.arrow_bytes_sent": sql(eventlog.PY_SENT),
                    "extract.arrow_bytes_received": sql(eventlog.PY_RECV),
                    "extract.window_shuffle_bytes": sum(
                        s.shuffle_read_bytes for s in write_st
                    ),
                    "extract.window_task_skew": max(
                        (s.task_skew for s in write_st), default=0.0
                    ),
                    "extract.spill_bytes": sum(s.spill_bytes for s in stages),
                    "checkpoint.write_stage_s": sum(s.wall_s for s in write_st),
                    "checkpoint.files_written": rec["files_written"],
                    "checkpoint.bytes_written": rec["bytes_written"],
                    "checkpoint.bookkeeping_s": eventlog.union_s(
                        [(j.submit_ms, j.end_ms) for j in book_jobs]
                    ),
                    "checkpoint.spark_jobs": len(jobs),
                    "checkpoint.input_scans": scans,
                    "checkpoint.extracted_per_pending": py_rows / max(1, self.turns),
                    "trace.job_s": rec["job_s"],
                    "trace.spark_job_share": eventlog.union_s(
                        [(j.submit_ms, j.end_ms) for j in jobs]
                    )
                    / max(1e-9, sp["dur_s"]),
                }
            )
            by_site: dict[str, float] = {}
            for j in book_jobs:
                by_site[j.key] = by_site.get(j.key, 0.0) + j.wall_s
            rec["span"]["bookkeeping_by_site"] = by_site
        return {k: _median([p[k] for p in per_run]) for k in (per_run[0] if per_run else ())}


class Curate(Bench):
    """``curate_ops``: each operator into a parquet sink, DuckDB-checked."""

    min_timed = 2

    def warmup(self) -> None:
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def touch(ids: pd.Series) -> pd.Series:
            import service1_text_extraction_spark.functions.dedup  # noqa: F401
            import service1_text_extraction_spark.functions.similarity  # noqa: F401
            import service1_text_extraction_spark.functions.textstats  # noqa: F401

            return ids

        cores = _cores()
        self.spark.range(0, 64 * cores, 1, cores).select(touch("id")).write.format(
            "noop"
        ).mode("overwrite").save()

    def measure(self) -> dict:
        import bench_registry
        import checks
        from probes import WorkerRssSampler, persisted_rdds, tree_size

        spark = self.spark
        sc = spark.sparkContext
        oracle = checks.OracleParity(self.inputs)

        def run_op(op):
            dest = os.path.join(self.scratch, op)

            def timed(rec):
                sc.setJobDescription(f"op {op}")
                try:
                    bench_registry.FRAMES[op](spark, self.inputs).write.mode(
                        "overwrite"
                    ).parquet(dest)
                finally:
                    sc.setJobDescription(None)

            def check(rec):
                rec["blocks"] = persisted_rdds(spark)
                rec["bytes_written"] = tree_size(dest)[1]
                return oracle.check(op, dest)

            return self.attempt("op", timed, check, op=op)

        self.passes = []
        measured = 0.0
        try:
            with WorkerRssSampler() as rss, self.tagging():
                while len(self.passes) <= self.min_timed or measured < self.seconds:
                    with self.tracer.span("pass", index=len(self.passes)) as sp:
                        recs = {op: run_op(op) for op in CURATE_OPS}
                    if None in recs.values():
                        break  # a failing program is reported, not retried
                    if self.passes:  # the first pass only primes the JIT
                        measured += sum(r["job_s"] for r in recs.values())
                    self.passes.append({"span": sp, "ops": recs})
        finally:
            oracle.close()
        self.passes = self.passes[1:]
        # per operator, the median over timed passes; job_s is their sum
        self.op_s = {
            op: _median([p["ops"][op]["job_s"] for p in self.passes])
            for op in CURATE_OPS
        }
        out_bytes = [
            sum(r["bytes_written"] for r in p["ops"].values()) for p in self.passes
        ]
        job_s = sum(self.op_s.values()) if self.passes else 0.0
        return {
            "setup_s": self.setup_s,
            "job_s": job_s,
            "turns_per_s": self.stats["documents"] / job_s if job_s else 0.0,
            "worker_rss_peak_mb": rss.peak_mb,
            "out_bytes_per_in_byte": _median(out_bytes) / self.stats["payload_bytes"],
        }

    def layers(self, log) -> dict:
        import eventlog

        per_pass = []
        for p in self.passes:
            sp = p["span"]
            jobs = log.jobs_between(sp["start_ms"], sp["end_ms"])
            stages = log.stages_of(jobs)
            per_pass.append(
                {
                    "functions.shuffle_bytes": sum(
                        s.shuffle_write_bytes for s in stages
                    ),
                    "functions.spill_bytes": sum(s.spill_bytes for s in stages),
                    "functions.spark_jobs": len(jobs),
                    "functions.storage_blocks": p["ops"][CURATE_OPS[-1]]["blocks"],
                    "trace.spark_job_share": eventlog.union_s(
                        [(j.submit_ms, j.end_ms) for j in jobs]
                    )
                    / max(1e-9, sp["dur_s"]),
                }
            )
            sp["storage_blocks_after_op"] = {
                op: r["blocks"] for op, r in p["ops"].items()
            }
        layer = {
            k: _median([p[k] for p in per_pass]) for k in (per_pass[0] if per_pass else ())
        }
        layer.update({f"functions.{op}.s": t for op, t in self.op_s.items()})
        layer["trace.job_s"] = sum(self.op_s.values())
        return layer


WORKLOADS = {"fresh_mixed": Extraction, "curate_ops": Curate}


def _isolate() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout's work directory, and let workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir if set
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE) or not os.path.isfile(
        os.path.join(ROOT, "bench_registry.py")
    ):
        print(
            "perfbench: the program (service1_text_extraction_spark, "
            "bench_registry.py) is not beside perfbench/",
            file=sys.stderr,
        )
        return 2
    _isolate()
    bench = WORKLOADS[args.workload](
        args.workload, args.seed, args.seconds, bool(args.trace)
    )
    result = bench.run()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
