"""Outside-in probes: spans, worker memory, directory sizes, cached RDDs,
and call-site tags on Spark actions.

Nothing here changes the program under test. Spans are kept in memory
and written once; the worker-memory sampler reads ``/proc``; the
call-site tags only set Spark's job description around the program's
own ``collect``/``count``/write calls so that each Spark job in the
event log names the source line that started it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
import uuid


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000.0
            self._stack.pop()

    def add(self, name: str, start_ms: float, end_ms: float, parent, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "start_ms": start_ms,
            "end_ms": end_ms,
            "dur_s": (end_ms - start_ms) / 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def innermost(self, start_ms: float, end_ms: float, names: set[str]):
        """The shortest named span that covers [start_ms, end_ms]."""
        best = None
        for s in self.spans:
            if (
                s["name"] in names
                and s["end_ms"] is not None
                and s["start_ms"] <= start_ms
                and end_ms <= s["end_ms"] + 1.0
                and (best is None or s["dur_s"] < best["dur_s"])
            ):
                best = s
        return best

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after ")" do not
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _hwm_kb(pid: int) -> int:
    """Peak resident set of one process (``VmHWM``), in kB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Highest peak RSS of any Spark Python worker under this process.

    Polls ``/proc`` in a thread while active; a worker's ``VmHWM`` is
    its own lifetime peak, so sampling misses only workers that start
    and exit between two polls."""

    POLL_S = 0.5

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            if _is_python_worker(pid):
                self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.POLL_S):
            self.sample()

    def __enter__(self) -> "WorkerRssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_size(*paths: str) -> tuple[int, int]:
    """(files, bytes) under ``paths``; a missing path adds nothing."""
    files = size = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def persisted_rdds(spark) -> int:
    """RDDs the JVM still holds as persisted or locally checkpointed."""
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


@contextlib.contextmanager
def tag_actions(spark, tracer: Tracer, roots: tuple[str, ...]):
    """While active, each ``collect``/``count``/write/parquet-read issued
    from a file under one of ``roots`` runs with the job description
    ``<file>:<line> <action>`` and gets a span of its own."""
    from pyspark.sql import readwriter
    from pyspark.sql.classic import dataframe

    sc = spark.sparkContext
    targets = [
        (dataframe.DataFrame, "collect"),
        (dataframe.DataFrame, "count"),
        (readwriter.DataFrameWriter, "parquet"),
        (readwriter.DataFrameWriter, "save"),
        (readwriter.DataFrameReader, "parquet"),
    ]
    saved = [(cls, name, cls.__dict__[name]) for cls, name in targets]

    def wrap(orig, action):
        @functools.wraps(orig)
        def tagged(*args, **kwargs):
            frame = sys._getframe(1)
            path = frame.f_code.co_filename
            if not path.startswith(roots) or sc.getLocalProperty(
                "perfbench.tagged"
            ):
                return orig(*args, **kwargs)
            site = f"{os.path.basename(path)}:{frame.f_lineno} {action}"
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(site)
            sc.setLocalProperty("perfbench.tagged", "1")
            try:
                with tracer.span("spark.action", site=site):
                    return orig(*args, **kwargs)
            finally:
                sc.setLocalProperty("perfbench.tagged", None)
                sc.setJobDescription(prev)

        return tagged

    for cls, name, orig in saved:
        setattr(cls, name, wrap(orig, name))
    try:
        yield
    finally:
        for cls, name, orig in saved:
            setattr(cls, name, orig)
