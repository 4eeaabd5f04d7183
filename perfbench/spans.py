"""In-memory spans around calls into the engine's layers, plus the
process probes (CPU time, peak RSS) the metrics need.

A span records name, start, end, parent and the Spark jobs it launched.
Each span sets its own job group while it is open (restoring the
enclosing one after), so `statusTracker` attributes every job to the
innermost open span. The tracker reads a status store that the listener
bus fills asynchronously, so job, stage and task counts are read when the
outermost span closes, after the bus has delivered every event so far.
Spans are timed from outside the engine: `install` wraps the public
functions of each layer wherever the engine's modules reference them,
and the benchmark opens spans around its own calls.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans of the given session's work. Without a session the
    tracer is off: its spans record nothing and cost nothing."""

    def __init__(self, spark=None) -> None:
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._pending: list[tuple[str, dict]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sc = self._sc
        if sc is None:
            yield attrs
            return
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        group = f"perfbench-{os.getpid()}-{sid}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)
            self._pending.append((group, rec))
            if not self._stack:
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                for g, r in self._pending:
                    self._count_jobs(sc, g, r)
                self._pending.clear()

    def _count_jobs(self, sc, group: str, rec: dict) -> None:
        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stages = tasks = single = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for stid in info.stageIds if info else ():
                if stid in self._seen_stages:
                    continue
                st = tracker.getStageInfo(stid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                self._seen_stages.add(stid)
                stages += 1
                tasks += st.numTasks
                single += st.numTasks == 1
                failed += st.numFailedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                   single_task_stages=single, failed_tasks=failed)

    def wrap(self, name: str, fn, on_result=None):
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        traced.__wrapped__ = fn
        return traced


def _replace_everywhere(orig, new, prefix: str = "core_telecoms_etl_spark") -> None:
    """Point every engine-module reference to `orig` at `new`."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(prefix):
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, new)


def install(tracer: Tracer) -> None:
    """Wrap each measured layer's public entry points with spans."""
    from core_telecoms_etl_spark import caching
    from core_telecoms_etl_spark.operators import dq
    from core_telecoms_etl_spark.sources import readers, writers
    from core_telecoms_etl_spark.sources.incremental import IncrementalLoader

    for orig, name in (
        (readers.read_csv, "sources.readers.read"),
        (readers.read_json, "sources.readers.read"),
        (writers.write_parquet, "sources.writers.write"),
        (dq.run_checks, "operators.dq.run_checks"),
        (caching.release_caches, "caching.release"),
    ):
        _replace_everywhere(orig, tracer.wrap(name, orig))

    def scoped_result(rec, args, out):
        rec["reuse"] = out is not args[1]  # df.cache() returns df itself

    orig = caching.cache_scoped
    _replace_everywhere(orig, tracer.wrap("caching.scoped", orig, scoped_result))
    IncrementalLoader.new_files = tracer.wrap(
        "sources.incremental.lookup", IncrementalLoader.new_files
    )
    IncrementalLoader.record = tracer.wrap(
        "sources.incremental.record", IncrementalLoader.record
    )


# --- process probes ---------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds(pids) -> float:
    """User + system CPU of the processes, including reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024
