"""Per-layer metrics from a traced run's spans.

Every metric is reported on every workload; a layer a workload does not
reach reads 0. A time is the median over the calls (or, where named
"per batch", over the daily batches) of the traced run; job, stage
and task counts include the spans nested under a call.
`trace.cycle_s` is the traced run's cycle time: minus the untraced
run's `cycle_s` it is the tracing overhead (repeat.py --trace reports
it).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

FAMILIES = ("relational", "analytics", "quality", "star", "text", "vector")


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _subtree_totals(spans: list[dict]) -> dict[int, dict[str, int]]:
    """Jobs/stages/tasks of each span plus everything nested under it.
    Spans are recorded as they close, so children precede parents."""
    keys = ("jobs", "stages", "tasks")
    tot: dict[int, dict[str, int]] = defaultdict(lambda: dict.fromkeys(keys, 0))
    for sp in spans:
        for k in keys:
            tot[sp["id"]][k] += sp.get(k, 0)
        if sp["parent"] is not None:
            for k in keys:
                tot[sp["parent"]][k] += tot[sp["id"]][k]
    return tot


def _ancestor(sp, by_id, names) -> int | None:
    p = sp["parent"]
    while p is not None:
        if by_id[p]["name"] in names:
            return p
        p = by_id[p]["parent"]
    return None


def per_layer(spans, s, *, get_spark_s: float,
              cpu_busy: float) -> dict[str, tuple[float, str, int]]:
    by_id = {sp["id"]: sp for sp in spans}
    by_name: dict[str, list[dict]] = defaultdict(list)
    for sp in spans:
        by_name[sp["name"]].append(sp)
    tot = _subtree_totals(spans)
    dur = lambda sp: sp["end"] - sp["start"]  # noqa: E731

    batches = [sp for sp in by_name["pipeline.run_pipeline"] if sp["day"] != "noop"]
    batch_ids = {sp["id"] for sp in batches}

    def per_batch(layer: str, value) -> list[float]:
        acc = dict.fromkeys(batch_ids, 0.0)
        for sp in by_name[layer]:
            b = _ancestor(sp, by_id, {"pipeline.run_pipeline"})
            if b in acc:
                acc[b] += value(sp)
        return list(acc.values())

    def grouped(layer: str, parents: set[str]) -> list[float]:
        acc: dict[int | None, float] = defaultdict(float)
        for sp in by_name[layer]:
            acc[_ancestor(sp, by_id, parents)] += dur(sp)
        return list(acc.values())

    jobs = lambda sp: tot[sp["id"]]["jobs"]  # noqa: E731
    raw_scans = [
        a + b + c for a, b, c in zip(
            per_batch("sources.readers.read", jobs),
            per_batch("operators.dq.run_checks", jobs),
            per_batch("sources.writers.write", jobs),
        )
    ]
    lookups = by_name["sources.incremental.lookup"]
    files_out = s.extra.get("files_out", [])
    m = {
        "session.get_spark_s": (get_spark_s, "s", 1),
        "sources.readers.read_s": (_med(per_batch("sources.readers.read", dur)), "s", len(batches)),
        "sources.readers.jobs": (_med(per_batch("sources.readers.read", jobs)), "count", len(batches)),
        "sources.incremental.lookup_s": (_med(map(dur, lookups)), "s", len(lookups)),
        "sources.incremental.record_s": (
            _med(map(dur, by_name["sources.incremental.record"])), "s",
            len(by_name["sources.incremental.record"])),
        "sources.incremental.manifest_files": (
            max(s.extra.get("manifest_files", [0])), "count",
            len(s.extra.get("manifest_files", []))),
        "sources.incremental.jobs_per_lookup": (_med(map(jobs, lookups)), "count", len(lookups)),
        "sources.writers.write_s": (_med(per_batch("sources.writers.write", dur)), "s", len(batches)),
        "sources.writers.bytes_out_per_raw_byte": (
            _med(s.extra.get("bytes_out_per_raw_byte", [])), "ratio",
            len(s.extra.get("bytes_out_per_raw_byte", []))),
        "sources.writers.files_out": (_med(files_out), "count", len(files_out)),
        "pipeline.raw_scans_per_batch": (_med(raw_scans), "count", len(raw_scans)),
        "operators.dq.run_checks_s": (
            _med(grouped("operators.dq.run_checks",
                         {"pipeline.run_pipeline", "plans.run_dq"})), "s",
            len(by_name["operators.dq.run_checks"])),
        "plans.build_s": (_med(map(dur, by_name["plans.build"])), "s", len(by_name["plans.build"])),
        "plans.run_dq_s": (_med(map(dur, by_name["plans.run_dq"])), "s", len(by_name["plans.run_dq"])),
    }
    for fam in FAMILIES:
        build = by_name[f"queries.{fam}.build"]
        execs = by_name[f"queries.{fam}.exec"]
        calls = list(zip(build, execs))
        per_call = lambda k: [tot[b["id"]][k] + tot[e["id"]][k] for b, e in calls]  # noqa: E731
        m[f"queries.{fam}.build_s"] = (_med(map(dur, build)), "s", len(build))
        m[f"queries.{fam}.exec_s"] = (_med(map(dur, execs)), "s", len(execs))
        m[f"queries.{fam}.stages"] = (_med(per_call("stages")), "count", len(calls))
        m[f"queries.{fam}.tasks"] = (_med(per_call("tasks")), "count", len(calls))

    scoped = by_name["caching.scoped"]
    cycles = by_name["cycle"]
    per_cycle = defaultdict(int)
    for sp in scoped:
        per_cycle[_ancestor(sp, by_id, {"cycle"})] += 1
    stages = sum(sp.get("stages", 0) for sp in spans)
    m.update({
        "caching.scoped_calls": (
            _med(per_cycle.get(c["id"], 0) for c in cycles), "count", len(cycles)),
        "caching.scoped_reuse_ratio": (
            sum(sp["reuse"] for sp in scoped) / len(scoped) if scoped else 0.0,
            "ratio", len(scoped)),
        "caching.release_s": (
            _med(map(dur, by_name["caching.release"])), "s",
            len(by_name["caching.release"])),
        "spark.single_task_stage_share": (
            sum(sp.get("single_task_stages", 0) for sp in spans) / stages
            if stages else 0.0, "ratio", stages),
        "spark.cpu_busy_ratio": (cpu_busy, "ratio", 1),
        "spark.failed_tasks": (
            sum(sp.get("failed_tasks", 0) for sp in spans), "count", stages),
        "trace.cycle_s": (_med(s.cycles), "s", len(s.cycles)),
    })
    return m
