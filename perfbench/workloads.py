"""The benchmark's workloads. Each runs as a closed loop with one client:
the next call starts when the previous one returns.

A workload is a cycle repeated until the measuring window closes:

- daily_ingest: land the next DAYS daily drops with `run_pipeline`, one
  call per day, on a warehouse that keeps every earlier day, and re-run
  it REFRESHES times with nothing new: one re-run after each day, the
  rest at the end.
- query_mix: make one pass over MIX in its fixed order, cut into
  REFRESHES parts; after each part drain cache pins and `build_star` +
  `run_dq`.

A refresh (no-op pipeline re-run, star build + DQ) is short enough for
one burst of host contention to move it, so each cycle runs it
REFRESHES times, spread through the cycle rather than back to back, and
`refresh_s` reports the median.

Every call's output is checked outside the timed region; a call that
raises or returns a wrong result counts as failed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq
from check_oracle import TABLES, compare

from drops import KEYS, NOT_NULL, RENAMES, SOURCES, write_day
from tables import write_tables

# Analyst queries over the star schema's source tables (TPC-H shapes,
# analytics, quality and the star fact), then LLM-corpus queries (dedup,
# text statistics, retrieval, vector search, packing). The corpus list
# is cut to what fits a run's time: knn_classify_ivf alone took 16 s on
# a run's first pass at scale 0.01; near_dedup_layered, contamination and
# bigram_surprisal repeat the Jaccard, decontamination and n-gram
# explode-aggregate-join work of near_dedup and training_pipeline.
# The order is fixed: a query early in the pass pays JIT warm-up for
# operators the later ones share, so a seed-dependent order would move
# the medians between seeds.
MIX = (
    "multi_join", "min_cost_supplier", "rfm_segments", "dq_suite",
    "star_fact_complaints",
    "training_pipeline", "near_dedup", "text_profile", "bm25_retrieval",
    "vector_topk",
)
# Scale of the generated analytics tables: 300k lineitem rows, 2500
# documents, 1300 embeddings. Half the planned sf0.1, where a run took
# 68-71 s, too long for 4 + 22 runs per workload (see METRICS.md).
SCALE = 0.05


class Samples:
    """Timings and outcomes one run collects."""

    def __init__(self) -> None:
        self.ops: list[float] = []
        self.cycles: list[float] = []
        self.refresh: list[float] = []
        self.op_rows: list[int] = []
        self.extra: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def outcome(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"{what}: {problem}")

    def raised(self, what: str, e: Exception) -> None:
        """A call that raised counts as failed; the run carries on."""
        traceback.print_exc()
        self.outcome(what, f"raised {e!r:.300}")


def _files(path: str) -> set[str]:
    if not os.path.isdir(path):
        return set()
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


class DailyIngest:
    """Set-up's cold first batch lands day 0 into an empty warehouse. Each
    cycle lands the next DAYS days on top of it, one `run_pipeline` call
    per day, then re-runs the pipeline with nothing new. The warehouse is
    kept from cycle to cycle, so the manifest and the staging history
    grow with every day. A day's drops are generated into the raw
    directories before it is landed, outside the timed region (day 0's
    before set-up starts). After a call that raised, the warehouse state
    is unknown, so the workload starts again from an empty one."""

    name = "daily_ingest"
    # Two days per cycle, not three: with three a run took 64 s (see
    # METRICS.md).
    DAYS = 2
    REFRESHES = 3
    ROWS = {"call_logs": 50_000, "social": 25_000, "web_complaints": 25_000}

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.base = os.path.join(work, "warehouse")
        self.config = self._config(self.base)
        self._reset()

    def _reset(self) -> None:
        """Start an empty warehouse with day 0's drops waiting in it."""
        shutil.rmtree(self.base, ignore_errors=True)
        for src in SOURCES:
            os.makedirs(os.path.join(self.base, "raw", src))
        self.plan: list[dict] = []  # expected outcome of each day landed
        self.waiting = write_day(
            os.path.join(self.base, "raw"), self.seed, 0, self.ROWS)

    def _config(self, base: str):
        from core_telecoms_etl_spark.pipeline import PipelineConfig, SourceConfig

        return PipelineConfig(
            sources=[
                SourceConfig(
                    name=src,
                    fmt=fmt,
                    raw_dir=os.path.join(base, "raw", src),
                    rename_map=RENAMES[src],
                    audit_not_null=(KEYS[src],) + NOT_NULL,
                    audit_unique=(KEYS[src],),
                )
                for src, (fmt, *_) in SOURCES.items()
            ],
            staging_dir=os.path.join(base, "staging"),
            manifest_path=os.path.join(base, "manifest"),
        )

    def _land(self, spark, tr, s: Samples) -> float:
        """Land the next day's drops; returns the call's time, or -1 if it
        raised."""
        from core_telecoms_etl_spark.pipeline import run_pipeline

        base, day = self.base, len(self.plan)
        expect = self.waiting or write_day(
            os.path.join(base, "raw"), self.seed, day, self.ROWS)
        self.waiting = None
        self.plan.append(expect)
        before = {src: _files(os.path.join(base, "staging", src)) for src in expect}
        t0 = time.perf_counter()
        try:
            with tr.span("pipeline.run_pipeline", day=day):
                report = run_pipeline(spark, self.config)
        except Exception as e:
            s.raised(f"day {day}", e)
            self._reset()
            return -1.0
        dt = time.perf_counter() - t0
        problems = []
        files_out = 0
        for src, e in expect.items():
            if report.loads[src].new_files != [e.file]:
                problems.append(f"{src} loaded {report.loads[src].new_files}")
            got = {(r.check, r.column): r.violations for r in report.audits.get(src, [])}
            if got != e.audits:
                problems.append(f"{src} audits {got} != {e.audits}")
            new = _files(os.path.join(base, "staging", src)) - before[src]
            rows = sum(
                pq.read_metadata(os.path.join(base, "staging", src, f)).num_rows
                for f in new
            )
            if rows != e.landed_rows:
                problems.append(f"{src} landed {rows} rows != {e.landed_rows}")
            files_out += len(new)
        s.extra["files_out"].append(files_out)
        s.outcome(f"day {day}", "; ".join(problems))
        return dt

    def cold_op(self, spark, tr, s: Samples) -> None:
        self._land(spark, tr, s)

    def warm_up(self, spark, tr, s: Samples) -> None:
        """No warm-up: a batch changes the warehouse, so it cannot be run
        untimed and then repeated, and `op_gmean_s` spread 0.07-0.15 over
        ten runs without one."""

    def _noop(self, spark, tr, s: Samples) -> float:
        """Re-run the pipeline with nothing new; returns the call's time,
        or -1 if it raised."""
        from core_telecoms_etl_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        try:
            with tr.span("pipeline.run_pipeline", day="noop"):
                report = run_pipeline(spark, self.config)
        except Exception as e:
            s.raised("no-op re-run", e)
            self._reset()
            return -1.0
        dt = time.perf_counter() - t0
        new = report.total_new_files
        s.outcome("no-op re-run", f"{new} new files" if new else None)
        return dt

    def cycle(self, spark, tr, s: Samples) -> None:
        if not self.plan and self._land(spark, tr, s) < 0:
            return  # day 0 of a new warehouse failed too
        timed = 0.0
        for i in range(max(self.DAYS, self.REFRESHES)):
            if i < self.DAYS:
                dt = self._land(spark, tr, s)
                if dt < 0:
                    return
                s.ops.append(dt)
                s.op_rows.append(sum(e.raw_rows for e in self.plan[-1].values()))
                timed += dt
            if i < self.REFRESHES:
                dt = self._noop(spark, tr, s)
                if dt < 0:
                    return
                s.refresh.append(dt)
                timed += dt
        s.cycles.append(timed)
        want = {(src, e.file) for day in self.plan for src, e in day.items()}
        manifest = pq.read_table(self.config.manifest_path).to_pylist()
        got = sorted((r["folder_name"], r["file_name"]) for r in manifest)
        s.outcome("manifest", None if got == sorted(want) else
                  f"{len(got)} entries, want {len(want)}")
        raw = sum(e.raw_bytes for day in self.plan for e in day.values())
        out = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(self.base, "staging"))
            for f in fs if f.endswith(".parquet")
        )
        s.extra["bytes_out_per_raw_byte"].append(out / raw)
        s.extra["manifest_files"].append(len(_files(self.config.manifest_path)))


class QueryMix:
    """Make one pass over MIX, checking every query against its DuckDB
    oracle, and rebuild and audit the star schema REFRESHES times: after
    each of the REFRESHES parts the pass is cut into, one rebuild. Every
    part and every rebuild starts from drained cache pins. Set-up's cold
    first operation is the star build, followed by WARM_UPS untimed
    rebuilds. The rebuilds are spread through the pass rather than run
    back to back after it, so one burst of host contention does not move
    all of them."""

    name = "query_mix"
    REFRESHES = 3
    # A star rebuild was still speeding up over its first few calls
    # (cold about 8 s, then about 3.1, 2.6 and 2.5 s); two untimed
    # rebuilds after set-up cut the run-to-run spread of `refresh_s`
    # over five runs from 0.18 to 0.06.
    WARM_UPS = 2

    def prepare(self, work: str, seed: int) -> None:
        from core_telecoms_etl_spark import queries

        self.data = os.path.join(work, "data")
        write_tables(self.data, seed, SCALE)
        queries.queries()  # loads every query module into the registry
        con = duckdb.connect(config={
            "memory_limit": "2GB", "threads": os.cpu_count(),
            "temp_directory": os.path.join(work, "duckdb")})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data, t + '.parquet')}'")
        self.fns, self.family, self.want = {}, {}, {}
        for n in MIX:
            spec = queries.REGISTRY[n]
            self.fns[n] = spec.fn
            self.family[n] = spec.fn.__module__.rsplit(".", 1)[1]
            self.want[n] = con.execute(spec.oracle).df()
        con.close()

    def _query(self, spark, name: str, tr, s: Samples) -> float:
        fam = self.family[name]
        t0 = time.perf_counter()
        try:
            with tr.span(f"queries.{fam}.build", query=name):
                df = self.fns[name](spark, self.data)
            with tr.span(f"queries.{fam}.exec", query=name):
                got = df.toPandas()
        except Exception as e:
            s.raised(name, e)
            return -1.0
        dt = time.perf_counter() - t0
        s.outcome(name, "; ".join(compare(name, got, self.want[name])))
        return dt

    def _star(self, spark, tr, s: Samples) -> float:
        from core_telecoms_etl_spark.plans.star import build_star

        t0 = time.perf_counter()
        try:
            with tr.span("plans.build"):
                built, reg = build_star(spark, self.data)
            with tr.span("plans.run_dq"):
                results = reg.run_dq(built)
        except Exception as e:
            s.raised("build_star", e)
            return -1.0
        dt = time.perf_counter() - t0
        bad = [f"{m}.{r.check}({r.column})={r.violations}"
               for m, rs in results.items() for r in rs if not r.passed]
        n_fact = built["fact_complaints"].count()
        if n_fact != len(self.want["star_fact_complaints"]):
            bad.append(f"fact_complaints has {n_fact} rows")
        s.outcome("build_star", "; ".join(bad))
        return dt

    def cold_op(self, spark, tr, s: Samples) -> None:
        self._star(spark, tr, s)

    def warm_up(self, spark, tr, s: Samples) -> None:
        for _ in range(self.WARM_UPS):
            self._drain(spark, tr)
            self._star(spark, tr, s)

    def _drain(self, spark, tr) -> None:
        from core_telecoms_etl_spark.caching import release_caches

        with tr.span("bench.drain"):
            release_caches()
            spark.catalog.clearCache()

    def cycle(self, spark, tr, s: Samples) -> None:
        timed = 0.0
        cuts = [len(MIX) * k // self.REFRESHES for k in range(self.REFRESHES + 1)]
        for lo, hi in zip(cuts, cuts[1:]):
            self._drain(spark, tr)
            for name in MIX[lo:hi]:
                dt = self._query(spark, name, tr, s)
                if dt >= 0:
                    s.ops.append(dt)
                    timed += dt
            self._drain(spark, tr)
            dt = self._star(spark, tr, s)
            if dt < 0:
                return
            s.refresh.append(dt)
            timed += dt
        s.cycles.append(timed)


WORKLOADS = {w.name: w for w in (DailyIngest, QueryMix)}
