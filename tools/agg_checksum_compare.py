"""Aggregate-checksum differential for results too large to collect.

The standard `check_oracle` harness collects BOTH sides into pandas and
compares values exactly — the right gate at sf0.01..sf1, but a
grid-shaped result at sf10 (~420M rows for time_grid_fill: span-fixed
generator × 10× keys) cannot cross the driver at all. This tool keeps
the differential ENGINE-SIDE on both engines: it wraps the Spark query
and the DuckDB oracle in the same aggregate layer and compares the
scalars —

  - count(*)
  - per numeric column: sum (rounded to 6dp pre-sum on both sides),
    min, max, count of non-nulls
  - per string column: count distinct, min, max, count of non-nulls
  - per timestamp column: min, max, count distinct

A float sum over ~10^8 rows differs across engines only by
accumulation order; compare with rel-tol 1e-9 (both engines sum
float64 over the SAME rounded values — observed agreement is far
tighter; anything past 1e-9 is a real row difference, not order).

Usage: SF_DIR=/tmp/spark_graft_sf10 python tools/agg_checksum_compare.py \
           time_grid_fill time_grid_interpolate

INVARIANT MODE (VERDICT r12 ask #3): `--invariants name...` gates the
two iterative operators whose DuckDB oracles exceed the box past sf1-2
(pagerank's 5-CTE unroll spills >77 GB tmp; dedup_clusters' recursive
CTE likewise) with ENGINE-SIDE algebraic invariants instead of a
cross-engine differential:

  - pagerank_copurchase: node-set closure (one rank row per catalog
    part), rank-mass conservation (sum of ranks equals the damping
    recurrence's closed form given the measured dangling mass, within
    the 9dp-snap accumulation bound), and the teleport floor
    (min rank >= (1-d)/n).
  - dedup_clusters: label consistency (every near-dup pair's endpoints
    carry the SAME component — zero cross-component edges), min-label
    fixed point (each component id IS the min node of its cluster, and
    appears as a member), closure (assignment rows == nodes of the
    edge set), and re-run stability (two independent executions agree
    on cluster count + aggregate checksums). Pairs come from the
    minhash-banded + exact-re-score route — pair-set-identical to the
    gate's exact arm at every value-verified scale (sf2 full-value,
    r12) and the only arm that finishes at sf10.

Both also print the Spark-side aggregate checksums so BASELINE.md can
record decade rows.
"""

from __future__ import annotations

import math
import os
import sys
import time

from check_oracle import connect

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REL_TOL = 1e-9


def spark_aggs(sdf):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for f in sdf.schema.fields:
        c, n = F.col(f.name), f.name
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
            aggs += [
                F.sum(F.round(c.cast("double"), 6)).alias(f"{n}__sum"),
                F.min(c.cast("double")).alias(f"{n}__min"),
                F.max(c.cast("double")).alias(f"{n}__max"),
                F.count(c).alias(f"{n}__nn"),
            ]
        elif isinstance(
            f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            aggs += [
                F.sum(c.cast("long")).alias(f"{n}__sum"),
                F.min(c).alias(f"{n}__min"),
                F.max(c).alias(f"{n}__max"),
                F.count(c).alias(f"{n}__nn"),
            ]
        elif isinstance(f.dataType, T.StringType):
            aggs += [
                F.countDistinct(c).alias(f"{n}__nd"),
                F.min(c).alias(f"{n}__min"),
                F.max(c).alias(f"{n}__max"),
                F.count(c).alias(f"{n}__nn"),
            ]
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            aggs += [
                F.countDistinct(c).alias(f"{n}__nd"),
                F.min(c).cast("string").alias(f"{n}__min"),
                F.max(c).cast("string").alias(f"{n}__max"),
            ]
    return {k: v for k, v in sdf.agg(*aggs).collect()[0].asDict().items()}


def duck_aggs(con, oracle: str, sdf_schema) -> dict:
    from pyspark.sql import types as T

    parts = ["count(*) AS n_rows"]
    for f in sdf_schema.fields:
        n = f.name
        q = f'"{n}"'
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
            parts += [
                f"sum(round(CAST({q} AS DOUBLE), 6)) AS {n}__sum",
                f"min(CAST({q} AS DOUBLE)) AS {n}__min",
                f"max(CAST({q} AS DOUBLE)) AS {n}__max",
                f"count({q}) AS {n}__nn",
            ]
        elif isinstance(
            f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            parts += [
                f"sum(CAST({q} AS BIGINT)) AS {n}__sum",
                f"min({q}) AS {n}__min",
                f"max({q}) AS {n}__max",
                f"count({q}) AS {n}__nn",
            ]
        elif isinstance(f.dataType, T.StringType):
            parts += [
                f"count(DISTINCT {q}) AS {n}__nd",
                f"min({q}) AS {n}__min",
                f"max({q}) AS {n}__max",
                f"count({q}) AS {n}__nn",
            ]
        elif isinstance(
            f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            parts += [
                f"count(DISTINCT {q}) AS {n}__nd",
                f"CAST(min({q}) AS VARCHAR) AS {n}__min",
                f"CAST(max({q}) AS VARCHAR) AS {n}__max",
            ]
    sql = f"SELECT {', '.join(parts)} FROM ({oracle}) __t"
    row = con.execute(sql).fetchone()
    cols = [d[0] for d in con.description]
    return dict(zip(cols, row))


def _ts_norm(v: str) -> str:
    # "2024-01-01 00:00:00" == "2024-01-01 00:00:00.000000" etc.
    if isinstance(v, str) and " " in v:
        v = v.rstrip("0").rstrip(".") if "." in v else v
    return v


def compare(name: str, s: dict, o: dict) -> list[str]:
    problems = []
    for k, sv in s.items():
        ov = o.get(k)
        if isinstance(sv, float) or isinstance(ov, float):
            sv_f = float(sv) if sv is not None else math.nan
            ov_f = float(ov) if ov is not None else math.nan
            if math.isnan(sv_f) and math.isnan(ov_f):
                continue
            denom = max(abs(sv_f), abs(ov_f), 1.0)
            if abs(sv_f - ov_f) / denom > REL_TOL:
                problems.append(f"{k}: spark={sv!r} oracle={ov!r}")
        else:
            a, b = _ts_norm(sv), _ts_norm(ov)
            if a != b:
                problems.append(f"{k}: spark={sv!r} oracle={ov!r}")
    return problems


def _inv_pagerank(spark, sf_dir: str):
    """Engine-side PageRank invariants over the FULL rank relation."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.graph import pagerank
    from core_telecoms_etl_spark.queries.analytics import (
        _PR_ITERS,
        _copurchase_graph,
    )

    d = 0.85
    edges, nodes = _copurchase_graph(spark, sf_dir)
    # serialized blocks: the degree-annotated decade edge set is ~186M
    # rows — DESERIALIZED row objects GC-thrashed a 48 GB heap (r12
    # finding #1)
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    n_dangling = n - edges.select("src").distinct().count()
    ranks = pagerank(
        edges, nodes, damping=d, iterations=_PR_ITERS, snap_dp=9
    )
    row = ranks.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("rank").alias("rank_sum"),
        F.min("rank").alias("rank_min"),
        F.max("rank").alias("rank_max"),
    ).collect()[0]
    edges.unpersist()
    # closed-form mass recurrence: S_i = (1-d) + d*(S_{i-1} - D_{i-1}).
    # Dangling nodes hold D_0 = n_d/n at init and settle at the snapped
    # teleport floor from iteration 1 on (they receive only teleport).
    floor = round((1.0 - d) / n, 9)
    S, D = 1.0, n_dangling / n
    for _ in range(_PR_ITERS):
        S = (1.0 - d) + d * (S - D)
        D = n_dangling * floor
    # 9dp per-node snap each iteration => |sum error| <= iters*n*5e-10;
    # 2x margin for the float accumulation of the sum itself
    tol = _PR_ITERS * n * 1e-9 + 1e-9
    problems = []
    if row.n_rows != n:
        problems.append(f"closure: {row.n_rows} rank rows != {n} parts")
    if abs(row.rank_sum - S) > tol:
        problems.append(
            f"mass: sum(rank)={row.rank_sum!r} vs damping algebra "
            f"{S!r} (tol {tol:.2e}, dangling {n_dangling})"
        )
    if row.rank_min < floor - 1e-9:
        problems.append(
            f"teleport floor: min rank {row.rank_min!r} < {floor!r}"
        )
    checks = {
        "n_rows": row.n_rows,
        "rank_sum": row.rank_sum,
        "expected_sum": S,
        "rank_min": row.rank_min,
        "rank_max": row.rank_max,
        "n_dangling": n_dangling,
    }
    return checks, problems


def _inv_dedup_clusters(spark, sf_dir: str):
    """Engine-side CC invariants over the minhash-banded pair relation."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.graph import (
        connected_components,
    )
    from core_telecoms_etl_spark.queries.text import _dedup_cluster_pairs

    pairs = (
        _dedup_cluster_pairs(spark, sf_dir, blocking="minhash")
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_pairs = pairs.count()  # materialize once; reused by both runs

    def run():
        cc = connected_components(pairs, src="doc_a", dst="doc_b")
        return cc.select(F.col("node").alias("doc_id"), "component")

    cc = run().persist(StorageLevel.MEMORY_AND_DISK)
    problems = []
    # label consistency: no edge may span two components
    ca = cc.select(
        F.col("doc_id").alias("doc_a"), F.col("component").alias("__c_a")
    )
    cb = cc.select(
        F.col("doc_id").alias("doc_b"), F.col("component").alias("__c_b")
    )
    cross = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("__c_a") != F.col("__c_b"))
        .count()
    )
    if cross:
        problems.append(f"{cross} edges span two components")
    # min-label fixed point: component id == min member, and is a member
    bad_min = (
        cc.groupBy("component")
        .agg(F.min("doc_id").alias("__mn"))
        .filter(F.col("component") != F.col("__mn"))
        .count()
    )
    if bad_min:
        problems.append(f"{bad_min} components where id != min(member)")
    # closure: assignment rows == nodes of the edge set
    n_nodes = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .count()
    )
    n_assigned = cc.count()
    if n_assigned != n_nodes:
        problems.append(
            f"closure: {n_assigned} assignments != {n_nodes} edge nodes"
        )
    # re-run stability: an independent execution agrees exactly
    a1, a2 = spark_aggs(cc), spark_aggs(run())
    rerun = compare("dedup_clusters(rerun)", a1, a2)
    if rerun:
        problems.append(f"re-run drift: {rerun}")
    n_clusters = cc.select("component").distinct().count()
    cc.unpersist()
    pairs.unpersist()
    checks = {
        "n_pairs": n_pairs,
        "n_nodes": n_nodes,
        "n_clusters": n_clusters,
        **a1,
    }
    return checks, problems


INVARIANTS = {
    "pagerank_copurchase": _inv_pagerank,
    "dedup_clusters": _inv_dedup_clusters,
}


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    from core_telecoms_etl_spark import get_spark
    from core_telecoms_etl_spark import queries as qmod

    spark = get_spark(
        "agg-checksum",
        extra_conf={"spark.cleaner.periodicGC.interval": "2min"},
    )
    qs, oracles = qmod.queries(), qmod.oracle_sql()
    con = connect(sf_dir)

    args = sys.argv[1:]
    invariant_mode = "--invariants" in args
    if invariant_mode:
        args.remove("--invariants")

    failures = 0
    if invariant_mode:
        for name in args:
            t0 = time.time()
            checks, problems = INVARIANTS[name](spark, sf_dir)
            dt = time.time() - t0
            if problems:
                failures += 1
                print(f"FAIL {name} (invariants, {dt:.1f}s):")
                for p in problems:
                    print(f"     {p}")
            else:
                print(f"PASS {name} invariants ({dt:.1f}s): {checks}")
        return 1 if failures else 0

    for name in args:
        sdf = qs[name](spark, sf_dir)
        t0 = time.time()
        s = spark_aggs(sdf)
        t_spark = time.time() - t0
        t0 = time.time()
        o = duck_aggs(con, oracles[name], sdf.schema)
        t_duck = time.time() - t0
        problems = compare(name, s, o)
        if problems:
            failures += 1
            print(f"FAIL {name}: ({s.get('n_rows')} spark rows)")
            for p in problems:
                print(f"     {p}")
        else:
            print(
                f"PASS {name}: {s['n_rows']} rows aggregate-checksum "
                f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
