"""Oracle differential: runs each declared query on Spark AND its DuckDB
oracle, then compares row count, sorted column names, dtype families and
exact values. Tier-1 runs every query through `sweep` at sf0.001 and
sf0.01 (tests/test_entry.py); this CLI runs it at any other scale.

Usage: python tools/check_oracle.py [--jobs N] [query ...]  (default: all, 4 threads)
       SF_DIR=/root/testdata/sf0.01 python tools/check_oracle.py
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif s.dtype == object and len(s) and not s.isna().all():
            first = s.dropna().iloc[0]
            if hasattr(first, "isoformat") and not isinstance(first, str):
                df[c] = pd.to_datetime(s)
        if pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def _dtype_class(dt) -> str:
    """Coarse dtype family, mirroring what the driver's value-hash is
    sensitive to: an int64 Spark column vs a float64 oracle column
    hash-differently even when every value compares equal."""
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "object"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        return [f"row count differs: spark={len(sdf)} oracle={len(odf)}"]
    s, o = normalize(sdf), normalize(odf)
    # dtype-parity gate BEFORE value compare: the driver hashes typed
    # values, so an uncast DuckDB HUGEINT sum (-> float64) against a
    # Spark bigint is a driver FAIL even with equal values. Three
    # rounds of red rows (hll_rollup r4, theta_sketch_setops r5,
    # key_skew_profile/feature_binning r6) slipped through the old
    # value-only compare — this check is what the VERDICT r6 asked for.
    if len(s):
        for c in s.columns:
            sc, oc = _dtype_class(s[c].dtype), _dtype_class(o[c].dtype)
            if sc != oc:
                problems.append(
                    f"col {c}: DTYPE MISMATCH spark={sc}({s[c].dtype}) "
                    f"oracle={oc}({o[c].dtype}) — driver's typed hash "
                    f"will fail even if values match (cast the oracle)"
                )
        if problems:
            return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv.dtype) or pd.api.types.is_float_dtype(ov.dtype):
            a = sv.to_numpy(dtype=float)
            b = ov.to_numpy(dtype=float)
            both_nan = np.isnan(a) & np.isnan(b)
            neq = ~both_nan & (a != b)
            if neq.any():
                d = np.abs(a[neq] - b[neq])
                problems.append(
                    f"col {c}: {neq.sum()} float mismatches, max abs diff {d.max():.3e}"
                )
        else:
            neq = ~(sv.eq(ov) | (sv.isna() & ov.isna()))
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                )
    return problems


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per `TABLES` entry over sf_dir.
    Connections are not thread-safe: each sweep thread opens its own."""
    # bounded memory + disk spill: an unbounded in-process DuckDB got
    # OOM-killed at 107 GB RSS on the sf10 triangle-count oracle (r12
    # decade sweep) — the oracle must SPILL at decade scales, same as
    # Spark does
    con = duckdb.connect(
        config={"memory_limit": "48GB", "temp_directory": "/tmp/duckdb_spill"}
    )
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are directories of part files (e.g. the
        # 8× scale replica) — glob them for DuckDB
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _check_one(name, qs, oracles, spark, sf_dir, con_factory):
    """Run one query + its oracle; returns (name, passed, lines)."""
    t0 = time.time()
    try:
        sdf = qs[name](spark, sf_dir).toPandas()
    except Exception:
        return name, False, [
            f"FAIL {name}: spark side raised",
            traceback.format_exc(limit=5),
        ]
    dt = time.time() - t0
    try:
        odf = con_factory().execute(oracles[name]).df()
    except Exception as e:
        return name, False, [f"FAIL {name}: oracle SQL raised: {e}"]
    problems = compare(name, sdf, odf)
    if problems:
        lines = [
            f"FAIL {name}: ({len(sdf)} spark rows, {len(odf)} oracle rows)"
        ] + [f"     {p}" for p in problems]
        return name, False, lines
    # an empty result matches its oracle trivially — flag it so a
    # too-restrictive literal (wrong region name, impossible filter)
    # can't hide behind a green row
    empty = " [EMPTY RESULT — weak signal]" if len(sdf) == 0 else ""
    return name, True, [f"PASS {name}: {len(sdf)} rows ({dt:.1f}s){empty}"]


def sweep(spark, sf_dir: str, names, jobs: int = 4):
    """Check each of `names` against its oracle on `jobs` threads;
    yields `_check_one`'s (name, passed, lines) in `names` order."""
    from core_telecoms_etl_spark import queries as qmod

    qs, oracles = qmod.queries(), qmod.oracle_sql()
    tls = threading.local()
    cons = []

    def con_factory():
        if getattr(tls, "con", None) is None:
            tls.con = connect(sf_dir)
            cons.append(tls.con)
        return tls.con

    # Spark supports concurrent actions from multiple threads on one
    # session; queries sharing a cache_scoped slot may evict each other
    # mid-flight, which only costs recompute (all plans are
    # deterministic), never correctness.
    # SHARED-VIEW INVARIANT: a handful of queries register temp views
    # under the bare table names (sql_api, exists_subquery,
    # scalar_subquery, recursive_hierarchy_walk via
    # createOrReplaceTempView; catalog.register_views). Running them
    # concurrently on one session is safe ONLY because every such
    # registration is the full, unfiltered load_table(sf_dir, t) for
    # the same sf_dir — re-registration is idempotent, so interleaving
    # cannot change what any query reads. A future query that registers
    # a FILTERED or derived frame under a shared table name would race
    # nondeterministically here: give such views a query-unique name
    # (e.g. "__myquery_orders") instead.
    try:
        with ThreadPoolExecutor(max_workers=max(1, jobs)) as ex:
            yield from ex.map(
                lambda n: _check_one(n, qs, oracles, spark, sf_dir, con_factory),
                names,
            )
    finally:
        for con in cons:
            con.close()


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    from core_telecoms_etl_spark import get_spark
    from core_telecoms_etl_spark import queries as qmod

    # the compare collects full results driver-side; sf1-scale grid
    # expansions (time_grid_fill ~30M rows) overrun the 1g default
    # maxResultSize — a harness-collect limit, not a plan property
    # (found live: r10 sf1 sweep). 8g matches the 48g local driver.
    #
    # periodicGC: Spark keeps every finished query's shuffle files on
    # local disk until the driver GCs the ShuffleDependency (default
    # periodic GC is 30 MINUTES) — a long many-query sweep at sf10
    # accumulated 55+ GB of dead shuffle files and ENOSPC'd the box
    # (found live: r12 sf10 sweep). 2 minutes bounds the dead-file
    # window; the same knob matters on real clusters, where executor
    # local disks are shared by every query the session has ever run.
    spark = get_spark(
        "oracle-check",
        extra_conf={
            "spark.driver.maxResultSize": "8g",
            "spark.cleaner.periodicGC.interval": "2min",
        },
    )
    qs = qmod.queries()

    argv = sys.argv[1:]
    jobs = int(os.environ.get("CHECK_ORACLE_JOBS", "4"))
    if "--jobs" in argv:
        i = argv.index("--jobs")
        jobs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    wanted = argv or list(qs)
    unknown = [n for n in wanted if n not in qs]
    for n in unknown:
        print(f"?? {n}: no such query")
    wanted = [n for n in wanted if n in qs]

    n_pass, n_fail = 0, len(unknown)
    for _name, passed, lines in sweep(spark, sf_dir, wanted, jobs):
        for ln in lines:
            print(ln)
        if passed:
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail of {len(wanted) + len(unknown)} queries")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
