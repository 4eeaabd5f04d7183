"""Data-quality check tests (SURVEY.md §2.12): the dbt not_null/unique
schema-test semantics on crafted violations."""

from __future__ import annotations

from core_telecoms_etl_spark.operators import dq


def _df(spark):
    return spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (None, "d")], "k int, v string"
    )


def test_not_null_counts(spark):
    res = dq.run_checks(_df(spark), not_null=["k", "v"])
    got = {r.column: r.violations for r in res}
    assert got == {"k": 1, "v": 1}
    assert not res[0].passed


def test_unique_counts_excess_rows(spark):
    res = dq.run_checks(_df(spark), unique=["k", "v"])
    got = {r.column: r.violations for r in res}
    assert got["k"] == 1  # one excess duplicate of k=1
    assert got["v"] == 0  # NULLs don't count as duplicates


def test_accepted_values(spark):
    res = dq.run_checks(_df(spark), accepted_values={"v": ["a", "b"]})
    assert res[0].violations == 1  # 'd'; NULL is not a violation


def test_run_checks_combined(spark):
    res = dq.run_checks(_df(spark), not_null=["k"], unique=["k"])
    assert [r.check for r in res] == ["not_null", "unique"]


def test_run_checks_single_action_all_check_types(spark):
    """The fused suite: not_null + accepted_values share one aggregate,
    unique keys union into the same plan — each count matches the
    single-kind suites above."""
    df = _df(spark)
    res = dq.run_checks(
        df,
        not_null=["k", "v"],
        unique=["k", "v"],
        accepted_values={"v": ["a", "b"]},
    )
    got = {(r.check, r.column): r.violations for r in res}
    assert got == {
        ("not_null", "k"): 1,
        ("not_null", "v"): 1,
        ("accepted_values", "v"): 1,
        ("unique", "k"): 1,
        ("unique", "v"): 0,
    }


def test_checks_df_is_one_plan(spark):
    """checks_df returns a single relation (one action materializes the
    whole suite)."""
    out = dq.checks_df(
        _df(spark), not_null=["k"], unique=["k"], accepted_values={"v": ["a"]}
    )
    assert out.columns == ["check_name", "column_name", "violations"]
    assert out.count() == 3


def test_star_schema_dq_green(spark, sf_dir):
    """The reference's post-build `dbt test` analog: every declared check
    on the built star schema passes on the driver data."""
    from core_telecoms_etl_spark.plans.star import run_star_dq

    results = run_star_dq(spark, sf_dir)
    assert set(results) == {"dim_customers", "dim_agents", "fact_complaints"}
    for model, checks in results.items():
        for c in checks:
            assert c.passed, f"{model}.{c.column} {c.check}: {c.violations}"


def test_profile_columns_one_pass_stats(spark):
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.dq import profile_columns

    d = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 4.0, None), (4, 4.0, "a")],
        "id long, x double, s string",
    )
    rows = {
        r.column: r
        for r in profile_columns(
            d, numeric_cols=("id", "x"), string_cols=("s",)
        ).collect()
    }
    assert rows["id"].n_rows == 4 and rows["id"].n_nulls == 0
    assert rows["id"].n_distinct == 4
    assert rows["id"].min_num == 1.0 and rows["id"].max_num == 4.0
    assert rows["x"].n_nulls == 1 and rows["x"].n_distinct == 2
    assert rows["s"].n_nulls == 1 and rows["s"].n_distinct == 2
    assert rows["s"].min_str == "a" and rows["s"].max_str == "b"
    assert rows["s"].min_num is None and rows["id"].min_str is None


def test_order_price_consistency_detects_seeded_drift(spark, tmp_path):
    """One order whose header disagrees by exactly 1 cent is flagged;
    a consistent order is not."""
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.queries.quality import (
        order_price_consistency,
    )

    li = spark.createDataFrame(
        [
            (1, 100.0, 0.10, 0.05),  # -> 100*0.90*1.05 = 94.50
            (1, 50.0, 0.00, 0.00),  # -> 50.00 ; order 1 total 144.50
            (2, 10.0, 0.00, 0.00),  # order 2 total 10.00
        ],
        ["l_orderkey", "l_extendedprice", "l_discount", "l_tax"],
    )
    orders = spark.createDataFrame(
        [(1, "1-URGENT", 144.50), (2, "1-URGENT", 10.01)],  # 2 drifts +1c
        ["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    d = tmp_path / "star"
    li.write.parquet(str(d / "lineitem.parquet"))
    orders.write.parquet(str(d / "orders.parquet"))
    row = order_price_consistency(spark, str(d)).collect()[0]
    assert row.n_orders == 2
    assert row.n_mismatch == 1
    assert row.max_abs_diff_cents == 1
    assert row.total_drift == 0.01


def test_functional_dependency_holds_and_violations(spark, tmp_path):
    """nation->region FD holds on the synthetic star; the seeded
    violated FDs report the exact minimal repair count."""
    from core_telecoms_etl_spark.queries.quality import functional_dependency

    out = {r.fd: r for r in functional_dependency(
        spark, "/root/testdata/sf0.001").collect()}
    nk = out["n_nationkey->n_regionkey"]
    assert nk.holds == 1 and nk.n_violating_lhs == 0 and nk.min_repair_rows == 0
    # status -> priority cannot hold: 3 statuses vs 5 priorities over
    # thousands of orders
    sp = out["o_orderstatus->o_orderpriority"]
    assert sp.holds == 0 and sp.min_repair_rows > 0


def test_functional_dependency_minimal_repair_hand_case(spark, tmp_path):
    """lhs group with rhs counts {A:3, B:1} needs exactly 1 repair."""
    from core_telecoms_etl_spark.queries.quality import functional_dependency

    nation = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10), (1, 20)],
        ["n_nationkey", "n_regionkey"],
    )
    # satisfy the other two FDs trivially
    part = spark.createDataFrame([("t", 1)], ["p_type", "p_size"])
    orders = spark.createDataFrame(
        [("O", "1-URGENT")], ["o_orderstatus", "o_orderpriority"]
    )
    d = tmp_path / "star"
    nation.write.parquet(str(d / "nation.parquet"))
    part.write.parquet(str(d / "part.parquet"))
    orders.write.parquet(str(d / "orders.parquet"))
    out = {r.fd: r for r in functional_dependency(spark, str(d)).collect()}
    nk = out["n_nationkey->n_regionkey"]
    assert nk.n_violating_lhs == 1
    assert nk.min_repair_rows == 1
    assert nk.holds == 0


def test_psi_drift_stable_vs_shifted(spark, tmp_path):
    """Identical half-distributions give PSI exactly 0 (terms cancel
    pairwise under add-one smoothing); a full mass shift between
    disjoint value ranges trips the 0.1 drift flag."""
    from datetime import datetime

    from core_telecoms_etl_spark.queries.quality import psi_drift

    t0 = datetime(2024, 1, 1, 0)
    t1 = datetime(2024, 1, 1, 10)
    rows = []
    # stable: both halves put 5 rows at value 1.0 and 5 at value 50.0
    for i in range(5):
        rows += [
            (i, t0, "stable", 1.0),
            (100 + i, t0, "stable", 50.0),
            (200 + i, t1, "stable", 1.0),
            (300 + i, t1, "stable", 50.0),
        ]
    # shift: first half all at 1.0, second half all at 100.0
    for i in range(10):
        rows += [(400 + i, t0, "shift", 1.0), (500 + i, t1, "shift", 100.0)]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "event_type", "value"]
    )
    d = tmp_path / "star"
    ev.write.parquet(str(d / "events.parquet"))
    out = {r.event_type: r for r in psi_drift(spark, str(d)).collect()}
    s = out["stable"]
    assert (s.n_first, s.n_second) == (10, 10)
    assert s.psi == 0.0 and not s.drifted
    sh = out["shift"]
    assert (sh.n_first, sh.n_second) == (10, 10)
    assert sh.psi > 0.1 and sh.drifted
