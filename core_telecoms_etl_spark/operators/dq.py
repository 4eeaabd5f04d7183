"""Declarative data-quality checks (SURVEY.md §2.12 Q1/Q2).

The reference's only correctness mechanism is dbt schema tests — not_null
and unique on business keys (dbt/coretelecom/models/facts/schema.yml:7-26,
dimensions/schema.yml:5-9), compiled to SQL and run by `dbt test`. Here each
check is a DataFrame aggregation returning a violation count, and a table's
whole suite (`checks_df`) is ONE unioned relation — a single Spark action,
not one compiled query per test; the declared `dq_suite` query exposes the
same shape to the oracle harness.

Scale: all scalar checks (not_null / accepted_values) fuse into one
aggregate over one scan; each unique key is one hash aggregate on the key
(map-side partial combine, AQE-coalesced), unioned into the same plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DQResult:
    check: str
    column: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def checks_df(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: Sequence[str] = (),
    accepted_values: dict[str, Sequence[str]] | None = None,
) -> DataFrame:
    """A table's whole check suite as ONE relation of
    (check_name, column_name, violations).

    All scalar checks (not_null + accepted_values) fuse into a single
    aggregate over one scan; each unique key is necessarily its own
    hash aggregate (different group keys), but all branches union into
    one plan, so materializing it is one Spark action — not one job per
    check the way `dbt test` compiles."""
    branches: list[DataFrame] = []

    scalar_aggs = []
    scalar_rows: list[tuple[str, str]] = []  # (check_name, column)
    for c in not_null:
        # coalesce: SUM over an empty table is NULL, but zero rows have
        # zero violations — an empty batch PASSES its checks (r8
        # empty-facts differential)
        scalar_aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"nn_{c}")
        )
        scalar_rows.append(("not_null", c))
    for c, values in (accepted_values or {}).items():
        scalar_aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.col(c).isin(list(values)) & F.col(c).isNotNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"av_{c}")
        )
        scalar_rows.append(("accepted_values", c))
    if scalar_aggs:
        stack = ", ".join(
            f"'{check}', '{col}', {'nn_' if check == 'not_null' else 'av_'}{col}"
            for check, col in scalar_rows
        )
        branches.append(
            df.agg(*scalar_aggs).selectExpr(
                f"stack({len(scalar_rows)}, {stack})"
                " as (check_name, column_name, violations)"
            )
        )

    for key in unique:
        branches.append(
            df.filter(F.col(key).isNotNull())
            .groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .agg(
                F.lit("unique").alias("check_name"),
                F.lit(key).alias("column_name"),
                F.coalesce(F.sum(F.col("count") - 1), F.lit(0))
                .cast("long")
                .alias("violations"),
            )
            .select("check_name", "column_name", "violations")
        )

    if not branches:
        raise ValueError("checks_df: no checks requested")
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def run_checks(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: Sequence[str] = (),
    accepted_values: dict[str, Sequence[str]] | None = None,
) -> list[DQResult]:
    """Run a table's suite via `checks_df` — one collect (one Spark
    action) regardless of the number of checks."""
    if not (not_null or unique or accepted_values):
        return []
    rows = checks_df(
        df, not_null=not_null, unique=unique, accepted_values=accepted_values
    ).collect()
    return [
        DQResult(r.check_name, r.column_name, int(r.violations)) for r in rows
    ]


def profile_columns(
    df: DataFrame,
    numeric_cols: Sequence[str] = (),
    string_cols: Sequence[str] = (),
) -> DataFrame:
    """Deequ/dbt-profile-style column statistics in ONE aggregation pass:
    (column, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
    max_str), one output row per profiled column. Numeric extrema are
    cast to double and string extrema kept as strings — typed columns
    instead of stringified numbers, because engines disagree on double
    formatting.

    Catalyst plans the multi-column COUNT(DISTINCT) via Expand — a
    deliberate n_cols× row multiplication in exchange for one pass; at
    100 TB with wide profiles switch distinct counts to
    approx_count_distinct and keep the same shape.

    The STRING extrema run as a SEPARATE global aggregate joined back
    as a broadcast 1-row relation (r15 optimization round): a string
    min/max buffer is not hash-aggregable, and putting it in the main
    agg demoted the WHOLE Expand pipeline to SortAggregate — two full
    sorts of the n_cols×-expanded relation (measured 8.8 s → 2.1 s at
    sf0.1 on the 5-column lineitem profile). Split, the Expand path
    plans HashAggregate end to end and the string pass is a sort-free
    zero-grouping aggregate over a 2-column pruned scan."""
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in (*numeric_cols, *string_cols):
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .alias(f"__null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    if string_cols:
        str_aggs: list = []
        for c in string_cols:
            str_aggs.append(F.min(F.col(c)).alias(f"__min_{c}"))
            str_aggs.append(F.max(F.col(c)).alias(f"__max_{c}"))
        wide = wide.join(F.broadcast(df.agg(*str_aggs)))

    def _row(c: str, numeric: bool) -> F.Column:
        none_d = F.lit(None).cast("double")
        none_s = F.lit(None).cast("string")
        return F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (F.col(f"__min_{c}") if numeric else none_d).alias("min_num"),
            (F.col(f"__max_{c}") if numeric else none_d).alias("max_num"),
            (none_s if numeric else F.col(f"__min_{c}")).alias("min_str"),
            (none_s if numeric else F.col(f"__max_{c}")).alias("max_str"),
        )

    rows = [_row(c, True) for c in numeric_cols] + [
        _row(c, False) for c in string_cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("__s")).select(
        "__s.*"
    )
