"""Cleaning operators (SURVEY.md §2.2 P2, §2.8 F1/F6, §2.9 D1/D2/D4).

The reference's per-file pandas cleaning chain (plugins/transform.py:85-114:
rename → dropna(how="all") → drop_duplicates → per-column strip) becomes a
lazy DataFrame chain here. Catalyst fuses the projections into one stage, so
trim + rename + null-normalize execute in a single pass over the scan; only
the dedup introduces a shuffle (hash-repartition on all columns / the key).

All operators are pure DataFrame → DataFrame functions and stay entirely in
JVM expressions (no Python UDFs) so whole-stage codegen covers the hot path.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk rename per the source rename maps (reference: five hard-coded
    maps at airflow/dags/pipeline.py:49-99 applied by df.rename at
    plugins/transform.py:91-92). Unknown keys are ignored, matching
    pandas.rename semantics."""
    present = {k: v for k, v in mapping.items() if k in df.columns}
    return df.withColumnsRenamed(present)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """lower_snake_case every column: replaces the reference's
    MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE load resolution
    (plugins/snowflake_load.py:191) with a deterministic normalize-at-source.
    ``"customeR iD"`` → ``customer_id``, ``"COMPLAINT_catego ry"`` →
    ``complaint_catego_ry`` (spelling fixes stay in explicit rename maps)."""
    out = {}
    for c in df.columns:
        norm = re.sub(r"[^0-9a-zA-Z]+", "_", c.strip()).strip("_").lower()
        norm = re.sub(r"_+", "_", norm)
        if norm != c:
            out[c] = norm
    return df.withColumnsRenamed(out)


def trim_strings(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Trim every string column (reference: per-column strip lambda,
    plugins/transform.py:104-107 — a row-at-a-time pandas apply). Built-in
    F.trim keeps this inside codegen: zero Python in the loop."""
    targets = columns or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if not targets:
        return df
    return df.withColumns({c: F.trim(F.col(c)) for c in targets})


def empty_strings_to_null(
    df: DataFrame, columns: Sequence[str] | None = None
) -> DataFrame:
    """Empty-string ⇒ NULL, the reference's load-format rule
    (aws_infrastructure/snowflake.tf:86 ``null_if = ["NULL", ""]``)."""
    targets = columns or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if not targets:
        return df
    return df.withColumns(
        {
            c: F.when(F.trim(F.col(c)) == "", None).otherwise(F.col(c))
            for c in targets
        }
    )


def finite(col) -> F.Column:
    """Predicate: `col` is a real, usable magnitude — non-NULL, not NaN,
    not ±Infinity. The r15 float-specials corpus measured what happens
    without it at 100 TB realism (~0.5% poisoned metric rows): every
    cent-grid cast dies with ANSI CAST_OVERFLOW mid-job, NaN flows
    differ between pandas (NA-skipping) and SQL (propagating) state,
    and NaN sort positions flip approximate-index candidate sets. The
    engine-wide contract is therefore: NONFINITE METRIC VALUES CARRY NO
    MAGNITUDE INFORMATION AND SCOPE OUT EXACTLY LIKE NULLs — applied
    via `finite_or_null` at each metric projection and mirrored in the
    DuckDB oracles as `CASE WHEN isfinite(x) THEN x END`."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        c.isNotNull()
        & ~F.isnan(c)
        & (F.abs(c) != F.lit(float("inf")))
    )


def finite_or_null(col) -> F.Column:
    """`col` if finite, else NULL — the canonical poisoned-metric
    normalization (see `finite`): downstream aggregates, grid casts,
    and windows then handle the row under the already-pinned NULL
    contracts instead of crashing or diverging."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(finite(c), c)


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    """Drop rows where every column is NULL (reference:
    df.dropna(how="all"), plugins/transform.py:94-95)."""
    return df.na.drop(how="all")


def dedup_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal (reference: df.drop_duplicates(),
    plugins/transform.py:97-102). Spark plans this as a hash aggregate over
    the subset columns — one shuffle, map-side partial combine. At 100 TB
    prefer a key subset over full-row dedup so the shuffle key is narrow."""
    return df.dropDuplicates(list(subset)) if subset else df.dropDuplicates()


def dedup_latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    descending: bool = True,
) -> DataFrame:
    """Keep the latest record per key (capability implied by the reference's
    unique-key tests, dbt facts/schema.yml:9-11). row_number over a
    partitioned window — single shuffle on the key. ``order_by`` should end
    with a unique tiebreaker for determinism."""
    from pyspark.sql import Window

    ordering = [F.col(c).desc() if descending else F.col(c).asc() for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def empty_guard(df: DataFrame, context: str = "clean") -> DataFrame:
    """Raise if the relation is empty (reference: ValueError on empty
    cleaned frame, plugins/transform.py:111-112). The check is a cheap
    LIMIT-1 job, not a full count."""
    if df.isEmpty():
        raise ValueError(f"{context}: no data rows after cleaning")
    return df


def clean(
    df: DataFrame,
    rename_map: Mapping[str, str] | None = None,
    *,
    dedup: bool = True,
) -> DataFrame:
    """The reference's full cleaning chain (plugins/transform.py:85-114) as
    one lazy plan: normalize names → rename → trim → empty-string⇒NULL →
    drop all-null rows → dedup."""
    out = normalize_column_names(df)
    if rename_map:
        out = rename_columns(out, rename_map)
    out = trim_strings(out)
    out = empty_strings_to_null(out)
    out = drop_all_null_rows(out)
    if dedup:
        out = dedup_rows(out)
    return out
