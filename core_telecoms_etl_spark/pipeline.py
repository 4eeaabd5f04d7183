"""End-to-end pipeline driver — the reference's whole Airflow DAG
(airflow/dags/pipeline.py:116-269: extract task groups → transformations →
warehouse load) as one Spark driver function.

What replaces what:
- Airflow task topology            → plain call order in `run_pipeline`
  (Spark's scheduler supplies the intra-source parallelism the reference
  got from sibling Airflow tasks and its 10-thread pool).
- per-file pandas loops            → one multi-file DataFrame scan per
  source batch.
- 3-layer skip logic               → one set difference against the
  manifest, read once per run (sources/incremental.py).
- per-source rename maps
  (pipeline.py:49-99)              → `SourceConfig.rename_map` applied in
  the cleaning chain.
- COPY INTO + DDL-from-data        → normalized append parquet write
  (sources/writers.py); the staging folder IS the warehouse table.

Orchestration concerns (retries, emails, schedules) stay OUT of the
engine, per SURVEY.md §3.1.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from core_telecoms_etl_spark.operators.cleaning import clean
from core_telecoms_etl_spark.sources.incremental import (
    IncrementalLoader,
    LoadReport,
)
from core_telecoms_etl_spark.sources.readers import read_csv, read_json
from core_telecoms_etl_spark.sources.writers import write_parquet

_EXTENSIONS = {"csv": ".csv", "json": ".json", "parquet": ".parquet"}


@dataclass(frozen=True)
class SourceConfig:
    """One raw source folder (the analog of one extract task group entry)."""

    name: str  # staging folder / logical table name
    fmt: str  # csv | json | parquet
    raw_dir: str
    rename_map: Mapping[str, str] = field(default_factory=dict)
    schema: str | None = None  # DDL string; None → infer
    dedup: bool = True
    # dbt-style schema tests run against each CLEANED batch before the
    # append (the reference runs them post-load as a separate `dbt
    # test`; auditing the batch catches the violation before it lands).
    # Column names refer to post-rename names. Violations are REPORTED,
    # not fatal — the caller decides (quarantine via
    # readers.split_corrupt, abort, or alert).
    audit_not_null: Sequence[str] = ()
    audit_unique: Sequence[str] = ()


@dataclass(frozen=True)
class PipelineConfig:
    sources: Sequence[SourceConfig]
    staging_dir: str
    manifest_path: str


@dataclass
class PipelineReport:
    loads: dict[str, LoadReport]
    audits: dict[str, list] = field(default_factory=dict)

    @property
    def total_new_files(self) -> int:
        return sum(len(r.new_files) for r in self.loads.values())

    @property
    def audits_passed(self) -> bool:
        return all(
            r.passed for results in self.audits.values() for r in results
        )


def _read(spark: SparkSession, src: SourceConfig, files: list[str]):
    paths = [os.path.join(src.raw_dir, f) for f in files]
    if src.fmt == "csv":
        return read_csv(spark, paths, schema=src.schema)
    if src.fmt == "json":
        return read_json(spark, paths, schema=src.schema)
    if src.fmt == "parquet":
        return spark.read.parquet(*paths)
    raise ValueError(f"unknown source format {src.fmt!r}")


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> PipelineReport:
    """Incrementally land every source: discover raw files, skip those
    already in the manifest, read all new files as one batch, clean
    (normalize + rename + trim + empty⇒NULL + drop-all-null + dedup), and
    append to the staging folder. Idempotent: a second run with no new
    files writes nothing. A failing source raises; sources landed before
    it stay recorded, and its own files are offered again next run."""
    loader = IncrementalLoader(spark, config.manifest_path)
    loads: dict[str, LoadReport] = {}
    audits: dict[str, list] = {}
    for src in config.sources:
        candidates = (
            sorted(os.listdir(src.raw_dir)) if os.path.isdir(src.raw_dir) else []
        )

        def process(new_files: list[str], src: SourceConfig = src) -> None:
            df = clean(
                _read(spark, src, new_files),
                rename_map=src.rename_map or None,
                dedup=src.dedup,
            )
            if src.audit_not_null or src.audit_unique:
                from core_telecoms_etl_spark.operators.dq import run_checks

                audits[src.name] = run_checks(
                    df,
                    not_null=src.audit_not_null,
                    unique=src.audit_unique,
                )
            write_parquet(
                df, os.path.join(config.staging_dir, src.name), mode="append"
            )

        loads[src.name] = loader.run(
            src.name,
            candidates,
            process,
            extensions=(_EXTENSIONS[src.fmt],),
        )
    return PipelineReport(loads=loads, audits=audits)
