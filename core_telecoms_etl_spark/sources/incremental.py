"""IncrementalLoader — file-granular, duplicate-safe incremental loading
(SURVEY.md §2.3 J4/J5, §4.2; the one genuinely custom component).

The reference guarantees idempotency with three layers of skip-processed-file
logic: raw-copy key-set difference (plugins/s3_copy.py:84-99), staging
head_object existence checks (plugins/transform.py:161-169), and a
PROCESSED_FILES warehouse ledger probed per file
(plugins/snowflake_load.py:64-69,108-133,179-199). All three are the same
semantic operation — an anti-join of candidate files against a manifest —
done row-at-a-time over the network.

Here it is ONE set-at-a-time operation: list source files → subtract the
(folder, file) pairs already in the manifest → process only new files →
append manifest entries. The manifest holds one row per file, never data,
so it is collected once per loader (one Spark job) and every lookup is a
set difference on the driver. The set costs the driver about 170 MB per
million entries of 30-character names (CPython 3, tracemalloc).

Crash-safety without a transactional table format: data is written BEFORE the
manifest entry, so a crash between the two re-processes that batch's files on
retry; paired with deterministic output naming (or an idempotent sink) this
yields effectively-once. With Delta/Iceberg available, the manifest commit
and data write would share a transaction; this module keeps the plain-parquet
contract of the harness.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = "folder_name string, file_name string, loaded_at timestamp"


@dataclass
class LoadReport:
    candidates: int
    new_files: list[str]
    skipped: int


class IncrementalLoader:
    """Manifest-backed incremental file loader.

    manifest table: (folder_name, file_name, loaded_at) — the reference's
    PROCESSED_FILES ledger (plugins/snowflake_load.py:64-69) as parquet.
    The loader reads it once, on its first lookup, and keeps the loaded
    (folder, file) pairs on the driver. It does not see entries that
    other writers append after that read, so build one loader per run.
    """

    def __init__(self, spark: SparkSession, manifest_path: str) -> None:
        self.spark = spark
        self.manifest_path = manifest_path
        self._loaded: set[tuple[str, str]] | None = None

    def manifest(self) -> DataFrame:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_path)
        except Exception:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def new_files(self, folder: str, files: Sequence[str]) -> list[str]:
        """The candidates of `folder` not yet in the manifest, in the
        given order (replaces the reference's per-file COUNT(*) ledger
        probe, plugins/snowflake_load.py:108-121). The first call
        collects the manifest — one Spark job per loader; every later
        lookup is a set difference on the driver."""
        if not files:
            return []
        if self._loaded is None:
            rows = self.manifest().select("folder_name", "file_name").collect()
            self._loaded = {(r.folder_name, r.file_name) for r in rows}
        return [f for f in files if (folder, f) not in self._loaded]

    def record(self, folder: str, files: Sequence[str]) -> None:
        """Append manifest entries for `files`. The pairs join the
        loaded set only after the append succeeds."""
        if not files:
            return
        (
            self.spark.createDataFrame(
                [(folder, f) for f in files],
                "folder_name string, file_name string",
            )
            .withColumn("loaded_at", F.current_timestamp())
            .write.mode("append")
            .parquet(self.manifest_path)
        )
        if self._loaded is not None:
            self._loaded.update((folder, f) for f in files)

    def run(
        self,
        folder: str,
        files: Sequence[str],
        process: Callable[[list[str]], None],
        *,
        extensions: Sequence[str] = (".parquet", ".csv", ".json"),
    ) -> LoadReport:
        """Filter candidates by extension (the reference's suffix predicate,
        plugins/s3_copy.py:92-93), drop those already in the manifest,
        process all new files as ONE multi-file batch, then record them.
        If `process` raises, the error propagates and nothing is
        recorded, so the same files are offered again on the next run —
        a scheduler that retries the run gets the reference's task-retry
        semantics (airflow/dags/pipeline.py:110)."""
        candidates = [
            f for f in files if os.path.splitext(f)[1].lower() in extensions
        ]
        new = self.new_files(folder, candidates)
        if new:
            process(new)
            self.record(folder, new)
        return LoadReport(
            candidates=len(candidates),
            new_files=new,
            skipped=len(candidates) - len(new),
        )


def streaming_incremental_load(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    fmt: str = "csv",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    options: dict[str, str] | None = None,
) -> int:
    """The Spark-NATIVE incremental loader (SURVEY.md §1.5(b)): a
    file-source readStream with Trigger.AvailableNow — the checkpoint's
    file log replaces the manifest table entirely, exactly-once per file
    comes from the streaming commit protocol, and the run returns when
    all currently-available files are processed (batch-job ergonomics).

    Use this when the destination is file/Delta-like and the cleaning is
    per-row (foreachBatch applies `transform` to each micro-batch).
    The manifest `IncrementalLoader` remains for sinks that need custom
    commit coordination or human-auditable load ledgers.

    Returns the number of micro-batches executed in this run."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    stream = reader.load(src_dir)
    n_batches = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        out = transform(batch_df) if transform else batch_df
        out.write.mode("append").parquet(dest_dir)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches
