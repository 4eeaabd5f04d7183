"""IncrementalLoader tests (SURVEY.md §5.2): the idempotency assertion the
reference only implements as runtime skip-logging — run the load twice,
the second run must process zero files."""

from __future__ import annotations

from core_telecoms_etl_spark.sources.incremental import IncrementalLoader


def test_incremental_idempotent(spark, tmp_path):
    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))
    processed: list[list[str]] = []

    files = ["a.parquet", "b.parquet", "notes.txt"]
    r1 = loader.run("call_logs", files, processed.append)
    assert r1.candidates == 2  # .txt filtered by the suffix predicate
    assert sorted(r1.new_files) == ["a.parquet", "b.parquet"]
    assert processed == [r1.new_files]

    r2 = loader.run("call_logs", files, processed.append)
    assert r2.new_files == [] and r2.skipped == 2
    assert len(processed) == 1  # process() not called again


def test_incremental_new_files_only(spark, tmp_path):
    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))
    loader.run("f", ["day1.csv"], lambda fs: None)
    r = loader.run("f", ["day1.csv", "day2.csv"], lambda fs: None)
    assert r.new_files == ["day2.csv"] and r.skipped == 1


def test_incremental_folders_independent(spark, tmp_path):
    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))
    loader.run("folder_a", ["x.json"], lambda fs: None)
    r = loader.run("folder_b", ["x.json"], lambda fs: None)
    assert r.new_files == ["x.json"]  # same name, different folder


def test_lookups_read_the_manifest_once(spark, tmp_path):
    """A loader collects the manifest on its first lookup (one Spark
    job) and answers every later lookup on the driver, including files
    it recorded itself."""
    IncrementalLoader(spark, str(tmp_path / "manifest")).record(
        "f", ["a.csv"]
    )
    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))
    sc = spark.sparkContext
    group = f"lookups-{tmp_path.name}"

    def lookup(folder: str, files: list[str]) -> list[str]:
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return loader.new_files(folder, files)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    assert lookup("f", ["a.csv", "b.csv"]) == ["b.csv"]
    assert lookup("g", ["a.csv"]) == ["a.csv"]
    loader.record("f", ["b.csv"])
    assert lookup("f", ["a.csv", "b.csv", "c.csv"]) == ["c.csv"]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_manifest_schema(spark, tmp_path):
    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))
    loader.run("f", ["a.parquet"], lambda fs: None)
    m = loader.manifest()
    assert m.columns == ["folder_name", "file_name", "loaded_at"]
    assert m.count() == 1


def test_streaming_incremental_checkpoint_skips_processed(spark, tmp_path):
    """The checkpointed file-source variant of incremental loading: run
    twice → second run reprocesses nothing; add a file → only it loads."""
    from core_telecoms_etl_spark.operators.cleaning import clean
    from core_telecoms_etl_spark.sources.incremental import (
        streaming_incremental_load,
    )

    src = tmp_path / "raw"
    src.mkdir()
    (src / "day1.csv").write_text("id,name\n1, a \n2,b\n")
    dest = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string"

    def run():
        return streaming_incremental_load(
            spark,
            str(src),
            dest,
            ckpt,
            schema=schema,
            transform=lambda df: clean(df, dedup=False),
        )

    run()
    assert spark.read.parquet(dest).count() == 2
    # values went through the cleaning chain (trim)
    assert {r.name for r in spark.read.parquet(dest).collect()} == {"a", "b"}

    run()  # no new files → no appended rows
    assert spark.read.parquet(dest).count() == 2

    (src / "day2.csv").write_text("id,name\n3,c\n")
    run()
    assert spark.read.parquet(dest).count() == 3
    assert {r.id for r in spark.read.parquet(dest).collect()} == {1, 2, 3}


def test_run_failure_propagates_and_keeps_files_new(spark, tmp_path):
    """A failing `process` raises out of `run`, the manifest records
    NOTHING, and the same files are offered again — by a fresh loader
    and by the same one — so a scheduler that retries the run never
    loses data."""
    import pytest

    loader = IncrementalLoader(spark, str(tmp_path / "manifest"))

    def boom(files: list[str]) -> None:
        raise ValueError("bad batch")

    with pytest.raises(ValueError, match="bad batch"):
        loader.run("f", ["a.parquet"], boom)
    assert loader.manifest().count() == 0
    fresh = IncrementalLoader(spark, str(tmp_path / "manifest"))
    assert fresh.new_files("f", ["a.parquet"]) == ["a.parquet"]

    processed: list[list[str]] = []
    r = loader.run("f", ["a.parquet"], processed.append)
    assert r.new_files == ["a.parquet"] and processed == [["a.parquet"]]
    assert loader.manifest().count() == 1
