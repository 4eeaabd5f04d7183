"""End-to-end pipeline test on synthesized dirty telecom sources
(FIXTURES.md §A: dirty headers, duplicate rows, stray whitespace,
empty-string NULLs) — the reference's full DAG flow, run twice to prove
idempotency."""

from __future__ import annotations

import json

from core_telecoms_etl_spark.pipeline import (
    PipelineConfig,
    SourceConfig,
    run_pipeline,
)

CALL_LOGS_RENAMES = {
    "call_id": "call_id",
    "customer_id": "customer_id",
    "complaint_catego_ry": "complaint_category",
    "agent_id": "agent_id",
    "resolutionstatus": "resolution_status",
}

CSV_DAY1 = (
    "call ID,customeR iD,COMPLAINT_catego ry,agent ID,resolutionstatus\n"
    "1,10,billing ,3,open\n"
    "1,10,billing ,3,open\n"  # exact duplicate row
    "2,11, network,4,closed\n"
    ",,,,\n"  # all-empty row → all-NULL → dropped
)
CSV_DAY2 = (
    "call ID,customeR iD,COMPLAINT_catego ry,agent ID,resolutionstatus\n"
    "3,12,billing,3,open\n"
)

SOCIAL_DAY1 = [
    {"complaint_id": 100, "customeR iD": 10, "media_channel": " twitter "},
    {"complaint_id": 101, "customeR iD": 11, "media_channel": "facebook"},
]


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def _config(tmp_path) -> PipelineConfig:
    return PipelineConfig(
        sources=[
            SourceConfig(
                name="call_logs",
                fmt="csv",
                raw_dir=str(tmp_path / "raw" / "call_logs"),
                rename_map=CALL_LOGS_RENAMES,
            ),
            SourceConfig(
                name="social",
                fmt="json",
                raw_dir=str(tmp_path / "raw" / "social"),
                rename_map={"customer_id": "customer_id"},
            ),
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )


def test_pipeline_end_to_end(spark, tmp_path):
    _write(tmp_path / "raw" / "call_logs" / "day1.csv", CSV_DAY1)
    _write(
        tmp_path / "raw" / "social" / "day1.json",
        "\n".join(json.dumps(r) for r in SOCIAL_DAY1),
    )
    cfg = _config(tmp_path)

    r1 = run_pipeline(spark, cfg)
    assert [len(r.new_files) for r in r1.loads.values()] == [1, 1]

    calls = spark.read.parquet(str(tmp_path / "staging" / "call_logs"))
    # dirty headers normalized+renamed, dup row dropped, all-null dropped
    assert set(calls.columns) == {
        "call_id",
        "customer_id",
        "complaint_category",
        "agent_id",
        "resolution_status",
    }
    rows = {r.call_id: r for r in calls.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].complaint_category == "billing"  # trimmed
    assert rows[2].complaint_category == "network"  # leading space trimmed

    social = spark.read.parquet(str(tmp_path / "staging" / "social"))
    assert {r.media_channel for r in social.collect()} == {
        "twitter",
        "facebook",
    }

    # re-run: nothing new → no writes, counts unchanged (idempotency)
    r2 = run_pipeline(spark, cfg)
    assert r2.total_new_files == 0
    assert (
        spark.read.parquet(str(tmp_path / "staging" / "call_logs")).count()
        == 2
    )

    # a late-arriving day-2 file: only IT is processed, rows append
    _write(tmp_path / "raw" / "call_logs" / "day2.csv", CSV_DAY2)
    r3 = run_pipeline(spark, cfg)
    assert r3.loads["call_logs"].new_files == ["day2.csv"]
    assert r3.loads["social"].new_files == []
    assert (
        spark.read.parquet(str(tmp_path / "staging" / "call_logs")).count()
        == 3
    )


def test_pipeline_inline_audits(spark, tmp_path):
    import os

    from core_telecoms_etl_spark.pipeline import (
        PipelineConfig,
        SourceConfig,
        run_pipeline,
    )

    raw = tmp_path / "raw"
    os.makedirs(raw)
    (raw / "a.csv").write_text("id,v\n1,x\n1,y\n,z\n")
    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="t",
                fmt="csv",
                raw_dir=str(raw),
                dedup=False,
                audit_not_null=["id"],
                audit_unique=["id"],
            )
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )
    rep = run_pipeline(spark, cfg)
    assert rep.total_new_files == 1
    # the batch has a NULL id and a duplicate id -> both audits report
    by_check = {
        (r.check, r.column): r.violations for r in rep.audits["t"]
    }
    assert by_check[("not_null", "id")] == 1
    assert by_check[("unique", "id")] == 1
    assert not rep.audits_passed


def test_pipeline_failing_source_keeps_earlier_sources(spark, tmp_path):
    """A corrupt Parquet drop fails the run after the CSV source has
    landed: the CSV file stays in staging and in the manifest, the corrupt
    file is not recorded, and once it is replaced the next run loads only
    that file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    _write(tmp_path / "raw" / "call_logs" / "day1.csv", CSV_DAY1)
    usage = tmp_path / "raw" / "usage" / "day1.parquet"
    _write(usage, "not a parquet file")
    base = _config(tmp_path)
    cfg = PipelineConfig(
        sources=[
            base.sources[0],
            SourceConfig(
                name="usage", fmt="parquet", raw_dir=str(usage.parent)
            ),
        ],
        staging_dir=base.staging_dir,
        manifest_path=base.manifest_path,
    )

    with pytest.raises(Exception, match="is not a Parquet file"):
        run_pipeline(spark, cfg)
    manifest = spark.read.parquet(cfg.manifest_path).collect()
    assert [(r.folder_name, r.file_name) for r in manifest] == [
        ("call_logs", "day1.csv")
    ]
    staging = tmp_path / "staging"
    assert spark.read.parquet(str(staging / "call_logs")).count() == 2

    usage.unlink()
    pq.write_table(
        pa.table({"customer_id": [10, 11], "minutes": [3.5, 7.0]}), str(usage)
    )
    r = run_pipeline(spark, cfg)
    assert r.loads["call_logs"].new_files == []
    assert r.loads["usage"].new_files == ["day1.parquet"]
    assert spark.read.parquet(str(staging / "call_logs")).count() == 2
    assert spark.read.parquet(str(staging / "usage")).count() == 2
