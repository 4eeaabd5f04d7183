"""Properties of the global-order operators (operators/packing.py) and
the corpus-relative quality filter."""

from __future__ import annotations

from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.packing import (
    deterministic_shuffle,
    pack_sequences,
)
from core_telecoms_etl_spark.operators.text import (
    quality_quantile_filter,
)


def _docs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), 90) + 1).cast("long").alias("n_tokens"),
    )


def test_shuffle_pos_is_permutation(spark):
    d = _docs(spark)
    pos = [
        r.shuffle_pos
        for r in deterministic_shuffle(d, "doc_id", n_groups=16).collect()
    ]
    assert sorted(pos) == list(range(500))


def test_shuffle_stable_across_partitioning(spark):
    """The position depends only on (id, salt) — never on how the input
    happens to be partitioned (the retry/straggler guarantee)."""
    d = _docs(spark)
    a = {
        r.doc_id: r.shuffle_pos
        for r in deterministic_shuffle(d, "doc_id", n_groups=16).collect()
    }
    b = {
        r.doc_id: r.shuffle_pos
        for r in deterministic_shuffle(
            d.repartition(7, "n_tokens"), "doc_id", n_groups=16
        ).collect()
    }
    assert a == b


def test_shuffle_salt_draws_new_order(spark):
    d = _docs(spark)
    a = {
        r.doc_id: r.shuffle_pos
        for r in deterministic_shuffle(d, "doc_id", n_groups=16).collect()
    }
    b = {
        r.doc_id: r.shuffle_pos
        for r in deterministic_shuffle(
            d, "doc_id", n_groups=16, salt="epoch2"
        ).collect()
    }
    assert a != b and sorted(b.values()) == list(range(500))


def test_pack_sequences_is_concat_packing(spark):
    """Offsets stay under budget, starts are the exact cumulative token
    sums along the shuffle order, and the sequence count is
    ceil(total/budget)."""
    budget = 256
    d = _docs(spark)
    rows = pack_sequences(
        d, "doc_id", "n_tokens", budget=budget, n_groups=16
    ).collect()
    assert all(0 <= r.seq_offset < budget for r in rows)

    order = {
        r.doc_id: r.shuffle_pos
        for r in deterministic_shuffle(d, "doc_id", n_groups=16).collect()
    }
    by_pos = sorted(rows, key=lambda r: order[r.doc_id])
    start = 0
    for r in by_pos:
        assert r.seq_id == start // budget
        assert r.seq_offset == start % budget
        start += r.n_tokens
    total = sum(r.n_tokens for r in rows)
    last = by_pos[-1]
    assert last.seq_id == (total - last.n_tokens) // budget


def test_quality_quantile_filter_keeps_top(spark):
    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), 1000) / 1000.0).alias("score"),
    )
    kept = quality_quantile_filter(d, "score", 0.25).collect()
    dropped = 1000 - len(kept)
    # threshold is the interpolated 25th percentile: ~250 rows below it
    assert 240 <= dropped <= 260
    min_kept = min(r.score for r in kept)
    all_scores = [r.score for r in d.collect()]
    assert all(s < min_kept for s in all_scores if s not in
               {r.score for r in kept})


def test_pack_sequences_raises_on_negative_token_count(spark):
    """The derived-totals identity (max of running sum = group total)
    requires non-negative token counts; the contract is enforced per
    row — a negative count raises instead of silently mispacking
    (ADVICE r15)."""
    import re

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    d = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 17, F.lit(-3))
        .otherwise(F.lit(5))
        .cast("long")
        .alias("n_tokens"),
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as info:
        pack_sequences(d, "doc_id", "n_tokens", budget=64).collect()
    if isinstance(info.value, SparkRuntimeException):
        failures = [str(info.value)]
    else:
        # two AQE stages can hit the contract at the same moment; Spark
        # then lists every failure in one SparkException, which PySpark
        # does not convert
        je = info.value.java_exception
        assert je.getCondition() == "STAGE_MATERIALIZATION_MULTIPLE_FAILURES", je
        params = je.getMessageParameters()
        failures = re.split(r"\n  \d+\. ", params.get("failureDetails"))[1:]
        assert len(failures) == int(params.get("failureCount")), failures
    assert all("negative n_tokens" in f for f in failures), failures


def test_pack_sequences_null_counts_still_skipped(spark):
    """NULL token counts pass the guard (sum skips them), exactly as
    before the negative-count enforcement."""
    d = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 3, F.lit(None))
        .otherwise(F.lit(7))
        .cast("long")
        .alias("n_tokens"),
    )
    rows = pack_sequences(d, "doc_id", "n_tokens", budget=64).collect()
    assert len(rows) == 10
