"""Blocked Bloom filter: no false negatives ever, usable false-positive
rate, exact gate equivalence, build/probe plan shapes, determinism."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import bloom as bloom_mod
from ocr_spark.operators.bloom import (
    bloom_build,
    bloom_gate_exact,
    bloom_probe,
)

NB = 256


@pytest.fixture(autouse=True)
def _small_filter(monkeypatch):
    """A denser filter than the shipped one, so collisions happen at the
    few hundred keys these tests build."""
    monkeypatch.setattr(bloom_mod, "BLOOM_N_BLOCKS", NB)


def _keys(spark, lo, hi, tag="k"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("fp"),
    )


def test_no_false_negatives_and_bounded_fpp(spark):
    committed = _keys(spark, 0, 300)
    bloom = bloom_build(committed)
    probe = bloom_probe(_keys(spark, 0, 600), bloom)
    rows = {r["doc_id"]: r["maybe_seen"] for r in probe.collect()}
    assert len(rows) == 600
    # every built key MUST report maybe_seen — Bloom negatives are definite
    assert all(rows[i] for i in range(300))
    # out-of-set keys: some false positives allowed, but not a wall of them
    fp = sum(rows[i] for i in range(300, 600))
    assert fp < 150, f"fpp {fp/300:.2f} is no better than a coin flip"


def test_gate_exact_matches_semi_join(spark):
    committed = _keys(spark, 0, 250)
    # new batch: 100 overlapping, 150 novel
    new = _keys(spark, 150, 400)
    bloom = bloom_build(committed)
    got = {
        r["doc_id"]: r["seen"]
        for r in bloom_gate_exact(new, committed, bloom).collect()
    }
    assert len(got) == 250  # row-for-row: nothing silently dropped
    assert all(got[i] for i in range(150, 250))
    assert not any(got[i] for i in range(250, 400))


def test_build_is_partition_invariant(spark):
    a = _keys(spark, 0, 500).repartition(1)
    b = _keys(spark, 0, 500).repartition(13)
    ta = sorted(map(tuple, bloom_build(a).collect()))
    tb = sorted(map(tuple, bloom_build(b).collect()))
    assert ta == tb and len(ta) <= NB


def test_probe_plan_broadcasts_filter(spark):
    bloom = bloom_build(_keys(spark, 0, 300))
    probed = bloom_probe(_keys(spark, 0, 600), bloom)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the probe side must not be range/hash re-shuffled for the join —
    # the filter table is the build side of a broadcast join
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_build_plan_partial_aggregation(spark):
    plan = (
        bloom_build(_keys(spark, 0, 300))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial bit_or before the block shuffle: two HashAggregate levels
    assert plan.count("HashAggregate") >= 2
    # no Python anywhere — the whole filter is JVM expressions
    assert "Python" not in plan and "ArrowEval" not in plan
