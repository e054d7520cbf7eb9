"""Round-4 additions: int8 scalar-quantized ANN, temperature mixture
weights, prefix-bucketed interval join — unit contracts + plan pins."""

import math

import pandas as pd
import pytest

import pyspark.sql.functions as F

from ocr_spark.operators.iprange import (
    IP_HASH_A,
    IP_SPACE,
    explode_range_prefixes,
    ip_range_join,
    network_ranges,
    region_traffic,
)
from ocr_spark.operators.mixing import temperature_mixture
from ocr_spark.operators.similarity import sq_bounds, sq_scores, sq_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- scalar quantization -----------------------------------------------------


def _emb_frame(spark):
    rows = [
        (0, [1.0, 0.0, 5.0, 2.0]),
        (1, [0.9, 0.1, 5.0, 1.0]),
        (2, [-1.0, 1.0, 5.0, 0.0]),
        (3, [0.0, 0.5, 5.0, -2.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture
def dim4(monkeypatch):
    """``_emb_frame``'s vectors are 4-wide."""
    from ocr_spark.operators import similarity

    monkeypatch.setattr(similarity, "EMBED_DIM", 4)
    return similarity


def test_sq_bounds_per_dim_and_constant_dim(spark, dim4):
    mins, scales = sq_bounds(_emb_frame(spark))
    assert mins == [-1.0, 0.0, 5.0, -2.0]
    assert scales[0] == (1.0 - -1.0) / 255.0
    # a constant dimension quantizes with scale 0 (code 0, recon = min)
    assert scales[2] == 0.0


def test_sq_quantization_error_is_bounded(spark, dim4):
    """Asymmetric reconstruction error per dim is at most scale/2, so the
    quantized dot differs from the exact dot by at most sum(|q_d|*sc_d/2)."""
    df = _emb_frame(spark)
    mins, scales = sq_bounds(df)
    q = [1.0, -2.0, 0.5, 3.0]
    got = {
        r["vec_id"]: r["score_sq"]
        for r in sq_scores(df, q, mins, scales).collect()
    }
    budget = sum(abs(qd) * sc / 2 for qd, sc in zip(q, scales)) + 1e-4
    for vid, emb in [(r["vec_id"], r["embedding"]) for r in df.collect()]:
        exact = sum(a * b for a, b in zip(q, emb))
        assert abs(got[vid] - exact) <= budget, (vid, got[vid], exact)


def test_sq_topk_self_hit_and_plan(spark, dim4, monkeypatch):
    monkeypatch.setattr(dim4, "SQ_TOPK", 2)
    df = _emb_frame(spark)
    out = sq_topk(df, [1.0, 0.0, 5.0, 2.0])
    rows = out.collect()
    # the query IS row 0: it must rank first, and its exact cosine is 1
    assert rows[0]["vec_id"] == 0
    assert abs(rows[0]["cosine_exact"] - 1.0) < 1e-9
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # rescore joins the broadcast winners
    assert "SortMergeJoin" not in plan and "Python" not in plan


def test_sq_scores_zero_shuffle(spark, dim4):
    df = _emb_frame(spark)
    mins, scales = sq_bounds(df)
    plan = _plan(sq_scores(df, [1.0, 0.0, 0.0, 0.0], mins, scales))
    assert "Exchange" not in plan and "Python" not in plan


# --- temperature mixture -----------------------------------------------------


def test_temperature_mixture_math(spark, monkeypatch):
    from ocr_spark.operators import mixing

    monkeypatch.setattr(mixing, "TEMPERATURE_ALPHA", 0.5)
    rows = [(0, "one two three four five six seven eight nine ten", "en"),
            (1, "uno dos", "es")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in temperature_mixture(df).collect()}
    tot = 12.0
    tw = math.sqrt(10) + math.sqrt(2)
    assert out["en"]["n_tokens"] == 10 and out["es"]["n_tokens"] == 2
    assert abs(out["en"]["raw_share"] - 10 / tot) < 1e-6
    assert abs(out["es"]["temp_share"] - math.sqrt(2) / tw) < 1e-6
    # alpha < 1 upsamples the low-resource language, downsamples the big one
    assert out["es"]["boost"] > 1.0 > out["en"]["boost"]
    shares = [r["temp_share"] for r in out.values()]
    assert abs(sum(shares) - 1.0) < 1e-5


def test_temperature_mixture_alpha_one_is_identity(spark, monkeypatch):
    from ocr_spark.operators import mixing

    monkeypatch.setattr(mixing, "TEMPERATURE_ALPHA", 1.0)
    rows = [(0, "a b c", "en"), (1, "x y", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    for r in temperature_mixture(df).collect():
        assert abs(r["boost"] - 1.0) < 1e-6


# --- interval join -----------------------------------------------------------


def test_network_ranges_disjoint_with_gaps():
    rs = network_ranges()
    for (lo, hi, _), (lo2, _, _) in zip(rs, rs[1:]):
        assert lo <= hi < lo2
    # the deliberate coverage gaps exist (every 5th range skips addresses)
    gaps = [lo2 - hi - 1 for (_, hi, _), (lo2, _, _) in zip(rs, rs[1:])]
    assert any(g > 0 for g in gaps)


def test_prefix_explosion_covers_boundary_straddle(spark):
    """A range straddling /8 boundaries appears once per covered prefix."""
    ranges = spark.createDataFrame(
        [(1 << 24, (3 << 24) + 5, "x")], "lo long, hi long, region string"
    )
    pref = explode_range_prefixes(ranges).collect()
    assert sorted(r["prefix"] for r in pref) == [1, 2, 3]


def test_ip_range_join_matches_naive_between(spark):
    """The prefix-bucketed equi-join computes the same relation as the
    naive non-equi BETWEEN join, including NULL regions for gap IPs."""
    ranges_py = network_ranges()
    ranges = spark.createDataFrame(ranges_py, "lo long, hi long, region string")
    events = spark.range(0, 500).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * IP_HASH_A) % IP_SPACE).alias("ip"),
    )
    got = {
        r["event_id"]: r["region"]
        for r in ip_range_join(events, ranges).collect()
    }
    want = {}
    for eid in range(500):
        ip = (eid * IP_HASH_A) % IP_SPACE
        want[eid] = next(
            (reg for lo, hi, reg in ranges_py if lo <= ip <= hi), None
        )
    assert got == want
    assert None in want.values()  # the gap path is genuinely exercised


def test_ip_range_join_plan_is_broadcast_hash_not_nested_loop(spark):
    ranges = spark.createDataFrame(
        network_ranges(), "lo long, hi long, region string"
    )
    events = spark.range(0, 100).select(
        ((F.col("id") * IP_HASH_A) % IP_SPACE).alias("ip")
    )
    plan = _plan(ip_range_join(events, ranges))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_region_traffic_rollup(spark):
    events = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "event_id long, user_id long"
    )
    out = region_traffic(events, spark)
    pdf = out.toPandas()
    assert int(pdf.n_events.sum()) == 100
    # 7 distinct users total; each region's n_users <= 7
    assert (pdf.n_users <= 7).all()
    assert set(pdf.region) <= {"amer", "emea", "apac", "latam", "anz", "mea",
                               "unrouted"}


# --- signed random projection -------------------------------------------------


def test_random_projection_jl_distance_preservation(spark):
    """The JL contract, measured: projected pairwise Euclidean distances
    are UNBIASED (mean ratio ~1 over all pairs) and individually bounded
    — deterministic for the fixed seed matrix. Also pins the long-format
    shape: k rows per vector, 4-dp coordinates."""
    from itertools import combinations

    import numpy as np

    from ocr_spark.operators.similarity import RP_K, random_projection

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(30)
    pdf = df.toPandas()
    orig = np.array([np.array(e, dtype=float) for e in pdf.embedding])
    k = RP_K
    long = random_projection(df).toPandas()
    assert len(long) == len(pdf) * k
    proj = np.zeros((len(pdf), k))
    idx = {v: i for i, v in enumerate(pdf.vec_id)}
    for r in long.itertuples():
        proj[idx[r.vec_id], r.j] = r.p
    ratios = []
    for a, b in combinations(range(len(pdf)), 2):
        do = np.linalg.norm(orig[a] - orig[b])
        dp = np.linalg.norm(proj[a] - proj[b])
        ratios.append(dp / do)
    ratios = np.array(ratios)
    assert 0.85 < ratios.mean() < 1.15      # unbiased in aggregate
    # per pair, k * ratio^2 is ~chi-square(k): at k = RP_K = 8 these bounds
    # have per-pair tail probabilities of ~6e-5 below and ~1e-7 above
    assert ratios.min() > 0.22 and ratios.max() < 2.45
    # rerun is bit-identical (seeded matrix, no RNG at eval time)
    again = random_projection(df).toPandas()
    pd.testing.assert_frame_equal(
        long.sort_values(["vec_id", "j"]).reset_index(drop=True),
        again.sort_values(["vec_id", "j"]).reset_index(drop=True),
    )


def test_random_projection_plan_no_python_no_shuffle(spark):
    from ocr_spark.operators.similarity import random_projection

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = _plan(random_projection(df))
    assert "Python" not in plan
    assert "Exchange" not in plan


# --- product quantization -----------------------------------------------------


def test_pq_topk_recall_and_self_rank(spark, monkeypatch):
    """The query vector ranks itself first (its own codes reproduce it up
    to quantization residual); PQ top-10 overlaps the exact cosine top-10
    — measured, deterministic for the seeded codebooks."""
    from ocr_spark.operators import similarity
    from ocr_spark.operators.similarity import cosine_topk, pq_topk

    monkeypatch.setattr(similarity, "COSINE_TOPK", 10)

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pq = pq_topk(df).toPandas()
    assert pq.iloc[0].vec_id == 0  # the query itself
    exact = cosine_topk(df, [float(x) for x in df.where("vec_id = 0")
                             .toPandas().embedding.iloc[0]]).toPandas()
    overlap = len(set(pq.vec_id) & set(exact.vec_id))
    assert overlap >= 3  # ANN: meaningful agreement, not exactness
    again = pq_topk(df).toPandas()
    assert pq.equals(again)


def test_pq_codebooks_shape_and_codes_bounded(spark):
    from ocr_spark.operators.similarity import (
        _pq_assign,
        _pq_subvectors,
        pq_codebooks,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(200)
    cents = pq_codebooks(df).toPandas()
    # <= 16 codes per each of the 8 subspaces, every cv 8 wide
    assert set(cents["sub"]) == set(range(8))
    assert cents.groupby("sub").size().le(16).all()
    assert cents.cv.map(len).eq(8).all()
    subs = _pq_subvectors(df)
    codes = _pq_assign(subs, spark.createDataFrame(cents)).toPandas()
    assert len(codes) == 200 * 8  # every (vec, sub) encoded
    assert codes.cent_id.between(0, 15).all()
