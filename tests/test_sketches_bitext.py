"""HyperLogLog sketch and bitext alignment operators."""

from pyspark.sql import functions as F

from ocr_spark.operators.bitext import bitext_pairs
from ocr_spark.operators.sketches import (
    HLL_M,
    hll_accuracy,
    hll_distinct,
    hll_registers,
)


def test_hll_raw_estimate_path_accuracy(spark):
    # 20k distinct keys in one group: registers saturate (V == 0), so the
    # raw harmonic estimate — not linear counting — must be within the
    # ~3/sqrt(256) error band.
    df = spark.range(20_000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    row = hll_distinct(df, "grp", "key").collect()[0]
    assert row["registers_used"] == HLL_M  # genuinely the raw path
    assert abs(row["est_distinct"] - 20_000) / 20_000 < 0.15


def test_hll_linear_counting_path(spark):
    # 50 distinct keys: most registers empty -> linear counting, which is
    # near-exact at this range.
    df = spark.range(50).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    row = hll_distinct(df, "grp", "key").collect()[0]
    assert row["registers_used"] < HLL_M
    assert abs(row["est_distinct"] - 50) <= 5


def test_hll_registers_merge_by_max(spark):
    # The production merge: sketches of two corpus slices union+max into
    # exactly the sketch of the union — same registers, same estimate.
    whole = spark.range(3_000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    a = whole.where(F.col("key").substr(2, 10).cast("long") < 1500)
    b = whole.where(F.col("key").substr(2, 10).cast("long") >= 1000)  # overlap
    merged = (
        hll_registers(a, "grp", "key")
        .unionByName(hll_registers(b, "grp", "key"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    direct = hll_registers(whole, "grp", "key")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_duplicates_do_not_move_the_estimate(spark):
    base = spark.range(500).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    dup = base.unionAll(base).unionAll(base)
    e1 = hll_distinct(base, "grp", "key").collect()[0]["est_distinct"]
    e3 = hll_distinct(dup, "grp", "key").collect()[0]["est_distinct"]
    assert e1 == e3


def test_hll_accuracy_columns(spark):
    df = spark.range(200).select(
        (F.col("id") % 2).cast("string").alias("lang"),
        F.concat(F.lit("k"), F.col("id")).alias("text"),
    )
    rows = {r["grp"]: r for r in hll_accuracy(df).collect()}
    assert set(rows) == {"0", "1"}
    for r in rows.values():
        assert r["exact_distinct"] == 100
        assert r["rel_err"] < 0.2


def _bitext_input(spark, rows):
    return spark.createDataFrame(rows, "slug long, lang string, doc_id long, n_chars long")


def test_bitext_pairs_and_ratio_gate(spark):
    rows = [
        (1, "en", 10, 1000),
        (1, "de", 11, 1100),   # paired: ratio 0.909
        (1, "zh", 12, 3000),   # ratio 1/3: gated out vs both
        (2, "en", 20, 500),    # alone on its template: no pair
    ]
    got = {
        (r["lang_a"], r["lang_b"]): r
        for r in bitext_pairs(_bitext_input(spark, rows)).collect()
    }
    assert set(got) == {("de", "en")}
    p = got[("de", "en")]
    assert (p["doc_a"], p["doc_b"], p["slug"]) == (11, 10, 1)
    assert abs(p["len_ratio"] - 1.1) < 1e-9


def test_bitext_representative_is_min_doc_id(spark):
    # a recrawl of the same localized page must not multiply the pairs
    rows = [
        (1, "en", 10, 1000),
        (1, "en", 99, 9000),  # recrawl dup, longer — must be ignored
        (1, "fr", 30, 900),
    ]
    out = bitext_pairs(_bitext_input(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["doc_a"] == 10 and out[0]["lang_a"] == "en"
    assert abs(out[0]["len_ratio"] - round(1000 / 900, 4)) < 1e-9


def test_bitext_zero_length_gated(spark):
    rows = [(1, "en", 1, 0), (1, "fr", 2, 500)]
    assert bitext_pairs(_bitext_input(spark, rows)).count() == 0


def test_hll_plan_no_python_partial_max(spark):
    """Plan pin: the sketch is expression-only (no Python eval nodes) and
    the register max partial-aggregates map-side before its exchange."""
    df = spark.range(1000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hll_distinct(df, "grp", "key").explain("formatted")
    plan = buf.getvalue()
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "partial_max" in plan


def test_dd_quantiles_within_relative_error_bound(spark):
    """Heavy-tailed values: every estimated quantile must sit within the
    sketch's bucket of the true inverted-CDF quantile, i.e. <= 6.25%
    midpoint relative error (plus the unit-bucket exactness below 16)."""
    import numpy as np

    from ocr_spark.operators.sketches import dd_sketch_quantiles

    rng = np.random.RandomState(7)
    vals = np.exp(rng.normal(5, 1.5, 20_000)).astype("int64")
    df = spark.createDataFrame([(int(v),) for v in vals], "n_chars long").select(
        F.lit("g").alias("g"), "n_chars"
    )
    for r in dd_sketch_quantiles(df, "g").collect():
        exact = float(np.percentile(vals, r["q"] * 100, method="inverted_cdf"))
        assert abs(r["est_value"] - exact) / exact <= 0.0625, (r["q"], r["est_value"], exact)
        assert r["n"] == 20_000


def test_dd_small_values_are_exact(spark):
    from ocr_spark.operators.sketches import dd_sketch_quantiles

    df = spark.createDataFrame(
        [("g", v) for v in (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)], "g string, n_chars long"
    )
    got = {r["q"]: r["est_value"] for r in dd_sketch_quantiles(df, "g").collect()}
    assert got[0.5] == 4.0   # ceil(0.5*10) = 5th smallest (inverted CDF) = 4
    assert got[0.99] == 9.0  # ceil(0.99*10) = 10th smallest = 9


def test_dd_nulls_and_negatives_out_of_domain(spark):
    from ocr_spark.operators.sketches import dd_buckets

    df = spark.createDataFrame(
        [("g", 5), ("g", None), ("g", -3)], "g string, n_chars long"
    )
    regs = dd_buckets(df, "g").collect()
    assert len(regs) == 1 and regs[0]["bucket"] == 5 and regs[0]["cnt"] == 1


def test_bitext_plan_single_join_no_cartesian(spark):
    rows = [(1, "en", 10, 1000), (1, "de", 11, 1100)]
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bitext_pairs(_bitext_input(spark, rows)).explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert tree.count("Join") == 1


def test_hll_null_keys_do_not_bias_the_estimate(spark):
    """ADVICE r4 sketches item: NULL keys (e.g. parse_url HOST of a
    malformed url) must not mint a register row — same registers, same
    estimate, with or without NULL-key rows in the input."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.sketches import hll_estimate, hll_registers

    clean = spark.range(500).select(
        F.lit("g").alias("grp"), F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    with_nulls = clean.unionByName(
        spark.range(50).select(
            F.lit("g").alias("grp"), F.lit(None).cast("string").alias("k")
        )
    )
    a = {(r["grp"], r["bucket"]): r["rho"]
         for r in hll_registers(clean, "grp", "k").collect()}
    b = {(r["grp"], r["bucket"]): r["rho"]
         for r in hll_registers(with_nulls, "grp", "k").collect()}
    assert a == b
    ea = hll_estimate(hll_registers(clean, "grp", "k")).collect()[0]
    eb = hll_estimate(hll_registers(with_nulls, "grp", "k")).collect()[0]
    assert ea["est_distinct"] == eb["est_distinct"]
    assert ea["registers_used"] == eb["registers_used"]
