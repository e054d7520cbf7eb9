"""Z-order layout clustering: multi-column file skipping."""

from pyspark.sql import functions as F

from ocr_spark.plans.zorder import pruning_ratio, write_zordered, zorder_key
from ocr_spark.sources.iceberg_lite import IcebergLiteTable


def _xy(spark, n=20_000):
    """Two independent pseudo-uniform columns (deterministic)."""
    return spark.range(n).select(
        F.col("id"),
        (F.xxhash64(F.col("id")) % 10_000 + 10_000) % 10_000,
        (F.xxhash64(F.col("id"), F.lit(1)) % 10_000 + 10_000) % 10_000,
    ).toDF("id", "x", "y")


def test_zorder_key_locality(spark):
    """Morton keys of points close in BOTH dims are closer than points
    close in one dim only (the interleave actually interleaves)."""
    df = spark.createDataFrame(
        [(0, 0, 0), (1, 1, 1), (2, 0, 9999), (3, 9999, 9999)],
        "id long, x long, y long",
    )
    z = {r["id"]: r["_z"] for r in zorder_key(df, ["x", "y"]).collect()}
    assert z[0] < z[1] < z[3]
    assert abs(z[0] - z[1]) < abs(z[0] - z[2])  # near-in-both beats far-in-y


def test_zorder_prunes_on_every_clustered_column(spark, tmp_path):
    df = _xy(spark)
    zt = write_zordered(df, str(tmp_path / "zt"), ["x", "y"], n_buckets=16)
    # a linear layout clustered by x alone: same entry count, same stats
    lin = IcebergLiteTable(str(tmp_path / "lin"))
    lin.overwrite(
        df.withColumn("_zb", (F.col("x") / F.lit(10_000 / 16)).cast("int")),
        partition_by="_zb",
        stats_cols=("x", "y"),
    )
    assert len(zt.entries()) == len(lin.entries()) == 16
    # predicate on x: both layouts prune (x correlates with bucket in both)
    assert pruning_ratio(zt, "x", 0, 600) < 0.5
    assert pruning_ratio(lin, "x", 0, 600) < 0.5
    # predicate on y: ONLY the z-ordered layout prunes — the linear
    # layout's per-bucket y stats span the whole domain
    assert pruning_ratio(zt, "y", 0, 600) < 0.5
    assert pruning_ratio(lin, "y", 0, 600) == 1.0


def test_zorder_pruned_read_is_lossless(spark, tmp_path):
    """Conservative pruning: every row a full scan's filter returns lives
    in an entry the range pruning keeps."""
    import os
    from urllib.parse import urlparse

    df = _xy(spark, 5_000)
    t = write_zordered(df, str(tmp_path / "zt2"), ["x", "y"], n_buckets=16)
    lo, hi = 1200, 1800
    kept = {os.path.realpath(e["dir"]) for e in t.select_entries({"y": (lo, hi)})}
    assert len(kept) < len(t.entries())
    hits = (
        t.read(spark).where(F.col("y").between(lo, hi))
        .select("id", F.input_file_name().alias("f")).collect()
    )
    assert len(hits) == df.where(F.col("y").between(lo, hi)).count() > 0
    for r in hits:
        assert os.path.realpath(os.path.dirname(urlparse(r["f"]).path)) in kept


def test_zorder_constant_and_null_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 5, None), (2, 5, 3), (3, 5, 9)], "id long, x long, y long"
    )
    z = zorder_key(df, ["x", "y"]).collect()
    assert all(r["_z"] is not None for r in z)
    # constant x contributes 0 bits; NULL y normalizes to the minimum
    zmap = {r["id"]: r["_z"] for r in z}
    assert zmap[1] == zmap[2] or zmap[1] < zmap[3]


def test_zorder_rejects_non_numeric_columns(spark):
    """ADVICE r4 zorder item: data-derived min/max of a string/date column
    cannot enter the key arithmetic — fail fast, never emit invalid SQL."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    with pytest.raises(ValueError, match="non-numeric"):
        zorder_key(df, ["name"])
    with pytest.raises(ValueError, match="not in frame"):
        zorder_key(df, ["missing"])


def test_zorder_wide_int64_domain_no_overflow(spark):
    """Hash-valued columns span nearly the whole int64 domain; the old
    (c-mn)*65535 BIGINT form overflowed and scrambled the key. The double
    form must keep the key monotone in each column."""
    lo, hi = -(2**62), 2**62
    df = spark.createDataFrame(
        [(0, lo, 0), (1, -(2**40), 0), (2, 2**40, 0), (3, hi, 0)],
        "id long, x long, y long",
    )
    z = {r["id"]: r["_z"] for r in zorder_key(df, ["x", "y"]).collect()}
    assert z[0] <= z[1] <= z[2] <= z[3]
    assert z[0] < z[3]
    assert all(0 <= v < (1 << 32) for v in z.values())


def test_zorder_key_rejects_keys_wider_than_a_long(spark):
    """4 columns at the default 16 bits need 64 key bits: the shift into
    the sign bit would scramble _z, so the key must fail fast instead."""
    import pytest

    df = spark.createDataFrame(
        [(0, 1, 2, 3), (9, 8, 7, 6)], "a long, b long, c long, d long"
    )
    with pytest.raises(ValueError, match="at most 63"):
        zorder_key(df, ["a", "b", "c", "d"])
    # 3 x 16 = 48 bits fits: every _z non-negative
    z = [r["_z"] for r in zorder_key(df, ["a", "b", "c"]).collect()]
    assert z == sorted(z) and z[0] == 0 and z[1] > 0


def test_write_zordered_wide_key_buckets_without_overflow(spark, tmp_path):
    """3 columns x 16 bits = a 48-bit key, the widest the default allows:
    the bucket is ``_z`` divided by the bucket width (never ``_z * 16``,
    which overflows a long for keys wider than 59 bits). Every bucket lies
    in [0, 16) and every row is kept."""
    df = _xy(spark, 2_000).select(
        "id", "x", "y", (F.col("x") * 7 % 10_000).alias("u")
    )
    cols = ["x", "y", "u"]
    t = write_zordered(df, str(tmp_path / "zw"), cols, n_buckets=16)
    out = t.read(spark)
    buckets = {r["_zb"] for r in out.select("_zb").distinct().collect()}
    assert buckets and all(0 <= b < 16 for b in buckets)
    assert len(buckets) > 1
    assert out.count() == 2_000
    assert sorted(r["id"] for r in out.select("id").collect()) == list(range(2_000))
