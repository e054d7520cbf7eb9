"""Replicates the driver's correctness gate: every queries() entry with an
oracle_sql() twin must produce the same row count, column names, and values
(order-insensitive) as DuckDB at sf0.01."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Width/order normalization ONLY — int widths collapse to int64 and
    datetimes to [us], but float-vs-int is deliberately PRESERVED: the
    driver's value-hash sees `455.0` != `455`, so an uncast DuckDB sum()
    (HUGEINT -> pandas float64) must fail here with check_dtype=True
    before it can fail the driver (the r3 `host_degree` defect class)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith(("float", "Float")):
            pdf[c] = pdf[c].astype("float64").round(4)
        elif str(pdf[c].dtype).startswith(("int", "Int", "uint", "bool")):
            pdf[c] = pdf[c].astype("int64")
        elif str(pdf[c].dtype).startswith("datetime"):
            # Arrow-vs-DuckDB ns/us unit drift is representation, not value
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


ORACLES = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
QUERIES = {**entrymod.queries(), **entrymod.extra_queries()}


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_driver_registry_fits_correctness_window():
    """The driver's correctness gate witnesses at most the first 50 registry
    entries (observed in r2); queries() must never exceed it, so no entry
    ships driver-unwitnessed."""
    assert len(entrymod.queries()) <= 50
    # extras are genuinely out-of-band and each carries its own oracle
    assert set(entrymod.extra_oracle_sql()) == set(entrymod.extra_queries())


def test_registry_witnesses_are_in_the_window():
    """Each query outside the driver's window names, in REGISTRY, the
    in-window query that runs the same operator or plan shape; the window
    and the rest split the table in table order."""
    window = entrymod.queries()
    for name, (_, witness) in entrymod.REGISTRY.items():
        if witness is not None:
            assert witness != name, f"{name} witnesses itself"
            assert witness in window, f"{name}: witness {witness!r} is not in queries()"
    names = list(entrymod.REGISTRY)
    assert list(window) == [k for k in names if entrymod.REGISTRY[k][1] is None]
    assert list(entrymod.extra_queries()) == [k for k in names if k not in window]
    assert len(window) <= 50


def test_builders_leave_the_session_unchanged(spark):
    """A builder must not register views in the caller's session
    (grouping_sets passes its frame to spark.sql as an argument)."""
    before = {t.name for t in spark.catalog.listTables()}
    QUERIES["grouping_sets"](spark, SF_DIR).collect()
    assert not spark.catalog.tableExists("events_gs")
    assert {t.name for t in spark.catalog.listTables()} == before


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    got = _canon(QUERIES[name](spark, SF_DIR).toPandas())
    want = _canon(duck.execute(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=True, atol=0, rtol=0)


def test_uncast_sum_oracle_is_caught(duck):
    """Regression meta-test for the r3 `host_degree` defect class: a DuckDB
    sum() left uncast comes back HUGEINT -> pandas float64, and the strict
    gate must reject it against an integral Spark result even though the
    values are numerically identical (the driver's value-hash would)."""
    want = _canon(duck.execute(
        "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)").df())
    got = _canon(pd.DataFrame({"s": pd.Series([3], dtype="int64")}))
    assert str(want["s"].dtype) == "float64"  # the drift actually occurs
    with pytest.raises(AssertionError):
        pd.testing.assert_frame_equal(got, want, check_dtype=True, atol=0, rtol=0)


def test_no_rows_only_queries_remain():
    """Every registered query (window + extras) has an exact DuckDB oracle —
    the weaker rows-only evidence tier is empty by construction. This was a
    parametrized runner over set(QUERIES)-set(ORACLES); once that set
    emptied, pytest reported it as a perpetual unexplained 'skipped', so it
    is now the explicit invariant. If a genuinely non-SQL-expressible query
    ever lands, reintroduce the runner for it (and document why)."""
    assert set(QUERIES) == set(ORACLES), (
        f"queries without oracles: {sorted(set(QUERIES) - set(ORACLES))}; "
        f"oracles without queries: {sorted(set(ORACLES) - set(QUERIES))}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_are_session_default_proof(spark, duck):
    """The driver calls queries() with its own SparkSession; the wrapped
    callables must produce oracle-identical results even when the caller's
    session timezone is hostile (non-UTC)."""
    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        for name in ("events_hourly", "epoch_parse", "asof_join"):
            got = _canon(QUERIES[name](spark, SF_DIR).toPandas())
            want = _canon(duck.execute(ORACLES[name]).df())
            pd.testing.assert_frame_equal(got, want, check_dtype=True, atol=0, rtol=0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
