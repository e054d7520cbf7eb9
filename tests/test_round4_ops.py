"""Round-4 operators: mojibake repair, sentence split, snapshot diff,
publication-date extraction — unit contracts + physical-plan pins."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from ocr_spark.functions.encoding import MOJIBAKE_MAP, fix_mojibake
from ocr_spark.functions.text import split_sentences
from ocr_spark.operators.incremental import snapshot_diff
from ocr_spark.operators.pagemeta import pub_date

SF_DIR = "/root/testdata/sf0.01"


# --- mojibake repair ---------------------------------------------------------


def test_mojibake_map_is_the_cp1252_round_trip():
    """The map's identity: every pair IS c.encode('utf-8').decode('cp1252'),
    longest-first — ground truth recomputed here, independent of the module."""
    for garbled, ch in MOJIBAKE_MAP:
        assert ch.encode("utf-8").decode("cp1252") == garbled
    lens = [len(g) for g, _ in MOJIBAKE_MAP]
    assert lens == sorted(lens, reverse=True)


def test_fix_mojibake_repairs_byte_roundtrip_ground_truth(spark):
    """Garble real strings with the actual byte round trip (NOT the map) and
    assert the Spark chain recovers them — catches any map/chain drift."""
    clean = [
        "café — résumé … über",
        "naïve © 2024 ¡Señor! Ærø",
        "l'élève — déçu, ô «quotes» ±5°",
        "plain ascii stays plain ascii",
        "",
    ]
    rows = [(s.encode("utf-8").decode("cp1252"),) for s in clean]
    df = spark.createDataFrame(rows, "raw string")
    got = [r.fixed for r in df.select(fix_mojibake().alias("fixed")).collect()]
    assert got == clean


def test_fix_mojibake_idempotent_and_scored(spark):
    df = spark.createDataFrame(
        [("cafÃ© x",), ("all clean",)], "raw string"
    ).select(
        "raw",
        fix_mojibake().alias("f1"),
        (F.length("raw") - F.length(fix_mojibake())).alias("score"),
    )
    rows = {r.raw: r for r in df.collect()}
    assert rows["cafÃ© x"].f1 == "café x" and rows["cafÃ© x"].score == 1
    assert rows["all clean"].f1 == "all clean" and rows["all clean"].score == 0
    # one pass is a fixed point: a second pass over the repaired text
    twice = df.select(F.col("f1").alias("raw")).select("raw", fix_mojibake().alias("f2"))
    for r in twice.collect():
        assert r.f2 == r.raw


# --- sentence segmentation ---------------------------------------------------


@pytest.mark.parametrize(
    "text,want",
    [
        ("One two. Three four! Five?", ["One two.", "Three four!", "Five?"]),
        ("no terminator tail", ["no terminator tail"]),
        ("Wait... done", ["Wait...", "done"]),
        ("", []),
        ("   ", []),
        ("?!", []),  # pure terminators: no sentence body to keep
    ],
)
def test_split_sentences(spark, text, want):
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(split_sentences("t").alias("s")).collect()[0].s
    assert got == want


# --- snapshot diff -----------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_whitespace_is_canonical(spark):
    """Fingerprints canonicalize case/whitespace, so a reflow is 'unchanged'
    — content diffing, not byte diffing."""
    old = spark.createDataFrame([(1, "A  b\tc")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert snapshot_diff(old, new).collect()[0].status == "unchanged"


# --- publication date --------------------------------------------------------


def _pub(spark, html: str, url: str = "https://ex.com/p"):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    return pub_date(df).collect()[0]


def test_pub_date_meta_wins_over_time(spark):
    r = _pub(
        spark,
        '<head><meta property="article:published_time" '
        'content="2024-03-15T10:00:00+00:00">'
        '<time datetime="2020-01-01">x</time></head>',
    )
    assert (r.pub_date, r.pub_source) == ("2024-03-15", "meta")


def test_pub_date_invalid_meta_falls_through(spark):
    r = _pub(
        spark,
        '<head><meta property="article:published_time" content="2024-13-40">'
        '<time datetime="2021-06-09">x</time></head>',
    )
    assert (r.pub_date, r.pub_source) == ("2021-06-09", "time")


def test_pub_date_url_path_and_validity(spark):
    r = _pub(spark, "<head></head>", "https://ex.com/2019/07/04/post/")
    assert (r.pub_date, r.pub_source) == ("2019-07-04", "url")
    r2 = _pub(spark, "<head></head>", "https://ex.com/2019/13/04/post/")
    assert r2.pub_date is None and r2.pub_source is None


def test_pub_date_absent_is_null(spark):
    r = _pub(spark, "<head><title>no dates</title></head>")
    assert r.pub_date is None and r.pub_source is None


# --- physical-plan pins ------------------------------------------------------


def _plan(spark, name: str) -> str:
    df = {**entrymod.queries(), **entrymod.extra_queries()}[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(plan: str) -> str:
    return plan.split("\n\n")[0]


@pytest.mark.parametrize("name", ["fix_encoding", "pub_date", "sentences"])
def test_round4_projections_zero_shuffle_zero_python(spark, name):
    plan = _plan(spark, name)
    tree = _tree(plan)
    assert tree.count("Exchange") == 0, f"{name} must not shuffle"
    assert "EvalPython" not in plan, f"{name} must stay JVM-side"
    assert tree.count("Scan parquet") == 1


def test_snapshot_diff_joins_fingerprints_not_text(spark):
    plan = _plan(spark, "snapshot_diff")
    assert "FullOuter" in plan
    assert "EvalPython" not in plan
    # fp columns (md5) are computed BELOW the join: every Exchange carries
    # (key, 32-char fp) and never the document text column
    exchange_blocks = [
        b for b in plan.split("\n\n") if b.lstrip().startswith("(")
        and "Exchange" in b.splitlines()[0]
    ]
    assert exchange_blocks, "expected shuffle exchanges in the detail section"
    for b in exchange_blocks:
        assert "_fp" in b and "text" not in b
