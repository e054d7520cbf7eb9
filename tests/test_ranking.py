"""distributed_ntile / perplexity_buckets / soft_sample / blocklist_gate.

The oracle-parity suite already pins the three registry queries against
DuckDB at sf0.01; these tests pin the semantics the parity run can't
see — partition-count invariance of the distributed rank, the unscored
branch, gate monotonicity, and the no-SinglePartition plan shape.
"""

import contextlib
import io

from pyspark.sql import functions as F

from ocr_spark import session
from ocr_spark.operators.blocklist import blocklist_gate
from ocr_spark.operators import ranking
from ocr_spark.operators.ranking import distributed_ntile, perplexity_buckets
from ocr_spark.operators.sampling import soft_sample


def _ntile_rows(spark):
    # groups of size 7, 3, 1 — none divisible by 3
    rows = [("a", i, i * 10) for i in range(7)]
    rows += [("b", i, 100 - i) for i in range(3)]
    rows += [("c", 0, 5)]
    df = spark.createDataFrame(rows, "g string, k int, score int")
    out = distributed_ntile(
        df,
        n=3,
        group_col="g",
        order_cols=[F.desc("score"), F.asc("k")],
        rank_col="group_rank",
    )
    return sorted(
        out.select("g", "k", "group_rank", "_b").collect()
    )


def test_distributed_ntile_exact_and_partition_invariant(spark, monkeypatch):
    """Ranks/buckets equal the single-node answer at every partitioning
    (1 partition ... more partitions than rows)."""
    expected = {
        # group a: score desc => k=6 rank 1 ... k=0 rank 7; n=3 over 7:
        # floor(3*(r-1)/7): r1-3 -> 0, r4-5 -> 1, r6-7 -> 2
        ("a", 6, 1, 0), ("a", 5, 2, 0), ("a", 4, 3, 0),
        ("a", 3, 4, 1), ("a", 2, 5, 1),
        ("a", 1, 6, 2), ("a", 0, 7, 2),
        # group b: 100-i desc => k=0 first
        ("b", 0, 1, 0), ("b", 1, 2, 1), ("b", 2, 3, 2),
        # singleton group -> rank 1, bucket 0
        ("c", 0, 1, 0),
    }
    for nparts in (1, 2, 5, 32):
        monkeypatch.setattr(session, "default_partitions", lambda _, n=nparts: n)
        got = {
            (r.g, r.k, r.group_rank, r._b)
            for r in _ntile_rows(spark)
        }
        assert got == expected, f"num_partitions={nparts}"


def test_perplexity_buckets_unscored_branch(spark):
    """Docs with < 2 tokens (NULL LM score) come back bucket='unscored'
    with NULL rank — never dropped; scored docs cover all three buckets."""
    rows = [(i, "the cat sat on the mat " * (i + 1), "en") for i in range(6)]
    rows += [(100, "single", "en"), (101, None, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(df).collect()
    assert len(out) == 8
    by_id = {r.doc_id: r for r in out}
    for unscored_id in (100, 101):
        assert by_id[unscored_id].bucket == "unscored"
        assert by_id[unscored_id].lang_rank is None
    scored = [r for r in out if r.bucket != "unscored"]
    assert {r.bucket for r in scored} == {"head", "middle", "tail"}
    ranks = sorted(r.lang_rank for r in scored)
    assert ranks == list(range(1, 7))


def test_perplexity_buckets_plan_no_singlepartition_window(spark):
    """The scale contract: no SinglePartition anywhere in the bucket
    plan (the naive per-lang ntile would funnel a dominant language
    through one task), and the offset meta reaches the rank join as a
    broadcast."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan_df = perplexity_buckets(df)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    # The only SinglePartition exchange allowed is the LM's 1-row
    # vocabulary aggregate (broadcast-bound). No WINDOW may sit next to
    # one — the naive ntile's signature.
    lines = tree.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            near = "\n".join(lines[max(0, i - 2): i + 3])
            assert "Window" not in near, near
    assert "rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan


def test_soft_sample_monotone_and_nulls(spark):
    """weight 0 -> never kept, weight 1 -> always kept, NULL -> dropped
    but present; raising the weight never flips keep->drop."""
    rows = [(i, 0.0, 0.3, 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w0 double, w3 double, w1 double")
    k0, k3, k1 = (
        {r.doc_id: r.kept for r in soft_sample(df.select("doc_id", F.col(w).alias("score")))
         .select("doc_id", "kept").collect()}
        for w in ("w0", "w3", "w1")
    )
    assert len(k0) == len(k3) == len(k1) == 200
    assert not any(k0.values())
    assert all(k1.values())
    n3 = sum(k3.values())
    assert 30 <= n3 <= 90  # ~0.3 of 200, deterministic hash draw
    assert all(k1[d] for d, kept in k3.items() if kept)  # monotone in the weight

    null_df = spark.createDataFrame(
        [(1, None)], "doc_id long, score double"
    )
    r = soft_sample(null_df).collect()[0]
    assert r.kept is False  # NULL weight clamps to 0; the row survives


def test_blocklist_gate_suffix_and_dedup(spark):
    """Exact host, subdomain suffix, deepest-rule-wins, duplicate-domain
    dedup, unlisted and NULL-url rows kept."""
    pages = spark.createDataFrame(
        [
            (1, "https://h3.example.org/x"),         # exact rule
            (2, "https://a.b.h3.example.org/x"),     # subdomain of rule
            (3, "https://deep.m1.h5.example.org/x"), # deeper rule wins
            (4, "https://clean.example.net/x"),      # unlisted
            (5, None),                               # NULL url
        ],
        "doc_id long, url string",
    )
    rules = spark.createDataFrame(
        [
            ("h3.example.org", "adult"),
            ("h3.example.org", "zz-dup"),
            ("h5.example.org", "ads"),
            ("m1.h5.example.org", "tracker"),
        ],
        "domain string, category string",
    )
    got = {
        r.doc_id: (r.block_category, r.kept)
        for r in blocklist_gate(pages, rules).collect()
    }
    assert got[1] == ("adult", False)    # dedup picked min category
    assert got[2] == ("adult", False)    # suffix match
    assert got[3] == ("tracker", False)  # most specific rule wins
    assert got[4] == (None, True)
    assert got[5] == (None, True)        # NULL url never dropped


def test_blocklist_gate_zero_corpus_shuffle(spark):
    """All probes are broadcast hash joins; the corpus side never
    exchanges (rules-side tiny aggregate is the only exchange)."""
    pages = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit(".example.org/p")).alias("url"),
    )
    rules = spark.createDataFrame(
        [("h3.example.org", "adult")], "domain string, category string"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        blocklist_gate(pages, rules).explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    # every hash exchange keys on the rules side (domain dedup), never a
    # corpus column — the corpus rows flow scan -> probes with no shuffle
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert m.group(1).startswith("domain"), m.group(0)
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan.split("\n\n")[0]


def test_top_fraction_gate_exact_count_ties_and_invariance(spark, monkeypatch):
    """Exactly ceil(frac*n) rows kept even when the score is massively
    tied (the id tie-break decides); every input row returned; the same
    cut under a different physical partitioning."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.ranking import top_fraction_gate

    # 100 rows, only 3 distinct scores -> the cut lands INSIDE a tie run
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("double").alias("score"),
    )
    monkeypatch.setattr(ranking, "TOP_FRACTION", 0.1)
    out = top_fraction_gate(df).toPandas()
    assert len(out) == 100
    kept = out[out.kept]
    assert len(kept) == 10  # ceil(0.1 * 100)
    # the kept set: all score-2 rows ranked by id ascending
    want = sorted(i for i in range(100) if i % 3 == 2)[:10]
    assert sorted(kept.doc_id) == want
    again = top_fraction_gate(df.repartition(7)).toPandas()
    assert sorted(again[again.kept].doc_id) == want
