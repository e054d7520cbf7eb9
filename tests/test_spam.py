"""Host-level spam signals: intra-host duplication, link-shape
imbalance, the min_pages eligibility floor, and full-outer host merge."""

from ocr_spark.operators.spam import SPAM_MIN_PAGES, spam_host_signals


def _out(spark, docs, edges):
    d = spark.createDataFrame(docs, "host string, text string")
    e = spark.createDataFrame(edges, "src_host string, dst_host string")
    return {r["host"]: r for r in spam_host_signals(d, e).collect()}


def test_template_farm_flags_spam_dup(spark):
    docs = [("farm", "same page")] * 4 + [
        ("ok", "alpha"), ("ok", "beta"), ("ok", "gamma"),
    ]
    out = _out(spark, docs, [("ok", "farm")])
    farm = out["farm"]
    assert farm.n_pages == 4 and farm.dup_pages == 3
    assert farm.dup_ratio == 0.75 and farm.spam_dup and farm.is_spam
    ok = out["ok"]
    assert ok.dup_ratio == 0.0 and not ok.is_spam


def test_fingerprint_is_canonical_not_byte_equal(spark):
    # whitespace/case variants collapse to one fingerprint (md5 canon)
    docs = [("h", "Hello  World"), ("h", "hello world"), ("h", "other")]
    out = _out(spark, docs, [])
    assert out["h"].dup_pages == 1


def test_link_farm_flags_spam_farm(spark):
    docs = [("farm", f"unique {i}") for i in range(3)] + [
        ("t0", "x"), ("t1", "y"),
    ]
    edges = [("farm", f"t{i}") for i in range(6)] + [("t0", "t1"), ("t1", "t0")]
    out = _out(spark, docs, edges)
    farm = out["farm"]
    assert farm.out_hosts == 6 and farm.in_hosts == 0
    assert farm.link_ratio == 6.0 and farm.spam_farm and not farm.spam_dup
    # reciprocated hosts are balanced — but also below min_pages
    assert not out["t0"].is_spam and not out["t1"].is_spam


def test_min_pages_floor_blocks_condemnation(spark):
    # identical duplication + fan-out shape, but only 2 pages -> all-false
    docs = [("tiny", "same")] * 2
    edges = [("tiny", f"t{i}") for i in range(9)]
    out = _out(spark, docs, edges)
    tiny = out["tiny"]
    assert tiny.dup_ratio == 0.5 and tiny.link_ratio == 9.0
    assert not tiny.spam_dup and not tiny.spam_farm and not tiny.is_spam
    # ...and the same shape IS condemned once the host has SPAM_MIN_PAGES
    grown = _out(spark, [("tiny", "same")] * SPAM_MIN_PAGES, edges)["tiny"]
    assert grown.spam_dup and grown.spam_farm and grown.is_spam


def test_full_outer_hosts_without_pages_or_edges(spark):
    docs = [("pages-only", "a"), ("pages-only", "b"), ("pages-only", "c")]
    edges = [("edges-only", "pages-only")]
    out = _out(spark, docs, edges)
    eo = out["edges-only"]  # no pages: row survives, zeros, never spam
    assert eo.n_pages == 0 and eo.out_hosts == 1 and not eo.is_spam
    po = out["pages-only"]
    assert po.n_pages == 3 and po.in_hosts == 1 and po.out_hosts == 0
