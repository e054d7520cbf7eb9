"""Link-graph family: href harvest, RFC 3986 resolution branches,
host degree invariants, PageRank distribution properties, and the
outlinks zero-shuffle plan contract."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ocr_spark.functions.links import (
    canonical_link,
    extract_hrefs,
    meta_content,
    resolve_href,
    strip_fragment,
)
from ocr_spark.operators import links
from ocr_spark.operators.links import (
    host_degree,
    host_graph,
    outlinks,
    pagerank_hosts,
)

BASE = "https://www.example.org/a/b/page.html"

RESOLVE_CASES = [
    # absolute stays as-is
    ("https://other.net/x", "https://other.net/x"),
    ("http://other.net/x?q=1", "http://other.net/x?q=1"),
    # scheme-relative inherits the base scheme
    ("//cdn.example.net/lib.js", "https://cdn.example.net/lib.js"),
    # root-relative joins scheme://host (canonicalized host: www stripped)
    ("/top/x.html", "https://example.org/top/x.html"),
    # path-relative joins the base directory
    ("sib.html", "https://example.org/a/b/sib.html"),
    # fragment-only and empty are same-document: not edges
    ("#sec2", None),
    ("", None),
    # non-fetchable schemes are not edges
    ("mailto:x@y.z", None),
    ("javascript:void(0)", None),
    ("tel:+1-555-0100", None),
    ("data:text/plain;base64,aGk=", None),
]


@pytest.fixture(scope="module")
def resolved(spark):
    rows = [Row(base=BASE, href=h) for h, _ in RESOLVE_CASES]
    out = (
        spark.createDataFrame(rows)
        .select("href", resolve_href("base", "href").alias("r"))
        .collect()
    )
    return {r["href"]: r["r"] for r in out}


@pytest.mark.parametrize("href,want", RESOLVE_CASES)
def test_resolve_href_branches(resolved, href, want):
    assert resolved[href] == want


def test_strip_fragment_and_harvest(spark):
    html = (
        '<html><head><title> A  Title </title>'
        '<link rel="canonical" href="https://example.org/c"/>'
        '<meta name="robots" content="noindex"/></head>'
        '<body><a href="/x#frag">one</a> text '
        '<a class="z" href="y.html">two</a></body></html>'
    )
    row = (
        spark.createDataFrame([Row(html_text=html)])
        .select(
            extract_hrefs().alias("hrefs"),
            meta_content("html_text", "robots").alias("robots"),
            canonical_link().alias("canon"),
            strip_fragment(F.lit("https://e.org/x#frag")).alias("nofrag"),
        )
        .first()
    )
    assert row["hrefs"] == ["/x#frag", "y.html"]
    assert row["robots"] == "noindex"
    assert row["canon"] == "https://example.org/c"
    assert row["nofrag"] == "https://e.org/x"


@pytest.fixture(scope="module")
def edge_fixture(spark):
    pages = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                url="https://a.org/p/1.html",
                html_text=(
                    '<a href="https://b.org/x">b</a>'
                    '<a href="/local">self</a>'
                    '<a href="#top">skip</a>'
                    '<a href="https://c.org/y#f">c</a>'
                ),
            ),
            Row(
                doc_id=2,
                url="https://b.org/q.html",
                html_text='<a href="https://a.org/z">a</a>'
                '<a href="https://a.org/z2">a2</a>',
            ),
            Row(doc_id=3, url="https://d.org/r.html", html_text="<p>no links</p>"),
        ]
    )
    return outlinks(pages)


def test_outlinks_edges(edge_fixture):
    rows = {
        (r["doc_id"], r["pos"]): r for r in edge_fixture.collect()
    }
    # fragment-only dropped; doc 3 contributes nothing
    assert set(rows) == {(1, 0), (1, 1), (1, 3), (2, 0), (2, 1)}
    assert rows[(1, 3)]["resolved"] == "https://c.org/y"  # fragment stripped
    assert rows[(1, 1)]["internal"] is True
    assert rows[(1, 0)]["internal"] is False
    assert rows[(1, 0)]["dst_host"] == "b.org"


def test_host_degree_conservation(edge_fixture):
    """Sum of out_links == sum of in_links == number of external edges."""
    deg = host_degree(edge_fixture).collect()
    ext = edge_fixture.where(~F.col("internal")).count()
    assert sum(r["out_links"] for r in deg) == ext
    assert sum(r["in_links"] for r in deg) == ext
    by_host = {r["host"]: r for r in deg}
    # a.org links out to b.org and c.org, and receives 2 links from b.org
    assert by_host["a.org"]["out_hosts"] == 2
    assert by_host["a.org"]["in_links"] == 2
    # c.org has no outlinks but still gets a row (full-outer merge)
    assert by_host["c.org"]["out_links"] == 0
    assert by_host["c.org"]["in_links"] == 1


def test_pagerank_is_distribution(spark, edge_fixture):
    ranks = pagerank_hosts(host_graph(edge_fixture)).collect()
    total = sum(r["rank"] for r in ranks)
    assert total == pytest.approx(1.0, abs=1e-9)
    assert all(r["rank"] > 0 for r in ranks)
    by_host = {r["host"]: r["rank"] for r in ranks}
    # a.org receives from b.org's 2 links AND half of the only a.org edge
    # mass; c.org receives a single half-weight edge -> a.org outranks c.org
    assert by_host["a.org"] > by_host["c.org"]
    # deterministic across invocations (seeded by structure only)
    again = {
        r["host"]: r["rank"]
        for r in pagerank_hosts(host_graph(edge_fixture)).collect()
    }
    for h, v in by_host.items():
        assert again[h] == pytest.approx(v, abs=1e-12)


def test_pagerank_local_and_distributed_paths_agree(spark, edge_fixture,
                                                    monkeypatch):
    """The adaptive local power iteration must match the distributed loop
    well within the 6 dp the query layer rounds to (the two differ only
    in float accumulation order)."""
    g = host_graph(edge_fixture)
    local = {r["host"]: r["rank"]
             for r in pagerank_hosts(g).collect()}
    monkeypatch.setattr(links, "PAGERANK_LOCAL_EDGE_THRESHOLD", 0)
    dist = {r["host"]: r["rank"]
            for r in pagerank_hosts(g).collect()}
    assert set(local) == set(dist)
    for h in local:
        assert local[h] == pytest.approx(dist[h], rel=1e-9)


def test_pagerank_releases_caches(spark, edge_fixture, monkeypatch):
    """Every persist() the loop takes must be released before returning.
    What may remain: the eager final checkpoint plus the intermediate
    lazy localCheckpoints (one per PAGERANK_CHECKPOINT_EVERY rounds) —
    checkpoint blocks are reclaimed by the ContextCleaner once the JVM GCs
    the RDD, not via unpersist()."""
    # the cache discipline under test is the distributed loop's
    monkeypatch.setattr(links, "PAGERANK_LOCAL_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(links, "PAGERANK_ITERATIONS", 4)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    pagerank_hosts(host_graph(edge_fixture)).collect()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    # 4 rounds / PAGERANK_CHECKPOINT_EVERY=3 -> 1 intermediate + 1 final;
    # the explicit persists (trans, hosts, 4x contrib) must all be gone
    assert after <= before + 2


def test_trustrank_concentrates_on_seed_neighborhood(spark, edge_fixture,
                                                    monkeypatch):
    """Seeded teleport: mass is a distribution, the seed outranks its
    classic-PageRank self, a host with no trust path still appears (rank
    ~0, never dropped), and local == distributed formula-for-formula."""
    from ocr_spark.operators.links import trustrank_hosts

    g = host_graph(edge_fixture)
    monkeypatch.setattr(links, "TRUST_SEEDS", ["a.org"])
    tr = {r["host"]: r["rank"]
          for r in trustrank_hosts(g).collect()}
    pr = {r["host"]: r["rank"]
          for r in pagerank_hosts(g).collect()}
    assert set(tr) == set(pr)
    assert sum(tr.values()) == pytest.approx(1.0, abs=1e-9)
    # trust concentrates: the seed's rank exceeds its classic rank
    assert tr["a.org"] > pr["a.org"]
    # a seed absent from the graph is an explicit error, not silence
    with monkeypatch.context() as m:
        m.setattr(links, "TRUST_SEEDS", ["nowhere.example"])
        with pytest.raises(Exception, match="no seed host"):
            trustrank_hosts(g).collect()
    monkeypatch.setattr(links, "PAGERANK_LOCAL_EDGE_THRESHOLD", 0)
    dist = {r["host"]: r["rank"]
            for r in trustrank_hosts(g).collect()}
    for h in tr:
        assert tr[h] == pytest.approx(dist[h], rel=1e-9)


def test_anchor_pairs_never_mispair(spark):
    """A self-closing anchor between two well-formed ones must not shift
    the href<->text pairing (the failure mode of parallel extraction)."""
    from ocr_spark.functions.links import anchor_pairs

    html = (
        '<a href="/a">alpha</a> <a href="/skip"/> '
        '<a class="x" href="/b">beta</a>'
    )
    pairs = (
        spark.createDataFrame([Row(html_text=html)])
        .select(anchor_pairs().alias("p"))
        .first()["p"]
    )
    assert [(p["href"], p["anchor"]) for p in pairs] == [
        ("/a", "alpha"),
        ("/b", "beta"),
    ]


def test_anchor_terms_top_k(spark, monkeypatch):
    from ocr_spark.operators.links import anchor_terms, outlinks_with_text

    pages = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                url=f"https://src{i}.org/p.html",
                html_text='<a href="https://t.org/x">Great Widgets</a>'
                '<a href="https://t.org/y">widgets shop</a>',
            )
            for i in range(3)
        ]
    )
    monkeypatch.setattr(links, "ANCHOR_TOP_TERMS", 2)
    rows = anchor_terms(outlinks_with_text(pages)).collect()
    by_rank = {r["rank"]: r for r in rows if r["dst_host"] == "t.org"}
    assert by_rank[1]["term"] == "widgets" and by_rank[1]["n_links"] == 6
    # 'great' and 'shop' tie at 3; term asc tie-break -> 'great'
    assert by_rank[2]["term"] == "great" and by_rank[2]["n_links"] == 3
    assert len([r for r in rows if r["dst_host"] == "t.org"]) == 2


def test_canonical_groups_keeper(spark):
    from ocr_spark.operators.links import canonical_groups

    pages = spark.createDataFrame(
        [
            # 1 declares itself canonical (root-relative); 2 and 3 point at it
            Row(doc_id=1, url="https://a.org/x.html",
                html_text='<link rel="canonical" href="/x.html"/>'),
            Row(doc_id=2, url="https://a.org/x.html?print=1",
                html_text='<link rel="canonical" href="https://a.org/x.html"/>'),
            Row(doc_id=3, url="https://a.org/x-amp.html",
                html_text='<link rel="canonical" href="/x.html#top"/>'),
            # 4 declares nothing: singleton, self-keeper
            Row(doc_id=4, url="https://b.org/y.html", html_text="<p>n</p>"),
        ]
    )
    rows = {r["doc_id"]: r for r in canonical_groups(pages).collect()}
    assert all(
        rows[i]["canonical_url"] == "https://a.org/x.html" for i in (1, 2, 3)
    )
    assert rows[1]["group_size"] == 3 and rows[1]["is_keeper"]
    assert rows[1]["is_self"] and not rows[2]["is_self"]
    assert not rows[2]["is_keeper"] and not rows[3]["is_keeper"]
    assert rows[4]["canonical_url"] == "https://b.org/y.html"
    assert rows[4]["is_self"] and rows[4]["is_keeper"]
    assert rows[4]["group_size"] == 1


def test_outlinks_plan_no_shuffle(spark, edge_fixture):
    """outlinks is explode + expressions: the physical plan must contain
    no Exchange — at 100 TB the edge stream is a map-side projection."""
    plan = edge_fixture._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
