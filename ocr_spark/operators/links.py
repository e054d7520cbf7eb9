"""Link-graph operators: outlink edges, host-degree stats, PageRank.

The second product of the extraction tier (after main text) is the link
graph. ``outlinks`` turns pages into resolved (src, dst) edges with
pure expressions; ``host_graph`` / ``host_degree`` aggregate edges to
the host level (the granularity politeness, spam-detection, and
crawl-priority decisions use); ``pagerank_hosts`` runs damped power
iteration over the host graph — the classic crawl-quality prior.

Reference analog: the reference's structure pass emits one row per
discovered sub-region of a document and then aggregates per-document
statistics over them (predict flow, one_key_process.py); the link pass
has the same explode -> resolve -> aggregate shape, re-expressed
relationally.

Scale posture:
- ``outlinks`` is explode + per-row expressions — no shuffle at all;
  at 100 TB the edge stream is a map-side projection of the page scan.
- ``host_degree`` is one hash aggregation on (src_host, dst_host) —
  a single shuffle whose key space is hosts², already heavily
  pre-combined map-side.
- ``pagerank_hosts`` joins the rank vector to the edge list per
  iteration. Ranks and edges are partitioned by the SAME key
  (src_host) so every iteration reuses one exchange; contributions
  pre-aggregate map-side before the dst-side shuffle. Lineage is
  truncated with localCheckpoint every few rounds (the connected-
  components discipline from operators/cc.py). Dangling mass (hosts
  with no outlinks) is redistributed uniformly each round, so total
  rank stays 1 and the result is a proper distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..functions.links import (
    anchor_pairs,
    canonical_link,
    extract_hrefs,
    resolve_href,
    strip_fragment,
)
from ..functions.urls import url_host

# Edge-count threshold for pagerank_hosts' driver-local power iteration
# (the cc.py judgment call); 0 forces the distributed loop. Read at call
# time.
PAGERANK_LOCAL_EDGE_THRESHOLD = 500_000
PAGERANK_CHECKPOINT_EVERY = 3  # rounds between lazy localCheckpoints
PAGERANK_DAMPING = 0.85  # share of rank that follows links each round
PAGERANK_ITERATIONS = 8  # power-iteration rounds
# TrustRank seed hosts — part of the answer's identity, shared with the
# DuckDB twin so the teleport vector cannot drift
TRUST_SEEDS = ["h1.example.org", "h5.example.org", "h9.example.org"]
ANCHOR_TOP_TERMS = 3  # anchor_terms' terms per target host


def outlinks(pages: DataFrame) -> DataFrame:
    """(id, url, pos, href, resolved, dst_host, internal) — one row per
    fetchable anchor; fragment-only / mailto / javascript hrefs resolve
    to NULL and are dropped (they are not crawl edges). ``pos`` is the
    anchor's document-order index, the tie-breaker that keeps every
    downstream ordering deterministic."""
    hrefs = pages.select(
        F.col("doc_id"),
        F.col("url"),
        F.posexplode(extract_hrefs()).alias("pos", "href"),
    )
    resolved = strip_fragment(resolve_href(F.col("url"), F.col("href")))
    return (
        hrefs.select(
            "doc_id",
            "url",
            "pos",
            "href",
            resolved.alias("resolved"),
        )
        .where(F.col("resolved").isNotNull())
        .select(
            "doc_id",
            "url",
            "pos",
            "href",
            "resolved",
            url_host("resolved").alias("dst_host"),
            (url_host("resolved") == url_host("url")).alias("internal"),
        )
    )


def outlinks_with_text(pages: DataFrame) -> DataFrame:
    """Like :func:`outlinks` but over WELL-FORMED anchors only, carrying
    the anchor text alongside each edge: (id, url, pos, href, anchor,
    resolved, dst_host, internal). The href and its text come from one
    whole-tag match (``anchor_pairs``) so they cannot mis-pair."""
    pairs = pages.select(
        F.col("doc_id"),
        F.col("url"),
        F.posexplode(anchor_pairs()).alias("pos", "pair"),
    ).select(
        "doc_id",
        "url",
        "pos",
        F.col("pair.href").alias("href"),
        F.col("pair.anchor").alias("anchor"),
    )
    resolved = strip_fragment(resolve_href(F.col("url"), F.col("href")))
    return (
        pairs.select("doc_id", "url", "pos", "href", "anchor", resolved.alias("resolved"))
        .where(F.col("resolved").isNotNull())
        .select(
            "doc_id",
            "url",
            "pos",
            "href",
            "anchor",
            "resolved",
            url_host("resolved").alias("dst_host"),
            (url_host("resolved") == url_host("url")).alias("internal"),
        )
    )


def anchor_terms(edges_with_text: DataFrame) -> DataFrame:
    """Per-target-host anchor-text term profile — the classic retrieval /
    quality signal (what OTHER sites call this host). Tokens of external
    anchors only (a site's self-description is not an endorsement),
    lowercased, split on non-alphanumerics; top ``ANCHOR_TOP_TERMS`` terms per
    dst_host by link count with (count desc, term asc) deterministic
    tie-break. Shape: one (dst_host, term) hash aggregation (map-side
    pre-combined) + one bounded per-host window — scales: the key space
    is hosts x anchor vocabulary, not pages."""
    toks = (
        edges_with_text.where(~F.col("internal"))
        .select(
            "dst_host",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("anchor")), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
    )
    counts = toks.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n_links")
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("term")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANCHOR_TOP_TERMS)
        .select("dst_host", "term", "n_links", "rank")
    )


def canonical_groups(pages: DataFrame) -> DataFrame:
    """rel=canonical grouping — the crawl-side dedup signal that needs no
    content comparison at all: pages declaring the same canonical URL are
    the same logical document (print views, session-id / tracking-param
    variants, mirrors). Returns one row per page: (id, url,
    canonical_url, is_self, group_size, is_keeper) where canonical_url is
    the declared link resolved against the page URL (pages declaring
    nothing are their own canonical), group_size counts the pages mapping
    to that canonical, and the keeper is the self-declaring page when one
    exists, else the minimum id (deterministic). One hash aggregation on
    canonical_url + one broadcast-join back — scales."""
    decl = F.nullif(canonical_link(), F.lit(""))
    pages_c = pages.select(
        F.col("doc_id"),
        F.col("url"),
        F.coalesce(
            strip_fragment(resolve_href(F.col("url"), decl)),
            F.col("url"),
        ).alias("canonical_url"),
    ).withColumn("is_self", F.col("canonical_url") == F.col("url"))
    groups = pages_c.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("group_size"),
        # keeper: a self-declaring page wins, else min id — encoded as
        # min over (is_self desc, id) pairs so the agg stays one pass
        F.min(
            F.struct(
                (~F.col("is_self")).cast("int").alias("self_last"),
                F.col("doc_id").alias("kid"),
            )
        )["kid"].alias("keeper_id"),
    )
    return (
        pages_c.join(groups, "canonical_url")
        .select(
            "doc_id",
            "url",
            "canonical_url",
            "is_self",
            "group_size",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def host_graph(edges: DataFrame) -> DataFrame:
    """Host-level edge weights: (src_host, dst_host, n_links) over
    EXTERNAL edges only (self-loops say nothing about endorsement)."""
    return (
        edges.where(~F.col("internal"))
        .select(url_host("url").alias("src_host"), "dst_host")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def host_degree(edges: DataFrame) -> DataFrame:
    """Per-host degree profile: out_links / out_hosts from the src side,
    in_links / in_hosts from the dst side, full-outer merged so hosts
    that only ever appear on one side still get a row (coalesced 0s)."""
    g = host_graph(edges)
    out_side = g.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("n_links").alias("out_links"),
        F.count(F.lit(1)).alias("out_hosts"),
    )
    in_side = g.groupBy(F.col("dst_host").alias("host")).agg(
        F.sum("n_links").alias("in_links"),
        F.count(F.lit(1)).alias("in_hosts"),
    )
    return (
        out_side.join(in_side, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
            F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
        )
    )


def pagerank_hosts(
    host_edges: DataFrame,
    seeds: list[str] | None = None,
) -> DataFrame:
    """Damped PageRank (damping ``PAGERANK_DAMPING``, ``PAGERANK_ITERATIONS``
    rounds, both read at call time) over (src_host,
    dst_host, n_links) host edges. Returns (host, rank) summing to 1
    across all hosts that appear on either side. Weighted by link
    multiplicity (n_links), dangling mass redistributed by the teleport
    vector — the standard formulation.

    ``seeds`` generalizes the teleport vector: None is classic PageRank
    (uniform 1/n teleport); a host list makes this TrustRank (Gyöngyi et
    al.) — teleport and dangling mass flow ONLY to the trusted seed set
    (1/|seeds∩hosts| each), so rank measures proximity-to-trust and
    link-farm islands that classic PageRank rewards score ~0. Same
    iteration machinery either way; raises if no seed is in the graph.

    Deterministic given the edge set: the per-iteration sums are
    float aggregations, so cross-partition order can perturb the last
    ulp; callers that need an oracle-stable result round (the query
    layer rounds to 6 dp, far above ulp noise, far below rank gaps).

    Driver actions per iteration: none. A per-round collect for the
    dangling-mass scalar would serialize the loop, so dangling mass is
    instead carried as a 1-row DataFrame cross-joined in — the loop
    builds one lazy plan, truncated with localCheckpoint every
    ``PAGERANK_CHECKPOINT_EVERY`` rounds to keep plan growth linear, exactly the
    cc.py discipline. Each round's ``contrib`` is persisted (lazily —
    it is referenced twice, by the flowed aggregate and the left join;
    without the cache every segment between checkpoints would double
    its work per round). The final ranks are materialized ONCE with an
    eager localCheckpoint (hosts-sized — hosts, not pages) and every
    intermediate cache is released before returning, so nothing leaks
    into long-lived sessions.

    Adaptive execution (the cc.py judgment call): host graphs are ~5
    orders smaller than their page tables, so when the edge count clears
    ``PAGERANK_LOCAL_EDGE_THRESHOLD`` the transition table is collected and
    iterated driver-side in a fixed deterministic order — one job instead
    of ``PAGERANK_ITERATIONS`` x several scheduled stages; above it, the
    distributed loop below runs."""
    iterations = PAGERANK_ITERATIONS
    edges = host_edges.select("src_host", "dst_host", "n_links")
    edge_cache = []
    if PAGERANK_LOCAL_EDGE_THRESHOLD:
        # persist before counting so neither path recomputes the upstream
        # link-extraction pipeline; the distributed path releases it with
        # the other caches at the end
        edges = edges.persist()
        edge_cache.append(edges)
        if edges.count() <= PAGERANK_LOCAL_EDGE_THRESHOLD:
            out = _local_pagerank(edges, seeds)
            edges.unpersist()
            return out
    out_w = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
    # edge transition weights, partitioned once by src_host and cached:
    # every iteration's join reuses this exact partitioning
    trans = (
        edges.join(out_w, "src_host")
        .select(
            "src_host",
            "dst_host",
            (F.col("n_links") / F.col("out_w")).alias("w"),
        )
        .repartition("src_host")
        .persist()
    )
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select("dst_host"))
        .distinct()
        .persist()
    )
    cached = [trans, hosts]
    n_hosts = hosts.count()  # one scalar, loop-invariant
    if seeds is None:
        tele = None
        ranks = hosts.select("host", F.lit(1.0 / n_hosts).alias("rank"))
    else:
        seed_set = sorted(set(seeds))
        s_n = hosts.where(F.col("host").isin(seed_set)).count()
        if s_n == 0:
            for df in cached + edge_cache:
                df.unpersist()
            raise ValueError("trustrank: no seed host present in the graph")
        tele = F.when(
            F.col("host").isin(seed_set), F.lit(1.0 / s_n)
        ).otherwise(F.lit(0.0))
        ranks = hosts.select("host", tele.alias("rank"))
    for i in range(iterations):
        contrib = (
            trans.join(
                ranks.withColumnRenamed("host", "src_host"), "src_host"
            )
            .groupBy(F.col("dst_host").alias("host"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("contrib"))
            .persist()
        )
        cached.append(contrib)
        # dangling = 1 - mass that flowed through edges (hosts with no
        # outlinks contribute their rank nowhere); as a 1-row frame
        flowed = (
            contrib.agg(F.sum("contrib").alias("flowed"))
            .select(F.coalesce("flowed", F.lit(0.0)).alias("flowed"))
        )
        if tele is None:
            new_rank = (
                (1.0 - PAGERANK_DAMPING) / n_hosts
                + PAGERANK_DAMPING
                * (
                    F.coalesce("contrib", F.lit(0.0))
                    + (1.0 - F.col("flowed")) / n_hosts
                )
            )
        else:
            new_rank = (
                F.lit(1.0 - PAGERANK_DAMPING) * tele
                + PAGERANK_DAMPING
                * (
                    F.coalesce("contrib", F.lit(0.0))
                    + (1.0 - F.col("flowed")) * tele
                )
            )
        ranks = (
            hosts.join(contrib, "host", "left")
            .crossJoin(F.broadcast(flowed))
            .select("host", new_rank.alias("rank"))
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    # Materialize once (hosts-sized), then release every intermediate
    # cache — the returned frame is self-contained, nothing leaks into
    # long-lived sessions.
    result = ranks.localCheckpoint(eager=True)
    for df in cached + edge_cache:
        df.unpersist()
    return result


def _local_pagerank(edges, seeds: list[str] | None):
    """Driver-local power iteration over a collected host-level transition
    table — only called when the edge count cleared
    ``PAGERANK_LOCAL_EDGE_THRESHOLD``.
    Accumulation runs in a FIXED order (edges sorted by src, dst host), so
    the result is deterministic; it matches the distributed path within
    float accumulation-order noise (~1e-15 relative), far below the 6 dp
    the query layer rounds to (test_links pins the agreement). ``seeds``
    switches to the TrustRank teleport, mirroring the distributed path
    formula for formula."""
    rows = sorted(
        ((r["src_host"], r["dst_host"], r["n_links"]) for r in edges.collect())
    )
    out_w: dict[str, float] = {}
    for s, _, w in rows:
        out_w[s] = out_w.get(s, 0.0) + w
    trans = [(s, d, w / out_w[s]) for s, d, w in rows]
    hosts = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    n = len(hosts)
    if seeds is None:
        tele = None
        rank = {h: 1.0 / n for h in hosts}
    else:
        seed_set = set(seeds) & set(hosts)
        if not seed_set:
            raise ValueError("trustrank: no seed host present in the graph")
        t_val = 1.0 / len(seed_set)
        tele = {h: (t_val if h in seed_set else 0.0) for h in hosts}
        rank = dict(tele)
    for _ in range(PAGERANK_ITERATIONS):
        contrib = {h: 0.0 for h in hosts}
        for s, d, w in trans:
            contrib[d] += w * rank[s]
        flowed = sum(contrib[h] for h in hosts)
        if tele is None:
            rank = {
                h: (1.0 - PAGERANK_DAMPING) / n
                + PAGERANK_DAMPING * (contrib[h] + (1.0 - flowed) / n)
                for h in hosts
            }
        else:
            rank = {
                h: (1.0 - PAGERANK_DAMPING) * tele[h]
                + PAGERANK_DAMPING * (contrib[h] + (1.0 - flowed) * tele[h])
                for h in hosts
            }
    return edges.sparkSession.createDataFrame(
        [(h, rank[h]) for h in hosts], "host string, rank double"
    )


def trustrank_hosts(host_edges: DataFrame) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina, Pedersen 2004): PageRank with
    the teleport vector concentrated on the hand-vetted trusted seed set
    ``TRUST_SEEDS`` (read at call time) —
    the standard web-spam demotion prior. A link farm that inflates its
    classic PageRank by interlinking scores ~0 here unless a trust path
    from the seeds reaches it; honest hubs near the seeds score high.
    Same single-lazy-plan iteration machinery as ``pagerank_hosts``."""
    return pagerank_hosts(host_edges, seeds=TRUST_SEEDS)
