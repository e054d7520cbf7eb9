"""Connected components over near-duplicate pair graphs.

The dedup operators (``operators/dedup.py``) stop at candidate PAIRS; a
production training-data pipeline needs CLUSTERS — "these 40 urls are all
the same boilerplate page" — and a keep-one-per-cluster selection. The
reference's analog is the per-key grouping that collapses duplicate
base-names before processing (one_key_process.py:820-826); at corpus scale
that generalizes to connected components over the pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
shuffle-friendly O(log n)-round method:

- large-star: every node points its LARGER neighbors at the minimum of
  its neighborhood (including itself);
- small-star: every node points its smaller-or-equal neighbors at that
  minimum.

Each half-round is one groupBy + one explode (two exchanges), carries only
(long, long) edges, and strictly shrinks the component diameter; at
convergence every node holds an edge to its component's minimum id. A
64-node path collapses in <= ~6 alternations (pinned by test), so even
adversarial chain-shaped duplicate clusters (A~B~C~... from transitive LSH
hits) cost O(log n) shuffles, never O(n).

Driver-side work per round is one 2-scalar aggregate action (edge count +
order-independent hash checksum for the convergence check) on top of the
eager checkpoint's own job — the standard iterate-until-fixpoint pattern;
no row data ever reaches the driver, and the exact set-equality verify
(``exceptAll``) runs ONCE, only when the (count, checksum) fingerprint
repeats, not every round. Each round is eagerly localCheckpoint-ed to
truncate lineage (unbounded plan growth is the canonical iterative-
DataFrame failure mode).

The result is SQL-replayable: min-label components are exactly
"minimum reachable id" — a recursive CTE in the DuckDB twin
(``__spark_entry__._dedup_clusters_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CC_MAX_ITER = 24    # >= log2(n) alternations for any real component size

# Edge-count threshold for the driver-local union-find fast path: below it
# the whole (distinct, deduplicated) edge list is collected and solved in
# one pass instead of O(log n) Spark rounds. 1M (u, v) longs is ~16 MB on
# the driver — the same "small side fits in one process" judgment call a
# broadcast join makes. The output is bit-identical to the distributed
# path (min-reachable-id labels are unique), pinned by test_cc.
CC_LOCAL_EDGE_THRESHOLD = 1_000_000


def _local_components(work: DataFrame) -> DataFrame:
    """Driver-side union-find (path-halving, union-by-min) over a collected
    edge list; returns the same (id, component=min reachable id) frame the
    star rounds produce. Only called when the edge count cleared the
    threshold check — never materializes an unbounded graph."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    # one collect(), not toLocalIterator(): the iterator fetches partitions
    # in separate sequential round trips (measured ~8 s for 256 edges over
    # 64 partitions); the threshold already guarantees the list fits
    for row in work.collect():
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller root stays the representative,
            # which IS the min-reachable-id labeling
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    rows = [(x, find(x)) for x in parent]
    return work.sparkSession.createDataFrame(rows, "id long, component long")


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star half-round over an undirected edge list
    held as (u, v) rows. Returns the rewritten (u, v) edge list with
    u > v invariant (self-loops dropped)."""
    # symmetrize so every node sees its full neighborhood
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nbrs = sym.groupBy("u").agg(
        F.collect_set("v").alias("ns"),
    )
    m = F.array_min(F.array_append(F.col("ns"), F.col("u")))
    if large:
        targets = F.filter(F.col("ns"), lambda x: x > F.col("u"))
    else:
        targets = F.array_append(
            F.filter(F.col("ns"), lambda x: x <= F.col("u")), F.col("u")
        )
    return (
        nbrs.select(F.explode(targets).alias("u"), m.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(id, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable from ``id``.

    Adaptive execution, the broadcast-join judgment call applied to graph
    iteration: one count() on the deduplicated edge list decides between

    - LOCAL (edges <= CC_LOCAL_EDGE_THRESHOLD): collect the edge list and solve
      with union-find in a single pass. Near-dup pair graphs are tiny
      relative to their corpora (pairs, not documents — bucket caps bound
      them), so this is the common case even at large corpus sizes, and
      it replaces O(log n) scheduled rounds with one job.
    - DISTRIBUTED: alternate large-star / small-star until the edge set
      is stable: per round ONE cheap aggregate over the checkpointed
      edges — (count, order-independent xxhash64 checksum) — and only
      when that fingerprint repeats, a single exact ``exceptAll``
      set-equality verify before breaking, then read components off the
      final star edges. Warns if ``CC_MAX_ITER`` alternations exhaust
      without stabilizing.

    Both paths produce the identical (min-reachable-id) labeling
    (test_cc pins local == distributed on random graphs). A threshold of
    0 forces the distributed path; it is read at call time."""
    work = (
        edges.select(
            F.greatest(F.col("id_a"), F.col("id_b")).cast("long").alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    seed = None
    if CC_LOCAL_EDGE_THRESHOLD:
        # persist before counting so neither the local collect nor the
        # first distributed round recomputes the (possibly expensive)
        # upstream pair pipeline
        seed = work = work.persist()
        if work.count() <= CC_LOCAL_EDGE_THRESHOLD:
            out = _local_components(work)
            seed.unpersist()
            return out
    prev, prev_fp = None, None
    converged = False
    for _ in range(CC_MAX_ITER):
        # localCheckpoint (eager) BOTH materializes the round and truncates
        # the logical plan — without it each round's plan nests the previous
        # one and the driver OOMs on plan optimization after ~10 rounds (the
        # classic iterative-DataFrame pitfall; persist() alone does not cut
        # lineage). On a real cluster with executor loss concerns this would
        # be a reliable checkpoint to the table root instead.
        work = _star(_star(work, large=True), large=False).localCheckpoint(
            eager=True
        )
        if seed is not None:
            # round 1 consumed the persisted seed; release it
            seed.unpersist()
            seed = None
        row = work.agg(
            F.count(F.lit(1)).alias("n"),
            # xor of per-edge hashes is order-independent and can't
            # overflow under ANSI (sum of longs can); the edge list is
            # distinct so no duplicate pair ever self-cancels. With equal
            # counts a matching xor makes set equality overwhelmingly
            # likely — the one exceptAll below then makes it certain
            F.bit_xor(F.xxhash64("u", "v")).alias("chk"),
        ).collect()[0]
        fp = (row["n"], row["chk"])
        if prev is not None and fp == prev_fp and work.exceptAll(prev).isEmpty():
            # equal cardinality + empty one-sided difference = equal sets
            # (both are distinct edge lists)
            converged = True
            break
        prev, prev_fp = work, fp
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: edge set not stable after {CC_MAX_ITER} "
            "alternations; component labels may be non-minimal",
            RuntimeWarning,
            stacklevel=2,
        )
    # star edges point u -> component min v; the min itself appears only
    # on the v side, so union it back as its own representative
    comps = work.select(F.col("u").alias("id"), F.col("v").alias("component")).union(
        work.select(F.col("v").alias("id"), F.col("v").alias("component"))
    )
    return comps.groupBy("id").agg(F.min("component").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment + canonical-document selection for every row of
    ``df``: (id_col, component, is_keeper). Documents untouched by any
    pair are singleton components of themselves; the keeper of each
    component is its minimum id (deterministic, join-free: the component
    label IS the min). The pair graph is typically
    ``minhash_lsh_pairs(df)`` but any (id_a, id_b) edge list works."""
    comps = connected_components(pairs)
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    return (
        ids.join(comps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
        .withColumn("is_keeper", (F.col(id_col) == F.col("component")))
    )


def cluster_representatives(clusters: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware canonical-document selection: ``dedup_clusters``
    keeps each component's MINIMUM id — deterministic, but arbitrary with
    respect to content. Production dedup passes keep the BEST member of
    each near-dup cluster (longest text, highest quality score: the
    RefinedWeb / FineWeb convention), so this re-labels keepers as the
    component's argmax-score member, ties broken by lowest id.

    ``clusters`` is (doc_id, component) — typically ``dedup_clusters``
    output; ``scores`` is (doc_id, score). Returns every cluster row
    with (doc_id, component, score, is_rep).

    Scale shape: one equi-join on id, then a single hash shuffle on
    component with a partition-local sort (``row_number`` over
    component); near-dup components are small by construction (the pair
    generators cap bucket width), so there is no per-key skew — never a
    corpus-wide sort."""
    from pyspark.sql.window import Window

    scored = clusters.join(scores.select("doc_id", "score"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "component",
        "score",
        (F.row_number().over(w) == 1).alias("is_rep"),
    )
