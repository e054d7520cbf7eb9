"""Connected-components dedup clustering: crafted truth, chain-shaped
adversarial components, partitioning invariance, and keeper selection."""

from ocr_spark.operators import cc
from ocr_spark.operators.cc import (
    cluster_representatives,
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _comp_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_two_components_and_min_labels(spark):
    got = _comp_map(connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)])))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_component_converges_logarithmically(spark, monkeypatch):
    """A 64-node path is the adversarial diameter case for label
    propagation (O(n) rounds); large-star/small-star must collapse it
    within the CC_MAX_ITER=24 alternation budget."""
    monkeypatch.setattr(cc, "CC_LOCAL_EDGE_THRESHOLD", 0)
    path = [(i, i + 1) for i in range(63)]
    got = _comp_map(connected_components(_edges(spark, path)))
    assert got == {i: 0 for i in range(64)}


def test_local_and_distributed_paths_agree(spark, monkeypatch):
    """The adaptive local union-find fast path must produce the exact
    labeling of the star rounds — random graphs with chains, rings,
    singleton-adjacent edges, and duplicate/reversed pairs."""
    import random

    rng = random.Random(42)
    nodes = list(range(0, 400, 3))
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ] + [(i, i + 3) for i in range(0, 60, 3)]
    local = _comp_map(connected_components(_edges(spark, pairs)))
    monkeypatch.setattr(cc, "CC_LOCAL_EDGE_THRESHOLD", 0)
    dist = _comp_map(connected_components(_edges(spark, pairs)))
    assert local == dist


def test_edge_direction_and_duplicates_irrelevant(spark):
    got = _comp_map(
        connected_components(_edges(spark, [(5, 2), (2, 5), (2, 9), (9, 2), (9, 9)]))
    )
    assert got == {2: 2, 5: 2, 9: 2}


def test_partitioning_invariance(spark):
    ring = [(i, (i + 1) % 20) for i in range(20)] + [(30, 31)]
    a = _comp_map(connected_components(_edges(spark, ring)))
    b = _comp_map(connected_components(_edges(spark, ring).repartition(7)))
    assert a == b
    assert set(a.values()) == {0, 30}


def test_dedup_clusters_singletons_and_keepers(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = _edges(spark, [(0, 1), (1, 4)])
    out = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert out == {
        0: (0, True),
        1: (0, False),
        4: (0, False),
        2: (2, True),   # untouched by any pair -> singleton keeper
        3: (3, True),
        5: (5, True),
    }
    # exactly one keeper per component
    by_comp = {}
    for doc, (comp, keep) in out.items():
        by_comp.setdefault(comp, []).append(keep)
    assert all(sum(ks) == 1 for ks in by_comp.values())


def test_cluster_representatives_argmax_with_tiebreak(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = _edges(spark, [(0, 1), (1, 4), (2, 3)])
    clusters = dedup_clusters(docs, pairs).select("doc_id", "component")
    # cluster {0,1,4}: 4 has the best score; cluster {2,3}: tie -> lower id
    scores = spark.createDataFrame(
        [(0, 10), (1, 30), (4, 50), (2, 7), (3, 7), (5, 1)],
        "doc_id long, score long",
    )
    out = {
        r["doc_id"]: (r["component"], r["score"], r["is_rep"])
        for r in cluster_representatives(clusters, scores).collect()
    }
    assert out[4] == (0, 50, True)      # argmax beats the min-id keeper
    assert out[0] == (0, 10, False) and out[1] == (0, 30, False)
    assert out[2] == (2, 7, True) and out[3] == (2, 7, False)  # tie -> min id
    assert out[5] == (5, 1, True)       # singleton is its own rep
    by_comp = {}
    for _, (comp, _, rep) in out.items():
        by_comp.setdefault(comp, []).append(rep)
    assert all(sum(ks) == 1 for ks in by_comp.values())
