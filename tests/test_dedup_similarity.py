"""Ground-truth tests for dedup & similarity operators on crafted data
(the synthetic corpora exercise them statistically; these assert exact
known answers)."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.dedup import (
    _distinct_tokens,
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash64,
    token_jaccard_pairs,
)
from ocr_spark.operators import similarity
from ocr_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    knn_brute_force,
)

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),                                # exact dup of 0
        (2, BASE + " extra", "en"),                     # near dup of 0
        (3, "completely different words about spark partitions and shuffles here", "en"),
        (4, "  " + BASE.upper() + "  ", "en"),          # dup after canonicalization
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups(docs):
    g = exact_dedup_groups(docs).toPandas()
    # 0,1,4 share a canonical form; 2 and 3 are unique
    assert len(g) == 3
    big = g[g.n_copies == 3]
    assert len(big) == 1 and big.iloc[0].keep_id == 0


def test_token_jaccard_finds_near_dup(docs, monkeypatch):
    monkeypatch.setattr(dedup, "TOKEN_JACCARD_THRESHOLD", 0.7)
    pairs = token_jaccard_pairs(docs).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # all pairs among {0,1,4} have jaccard 1.0; 2 is near (18/19 tokens)
    assert {(0, 1), (0, 4), (1, 4), (0, 2), (1, 2), (2, 4)} == got


def test_minhash_lsh_finds_near_dup(docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got and (0, 4) in got  # identical shingle sets
    assert (0, 2) in got                    # near dup must share a band
    assert not any(3 in p for p in got)     # unrelated doc never pairs
    j = dict(zip(zip(pairs.id_a, pairs.id_b), pairs.jaccard))
    assert j[(0, 1)] == 1.0


def test_simhash_similarity_structure(docs):
    sh = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert sh[0] == sh[1]                      # identical docs, identical hash
    assert hamming(sh[0], sh[2]) <= 12         # near dup: close in hamming
    assert hamming(sh[0], sh[3]) > hamming(sh[0], sh[2])  # unrelated: farther


@pytest.fixture
def dim4(monkeypatch):
    """The crafted vectors below are 4-wide."""
    monkeypatch.setattr(similarity, "EMBED_DIM", 4)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),      # 45 degrees
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_order(vecs):
    top = cosine_topk(vecs, [1.0, 0.0, 0.0, 0.0]).toPandas()
    assert list(top.vec_id) == [0, 1, 4, 2, 3]
    assert top.cosine.iloc[0] == 1.0 and abs(top.cosine.iloc[2] - 0.7071) < 1e-4


def test_embedding_neardup_lsh(vecs, dim4):
    pairs = embedding_neardup_pairs(vecs).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got            # near-identical vectors share every bucket
    assert all(c >= similarity.NEARDUP_COSINE for c in pairs.cosine)


def test_embedding_neardup_hot_bucket_capped(spark, dim4):
    """A boilerplate-identical embedding cluster larger than MAX_BUCKET must
    be dropped before pairing (no quadratic bucket), while distinct near-dup
    pairs in other buckets are still found."""
    flood = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(600)]
    pair = [(1000, [-1.0, 0.5, -0.5, 0.25]), (1001, [-1.02, 0.51, -0.51, 0.255])]
    df = spark.createDataFrame(flood + pair, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(df).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (1000, 1001) in got
    # every flood pair lives in the dropped hot bucket
    assert not any(a < 600 and b < 600 for a, b in got)


def test_embedding_neardup_multiprobe_superset(spark, dim4):
    """1-bit multiprobe finds every same-bucket pair over the threshold and
    also the pairs whose sign vectors differ in exactly one plane."""
    import math
    import random
    from itertools import combinations

    from ocr_spark.operators.similarity import hyperplanes

    planes = hyperplanes()

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def bucket(v):
        return sum(1 << j for j, p in enumerate(planes) if dot(v, p) >= 0)

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(80)]
    rows += [(1000 + i, [x * 1.02 for x in rows[i][1]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(df).toPandas()   # NEARDUP_COSINE = 0.9
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}

    same, one_flip = set(), set()
    for (a, va), (b, vb) in combinations(rows, 2):
        if round(dot(va, vb) / math.sqrt(dot(va, va) * dot(vb, vb)), 4) < 0.9:
            continue
        flips = bin(bucket(va) ^ bucket(vb)).count("1")
        if flips == 0:
            same.add((a, b))
        elif flips == 1:
            one_flip.add((a, b))
    assert all((i, 1000 + i) in same for i in range(10))  # planted dups
    assert one_flip                 # the input exercises the probe flips
    assert same | one_flip <= got


def test_simhash_pairs_crafted_truth(spark, monkeypatch):
    from ocr_spark.operators.dedup import simhash_pairs

    rows = [
        (0, BASE),
        (1, BASE),                               # identical -> hamming 0
        (2, BASE + " zzmarker"),                 # near dup -> small hamming
        (3, "utterly unrelated content on query planners and shuffle services "
            "with none of the base vocabulary present at all in this row"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # short docs give each token a large vote weight: one appended token
    # flips 5 bits here (deterministic under the md5 family), so verify with
    # a wider budget — the <= bands-1 pigeonhole guarantee is about recall,
    # not precision
    monkeypatch.setattr(dedup, "SIMHASH_MAX_HAMMING", 8)
    pairs = simhash_pairs(df).toPandas()
    got = {(a, b): h for a, b, h in zip(pairs.id_a, pairs.id_b, pairs.hamming)}
    assert got[(0, 1)] == 0
    assert (0, 2) in got and got[(0, 2)] == 5
    assert not any(3 in p for p in got)


def test_knn_brute_force(spark, vecs, monkeypatch):
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "q_id long, q_vec array<float>",
    )
    monkeypatch.setattr(similarity, "KNN_K", 2)
    out = knn_brute_force(vecs, queries).toPandas()
    by_q = {q: list(g.sort_values("rank").vec_id) for q, g in out.groupby("q_id")}
    assert by_q[100] == [0, 1]
    assert by_q[200] == [2, 4]


def test_ivf_topk_probes_subset(spark, monkeypatch):
    """IVF with all cells probed == brute force; with 1 probe it returns
    only the query's own cell (deterministic assignment, ties to low id)."""
    from ocr_spark.operators.similarity import ivf_topk

    rows = [(i, [float(i == j or (i % 4 == j)) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for name, value in (("N_CENTROIDS", 4), ("IVF_PROBES", 4), ("IVF_TOPK", 5),
                        ("COSINE_TOPK", 5)):
        monkeypatch.setattr(similarity, name, value)
    full = ivf_topk(df).toPandas()
    brute = cosine_topk(df, [1.0, 0.0, 0.0, 0.0]).toPandas()
    assert list(full.vec_id) == list(brute.vec_id)
    assert list(full["rank"]) == [1, 2, 3, 4, 5]

    monkeypatch.setattr(similarity, "IVF_TOPK", 12)
    every = ivf_topk(df).toPandas()
    monkeypatch.setattr(similarity, "IVF_PROBES", 1)
    one = ivf_topk(df).toPandas()
    # probing one cell returns a subset of the full ranking
    assert set(one.vec_id) <= set(every.vec_id)
    assert len(one) < 12


def test_ivf_refinement_tracks_the_data(spark):
    """Seeded-Lloyd refinement must track the data distribution: on a
    two-cluster corpus whose seeds (the first 16 vectors) all fall in
    cluster A, no raw seed is near cluster B, and the one refinement
    moves a centroid onto it."""
    from ocr_spark.operators.similarity import ivf_centroids

    def jitter(i, j):
        return ((i * 31 + j * 17) % 13 - 6) / 40.0

    rows = [(i, [1.0 + jitter(i, 0), jitter(i, 1), jitter(i, 2), jitter(i, 3)])
            for i in range(30)]
    rows += [(30 + i, [jitter(i, 4), 1.0 + jitter(i, 5), jitter(i, 6), jitter(i, 7)])
             for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def toward_b(vectors):
        return max(v[1] / sum(x * x for x in v) ** 0.5 for v in vectors)

    cents = [r.cv for r in ivf_centroids(df).collect()]   # N_CENTROIDS = 16
    assert toward_b(v for _, v in rows[:16]) < 0.2
    assert toward_b(cents) > 0.9


def test_winnow_fingerprints_local_match_guarantee(spark):
    """Winnowing: docs sharing a long substring share a fingerprint even
    when the rest differs entirely; disjoint docs share none."""
    from ocr_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, f"PREFIX AAA {shared} SUFFIX BBB"),
        (1, f"totally different lead-in text {shared} and a different tail"),
        (2, "no overlap here at all zzz qqq www eee rrr ttt yyy uuu"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["fingerprints"])
           for r in winnow_fingerprints(df).collect()}
    assert fps[0] & fps[1]                  # shared substring -> shared fp
    assert not (fps[0] & fps[2])            # disjoint content -> no overlap
    assert fps[3] == set()                  # empty doc -> empty fingerprint set

    pairs = winnow_pairs(df).toPandas()
    assert {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)} == {(0, 1)}


def test_winnow_deterministic_across_partitioning(spark):
    from ocr_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some repeated words " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    a = winnow_fingerprints(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = winnow_fingerprints(docs.repartition(7)).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    assert all(list(x) == list(y) for x, y in zip(a.fingerprints, b.fingerprints))


def test_line_dedup_strips_corpus_boilerplate(spark):
    from ocr_spark.operators.dedup import line_dedup

    rows = [
        (i, f"BOILER NAV LINE\ncontent {i} unique prose\n\nBOILER FOOTER")
        for i in range(20)
    ] + [(99, "BOILER NAV LINE")]  # a doc that is ALL boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    # boilerplate (df=21 and df=20 > LINE_MAX_DF) gone; unique content + the empty
    # structural line survive in order
    assert out[3]["text"] == "content 3 unique prose\n"
    assert out[3]["n_lines"] == 4 and out[3]["n_dropped"] == 2
    assert out[99]["text"] == "" and out[99]["n_dropped"] == 1


def test_line_dedup_keeps_rare_lines_untouched(spark):
    """A line in exactly LINE_MAX_DF documents is not boilerplate yet."""
    from ocr_spark.operators.dedup import LINE_MAX_DF, line_dedup

    rows = [(i, f"alpha\nbody {i}") for i in range(LINE_MAX_DF)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in line_dedup(df).collect()}
    assert out == dict(rows)


def test_line_dedup_partitioning_invariance(spark):
    from ocr_spark.operators.dedup import line_dedup

    rows = [(i, f"shared header\nbody {i}\nshared tail") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(line_dedup(df).collect())
    b = sorted(line_dedup(df.repartition(5)).collect())
    assert a == b
    assert all(r["n_dropped"] == 2 for r in a)


def test_line_dedup_crlf_documents(spark):
    """CRLF docs: blank lines ('\\r\\n\\r\\n') stay structural, and the same
    line dedups identically across CRLF and LF documents."""
    from ocr_spark.operators.dedup import line_dedup

    rows = [(i, "SHARED HEADER\r\n\r\nbody {}\r\nSHARED TAIL".format(i))
            for i in range(16)] + [(99, "SHARED HEADER\nbody 99\nSHARED TAIL")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[2]["text"] == "\nbody 2"      # header+tail hot across BOTH forms
    assert out[2]["n_dropped"] == 2
    assert out[99]["text"] == "body 99"      # LF doc shares the hot lines


@pytest.fixture
def semdedup4(monkeypatch):
    """Four cells and a 0.99 cosine for the crafted 4-wide corpora."""
    monkeypatch.setattr(similarity, "N_CENTROIDS", 4)
    monkeypatch.setattr(similarity, "SEMDEDUP_COSINE", 0.99)


def test_semantic_dedup_flags_planted_copies(spark, semdedup4):
    """SemDeDup: scaled copies land in their original's cluster and come
    back is_dup with dup_of = the lowest matching cluster-mate; distinct
    vectors survive as keepers. One row per input (never-drop)."""
    from ocr_spark.operators.similarity import semantic_dedup

    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [0.71, 0.71, 0.0, 0.0]),
    ]
    copies = [(100, [1.02, 0.0, 0.0, 0.0]), (101, [0.0, 0.98, 0.0, 0.0])]
    df = spark.createDataFrame(
        base + copies, "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(df).toPandas()
    assert len(out) == len(base) + len(copies)
    verdicts = {r.vec_id: (r.is_dup, r.dup_of) for r in out.itertuples()}
    assert verdicts[100] == (True, 0)
    assert verdicts[101] == (True, 1)
    assert not verdicts[2][0] and not verdicts[3][0] and not verdicts[4][0]


def test_semantic_dedup_oversized_cluster_capped(spark, semdedup4):
    """Clusters beyond MAX_CLUSTER are excluded from pairing (disclosed
    cap): their members all come back keepers instead of exploding into a
    quadratic within-cluster join."""
    from ocr_spark.operators.similarity import MAX_CLUSTER, semantic_dedup

    seeds = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    flood_ids = range(10, 10 + MAX_CLUSTER)
    flood = [(i, [1.0, 0.0, 0.0, 0.0]) for i in flood_ids]
    pair = [(5000, [0.0, 1.02, 0.0, 0.0])]
    df = spark.createDataFrame(
        seeds + flood + pair, "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(df).toPandas()
    verdicts = {r.vec_id: (r.is_dup, r.dup_of) for r in out.itertuples()}
    assert verdicts[5000] == (True, 1)        # small cluster still paired
    # capped cluster (seed 0 + MAX_CLUSTER identical floods): all keepers
    assert not verdicts[0][0]
    assert not any(verdicts[i][0] for i in flood_ids)
    assert len(out) == len(seeds) + len(flood) + len(pair)


def test_collapse_repeated_lines_counts(spark):
    """Within-doc line dedup: first occurrences and blank lines stay,
    repeats drop, NULL text comes back as one blank line, and — the
    regression this pins — n_removed agrees with the reassembled text
    (a nested index-lambda expression duplicated in one Project miscounted
    by one before the projection-boundary fix in collapse_repeated_lines)."""
    from ocr_spark.operators.dedup import collapse_repeated_lines

    df = spark.createDataFrame(
        [(1, "a\nb\n\na\nc\n\nb"), (2, None), (3, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in collapse_repeated_lines(df).collect()}
    assert out[1].text == "a\nb\n\nc\n"
    assert out[1].n_lines == 7 and out[1].n_removed == 2
    assert out[1].n_lines - out[1].n_removed == len(out[1].text.split("\n"))
    assert out[2].text == "" and out[2].n_removed == 0   # never dropped
    assert out[3].text == "x" and out[3].n_removed == 0


def test_collapse_repeated_lines_zero_shuffle(spark):
    from ocr_spark.operators.dedup import collapse_repeated_lines

    df = spark.createDataFrame([(1, "a\na")], "doc_id long, text string")
    plan = collapse_repeated_lines(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_latest_capture_keeps_newest_per_canonical_url(spark):
    """Recrawl resolution: decorated url variants reunite under one
    canonical key; the keeper is the greatest (warc_ts, doc_id) — id
    breaks same-second ties deterministically."""
    import datetime as dt

    from ocr_spark.operators.dedup import latest_capture

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "https://example.org/a?b=2&a=1", t0),
        (2, "HTTPS://WWW.Example.ORG:443/a?utm_source=x&a=1&b=2#f",
         t0 + dt.timedelta(hours=1)),                 # newest capture of /a
        (3, "https://example.org/b", t0),
        (4, "https://example.org/b", t0),             # tie -> higher id wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts timestamp")
    out = {r.url_canon: r for r in latest_capture(df).collect()}
    assert len(out) == 2
    a = out["https://example.org/a?a=1&b=2"]
    assert a.keep_id == 2 and a.n_captures == 2
    b = out["https://example.org/b"]
    assert b.keep_id == 4 and b.n_captures == 2

    plan = latest_capture(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan    # map-side combine before the exchange
    assert plan.count("Exchange") == 1


def test_cluster_balanced_sample_caps_per_cell(spark, monkeypatch):
    """Two well-separated embedding families; per_cluster=3 must keep
    exactly 3 per cell, every vector comes back, and the draw is a pure
    function of the ids (re-run identical)."""
    from ocr_spark.operators.similarity import cluster_balanced_sample

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows += [(2 + i, [1.0, 0.01 * i]) for i in range(10)]
    rows += [(12 + i, [0.01 * i, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    monkeypatch.setattr(similarity, "CLUSTER_PICKS", 3)
    monkeypatch.setattr(similarity, "N_CENTROIDS", 2)
    out = cluster_balanced_sample(df)
    got = out.collect()
    assert len(got) == 22                      # never-drop
    by_cell: dict[int, list] = {}
    for r in got:
        by_cell.setdefault(r.cent_id, []).append(r)
    assert len(by_cell) == 2
    for cell, members in by_cell.items():
        picked = [r for r in members if r.picked]
        assert len(picked) == 3, (cell, members)
        assert sorted(r.pick_rank for r in picked) == [1, 2, 3]
        # picked = the 3 smallest (pick_key, id) in the cell
        cutoff = max((r.pick_key, r.vec_id) for r in picked)
        for r in members:
            if not r.picked:
                assert (r.pick_key, r.vec_id) > cutoff

    again = {r.vec_id: r.picked for r in
             cluster_balanced_sample(df).collect()}
    assert again == {r.vec_id: r.picked for r in got}


def test_ivf_assign_frozen_centroids_and_persistence(spark, tmp_path, monkeypatch):
    """Incremental ANN maintenance: new vectors assign to the committed
    corpus's frozen centroids; persisting the centroid table through
    iceberg-lite and reading it back yields the identical assignment
    (the per-ingest-batch deployment shape — committed vectors never
    re-read, quantizer refit is policy, not per-batch)."""
    from ocr_spark.operators.similarity import ivf_assign, ivf_centroids
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows += [(2 + i, [1.0, 0.02 * i]) for i in range(8)]
    rows += [(10 + i, [0.02 * i, 1.0]) for i in range(8)]
    committed = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    newb = spark.createDataFrame(
        [(100, [1.0, 0.05]), (101, [0.03, 1.0]), (102, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(similarity, "N_CENTROIDS", 2)
    cents = ivf_centroids(committed)

    direct = {r.vec_id: r for r in ivf_assign(newb, cents).collect()}
    assert direct[100].cent_id == 0 and direct[101].cent_id == 1
    assert direct[100].cosine > 0.99 and direct[101].cosine > 0.99
    # the equidistant probe lands deterministically (argmax w/ id tiebreak)
    assert direct[102].cent_id in (0, 1)

    t = IcebergLiteTable(str(tmp_path / "centroids"))
    t.append(cents)
    reread = t.read(spark)
    again = {r.vec_id: r for r in ivf_assign(newb, reread).collect()}
    assert {k: (v.cent_id, v.cosine) for k, v in direct.items()} == \
        {k: (v.cent_id, v.cosine) for k, v in again.items()}


def test_paragraph_dedup_canonical_identity(spark, monkeypatch):
    """Reflowed whitespace/case variants of the same paragraph share one
    identity; hot paragraphs vanish everywhere; rare ones and blanks
    survive; NULL text comes back."""
    from ocr_spark.operators.dedup import paragraph_dedup

    footer_variants = [
        "shared  FOOTER text", "Shared footer\ntext", "SHARED FOOTER TEXT",
    ]
    rows = [
        (i, f"unique body {i}\n\n" + footer_variants[i % 3]) for i in range(6)
    ]
    rows += [(10, "unique body ten\n\nrare paragraph here"), (11, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "PARA_MAX_DF", 3)
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert len(out) == 8
    for i in range(6):                      # footer df=6 > 3: dropped
        assert out[i].text == f"unique body {i}" and out[i].n_dropped == 1
    assert out[10].text == "unique body ten\n\nrare paragraph here"
    assert out[10].n_dropped == 0
    assert out[11].text == "" and out[11].n_paras == 1


def test_common_ngrams_profile(spark):
    """The profile surfaces the highest-df gram first with its text; the
    hash groups whitespace-canonical variants."""
    from ocr_spark.operators.dedup import common_ngrams

    shared = "one two three four five six seven eight"
    rows = [(i, f"doc {i} prefix {shared}") for i in range(5)]
    rows += [(10, "another page entirely different words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = common_ngrams(df).collect()
    assert out[0].df_docs == 5 and out[0].example == shared
    assert out[0].df_docs >= out[1].df_docs >= out[2].df_docs


def token_jaccard_pairs_naive(df, threshold):
    """The quadratic join-on-every-shared-token formulation: the
    equivalence oracle for ``token_jaccard_pairs``' prefix filter. One
    common token shared by k docs emits k^2/2 join rows, which is why
    the engine does not use it."""
    toks = _distinct_tokens(df)
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    shared = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_shared")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def test_token_jaccard_prefix_filter_equals_naive(spark, monkeypatch):
    """The AllPairs prefix-filtered plan returns EXACTLY the naive
    quadratic join's rows, across thresholds and adversarial shapes:
    ubiquitous stopwords (the blowup driver), docs whose overlap lives
    only in rare tokens, singleton-token docs, and just-below-threshold
    pairs."""
    stop = "the of and to in"
    rows = [
        (0, f"{stop} alpha beta gamma delta"),
        (1, f"{stop} alpha beta gamma epsilon"),
        (2, f"{stop} zeta eta theta iota"),
        (3, "alpha beta gamma delta"),          # no stopwords at all
        (4, f"{stop} completely different words here now"),
        (5, "singleton"),
        (6, "singleton"),                        # jaccard 1.0 on one token
        (7, f"{stop}"),                          # stopwords only
        (8, f"{stop} alpha beta gamma delta"),   # dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8, 1.0):
        monkeypatch.setattr(dedup, "TOKEN_JACCARD_THRESHOLD", t)
        fast = sorted(
            map(tuple, token_jaccard_pairs(docs)
                .toPandas().itertuples(index=False))
        )
        naive = sorted(
            map(tuple, token_jaccard_pairs_naive(docs, threshold=t)
                .toPandas().itertuples(index=False))
        )
        assert fast == naive, t
    # sanity: the interesting pairs actually appear at the shipped 0.8
    monkeypatch.undo()
    got = {(a, b) for a, b, _ in token_jaccard_pairs(docs)
           .toPandas().itertuples(index=False)}
    assert (0, 8) in got and (5, 6) in got


def test_token_jaccard_plan_joins_prefixes_not_all_tokens(spark):
    """The candidate join's both sides are prefix-sliced (the plan carries
    a slice over the sorted token array), so no full-token self-join node
    exists: every shuffle key upstream of the pair join is prefix-bounded."""
    from ocr_spark.operators.dedup import token_jaccard_pairs

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], "doc_id long, text string"
    )
    plan = token_jaccard_pairs(docs) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "slice(" in plan
    assert "array_intersect" in plan
