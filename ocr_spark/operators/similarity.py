"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, expression-only (zip_with + aggregate
fold — stays JVM-side, scales as one map + one top-k reduce). Scale path:
random-hyperplane LSH bucketing so candidate generation is a bucket
equi-join instead of a full cross product; at 100 TB the bucket join
shuffles ~n*probes rows instead of n^2.

Float discipline for the DuckDB oracle: embeddings are cast to double BEFORE
any arithmetic on both engines, folds run left-to-right in both, and scores
are rounded to 4 dp so last-ulp summation differences can't flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import md5_prefix_long, ordered_collect

N_PLANES = 12
PLANE_SEED = 42
MAX_BUCKET = 256  # embedding_neardup_pairs' hot-bucket cap
# The settings below are read at call time.
EMBED_DIM = 64  # embedding width (hyperplanes, SQ bounds, RP matrix, PQ)
COSINE_TOPK = 20  # cosine_topk's hits
NEARDUP_COSINE = 0.9  # embedding_neardup_pairs keeps pairs at or above
N_CENTROIDS = 16  # seeded-Lloyd cells of ivf_centroids and every IVF user
IVF_TOPK = 10  # ivf_topk's hits
IVF_PROBES = 4  # cells ivf_topk's query probes
SEMDEDUP_COSINE = 0.95  # semantic_dedup marks cluster-mates at or above
CLUSTER_PICKS = 8  # cluster_balanced_sample's picks per cell
KNN_K = 5  # knn_brute_force's hits per query
SQ_TOPK = 10  # sq_topk's hits


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(df: DataFrame, query_vec: list[float]) -> DataFrame:
    """Brute-force cosine top-``COSINE_TOPK`` against a constant query vector.

    Plan shape: scan -> project(score) -> TakeOrderedAndProject (no shuffle
    of the full table; each partition computes local top-k, driver merges).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = df.select(
        F.col("vec_id"),
        F.round(cosine_col(emb, q), 4).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(COSINE_TOPK)


def hyperplanes() -> list[list[float]]:
    """The seeded pseudo-random ``EMBED_DIM``-wide hyperplanes as plain
    Python floats — shared by the Spark expression and the SQL oracle
    (which inlines them as literals), so both engines bucket identically."""
    import numpy as np

    rng = np.random.RandomState(PLANE_SEED)
    return [[float(x) for x in row]
            for row in rng.standard_normal((N_PLANES, EMBED_DIM))]


def embedding_neardup_pairs(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH.

    Bucket key = integer of sign bits of <v, plane_j> for deterministic
    seeded hyperplanes (``hyperplanes()``; the width is ``EMBED_DIM`` — no
    driver probe of the data). Candidate pairs share a bucket under
    1-bit-flip multiprobe (every vector probes its own bucket plus the
    ``N_PLANES`` buckets one sign-flip away, so any pair whose sign vectors
    differ in at most one plane is found); candidates are verified with
    exact cosine at ``NEARDUP_COSINE``.

    Scale guards (the 100 TB shape):
    - buckets larger than ``MAX_BUCKET`` are dropped before pairing — a
      boilerplate-identical embedding cluster would otherwise contribute k^2
      pairs on one partition; dropped-bucket recall comes back through the
      multiprobe flips (mirror of the minhash cap, dedup.py);
    - the probe join carries only (id, bucket ints); vectors re-join only
      for the deduplicated candidate set.
    """
    planes = hyperplanes()
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = sum(
        (
            F.when(
                _dot(emb, F.array(*[F.lit(p) for p in planes[j]])) >= 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(N_PLANES)
        ),
        F.lit(0),
    ).cast("long")

    keyed = df.select(F.col("vec_id").alias("id"), bucket.alias("bucket"))
    ok = (
        keyed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= MAX_BUCKET)
        .select("bucket")
    )
    base = keyed.join(ok, "bucket", "left_semi")

    probe_buckets = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)
    ]
    probes = (
        keyed.select("id", F.explode(F.array(*probe_buckets)).alias("bucket"))
        .join(ok, "bucket", "left_semi")
    )

    cand = (
        probes.alias("p")
        .join(
            base.alias("b"),
            (F.col("p.bucket") == F.col("b.bucket")) & (F.col("p.id") < F.col("b.id")),
        )
        .select(F.col("p.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col("vec_id").alias("id_a"), emb.alias("va"))
    vb = df.select(F.col("vec_id").alias("id_b"), emb.alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= NEARDUP_COSINE)
    )


def _assign_cells(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """argmax-cosine cell assignment via broadcast join + max_by partial
    aggregation (map-side combine; ties -> lowest cent_id). corpus shuffles
    once on the id, never N^2."""
    scored = corpus.join(F.broadcast(cents))
    cos = cosine_col(F.col("v"), F.col("cv"))
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("cent_id"), F.struct(cos.alias("c"), (-F.col("cent_id")).alias("t"))
        ).alias("cent_id"),
        F.first("v").alias("v"),  # constant within the group (one vector per id)
    )


def ivf_centroids(df: DataFrame) -> DataFrame:
    """Coarse quantizer for IVF: seeded with the first ``N_CENTROIDS``
    corpus vectors, then refined with one fixed Lloyd iteration — assign
    every vector to its best-cosine cell, recompute each cell's centroid as
    the element-wise mean. Entirely DataFrame expressions
    (posexplode -> grouped avg -> array rebuild), so the result is a pure,
    SQL-replayable function of the data (no sampling, no RNG), yet the
    cells track the data distribution instead of whatever the first
    ``N_CENTROIDS`` rows happened to be (the degenerate-quantizer fix).

    Centroid components are rounded to 6 dp on both engines so sub-ulp
    summation-order differences in the distributed mean cannot flip a
    downstream argmax. Cells that attract no vectors die (standard Lloyd).
    """
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cents = df.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), emb.alias("cv")
    )
    assigned = _assign_cells(df.select(F.col("vec_id"), emb.alias("v")), cents)
    by_dim = assigned.select(
        "cent_id", F.posexplode("v").alias("pos", "x")
    ).groupBy("cent_id", "pos").agg(F.round(F.avg("x"), 6).alias("m"))
    return by_dim.groupBy("cent_id").agg(
        ordered_collect(F.struct("pos", "m"), "m").alias("cv")
    )


def ivf_topk(df: DataFrame) -> DataFrame:
    """IVF-style approximate nearest neighbour: the scale path for ANN.

    Coarse quantizer: ``ivf_centroids`` (deterministic seeded Lloyd — a
    pure function of the data, so the oracle replays it exactly). Every
    vector is assigned to its best-cosine cell via a broadcast join +
    ``max_by`` partial aggregation. The query (vector 0) probes its
    ``IVF_PROBES`` nearest cells and re-ranks exactly within them — at
    100 TB only ~IVF_PROBES/N_CENTROIDS of the corpus is scored against the
    query instead of all of it.

    Output: (vec_id, cosine, rank) — top-``IVF_TOPK`` within the probed
    cells.
    """
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cents = ivf_centroids(df)
    qv = df.where(F.col("vec_id") == 0).select(emb.alias("qv"))

    assigned = _assign_cells(df.select(F.col("vec_id"), emb.alias("v")), cents)

    # probe selection: the query's IVF_PROBES nearest cells (16-row job)
    probes = (
        cents.join(F.broadcast(qv))
        .select("cent_id", cosine_col(F.col("cv"), F.col("qv")).alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc("cent_id"))
        .limit(IVF_PROBES)
        .select("cent_id")
    )

    # exact re-rank within probed cells: TakeOrderedAndProject, no full sort
    cand = assigned.join(F.broadcast(probes), "cent_id").join(F.broadcast(qv))
    top = (
        cand.select(
            F.col("vec_id"), F.round(cosine_col(F.col("v"), F.col("qv")), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(IVF_TOPK)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))  # k rows: trivial window
    return top.withColumn("rank", F.row_number().over(w))


MAX_CLUSTER = 1024  # semantic_dedup's hot-cluster cap


def semantic_dedup(df: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic seeded-Lloyd
    quantizer (:func:`ivf_centroids` — pure function of the data, so the
    DuckDB twin replays it exactly), then compare pairs ONLY within a
    cluster and mark every vector that has a lower-id cluster-mate with
    cosine >= ``SEMDEDUP_COSINE`` as a duplicate of its lowest such mate
    ("keep first" — deterministic, order-free).

    Output: one row per input vector (never-drop contract) —
    (vec_id, cent_id, is_dup, dup_of) with dup_of NULL for keepers.

    Scale shape: the quadratic step is per-cluster, so cost is
    sum(c_i^2) — production sizes ``N_CENTROIDS ~ N / target_cluster`` so
    clusters stay small (the paper runs 50k clusters for LAION-440M);
    clusters larger than ``MAX_CLUSTER`` are excluded from pairing (their
    members all come back as keepers) — the same disclosed hot-bucket cap
    as the minhash/LSH paths, preventing a degenerate cluster from
    contributing k^2 pairs on one partition. The pair join shuffles
    (cent_id, id, vector) once; centroids move only by broadcast.
    """
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cents = ivf_centroids(df)
    assigned = _assign_cells(df.select(F.col("vec_id"), emb.alias("v")), cents)

    ok = (
        assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= MAX_CLUSTER)
        .select("cent_id")
    )
    in_play = assigned.join(F.broadcast(ok), "cent_id", "left_semi")
    a = in_play.select(
        "cent_id", F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = in_play.select(
        "cent_id", F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    dup_of = (
        a.join(b, "cent_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine_col(F.col("va"), F.col("vb")), 4) >= SEMDEDUP_COSINE)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.join(dup_of, assigned["vec_id"] == dup_of["id_b"], "left")
        .select(
            F.col("vec_id"),
            F.col("cent_id"),
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.col("dup_of"),
        )
    )


def ivf_assign(df: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign vectors to FROZEN centroids — the incremental ANN
    maintenance path: at ingest scale the quantizer is fitted once on the
    committed corpus, persisted (iceberg-lite — the centroid table is
    n_centroids rows), and every new batch is assigned to the frozen
    cells without touching committed vectors; refits are periodic policy,
    not per-batch work. Completes the incremental family: exact dedup
    gates on persisted fingerprints, near-dup on persisted signatures
    (operators/incremental.py), ANN on persisted centroids.

    Returns (vec_id, cent_id, cosine): the argmax-cosine cell per vector
    (ties -> lowest cent_id) and the winning cosine rounded to 4 dp — the
    drift signal (falling per-cell mean cosine says the frozen quantizer
    no longer fits the incoming distribution).

    Shape: one broadcast of the centroid table, one map-side-combined
    ``max_by`` aggregation — the new batch shuffles once on its id, the
    committed corpus is never read. Exact DuckDB twin
    (``__spark_entry__._ivf_assign_oracle``)."""
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = df.select(F.col("vec_id"), emb.alias("v")).join(F.broadcast(cents))
    cos = cosine_col(F.col("v"), F.col("cv"))
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("cent_id"), F.struct(cos.alias("c"), (-F.col("cent_id")).alias("t"))
        ).alias("cent_id"),
        F.round(F.max(cos), 4).alias("cosine"),
    )


def cluster_balanced_sample(df: DataFrame) -> DataFrame:
    """Cluster-balanced corpus selection (the DCLM/DataComp curation shape:
    embed -> cluster -> sample per cluster so no dense region of embedding
    space dominates the training mix): assign every vector to its
    seeded-Lloyd cell (:func:`ivf_centroids` — a pure, SQL-replayable
    function of the data), then keep at most ``CLUSTER_PICKS`` vectors per
    cell, chosen by a deterministic md5-uniform key so the draw is
    reproducible and engine-independent.

    Output: one row per input vector (never-drop contract) —
    (vec_id, cent_id, pick_key, pick_rank, picked); ``picked`` marks the
    selected subset, everything else stays auditable.

    Scale shape: clustering is the broadcast-centroid + ``max_by``
    assignment every IVF path here uses (one corpus shuffle); the
    per-cluster rank is a window partitioned by cent_id — production
    sizes ``N_CENTROIDS ~ N / target_cluster`` (the SemDeDup deployment
    argument, arXiv:2303.09540 §3), so per-partition state is the bounded
    cluster size, never the corpus. The pick key is data-independent
    (pure function of the id), so sampling stays stable under re-runs
    and incremental appends.

    Reference analog: the rule table selecting a bounded subset of
    candidate regions per layout class (one_key_process.py:1146-1165) —
    here the "layout class" is a learned embedding cell."""
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cents = ivf_centroids(df)
    assigned = _assign_cells(df.select(F.col("vec_id"), emb.alias("v")), cents)
    key = F.pmod(
        md5_prefix_long(F.concat(F.lit("cbal-1:"), F.col("vec_id").cast("string")), 8),
        F.lit(1_000_000),
    )
    w = Window.partitionBy("cent_id").orderBy(F.asc("pick_key"), F.asc("vec_id"))
    return (
        assigned.select("vec_id", "cent_id", key.alias("pick_key"))
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .withColumn("picked", F.col("pick_rank") <= CLUSTER_PICKS)
    )


def knn_brute_force(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Batch k-NN: broadcast the (small) query set, cross-score, window
    top-``KNN_K`` per query. The canonical 'scoring a probe set against the corpus' shape."""
    from pyspark.sql.window import Window

    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qemb = F.transform(F.col("q_vec"), lambda x: x.cast("double"))
    scored = df.select(F.col("vec_id"), emb.alias("v")).crossJoin(
        F.broadcast(queries.select(F.col("q_id"), qemb.alias("qv")))
    ).select(
        "q_id", "vec_id", F.round(cosine_col(F.col("v"), F.col("qv")), 4).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def sq_bounds(df: DataFrame) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) of the ``EMBED_DIM`` dimensions for int8
    scalar quantization, computed in
    ONE pass as 2*dim agg expressions (partial aggregation map-side — no
    explode, no per-dim shuffle; the result is a single driver row of
    2*dim doubles, bounded by the embedding width, like the centroid
    collect in ``ivf_centroids``). ``scale = (max-min)/255`` per dim; a
    constant dimension gets scale 0 and quantizes to code 0."""
    dim = EMBED_DIM
    row = df.agg(
        *[F.min(F.col("embedding")[i].cast("double")).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.col("embedding")[i].cast("double")).alias(f"mx{i}") for i in range(dim)],
    ).collect()[0]
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    scales = [(float(row[f"mx{i}"]) - mins[i]) / 255.0 for i in range(dim)]
    return mins, scales


def sq_scores(df: DataFrame, query_vec: list[float],
              mins: list[float], scales: list[float]) -> DataFrame:
    """Asymmetric scalar-quantized scoring: each corpus vector is encoded
    to int8 codes against broadcast per-dim (min, scale) bounds, then
    scored against the FULL-precision query via the reconstruction
    ``min_d + code_d * scale_d`` — the asymmetric-distance trick (query
    stays exact, only the corpus is lossy), standard in IVF/SQ engines.

    Why it matters at 100 TB: int8 codes cut the embedding column 4x —
    scan bytes, shuffle bytes, and cache all shrink by the same factor —
    while asymmetric scoring keeps most of the accuracy. Plan shape: pure
    per-row expressions over broadcast literal arrays (zero shuffle, zero
    Python); returns (id, score_sq) with the quantized dot rounded to 4 dp
    for cross-engine parity. Codes round half-up on the non-negative
    shifted value, identically in the SQL twin."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    mn = F.array(*[F.lit(float(v)) for v in mins])
    sc = F.array(*[F.lit(float(v)) for v in scales])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # code_d = clamp(round((x_d - mn_d) / sc_d), 0, 255); recon = mn_d + code_d*sc_d
    code = F.zip_with(
        emb,
        F.sequence(F.lit(0), F.lit(len(mins) - 1)),
        lambda x, i: F.when(
            F.element_at(sc, i + 1) > 0,
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.round((x - F.element_at(mn, i + 1)) / F.element_at(sc, i + 1), 0),
                ),
            ),
        ).otherwise(F.lit(0.0)),
    )
    recon = F.zip_with(
        code,
        F.sequence(F.lit(0), F.lit(len(mins) - 1)),
        lambda c, i: F.element_at(mn, i + 1) + c * F.element_at(sc, i + 1),
    )
    return df.select(
        F.col("vec_id"),
        F.round(_dot(q, recon), 4).alias("score_sq"),
    )


def sq_topk(df: DataFrame, query_vec: list[float]) -> DataFrame:
    """Int8 scalar-quantized top-``SQ_TOPK`` with exact-rescore disclosure: rank by
    the quantized score (TakeOrderedAndProject — partition-local top-k,
    driver merge, no full-table shuffle), then join the k winners back to
    exact cosine so the output carries the quantization error per hit.
    Two passes over the corpus (bounds, then score) — both full scans with
    map-side-only work, the shape that survives 1000 executors."""
    mins, scales = sq_bounds(df)
    approx = (
        sq_scores(df, query_vec, mins, scales)
        .orderBy(F.desc("score_sq"), F.asc("vec_id"))
        .limit(SQ_TOPK)
    )
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exact = df.select(
        F.col("vec_id"), F.round(cosine_col(emb, q), 4).alias("cosine_exact")
    )
    # rescore join: the k winners are the BROADCAST side of an inner join
    # (every winner exists in the corpus), so the corpus streams map-side —
    # a left join here would force the big side to be the build side
    return (
        exact.join(F.broadcast(approx), "vec_id", "inner")
        .select("vec_id", "score_sq", "cosine_exact")
        .orderBy(F.desc("score_sq"), F.asc("vec_id"))
    )


RP_K = 8            # projected dimensionality for the shipped query
RP_SEED = 1337      # seed for the shared ±1 projection matrix


def rp_matrix() -> list[list[float]]:
    """The seeded ±1 signed-projection matrix (Achlioptas' database-
    friendly Johnson-Lindenstrauss construction) as plain Python floats —
    shared by the Spark expression and the SQL oracle (inlined as
    literals), so both engines project identically."""
    import numpy as np

    rng = np.random.RandomState(RP_SEED)
    return [
        [1.0 if x >= 0 else -1.0 for x in row]
        for row in rng.standard_normal((RP_K, EMBED_DIM))
    ]


def random_projection(df: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding to ``RP_K`` dims via the seeded ±1 matrix, scaled by
    1/sqrt(RP_K) so pairwise distances are preserved in expectation — the
    scale path BEFORE the similarity family (project 64 -> 8 once, then
    LSH/IVF/brute-force all read 8-double rows: an 8x smaller scan and
    shuffle for every downstream candidate join, with the JL guarantee
    bounding the distance distortion).

    Returns LONG format (id, j, p): one row per projected coordinate,
    4-dp rounded — array-free so the driver's value-hash and the DuckDB
    twin compare scalars. Shape: the matrix rides the plan as literals
    (no broadcast, no Python); one codegen projection + posexplode, zero
    shuffle, streaming-safe. Each coordinate is a left-associated
    zip_with/aggregate fold, matching the oracle's unrolled sum term for
    term (the embedding_neardup float discipline)."""
    import math

    signs = rp_matrix()
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.lit(math.sqrt(float(RP_K)))
    projs = F.array(
        *[
            F.round(
                _dot(emb, F.array(*[F.lit(s) for s in row])) / scale, 4
            )
            for row in signs
        ]
    )
    return df.select(F.col("vec_id"), F.posexplode(projs).alias("j", "p")).select(
        "vec_id", F.col("j").cast("long").alias("j"), "p"
    )


PQ_M = 8            # subspaces (64-dim embeddings -> 8 dims each)
PQ_K = 16           # codes per subspace (one byte would hold 256)


def _sq_l2(a, b):
    """Squared Euclidean distance via three dot products — the form both
    engines can evaluate from ``list_dot_product`` primitives."""
    return _dot(a, a) - 2.0 * _dot(a, b) + _dot(b, b)


def _pq_subvectors(df: DataFrame) -> DataFrame:
    """(vec_id, sub, sv): each embedding split into ``PQ_M`` contiguous
    subvectors — one generate projection, no shuffle."""
    sub_dim = EMBED_DIM // PQ_M
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    parts = F.array(*[
        F.struct(
            F.lit(mi).alias("sub"),
            F.slice(emb, mi * sub_dim + 1, sub_dim).alias("sv"),
        )
        for mi in range(PQ_M)
    ])
    return df.select(
        F.col("vec_id"), F.explode(parts).alias("p")
    ).select("vec_id", F.col("p.sub").alias("sub"), F.col("p.sv").alias("sv"))


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Per (vec_id, sub) the nearest codebook entry (squared-L2 argmin, ties
    to the lowest cent_id) — broadcast codebook join + min_by partial
    aggregation, the `_assign_cells` discipline per subspace."""
    d = _sq_l2(F.col("sv"), F.col("cv"))
    return (
        subs.join(F.broadcast(cents), "sub")
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                "cent_id", F.struct(d.alias("d"), F.col("cent_id").alias("t"))
            ).alias("cent_id"),
            F.first("sv").alias("sv"),
        )
    )


def pq_codebooks(df: DataFrame) -> DataFrame:
    """Product-quantization codebooks (Jégou et al.): an independent
    ``PQ_K``-entry codebook per contiguous subspace, fit with the engine's
    deterministic seeded Lloyd (seeds = the first ``PQ_K`` vectors'
    subvectors, one refinement, 6-dp means) — a pure,
    SQL-replayable function of the data like ``ivf_centroids``, but all
    ``PQ_M`` subspaces train in ONE frame keyed by the sub column (no
    per-subspace jobs). Returns (sub, cent_id, cv)."""
    subs = _pq_subvectors(df)
    cents = subs.where(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cv")
    )
    assigned = _pq_assign(subs, cents)
    by_dim = assigned.select(
        "sub", "cent_id", F.posexplode("sv").alias("pos", "x")
    ).groupBy("sub", "cent_id", "pos").agg(
        F.round(F.avg("x"), 6).alias("mv")
    )
    return by_dim.groupBy("sub", "cent_id").agg(
        ordered_collect(F.struct("pos", "mv"), "mv").alias("cv")
    )


def pq_topk(df: DataFrame) -> DataFrame:
    """PQ asymmetric-distance top-10 — the memory-scale ANN path: each
    vector is stored as ``PQ_M`` small codes (8 bytes here vs 256 for the
    raw floats), and query scoring is a LOOKUP-TABLE sum, never a
    full-vector dot product. The query builds a (PQ_M x PQ_K) distance
    table against the codebooks (tiny, broadcast); each vector's
    approximate distance is the sum of its codes' table entries — at
    100 TB the scan reads codes, not vectors, and the per-row work is PQ_M
    additions. Returns (id, adist, rank), ascending approximate squared
    L2, 4-dp, id tie-break. Compose with an exact rescore of the top
    candidates (the sq_topk pattern) when recall matters."""
    cents = pq_codebooks(df)
    subs = _pq_subvectors(df)
    codes = _pq_assign(subs, cents).select(
        "vec_id", "sub", F.col("cent_id").alias("code")
    )
    qsubs = subs.where(F.col("vec_id") == 0).select(
        "sub", F.col("sv").alias("qv")
    )
    dtab = cents.join(F.broadcast(qsubs), "sub").select(
        "sub", "cent_id", _sq_l2(F.col("cv"), F.col("qv")).alias("d")
    )
    approx = (
        codes.join(
            F.broadcast(dtab),
            (codes.sub == dtab.sub) & (codes.code == dtab.cent_id),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )
    top = approx.orderBy(F.asc("adist"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("adist"), F.asc("vec_id"))  # 10 rows: trivial
    return top.withColumn("rank", F.row_number().over(w))
