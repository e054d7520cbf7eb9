"""Physical-plan regression tests: the properties PLANS.md documents are
asserted here so a refactor that silently loses pushdown, broadcast, or
the single-exchange parse shape fails CI, not a 100 TB run."""

import contextlib
import io
import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    return _explain({**entrymod.queries(), **entrymod.extra_queries()}[name](spark, SF_DIR))


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(plan: str) -> str:
    """The operator-tree section (each node appears again in the detail
    section below it, so counts must run on the tree only)."""
    return plan.split("\n\n")[0]


def test_agg_pricing_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "agg_pricing")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan          # map-side combine before the exchange
    assert _tree(plan).count("Scan parquet") == 1


def test_top_customers_broadcast_join_and_topk(spark):
    plan = _plan(spark, "top_customers")
    assert "BroadcastHashJoin" in plan    # dim side broadcast, fact not shuffled
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort


def test_resume_antijoin_is_broadcast_anti(spark):
    plan = _plan(spark, "resume_antijoin")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_flagship_single_salted_exchange(spark):
    plan = _plan(spark, "flagship_extract")
    # exactly ONE exchange: the mandated salted host-hash shuffle, keyed by
    # JVM-side xxhash64 over parse_url(HOST)
    assert _tree(plan).count("Exchange") == 1
    assert "xxhash64" in plan
    # column pruning: warc_ts never crosses into the extract UDF
    assert "_extract_batches(url" in plan and "warc_ts" not in plan.split(
        "_extract_batches")[1].split("]")[0]


def test_semi_join_stays_semi(spark):
    plan = _plan(spark, "semi_join")
    assert "LeftSemi" in plan


def test_chunk_documents_is_expression_only(spark):
    plan = _plan(spark, "chunk_documents")
    # no Python anywhere in the chunk plan: the 1:N fan-out is
    # split/sequence/explode/slice inside codegen
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDTF", "MapInPandas"):
        assert node not in plan, node
    assert "Generate" in _tree(plan) and "explode" in plan


def test_pack_sequences_has_no_single_partition_window(spark):
    plan = _plan(spark, "pack_sequences")
    tree = _tree(plan)
    # the scale-killer signature of an unpartitioned window is an
    # Exchange SinglePartition feeding it; the two-pass cumsum must
    # range-partition instead and broadcast the per-range offsets
    assert "Exchange SinglePartition" not in tree
    assert "rangepartitioning" in plan
    assert "Window" in tree
    assert "BroadcastHashJoin" in tree


def test_ivf_assignment_has_partial_argmax(spark):
    plan = _plan(spark, "ivf_topk")
    assert "partial_max_by" in plan       # map-side combine for cell assignment
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,16)]" in plan


def test_quality_filter_is_zero_shuffle_projection(spark):
    plan = _plan(spark, "quality_filter")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, node
    # per-row formulation: even the modal-token count folds inside the row
    # (sorted-array longest-run), so the whole filter is a projection —
    # no exchange, no explode, stateless (streaming-safe)
    tree = _tree(plan)
    assert "Exchange" not in tree
    assert "Generate" not in tree
    assert tree.count("Scan parquet") == 1


def test_lm_score_stays_jvm_and_broadcasts_count_tables(spark):
    plan = _plan(spark, "lm_score")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    # vocabulary-sized unigram/bigram counts reach the bigram stream as
    # broadcasts; V is a broadcast 1-row aggregate (never a collect)
    assert "BroadcastExchange" in plan
    assert "CollectLimit" not in plan


def test_url_parts_is_pure_projection(spark):
    plan = _plan(spark, "url_parts")
    tree = _tree(plan)
    assert "Exchange" not in tree          # scalar exprs only: no shuffle
    assert "Generate" not in tree
    assert tree.count("Scan parquet") == 1


def test_line_dedup_broadcasts_hot_lines_and_stays_jvm(spark):
    plan = _plan(spark, "line_dedup")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    # the hot-line set (vocabulary-sized) reaches the removal join as a
    # broadcast; doc-frequency counts combine map-side (two-phase distinct)
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    # shuffle exchanges (excluding the broadcast): the two-phase distinct
    # count + the single doc-id re-assembly exchange
    tree = _tree(plan)
    assert tree.count(" Exchange (") <= 3


def test_shard_assignment_single_exchange_window(spark):
    plan = _plan(spark, "shard_assignment")
    tree = _tree(plan)
    # exactly the shard writer's movement: one hash exchange on shard,
    # then the per-shard sort the export needs anyway
    assert tree.count("Exchange") == 1
    assert "Window" in tree
    assert "Exchange SinglePartition" not in tree


def test_dup_spans_no_python_and_partial_agg(spark):
    """Span dedup must stay JVM-side end to end; the gram-df aggregation
    must partial-aggregate before its exchange (the only wide stages are
    the df groupBy, the dup-gram join, and the per-doc window)."""
    plan = _plan(spark, "dup_spans")
    assert "Python" not in plan
    assert "partial_count" in plan or "partial_finalmerge" in plan.lower()


def test_inverted_index_tf_compression_before_postings(spark):
    """The posting build must consume the (term, doc)-compressed tf relation
    (two hash aggregates), never the raw token explode, and stay JVM-side."""
    plan = _plan(spark, "inverted_index")
    assert "Python" not in plan
    tree = _tree(plan)
    assert tree.count("HashAggregate") >= 4  # partial+final x (tf, postings)
    assert "Generate" in tree                # the token explode feeds tf


def test_bm25_query_vocab_filter_before_shuffle_and_topk(spark):
    """BM25's token explode must be filtered to the query vocabulary before
    the tf aggregation shuffles (term IN (...) below the first exchange),
    the df/stats sides must broadcast, and the ranking must be a
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "bm25")
    assert "Python" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in _tree(plan)
    tree = _tree(plan)
    gen = tree.index("Generate")
    # a Filter sits between the explode and its aggregate (vocab pushdown)
    after_gen = tree[gen:]
    assert "Filter" in after_gen.split("HashAggregate")[0] or \
        "Filter" in tree[:gen]


def test_semantic_dedup_broadcast_centroids_no_cartesian(spark):
    """SemDeDup's cluster assignment and size gate must move centroids by
    broadcast; the only pair join is the within-cluster equi-join on
    cent_id (no CartesianProduct over the corpus)."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in _tree(plan)
    assert "BroadcastExchange" in _tree(plan)
    assert "Python" not in plan


def test_extract_spans_single_salted_exchange(spark):
    # the span path must keep the flagship parse shape: one salted
    # exchange of payload bytes, then the Arrow span fan-out
    plan = _plan(spark, "extract_spans")
    assert _tree(plan).count("Exchange") == 1
    assert "xxhash64" in plan
    assert "_span_batches(url" in plan


@pytest.mark.parametrize("repartition", [True, False])
def test_parse_entry_points_share_one_partition_policy(spark, repartition):
    """The text, markdown and span paths are one parse stage: they plan the
    salted shuffle the same way (the markdown and span paths always take
    it, the text path when ``repartition`` asks for it), and only the four
    input columns cross into the Python node."""
    from ocr_spark.operators.extract_op import (
        extract_page_markdown,
        extract_page_spans,
        extract_pages,
    )
    from ocr_spark.session import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("https://a.example/x", None, b"<p>hi</p>", "hi", "en")], PAGES_SCHEMA
    )
    frames = {"extract_pages": (extract_pages(pages, repartition=repartition),
                                repartition),
              "extract_page_markdown": (extract_page_markdown(pages), True),
              "extract_page_spans": (extract_page_spans(pages), True)}
    for name, (frame, shuffled) in frames.items():
        plan = _explain(frame)
        assert _tree(plan).count("Exchange") == int(shuffled), name
        python_input = re.search(r"\) MapInPandas\nInput \[\d+\]: \[(.*?)\]", plan)
        assert re.sub(r"#\d+L?", "", python_input.group(1)).split(", ") == [
            "url", "html", "text", "lang"
        ], name


def _pages_files(spark, path: str, n_files: int, rows_per_file: int):
    """Pages-shaped parquet written as ``n_files`` files of one row group."""
    from pyspark.sql import functions as F

    from ocr_spark.session import PAGES_SCHEMA

    (spark.range(n_files * rows_per_file, numPartitions=n_files)
     .select(F.format_string("https://h%d.example/%d", F.col("id") % 7, "id").alias("url"),
             F.lit(None).cast("timestamp").alias("warc_ts"),
             F.format_string("<p>page %d</p>", "id").cast("binary").alias("html"),
             F.lit(None).cast("string").alias("text"),
             F.lit("en").alias("lang"))
     .write.parquet(path))
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


@pytest.mark.parametrize("layout", ["equal_files", "tiny_files", "one_file"])
def test_scan_estimate_is_a_lower_bound_that_auto_trusts(spark, tmp_path, layout):
    """The "auto" probe counts scan partitions the way Spark's file source
    packs files, each file as one piece: never more than Spark plans, the
    same for ``defaultParallelism`` equal files and for 4x as many tiny
    ones, and 1 for one file (whose byte-range splits beyond the first
    read nothing), which alone still gets the salted shuffle."""
    from ocr_spark.operators.extract_op import _estimated_scan_partitions, extract_pages

    slots = spark.sparkContext.defaultParallelism
    n_files, rows = {"equal_files": (slots, 200), "tiny_files": (4 * slots, 5),
                     "one_file": (1, 800)}[layout]
    df = _pages_files(spark, str(tmp_path / layout), n_files, rows)
    assert len(df.inputFiles()) == n_files
    est = _estimated_scan_partitions(df)
    assert 1 <= est <= df.rdd.getNumPartitions()
    assert est == (1 if layout == "one_file" else slots)
    exchanges = _tree(_explain(extract_pages(df))).count("Exchange")
    assert exchanges == (1 if layout == "one_file" else 0)


@pytest.mark.parametrize("raw,expected", [
    ("128m", 128 << 20), ("64mb", 64 << 20), ("256kb", 256 << 10),
    ("1gb", 1 << 30), ("134217728b", 134217728), ("4194304", 4194304),
])
def test_bytes_conf_reads_every_spark_size_suffix(spark, raw, expected):
    """The "auto" probe reads ``maxPartitionBytes`` as Spark does, two-letter
    suffixes included."""
    from ocr_spark.operators.extract_op import _bytes_conf

    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, raw)
    try:
        assert _bytes_conf(spark, key, 1) == expected
    finally:
        spark.conf.unset(key)


def test_blockwords_zero_shuffle(spark):
    # the C4 wordlist gate is a stateless projection: streaming-safe,
    # no exchange at any scale
    plan = _plan(spark, "blockwords")
    assert "Exchange" not in _tree(plan)
    assert "array_intersect" in plan


def test_dsir_broadcast_ratio_and_topk(spark):
    plan = _plan(spark, "dsir_sample")
    tree = _tree(plan)
    # the log-ratio table reaches the corpus-feature join as a broadcast
    assert "BroadcastHashJoin" in tree
    # selection is per-partition top-k heads, never a 1-partition sort
    assert "TakeOrderedAndProject" in tree
    assert "Sort [" not in tree or "SinglePartition" not in tree


def test_host_boilerplate_long_keyed_shuffle(spark):
    # the corpus crosses the shuffle keyed on the two 60-bit md5 longs
    # (hh, lh) — never on line strings
    plan = _plan(spark, "host_boilerplate")
    # partitioning arguments live in the detail section, not the tree
    assert "hashpartitioning(hh" in plan
    assert "hashpartitioning(line" not in plan


def test_cluster_sample_broadcast_centroids_no_cartesian(spark):
    # same contract as semantic_dedup: centroids ride a broadcast, the
    # corpus never crosses a cartesian, nothing drops to Python
    plan = _plan(spark, "cluster_sample")
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastExchange" in tree
    assert "Python" not in plan


def test_textprofile_gates_are_zero_shuffle(spark):
    # both character-class profile gates are stateless projections:
    # streaming-safe, no exchange, no Python, single scan
    for name in ("script_stats", "code_detect"):
        plan = _plan(spark, name)
        tree = _tree(plan)
        assert "Exchange" not in tree, name
        assert "Python" not in plan, name
        assert tree.count("Scan parquet") == 1, name


def test_bpe_tokens_zero_shuffle_apply(spark):
    # the fitted encoder rides the task binary; the corpus-wide apply is
    # a stateless projection
    plan = _plan(spark, "bpe_tokens")
    tree = _tree(plan)
    assert "Exchange" not in tree
    assert "Python" not in plan
    assert tree.count("Scan parquet") == 1


def test_signals_single_scan_single_projection(spark):
    # the fused signal table: one scan, one codegen projection, nothing
    # else — no exchange, no join, no Python
    plan = _plan(spark, "signals")
    tree = _tree(plan)
    assert "Exchange" not in tree
    assert "Join" not in tree
    assert "Python" not in plan
    assert tree.count("Scan parquet") == 1
    # the tree is literally Project over Scan — nothing else
    assert tree.count("Project") == 1


def test_paragraph_dedup_long_keyed_and_broadcast_hot(spark):
    # paragraph identity crosses the shuffle as the 60-bit long; the hot
    # set reaches the removal join as a broadcast (vocabulary-sized)
    plan = _plan(spark, "paragraph_dedup")
    assert "hashpartitioning(ph" in plan
    assert "hashpartitioning(para" not in plan
    assert "BroadcastHashJoin" in _tree(plan)
    assert "Python" not in plan


def test_common_ngrams_topk_not_global_sort(spark):
    plan = _plan(spark, "common_ngrams")
    tree = _tree(plan)
    assert "TakeOrderedAndProject" in tree
    assert "partial_count" in plan or "partial_min" in plan
    assert "Python" not in plan


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed identically on the join key join with ZERO
    Exchange — the pay-the-shuffle-once-at-ingest layout for repeated
    joins at scale. Also pins that the UNBUCKETED control plan DOES
    exchange, so the assertion can't pass vacuously."""
    import pyspark.sql.functions as F

    from ocr_spark.plans.partitioning import write_bucketed

    # keyed like the band store it serves: (band, bucket)
    key = [(F.col("id") % 8).alias("band"), F.col("id").alias("bucket")]
    docs = spark.range(0, 1000).select(*key, (F.col("id") % 97).alias("feature"))
    sigs = spark.range(0, 1000).select(
        *key, F.md5(F.col("id").cast("string")).alias("fp")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test tables are tiny, so the planner would (correctly)
        # broadcast them and skip bucketing; at the sizes bucketing exists
        # for, neither side is broadcastable — model that explicitly
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(docs, "bkt_docs", str(tmp_path / "bd"))
        write_bucketed(sigs, "bkt_sigs", str(tmp_path / "bs"))
        joined = spark.table("bkt_docs").join(spark.table("bkt_sigs"), ["band", "bucket"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        assert joined.count() == 1000
        # control: the same join over the raw (unbucketed) frames shuffles
        control = docs.join(sigs, ["band", "bucket"])
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in cplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_sigs")


def test_incremental_band_store_committed_side_no_exchange(spark, tmp_path):
    """VERDICT r4 item 5: the persisted band store is bucketed+sorted on
    the band-join key, so the per-batch candidate join shuffles ONLY the
    probe side — exactly one Exchange in the join plan (the new batch's
    band rows), none above the committed table's scan. The unbucketed
    control exchanges both sides."""
    import pyspark.sql.functions as F

    from ocr_spark.operators.dedup import band_buckets
    from ocr_spark.operators.incremental import committed_state, write_band_store

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta body "),
            F.col("id"),
        ).alias("text"),
    )
    state = committed_state(docs)
    probe = band_buckets(
        committed_state(
            docs.where("doc_id < 40").select(
                (F.col("doc_id") + 10_000).alias("doc_id"), "text"
            )
        ),
        id_col="id",
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_band_store(state, "bkt_band_store", str(tmp_path / "bbs"))
        stored = spark.table("bkt_band_store")
        joined = probe.alias("l").join(
            stored.alias("r"), ["band", "bucket"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan  # probe side only
        assert "Bucketed: true" in plan
        # control: deriving the committed bands in-session exchanges BOTH
        control = probe.alias("l").join(
            band_buckets(state, id_col="id").alias("r"), ["band", "bucket"]
        )
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("Exchange") >= 2, cplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_band_store")
