"""Resume / idempotency / crash-injection properties (SURVEY §5; FIXTURES §4):
a crash mid-run must lose at most the uncommitted chunk, a resumed run must
produce a final table byte-identical to an uninterrupted run, and orphan data
from a crash between data-write and manifest-rename must stay invisible."""

import contextlib
import os
import re

import pyarrow.dataset as pads
import pytest

from ocr_spark.pipeline import read_extracted, read_metrics, run_extract
from ocr_spark.sources.iceberg_lite import IcebergLiteTable
from ocr_spark.sources.pages import synth_pages

N = 400


def read_at(spark, table, sequence):
    """Time travel: the data visible at snapshot ``sequence`` of ``table``
    (Iceberg's VERSION AS OF), None if that snapshot holds no data.
    Snapshots are immutable, so an old sequence reads identically forever,
    whatever appends, overwrites or compactions commit after it."""
    for snap in table.snapshots():
        if snap["sequence"] == sequence:
            entries = snap["entries"]
            return table._read_entries(spark, entries, None) if entries else None
    raise ValueError(f"no snapshot with sequence {sequence}")


@contextlib.contextmanager
def _crash_after_chunks(n):
    """Expect a run to die once its ``n``-th ``extracted`` snapshot has
    committed: the one crash point between a chunk and the next."""
    real = IcebergLiteTable.append
    commits = 0

    def append(self, df, **kw):
        nonlocal commits
        snap = real(self, df, **kw)
        if self.root.endswith("/extracted"):
            commits += 1
            if commits == n:
                raise RuntimeError(f"injected crash after {n} chunks")
        return snap

    IcebergLiteTable.append = append
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            yield
    finally:
        IcebergLiteTable.append = real


def _age(path):
    """Backdate ``path`` past remove_orphans' in-flight guard."""
    from ocr_spark.sources.iceberg_lite import ORPHAN_AGE_S

    old = os.path.getmtime(path) - ORPHAN_AGE_S - 60
    os.utime(path, (old, old))


def _final_texts(spark, root):
    df = read_extracted(spark, root)
    return {r["url"]: r["text"] for r in df.select("url", "text").collect()}


def test_crash_then_resume_matches_uninterrupted(spark, tmp_path):
    pages = synth_pages(spark, N)

    clean_root = str(tmp_path / "clean")
    run_extract(spark, pages, clean_root, run_id="clean", chunks=4, num_partitions=4)
    clean = _final_texts(spark, clean_root)
    assert len(clean) == N

    crash_root = str(tmp_path / "crashy")
    with _crash_after_chunks(2):
        run_extract(spark, pages, crash_root, run_id="r1", chunks=4, num_partitions=4)
    partial = _final_texts(spark, crash_root)
    assert 0 < len(partial) < N

    res = run_extract(spark, pages, crash_root, run_id="r2", chunks=4, num_partitions=4)
    assert res.docs == N - len(partial)
    resumed = _final_texts(spark, crash_root)
    assert resumed == clean  # byte-identical final state

    # one row per url — resume must not duplicate committed work
    total = read_extracted(spark, crash_root).count()
    assert total == N

    # the resume's one metrics commit also covers the crashed run's chunks,
    # each extracted snapshot once, under the run_id that committed it
    m = read_metrics(spark, crash_root).toPandas()
    assert int(m["docs_parsed"].sum() + m["parse_failures"].sum()) == N
    snaps = IcebergLiteTable(f"{crash_root}/extracted").snapshots()
    assert [s["properties"]["run_id"] for s in snaps] == ["r1", "r1", "r2", "r2"]
    per_snap = m.groupby("snapshot_id").agg(
        run_ids=("run_id", "unique"), docs=("docs_parsed", "sum"),
        failures=("parse_failures", "sum"))
    assert {sid: (list(r.run_ids), r.docs + r.failures) for sid, r in per_snap.iterrows()} == {
        s["snapshot_id"]: ([s["properties"]["run_id"]], s["properties"]["rows"]) for s in snaps}
    metrics = IcebergLiteTable(f"{crash_root}/metrics")
    assert len(metrics.snapshots()) == 1
    assert sorted(e["partition"]["snapshot_id"] for e in metrics.entries()) == sorted(
        s["snapshot_id"] for s in snaps)


def test_rerun_after_completion_is_noop(spark, tmp_path, monkeypatch):
    pages = synth_pages(spark, 100)
    root = str(tmp_path / "t")
    run_extract(spark, pages, root, run_id="a", chunks=2, num_partitions=2)

    # a chunk with nothing left must not even build its parse stage
    def no_parse(*args, **kwargs):
        raise AssertionError("extract_pages called on a no-op resume")

    monkeypatch.setattr("ocr_spark.pipeline.extract_pages", no_parse)
    extracted = IcebergLiteTable(f"{root}/extracted")
    metrics = IcebergLiteTable(f"{root}/metrics")
    before = len(extracted.snapshots()), len(metrics.snapshots())
    # nothing is uncovered, so no metrics frame is built, let alone run
    def no_metrics(*args, **kwargs):
        raise AssertionError("read_added called on a no-op resume")

    monkeypatch.setattr(IcebergLiteTable, "read_added", no_metrics)
    res = run_extract(spark, pages, root, run_id="b", chunks=2, num_partitions=2)
    assert res.chunks_done == 0 and res.docs == 0
    assert res.chunks_skipped == 2
    assert (len(extracted.snapshots()), len(metrics.snapshots())) == before == (2, 1)
    assert read_extracted(spark, root).count() == 100


def test_partial_resume_keeps_the_fresh_run_shuffle(spark, tmp_path, monkeypatch):
    """The "auto" shuffle is decided on ``pages``, not on a resumed chunk's
    input: that also lists the committed table's files behind the anti-join,
    which hold no page. A one-file ``pages`` input shuffles on a fresh run,
    and still on every chunk of a resume over a many-file committed table."""
    import ocr_spark.pipeline as pipeline

    src = str(tmp_path / "pages")
    synth_pages(spark, N).coalesce(1).write.parquet(src)
    pages = spark.read.parquet(src)
    assert len(pages.inputFiles()) == 1

    plans = []
    real = pipeline.extract_pages

    def traced(df, **kw):
        out = real(df, **kw)
        plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out

    monkeypatch.setattr("ocr_spark.pipeline.extract_pages", traced)
    root = str(tmp_path / "t")
    with _crash_after_chunks(1):
        run_extract(spark, pages, root, run_id="r1", chunks=4, num_partitions=16)
    assert "RepartitionByExpression" in plans[0]  # the fresh run shuffles
    committed = IcebergLiteTable(f"{root}/extracted").read(spark).inputFiles()
    assert len(committed) >= spark.sparkContext.defaultParallelism

    plans.clear()
    res = run_extract(spark, pages, root, run_id="r2", chunks=4, num_partitions=16)
    assert res.chunks_done == len(plans) == 3
    assert all("RepartitionByExpression" in p for p in plans)
    assert read_extracted(spark, root).count() == N


def test_orphan_data_invisible_without_manifest(spark, tmp_path):
    """Crash between parquet write and manifest rename => no partial reads."""
    root = str(tmp_path / "t")
    pages = synth_pages(spark, 50)
    run_extract(spark, pages, root, run_id="a", chunks=1, num_partitions=2)
    table = IcebergLiteTable(f"{root}/extracted")
    before = table.read(spark).count()
    # simulate: data dir written, manifest never renamed in
    orphan = os.path.join(root, "extracted", "data", "deadbeef00000000")
    read_extracted(spark, root).limit(5).write.parquet(orphan)
    assert table.read(spark).count() == before  # orphan invisible
    # the orphan dir never appears among committed entries (the partitioned
    # layout may legitimately commit one entry per content kind)
    assert not any(e["dir"].startswith(orphan) for e in table.entries())


def test_metrics_rows_per_partition(spark, tmp_path):
    root = str(tmp_path / "t")
    pages = synth_pages(spark, 200)
    run_extract(spark, pages, root, run_id="m", chunks=2, num_partitions=3)
    m = read_metrics(spark, root).toPandas()
    assert set(m["chunk"]) == {0, 1}
    assert (m["docs_parsed"] + m["parse_failures"] > 0).all()
    assert m["bytes_in"].sum() > 0 and m["bytes_out"].sum() > 0
    # metrics cover every extracted row exactly once
    assert int(m["docs_parsed"].sum() + m["parse_failures"].sum()) == 200
    snaps = IcebergLiteTable(f"{root}/extracted").snapshots()
    assert len(snaps) == 2
    assert set(m["snapshot_id"]) == {s["snapshot_id"] for s in snaps}
    # one metrics snapshot per run, one snapshot_id partition per chunk snapshot
    metrics = IcebergLiteTable(f"{root}/metrics")
    assert len(metrics.snapshots()) == 1
    assert sorted(e["partition"]["snapshot_id"] for e in metrics.entries()) == sorted(
        s["snapshot_id"] for s in snaps)
    # each snapshot's `rows` (the run's pre-count of its chunk) equals the
    # rows it committed and the docs its chunk's metrics account for
    per_snap = m.groupby("snapshot_id")[["docs_parsed", "parse_failures"]].sum().sum(axis=1)
    for s in snaps:
        data = os.path.join(root, "extracted", "data", s["snapshot_id"])
        table_rows = pads.dataset(data, format="parquet").count_rows()
        assert s["properties"]["rows"] == table_rows == per_snap[s["snapshot_id"]]


def test_metrics_coverage_survives_compact_and_expire(spark, tmp_path):
    """Compacting and expiring the metrics table between two runs keeps its
    snapshot_id partitions, so the next run covers only the new chunks and
    every chunk snapshot is counted exactly once."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    pages = synth_pages(spark, 200)
    run_extract(spark, pages.where(F.crc32("url") % 2 == 0), root, run_id="a",
                chunks=2, num_partitions=2)
    metrics = IcebergLiteTable(f"{root}/metrics")
    metrics.compact(spark, target_partitions=1)
    metrics.expire_snapshots(keep_last=1)
    res = run_extract(spark, pages, root, run_id="b", chunks=2, num_partitions=2)
    assert 0 < res.docs < 200

    m = read_metrics(spark, root).toPandas()
    assert not m.duplicated(["snapshot_id", "partition_id"]).any()
    assert int(m["docs_parsed"].sum() + m["parse_failures"].sum()) == 200
    snaps = IcebergLiteTable(f"{root}/extracted").snapshots()
    assert [s["properties"]["run_id"] for s in snaps] == ["a", "a", "b", "b"]
    per_snap = m.groupby("snapshot_id").agg(
        run_ids=("run_id", "unique"), docs=("docs_parsed", "sum"),
        failures=("parse_failures", "sum"))
    assert {sid: (list(r.run_ids), r.docs + r.failures) for sid, r in per_snap.iterrows()} == {
        s["snapshot_id"]: ([s["properties"]["run_id"]], s["properties"]["rows"]) for s in snaps}


def test_time_travel_and_compaction(spark, tmp_path):
    """read_at(seq) is immutable across later appends/compaction; compact()
    rewrites into target file count without changing current contents."""
    t = IcebergLiteTable(str(tmp_path / "tt"))
    t.append(spark.range(0, 10).repartition(4))
    t.append(spark.range(10, 30).repartition(4))

    at0 = {r[0] for r in read_at(spark, t, 0).collect()}
    assert at0 == set(range(10))

    before = {r[0] for r in t.read(spark).collect()}
    sid = t.compact(spark, target_partitions=1)
    assert sid is not None
    after = {r[0] for r in t.read(spark).collect()}
    assert after == before == set(range(30))
    # compaction produced one data file in one fresh dir
    entries = t.entries()
    assert len(entries) == 1
    files = [f for f in os.listdir(entries[0]["dir"]) if f.endswith(".parquet")]
    assert len(files) == 1
    # pre-compaction snapshot still reads the old (multi-dir) layout
    assert {r[0] for r in read_at(spark, t, 1).collect()} == set(range(30))
    assert at0 == {r[0] for r in read_at(spark, t, 0).collect()}
    with pytest.raises(ValueError):
        read_at(spark, t, 99)


def test_extract_reads_iceberg_lite_input(spark, tmp_path):
    """north_rule input contract: the pipeline reads pages from a committed
    iceberg-lite TABLE (not just a parquet dir) and produces identical
    output — read_pages dispatches on the manifests/ dir."""
    from ocr_spark.session import PAGES_SCHEMA
    from ocr_spark.sources.pages import read_pages

    pages = synth_pages(spark, 50, num_partitions=2)
    troot = str(tmp_path / "pages_table")
    IcebergLiteTable(troot).append(pages)
    pdir = str(tmp_path / "pages_dir")
    pages.write.parquet(pdir)

    from_table = read_pages(spark, troot).toPandas().sort_values("url").reset_index(drop=True)
    from_dir = read_pages(spark, pdir).toPandas().sort_values("url").reset_index(drop=True)
    assert (from_table["url"] == from_dir["url"]).all()
    assert len(from_table) == 50
    assert [f.name for f in read_pages(spark, troot).schema.fields] == \
        [f.split(" ")[0] for f in PAGES_SCHEMA.split(", ")]


# ---- manifest-level pruning (S4) -------------------------------------------

def _docs_df(spark, lo, hi):
    rows = [(i, f"text {i}", ["en", "de", "fr"][i % 3]) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _partition_filters(df):
    """The ``PartitionFilters`` of the one file scan in ``df``'s plan,
    attribute ids stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+", "", re.search(r"PartitionFilters: \[(.*?)\]", plan).group(1))


def test_partitioned_append_prunes_by_partition_value(spark, tmp_path):
    """A filter on the partition column prunes partition dirs in Spark's
    own scan: ``read`` keeps the snapshot basePath, so the Hive column is
    a partition column of the file index."""
    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(_docs_df(spark, 0, 90), partition_by="lang", stats_cols=("doc_id",))
    all_entries = t.entries()
    assert len(all_entries) == 3
    assert {e["partition"]["lang"] for e in all_entries} == {"en", "de", "fr"}

    en = t.read(spark).where("lang = 'en'")
    assert _partition_filters(en) == "isnotnull(lang), (lang = en)"
    got = sorted(r.doc_id for r in en.select("doc_id").collect())
    assert got == list(range(0, 90, 3))


def test_range_stats_prune_whole_snapshots(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(_docs_df(spark, 0, 100), stats_cols=("doc_id",))
    t.append(_docs_df(spark, 100, 200), stats_cols=("doc_id",))
    assert len(t.entries()) == 2

    hit = t.select_entries(ranges={"doc_id": (150, 160)})
    assert len(hit) == 1
    assert hit[0]["stats"]["doc_id"] == [100, 199]
    # a range past every entry's stats prunes them all
    assert t.select_entries(ranges={"doc_id": (5000, 6000)}) == []


def test_pipeline_writes_prunable_partitioned_snapshots(spark, tmp_path):
    root = str(tmp_path / "p")
    pages = synth_pages(spark, 120)
    run_extract(spark, pages, root, run_id="r", chunks=2, num_partitions=4)
    t = IcebergLiteTable(f"{root}/extracted")
    entries = t.entries()
    assert all(e["partition"].get("content_kind") for e in entries)
    assert all("url" in e["stats"] for e in entries)
    html_only = read_extracted(spark, root).where("content_kind = 'html'")
    assert _partition_filters(html_only) == (
        "isnotnull(content_kind), (content_kind = html)")
    kinds = [r.content_kind for r in html_only.select("content_kind").collect()]
    assert kinds and set(kinds) == {"html"}


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: snapshots written before a column
    existed read NULL for it; time travel to the old sequence still sees
    the old schema's data unchanged."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "evo"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    t.append(
        spark.createDataFrame(
            [(3, "c", 0.5)], "id long, name string, score double"
        )
    )
    rows = {r["id"]: (r["name"], r["score"]) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}
    old = read_at(spark, t, 0)
    assert old.columns == ["id", "name"] and old.count() == 2


def test_schema_evolution_dropped_column_survives_for_old_rows(spark, tmp_path):
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "evo2"))
    t.append(spark.createDataFrame([(1, "x")], "id long, legacy string"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    rows = {r["id"]: r["legacy"] for r in t.read(spark).collect()}
    assert rows == {1: "x", 2: None}


def test_expire_snapshots_keeps_cumulative_chain_data(spark, tmp_path):
    """Append manifests are cumulative: expiring old APPEND snapshots drops
    manifests (time travel) but must not delete any dir the surviving
    snapshot still references."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "exp"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "id long"))
    res = t.expire_snapshots(keep_last=1)
    assert res == {"manifests_removed": 2, "dirs_removed": 0}
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_at(spark, t, 0)


def test_expire_snapshots_reclaims_overwritten_data(spark, tmp_path):
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "exp2"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.overwrite(spark.createDataFrame([(2,)], "id long"))
    res = t.expire_snapshots(keep_last=1)
    assert res["manifests_removed"] == 1 and res["dirs_removed"] == 1
    assert [r["id"] for r in t.read(spark).collect()] == [2]


def test_remove_orphans_only_touches_unreferenced(spark, tmp_path):
    import os

    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "orph"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    orphan = os.path.join(str(tmp_path / "orph"), "data", "deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-crashed.parquet"), "w").close()
    # default age guard: a FRESH unreferenced dir is an in-flight append's
    # data, not a crash leftover — it must survive
    assert t.remove_orphans() == []
    _age(orphan)
    removed = t.remove_orphans()
    assert [os.path.basename(d) for d in removed] == ["deadbeef"]
    assert [r["id"] for r in t.read(spark).collect()] == [1]


def test_tmp_manifest_crash_leftover_is_invisible_and_cleaned(spark, tmp_path):
    """A crash mid-manifest-write leaves .tmp-*.json; it must never be
    read as a snapshot, and stale ones are swept by remove_orphans."""
    import os

    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    root = str(tmp_path / "tmpman")
    t = IcebergLiteTable(root)
    t.append(spark.createDataFrame([(1,)], "id long"))
    broken = os.path.join(root, "manifests", ".tmp-deadbeef.json")
    with open(broken, "w") as f:
        f.write('{"snapshot_id": "dead', )  # truncated json
    assert len(t.snapshots()) == 1          # tmp never parsed
    t.expire_snapshots(keep_last=1)         # maintenance unaffected
    _age(broken)
    t.remove_orphans()
    assert not os.path.exists(broken)
    assert [r["id"] for r in t.read(spark).collect()] == [1]


def test_partition_pruning_survives_hive_escaping(spark, tmp_path):
    """Partition values with escapable chars ('a b' -> 'a%20b' on disk)
    must still match a partition filter on the RAW value — a false prune
    silently returns zero rows for data that exists."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "esc"))
    df = spark.createDataFrame([(1, "a b"), (2, "plain")], "id long, cat string")
    t.append(df, partition_by="cat")
    got = t.read(spark).where("cat = 'a b'")
    assert [r["id"] for r in got.collect()] == [1]


def test_append_stats_come_from_footers_not_a_second_scan(spark, tmp_path, monkeypatch):
    """Entry min/max stats must be read from parquet footers (pyarrow
    metadata), never via a second spark.read scan of the data just written
    — at ingest scale that re-read doubles the write path's read volume."""
    from pyspark.sql import SparkSession

    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    df = _docs_df(spark, 0, 80)

    def _no_read(self):
        raise AssertionError("stats collection must not use spark.read")

    # DataFrameWriter does not go through SparkSession.read, so the append's
    # WRITE still works; any stats re-scan would trip the guard.
    monkeypatch.setattr(SparkSession, "read", property(_no_read))
    t.append(df, partition_by="lang", stats_cols=("doc_id",))
    monkeypatch.undo()

    entries = t.entries()
    assert len(entries) == 3
    for e in entries:
        lo, hi = e["stats"]["doc_id"]
        assert 0 <= lo <= hi <= 79
    # footer stats must be exact for ints: union over partitions covers all
    assert min(e["stats"]["doc_id"][0] for e in entries) == 0
    assert max(e["stats"]["doc_id"][1] for e in entries) == 79


def test_expire_after_compact_with_partitioned_entries(spark, tmp_path):
    """expire_snapshots after compact() must reclaim the pre-compaction
    partition SUBDIR entries without touching the surviving compacted
    snapshot, and reads stay byte-identical (VERDICT r2 hygiene item)."""
    import os

    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(_docs_df(spark, 0, 60), partition_by="lang", stats_cols=("doc_id",))
    t.append(_docs_df(spark, 60, 90), partition_by="lang", stats_cols=("doc_id",))
    before = sorted(r.doc_id for r in t.read(spark).select("doc_id").collect())

    t.compact(spark, target_partitions=2)
    res = t.expire_snapshots(keep_last=1)
    assert res["manifests_removed"] == 2
    assert res["dirs_removed"] >= 1

    after = sorted(r.doc_id for r in t.read(spark).select("doc_id").collect())
    assert after == before
    # the compacted snapshot keeps the layout: one entry per lang, each
    # with doc_id stats, and a lang filter still prunes partition dirs
    entries = t.entries()
    assert sorted(e["partition"]["lang"] for e in entries) == ["de", "en", "fr"]
    assert all(os.path.isdir(e["dir"]) and "doc_id" in e["stats"] for e in entries)
    en = t.read(spark).where("lang = 'en'")
    assert _partition_filters(en) == "isnotnull(lang), (lang = en)"
    assert en.count() == 30
    # rows are clustered by lang before the write: at most one file per
    # target partition plus one per lang, not one per (task, lang) pair
    files = sum(f.endswith(".parquet") for e in entries for f in os.listdir(e["dir"]))
    assert files <= 2 + 3


def test_compact_keeps_digits_only_partition_values(spark, tmp_path):
    """A schema-less read would type the partition value "0123" as the
    number 123; compact must write the partition dirs back verbatim."""
    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "0123")], "doc_id long, sid string"), partition_by="sid")
    t.append(spark.createDataFrame([(2, "ab12")], "doc_id long, sid string"), partition_by="sid")
    t.compact(spark, target_partitions=1)
    assert sorted(e["partition"]["sid"] for e in t.entries()) == ["0123", "ab12"]
    rows = t.read(spark, schema="doc_id long, sid string").collect()
    assert sorted((r.doc_id, r.sid) for r in rows) == [(1, "0123"), (2, "ab12")]


def test_merge_into_upserts_and_carries_untouched_entries_verbatim(spark, tmp_path):
    """MERGE INTO is copy-on-write at FILE granularity: a batch whose key
    range prunes to one appended segment rewrites only that segment — every
    other entry appears in the new snapshot verbatim (same dir, untouched
    mtime-free identity), and the final rows are anti-join + union."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    # two segments with DISJOINT doc_id ranges, stats recorded
    t.append(_docs_df(spark, 0, 50), stats_cols=("doc_id",))
    t.append(_docs_df(spark, 100, 150), stats_cols=("doc_id",))
    dirs_before = {e["dir"] for e in t.entries()}
    low_dirs = {e["dir"] for e in t.entries() if e["stats"]["doc_id"][1] < 100}
    assert len(dirs_before) == 2 and len(low_dirs) == 1

    # batch touches only the 100..149 segment: update 110, insert 200
    src = spark.createDataFrame(
        [(110, "updated 110", "en"), (200, "brand new", "de")],
        "doc_id long, text string, lang string",
    )
    t.merge_into(spark, src)

    entries = t.entries()
    # the low segment's entry is carried VERBATIM; the high one is gone
    assert low_dirs <= {e["dir"] for e in entries}
    assert not ({e["dir"] for e in entries if e["dir"] in dirs_before} - low_dirs)
    snap = t.current_snapshot()
    assert snap["properties"]["operation"] == "merge"
    assert snap["properties"]["entries_untouched"] == 1
    assert snap["properties"]["entries_rewritten"] == 1

    rows = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert len(rows) == 101  # 50 + 50 + 1 insert
    assert rows[110] == "updated 110"
    assert rows[200] == "brand new"
    assert rows[0] == "text 0" and rows[149] == "text 149"


def test_merge_into_empty_table_inserts(spark, tmp_path):
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    # merge on a table with no snapshot = plain insert
    t.merge_into(spark, _docs_df(spark, 0, 10))
    assert t.read(spark).count() == 10


def test_merge_into_partition_pruning_with_time_travel(spark, tmp_path):
    """Partitioned table: a merge batch confined to one lang rewrites only
    that partition's entries; time travel to the pre-merge snapshot still
    reads the original rows."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(_docs_df(spark, 0, 90), partition_by="lang",
             stats_cols=("doc_id",))
    pre_seq = t.current_snapshot()["sequence"]
    other_dirs = {e["dir"] for e in t.entries()
                  if e["partition"]["lang"] != "en"}

    src = spark.createDataFrame([(0, "rev en 0", "en")],
                                "doc_id long, text string, lang string")
    t.merge_into(spark, src)

    assert other_dirs <= {e["dir"] for e in t.entries()}
    assert t.current_snapshot()["properties"]["entries_untouched"] == 2
    now = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert now[0] == "rev en 0" and len(now) == 90
    old = {r["doc_id"]: r["text"]
           for r in read_at(spark, t, pre_seq).collect()}
    assert old[0] == "text 0"


def test_partition_evolution_across_snapshots(spark, tmp_path):
    """Iceberg partition-evolution semantics: a table appended first
    UNPARTITIONED and then partitioned-by-lang must read as the union, and
    a filter on lang reads lang as a data column of the flat snapshot and
    as a partition column of the Hive one."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    t.append(_docs_df(spark, 0, 30), stats_cols=("doc_id",))          # flat
    t.append(_docs_df(spark, 30, 90), partition_by="lang",
             stats_cols=("doc_id",))                                   # hive
    assert t.read(spark).count() == 90
    langs = sorted(str(e["partition"].get("lang")) for e in t.entries())
    assert langs == ["None", "de", "en", "fr"]
    # rows: the 10 flat en rows + the 20 partitioned en rows
    assert t.read(spark).where("lang = 'en'").count() == 10 + 20


def test_compact_by_target_file_size(spark, tmp_path):
    """Size-based compaction (Iceberg's binpack sizing): the file count
    comes from the current snapshot's on-disk bytes over target_file_mb,
    so it scales with the data instead of being a fixed constant."""
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "t"))
    for lo in range(0, 90, 30):           # 3 small-file appends
        t.append(_docs_df(spark, lo, lo + 30), stats_cols=("doc_id",))
    total = t.data_bytes()
    assert total > 0
    before = sorted(r.doc_id for r in t.read(spark).collect())

    # a target far above the table size -> exactly 1 output file dir
    t.compact(spark, target_file_mb=1024)
    assert t.current_snapshot()["properties"]["target_partitions"] == 1
    assert sorted(r.doc_id for r in t.read(spark).collect()) == before

    # a tiny 1-byte-over target computes ceil(bytes / target) files
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.compact(spark)  # neither sizing argument
