"""Iceberg-lite: snapshot-committed parquet tables with atomic manifests.

The sandbox has no Iceberg jars, so this implements the minimal subset the
contract needs — snapshot commits, append-only manifests, read-of-committed-
only, resume, and MANIFEST-LEVEL PRUNING — as parquet data files + JSON
manifests with rename-based atomic publication. The API is table-shaped so
real Iceberg (``writeTo()``/``system.snapshots``) is a drop-in at deploy time.

This is the graft analog of the reference's idempotent segment lifecycle:
clear-then-reprocess per segment, artifacts landing atomically next to the
input, a failed segment leaving others unaffected
(batch_folder_process.py:819-822,853-876; SURVEY §3.2), plus its
directory-structure work pruning (batch_folder_process.py:763-787,
one_key_process.py:705-722) transposed to manifest metadata: each manifest
entry records the data dir's partition values and per-column min/max stats.
A predicate on the partition column prunes in Spark itself (``read`` keeps
the snapshot basePath, so ``read(spark).where(...)`` plans
``PartitionFilters``), and ``select_entries(ranges)`` drops entries whose
stats cannot overlap a range without opening a single footer — at crawl
scale the single biggest scan lever.

Layout:
    <root>/data/<snapshot_id>/[<col>=<val>/]part-*.parquet  -- written FIRST
    <root>/manifests/<seq:012d>-<snapshot_id>.json  -- renamed-in LAST (commit)

A snapshot's manifest records its own entries plus its parent chain; readers
list manifests, take the max sequence number, and read the union of entries
reachable from it. A crash between data write and manifest rename leaves an
orphan data dir that no reader ever sees — no partial visibility (tested by
crash injection in tests/test_resume.py).

Concurrency: ONE writer per table (the batch driver), like the reference's
sequential outer segment loop; nothing enforces it. A commit reads its
parent after writing its data and publishes sequence parent + 1, so two
writers whose commits read the same parent both publish the SAME sequence.
Readers take the manifest whose file name sorts last, i.e. the one with
the larger random snapshot id: the other writer's rows drop out of the
current state and of every later snapshot without an error. Its manifest
stays on disk until ``expire_snapshots`` drops it and deletes the data
it alone referenced. Overlapping ``jobs.py`` runs (extract, compact,
expire) on one table are therefore unsafe. ROADMAP direction 4
replaces the rename with an exclusive claim of the sequence slot.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import EXTRACTED_SCHEMA


MERGE_KEY = "doc_id"  # merge_into's row key
MERGE_PARTITION = "lang"  # merge_into's partition column
ORPHAN_AGE_S = 3600.0  # remove_orphans' in-flight guard


def _json_safe(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


class IcebergLiteTable:
    def __init__(self, root: str):
        self.root = root
        self._manifest_dir = os.path.join(root, "manifests")
        self._data_dir = os.path.join(root, "data")

    # -- internals -----------------------------------------------------------
    def _manifests(self) -> list[str]:
        if not os.path.isdir(self._manifest_dir):
            return []
        # exclude '.tmp-*.json': a crash between write and rename leaves a
        # possibly-truncated tmp manifest that must never be read as a
        # snapshot (json.load would poison every maintenance op)
        return sorted(
            f
            for f in os.listdir(self._manifest_dir)
            if f.endswith(".json") and not f.startswith(".")
        )

    def _load(self, name: str) -> dict:
        with open(os.path.join(self._manifest_dir, name)) as f:
            return json.load(f)

    @staticmethod
    def _footer_stats(data_dir: str,
                      stats_cols: tuple[str, ...]) -> dict[str, list]:
        """Per-column [min, max] for a freshly-written data dir, read from
        the parquet FOOTERS (pyarrow metadata) — no Spark job, no second
        scan of the data pages. This is how real Iceberg collects entry
        stats; at ingest scale the old ``spark.read.parquet(...).agg(...)``
        pass doubled the write path's read volume.

        Parquet string/binary stats may be footer-truncated (parquet-mr
        truncates long values, keeping min a valid lower bound and max a
        valid upper bound), so the recorded range is conservative — exactly
        what ``select_entries`` range pruning requires.
        """
        import pyarrow.parquet as pq

        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for root, _, files in os.walk(data_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, fn)).metadata
                idx = {
                    md.schema.column(i).path: i
                    for i in range(md.num_columns)
                }
                for c in stats_cols:
                    i = idx.get(c)
                    if i is None:
                        continue
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(i).statistics
                        if st is None or not st.has_min_max:
                            continue
                        if c not in mins or st.min < mins[c]:
                            mins[c] = st.min
                        if c not in maxs or st.max > maxs[c]:
                            maxs[c] = st.max
        return {
            c: [_json_safe(mins[c]), _json_safe(maxs[c])]
            for c in stats_cols
            if c in mins and c in maxs
        }

    def _collect_entries(self, out_dir: str, partition_by: str | None,
                         stats_cols: tuple[str, ...]) -> list[dict]:
        """Metadata for a freshly-written data dir: one entry per partition
        subdir (Hive layout) or one for the whole dir, with min/max stats
        per requested column, read from parquet footers (``_footer_stats``).
        """
        subdirs = sorted(
            d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d)) and "=" in d
        ) if partition_by else [""]
        return [
            {
                "dir": os.path.join(out_dir, d) if d else out_dir,
                "base": out_dir,
                "partition": dict([d.split("=", 1)]) if d else {},
                "stats": (self._footer_stats(os.path.join(out_dir, d), stats_cols)
                          if stats_cols else {}),
            }
            for d in subdirs
        ]

    def _commit(self, df: DataFrame, keep: list[dict], properties: dict | None,
                partition_by: str | None, stats_cols: tuple[str, ...]) -> str:
        """Write ``df`` as parquet into a fresh data dir, then atomically
        publish a snapshot whose manifest holds ``keep`` plus the new
        entries. Returns its snapshot_id."""
        snapshot_id = uuid.uuid4().hex[:16]
        out_dir = os.path.join(self._data_dir, snapshot_id)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(out_dir)
        entries = keep + self._collect_entries(out_dir, partition_by, tuple(stats_cols))
        parent = self.current_snapshot()
        seq = (parent["sequence"] + 1) if parent else 0
        manifest = {
            "snapshot_id": snapshot_id,
            "sequence": seq,
            "parent_id": parent["snapshot_id"] if parent else None,
            "entries": entries,
            "properties": properties or {},
        }
        os.makedirs(self._manifest_dir, exist_ok=True)
        tmp = os.path.join(self._manifest_dir, f".tmp-{snapshot_id}.json")
        final = os.path.join(self._manifest_dir, f"{seq:012d}-{snapshot_id}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)  # the commit point (atomic on POSIX)
        return snapshot_id

    # -- public API (Iceberg-shaped) ------------------------------------------
    def current_snapshot(self) -> dict | None:
        ms = self._manifests()
        return self._load(ms[-1]) if ms else None

    def snapshots(self) -> list[dict]:
        return [self._load(m) for m in self._manifests()]

    def snapshot(self, snapshot_id: str) -> dict | None:
        """Snapshot ``snapshot_id`` (one manifest read); None if it was
        never committed or has been expired."""
        name = next((m for m in self._manifests()
                     if m.endswith(f"-{snapshot_id}.json")), None)
        return self._load(name) if name else None

    def exists(self) -> bool:
        return bool(self._manifests())

    def entries(self) -> list[dict]:
        snap = self.current_snapshot()
        return snap["entries"] if snap else []

    def append(self, df: DataFrame, properties: dict | None = None,
               partition_by: str | None = None,
               stats_cols: tuple[str, ...] = ()) -> str:
        """Write df as parquet, then atomically publish a new snapshot whose
        manifest = parent entries + the new entries. ``partition_by`` writes
        Hive-layout subdirs recorded as separate prunable entries;
        ``stats_cols`` records per-entry min/max for those columns.
        Returns snapshot_id."""
        return self._commit(df, self.entries(), properties, partition_by, stats_cols)

    def overwrite(self, df: DataFrame, properties: dict | None = None,
                  partition_by: str | None = None,
                  stats_cols: tuple[str, ...] = ()) -> str:
        """New snapshot that replaces all prior data (logical truncate+append)."""
        return self._commit(df, [], properties, partition_by, stats_cols)

    def select_entries(self, ranges: dict | None) -> list[dict]:
        """Manifest entries that MAY hold rows inside ``ranges`` —
        conservative pruning: an entry is dropped only when its recorded
        stats prove it cannot match (missing stats keep it).

        ranges: {col: (lo, hi)} inclusive — drop entries whose recorded
          [min, max] for col does not overlap [lo, hi].
        """
        keep = []
        for e in self.entries():
            ok = True
            for col, (lo, hi) in (ranges or {}).items():
                st = e.get("stats", {}).get(col)
                if st and st[0] is not None and st[1] is not None:
                    if st[1] < lo or st[0] > hi:
                        ok = False
                        break
            if ok:
                keep.append(e)
        return keep

    def read(self, spark: SparkSession, schema: str | None = None) -> DataFrame | None:
        """DataFrame over the committed data; None if no snapshot exists, an
        EMPTY frame (schema required) if the snapshot holds no data files.
        Hive-partitioned entries read with their snapshot basePath so the
        partition column is restored and a filter on it prunes partition
        dirs in the scan; dirs group by base to keep one scan per
        snapshot."""
        if not self.exists():
            return None
        entries = self.entries()
        if not entries:
            if schema is None:
                raise ValueError(
                    "the snapshot holds no data; pass a schema to get an empty frame"
                )
            return spark.createDataFrame([], schema)
        return self._read_entries(spark, entries, schema)

    @staticmethod
    def _read_entries(spark: SparkSession, entries: list[dict],
                      schema: str | None) -> DataFrame:
        by_base: dict[str, list[str]] = {}
        for e in entries:
            by_base.setdefault(e["base"], []).append(e["dir"])
        parts = []
        for base, dirs in sorted(by_base.items()):
            reader = spark.read.option("basePath", base)
            if schema:
                reader = reader.schema(schema)
            parts.append(reader.parquet(*sorted(dirs)))
        df = parts[0]
        for p in parts[1:]:
            # schema evolution (Iceberg add/drop-column semantics): snapshots
            # written with different schemas union on the column-name union,
            # absent columns reading as NULL — old rows get NULL for columns
            # added later, and a column dropped from new snapshots survives
            # for old rows. Column order follows the oldest snapshot, new
            # columns appended (deterministic: bases sort by snapshot dir).
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    def read_added(self, spark: SparkSession, snapshot_id: str) -> DataFrame | None:
        """DataFrame over only the data files that snapshot ``snapshot_id``
        itself wrote (not its parent chain); None if it wrote none. Read
        with the pipeline's ``EXTRACTED_SCHEMA``: its one caller reads the
        extracted table, and a schema-less read would run one more Spark
        job per snapshot to infer the schema."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise ValueError(f"no snapshot {snapshot_id!r}")
        entries = self.added_entries(snap)
        return self._read_entries(spark, entries, EXTRACTED_SCHEMA) if entries else None

    @staticmethod
    def added_entries(snap: dict) -> list[dict]:
        """The entries snapshot ``snap`` itself wrote: its data lives under
        data/<snapshot_id>/, while its manifest also records the entries
        it carries from its parent chain."""
        sid = snap["snapshot_id"]
        return [e for e in snap["entries"]
                if os.path.basename(e["base"].rstrip(os.sep)) == sid]

    def data_bytes(self) -> int:
        """Total on-disk bytes of the current snapshot's data files —
        directory metadata only, no Spark job, no footer parse."""
        total = 0
        for e in self.entries():
            for root, _, files in os.walk(e["dir"]):
                for fn in files:
                    if not fn.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, fn))
        return total

    def compact(self, spark: SparkSession, target_partitions: int | None = None,
                target_file_mb: int | None = None) -> str | None:
        """Rewrite the table's current contents into one fresh data dir
        (Iceberg's rewrite_data_files). At crawl scale, chunked appends
        accumulate small files whose per-file open + footer cost comes to
        dominate scans; compaction restores scan-sized files.

        Sizing: pass ``target_partitions`` for an explicit file count, or
        ``target_file_mb`` to size by bytes the way real Iceberg does —
        the file count is computed from the CURRENT snapshot's on-disk
        bytes (directory metadata, no extra scan), so a table that grew
        10x compacts into 10x more files, not 10x bigger ones. The rewrite
        keeps the newest entry's layout: its partition column and its stats
        columns, so partition filters and ``select_entries`` still prune
        after it. A partitioned rewrite range-partitions the rows by those
        columns first, so a task's rows span few partition values: at most
        ``target_partitions`` plus one file per value, none far below the
        target size, with tight stats. Readers are never
        disturbed: the rewrite is just another snapshot commit, and
        time-travel reads of pre-compaction sequences still see the old
        dirs (nothing is deleted)."""
        if target_partitions is None:
            if target_file_mb is None:
                raise ValueError("pass target_partitions or target_file_mb")
            target_partitions = max(
                1, -(-self.data_bytes() // (target_file_mb << 20))
            )
        df = self.read(spark)
        if df is None:
            return None
        newest = self.entries()[-1]
        part, stats = next(iter(newest["partition"]), None), tuple(newest["stats"])
        if part:
            # read the partition dirs back verbatim: the schema-less read
            # types a digits-only value such as "0123" as the number 123
            df = self._read_entries(spark, self.entries(), T.StructType([
                T.StructField(part, T.StringType()) if f.name == part else f
                for f in df.schema]))
            df = df.repartitionByRange(target_partitions, part, *stats)
        else:
            df = df.coalesce(target_partitions)
        return self.overwrite(
            df, properties={"operation": "compact", "target_partitions": target_partitions},
            partition_by=part, stats_cols=stats,
        )

    def merge_into(self, spark: SparkSession, source: DataFrame) -> str:
        """Iceberg-style MERGE INTO with copy-on-write at FILE granularity,
        keyed on ``MERGE_KEY``: an upsert (matched target rows replaced by
        the source row, unmatched source rows inserted). ``source`` must be
        unique on the key (MERGE's standard precondition) and carry the
        target's columns; the files it writes are partitioned by
        ``MERGE_PARTITION``.

        The scale property (Iceberg's copy-on-write MERGE): only data
        files whose recorded metadata MIGHT contain a matching key are
        rewritten. Affected entries are chosen by manifest pruning —
        min/max stats on the key (every merge records them) against the
        source's key range, plus partition values against the source's
        distinct partition values — and every other entry is carried into the new snapshot VERBATIM, untouched
        and unread. At 10^12 rows an upsert batch touching one crawl
        segment rewrites that segment's files only; the pruning is
        conservative (entries without stats are treated as affected).

        The rewrite itself is one anti-join (target-survivors) plus a
        unionByName with the source — AQE broadcasts the
        source keys when the batch is small, which is the common
        ingest-fixup shape. Commit is the same atomic manifest rename as
        append/overwrite; concurrent readers and time travel see either
        the old or the new snapshot, never a mix.
        """
        if not self.exists():
            return self.append(source, partition_by=MERGE_PARTITION,
                               stats_cols=(MERGE_KEY,))

        # -- manifest pruning: which entries MIGHT hold a matching key? ----
        ranges = None
        lo_hi = source.agg(F.min(MERGE_KEY), F.max(MERGE_KEY)).first()
        if lo_hi[0] is not None:
            ranges = {MERGE_KEY: (lo_hi[0], lo_hi[1])}
        candidates = self.select_entries(ranges=ranges)
        part_col = next(iter(candidates[0]["partition"]), None) if candidates else None
        if part_col and part_col in source.columns:
            vals = {
                str(r[0])
                for r in source.select(part_col).distinct().collect()
            }
            candidates = [
                e for e in candidates
                if e["partition"].get(part_col) is None
                or str(e["partition"][part_col]) in vals
            ]
        affected_dirs = {e["dir"] for e in candidates}
        untouched = [e for e in self.entries() if e["dir"] not in affected_dirs]

        # -- rewrite only the affected files -------------------------------
        src_keys = source.select(MERGE_KEY).dropDuplicates([MERGE_KEY])
        if candidates:
            target = self._read_entries(spark, candidates, None)
            survivors = target.join(src_keys, [MERGE_KEY], "left_anti")
            result = survivors.unionByName(source.select(*survivors.columns))
        else:
            result = source
        props = {
            "operation": "merge",
            "key_cols": [MERGE_KEY],
            "entries_rewritten": len(candidates),
            "entries_untouched": len(untouched),
        }
        return self._commit(result, untouched, props, MERGE_PARTITION, (MERGE_KEY,))

    # -- maintenance (Iceberg's expire_snapshots / remove_orphan_files) -------
    def expire_snapshots(self, keep_last: int) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        dirs no surviving snapshot references (Iceberg's expire_snapshots).
        Time travel to expired sequences stops working — that is the point:
        the storage they pinned is reclaimed. Readers of surviving
        snapshots are untouched (their entries are preserved verbatim).
        Returns {"manifests_removed": n, "dirs_removed": n}."""
        import shutil

        ms = self._manifests()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        drop, keep = ms[:-keep_last], ms[-keep_last:]
        live = set()
        for name in keep:
            for e in self._load(name)["entries"]:
                live.add(os.path.realpath(e["dir"]))
        removed_dirs = 0
        for name in drop:
            for e in self._load(name)["entries"]:
                d = os.path.realpath(e["dir"])
                if d not in live and os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed_dirs += 1
                    live.add(d)  # count each dir once
            os.remove(os.path.join(self._manifest_dir, name))
        return {"manifests_removed": len(drop), "dirs_removed": removed_dirs}

    def remove_orphans(self) -> list[str]:
        """Delete data dirs referenced by NO manifest — the leftovers of a
        crash between data write and manifest rename (the crash-injection
        window tests/test_resume.py exercises). Never touches a referenced
        dir, so it is safe to run concurrently with readers.

        Only dirs whose mtime is at least ``ORPHAN_AGE_S`` old are
        deleted (real Iceberg's remove_orphan_files ``older_than`` guard)
        — an IN-FLIGHT append's data dir is also unreferenced until its
        manifest renames in, and deleting it would destroy data the
        append is about to commit. Crash leftovers are by definition old;
        a live write is by definition recent. Also removes stale
        ``.tmp-*`` manifests past the same age. Returns the removed dirs."""
        import shutil
        import time

        referenced = set()
        for snap in self.snapshots():
            for e in snap["entries"]:
                # entries may be partition subdirs: the snapshot dir is the
                # unit of write, so protect each entry's base (and itself)
                referenced.add(os.path.realpath(e["base"]))
                referenced.add(os.path.realpath(e["dir"]))
        cutoff = time.time() - ORPHAN_AGE_S
        removed = []
        if os.path.isdir(self._data_dir):
            for d in sorted(os.listdir(self._data_dir)):
                full = os.path.realpath(os.path.join(self._data_dir, d))
                if full not in referenced and os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
        if os.path.isdir(self._manifest_dir):
            for f in os.listdir(self._manifest_dir):
                full = os.path.join(self._manifest_dir, f)
                if f.startswith(".tmp-") and os.path.getmtime(full) < cutoff:
                    os.remove(full)
        return removed
