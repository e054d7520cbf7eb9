"""spark-submit entry points (north_rule: ``spark-submit --py-files``).

Usage:
    zip -r ocr_spark.zip ocr_spark
    spark-submit --py-files ocr_spark.zip --master <cluster> \
        ocr_spark/jobs.py extract --input <pages dir> --table-root <out root> \
        [--run-id r1] [--chunks 8] [--partitions 256] [--no-resume]

    spark-submit ... ocr_spark/jobs.py synth --n 1000000 --output <dir>

    spark-submit ... ocr_spark/jobs.py validate --table-root <root>

The extract job is the full contract: resume from committed snapshots,
the "auto" partition policy (salted host shuffle only when the input
cannot fill the task slots), Arrow-batched parse, snapshot commit +
metrics rows.

The engine's worker daemon (``ocr_spark._daemon``, which skips the per-task
import-cache flush) is a static conf, so under spark-submit pass it with
``--conf spark.python.daemon.module=ocr_spark._daemon``. Spark starts the
daemon before any task puts the ``--py-files`` entries on ``sys.path``, so
``ocr_spark`` must be importable on its own there: run from a directory that
holds it, install it, or put it on
``--conf spark.executorEnv.PYTHONPATH=<dir or zip holding ocr_spark>``.
Without the key the workers run pyspark's own daemon, which is correct and
slower. On CPython >= 3.12 the saving is smaller (zip directories are
re-read lazily there).
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid


def _spark():
    """Session from spark-submit (master/resources come from the launcher);
    the engine's runtime SQL confs are applied on top."""
    from pyspark.sql import SparkSession

    from ocr_spark.session import apply_engine_conf

    return apply_engine_conf(SparkSession.builder.getOrCreate())


def cmd_extract(args: argparse.Namespace) -> int:
    from ocr_spark.pipeline import read_metrics, run_extract
    from ocr_spark.sources.pages import read_pages

    spark = _spark()
    pages = read_pages(spark, args.input)  # parquet dir OR iceberg-lite table root
    run_id = args.run_id or uuid.uuid4().hex[:8]
    res = run_extract(
        spark,
        pages,
        args.table_root,
        run_id=run_id,
        chunks=args.chunks,
        num_partitions=args.partitions,
        resume=not args.no_resume,
    )
    print(
        f"run_id={res.run_id} chunks_done={res.chunks_done} "
        f"chunks_skipped={res.chunks_skipped} docs={res.docs} "
        f"snapshots={res.snapshots}"
    )
    m = read_metrics(spark, args.table_root)
    if m is not None:
        m.groupBy("run_id").sum("docs_parsed", "parse_failures").show(truncate=False)
    return 0


def cmd_synth(args: argparse.Namespace) -> int:
    from ocr_spark.sources.pages import synth_pages

    spark = _spark()
    pages = synth_pages(spark, args.n, seed=args.seed, num_partitions=args.partitions)
    if args.iceberg:
        from ocr_spark.sources.iceberg_lite import IcebergLiteTable

        sid = IcebergLiteTable(args.output).append(pages, properties={"n": args.n})
        print(f"wrote {args.n} pages to iceberg-lite table {args.output} "
              f"(snapshot {sid})")
    else:
        pages.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.n} pages to {args.output}")
    return 0


def cmd_validate(args: argparse.Namespace) -> int:
    from ocr_spark.operators.validate import validate_extracted
    from ocr_spark.pipeline import read_extracted

    spark = _spark()
    ext = read_extracted(spark, args.table_root)
    if ext is None:
        print("no committed snapshots", file=sys.stderr)
        return 1
    v = validate_extracted(ext)
    v.groupBy("status").count().show()
    bad = v.where(v.status == "error").count()
    return 0 if bad == 0 else 2


def cmd_signals(args: argparse.Namespace) -> int:
    """Compute the fused per-document signal table over the committed
    extracted output and commit it beside it — the ship-signals-filter-
    later curation layout (one scan; see operators/signals.py)."""
    from ocr_spark.operators.signals import quality_signals
    from ocr_spark.pipeline import read_extracted
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    spark = _spark()
    ext = read_extracted(spark, args.table_root)
    if ext is None:
        print("no committed snapshots", file=sys.stderr)
        return 1
    t = IcebergLiteTable(f"{args.table_root}/signals")
    # resume-aware like cmd_extract: append only docs not yet signalled, so
    # re-running the job is a no-op instead of duplicating every row in the
    # latest snapshot (a snapshot append = parent entries + new entries)
    if t.exists():
        done = t.read(spark).select("url")
        ext = ext.join(done, "url", "left_anti")
    sig = quality_signals(ext, id_col="url").persist()
    n_new = sig.count()
    if n_new == 0:
        sig.unpersist()
        out = t.read(spark)
        print(f"signals up to date ({out.count()} rows, "
              f"{len(out.columns)} columns)")
        return 0
    sid = t.append(sig, properties={"rows": n_new})
    sig.unpersist()
    out = t.read(spark)
    print(f"signals snapshot {sid} (+{n_new} rows, {out.count()} total, "
          f"{len(out.columns)} columns)")
    return 0


def cmd_dedup(args: argparse.Namespace) -> int:
    """Corpus-hygiene pass over the committed extracted output: quality
    filter -> exact dedup -> near-dup clustering (operators/corpus.py,
    keyed by url), dispositions committed to ``{table_root}/dedup``.
    Overwrite semantics make a re-run idempotent (the decision set is a
    pure function of the corpus snapshot — the cmd_signals lesson);
    ``--apply`` additionally commits the surviving documents to
    ``{table_root}/clean``."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus import clean_corpus
    from ocr_spark.pipeline import read_extracted
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    spark = _spark()
    ext = read_extracted(spark, args.table_root)
    if ext is None:
        print("no committed snapshots", file=sys.stderr)
        return 1
    # the connected-components stage needs numeric ids: key the pass by a
    # stable url hash (collision odds ~2^-64 per pair — the dedup keeper
    # pick is already an arbitrary-but-deterministic representative).
    # A recrawl/append can leave multiple committed rows per url; collapse
    # to one row per url FIRST (max_by on the text hash — deterministic,
    # order-independent) so _did is genuinely unique: duplicate _did rows
    # would fan out the disposition join and --apply would keep every
    # duplicate of a kept url.
    keyed = (
        ext.select(F.xxhash64("url").alias("_did"), "url", "text")
        .groupBy("_did", "url")
        .agg(F.max_by("text", F.xxhash64("text")).alias("text"))
    )
    disp = (
        clean_corpus(
            keyed, id_col="_did", minhash_threshold=args.threshold,
        )
        .join(keyed.select("_did", "url"), "_did")
        .select("url", "stage")
        .persist()
    )
    counts = {r["stage"]: r["n"] for r in disp.groupBy("stage")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    t = IcebergLiteTable(f"{args.table_root}/dedup")
    sid = t.overwrite(disp, properties={"stages": str(sorted(counts.items()))})
    line = " ".join(f"{k}={counts.get(k, 0)}"
                    for k in ("kept", "quality", "exact_dup", "near_dup"))
    print(f"dedup snapshot {sid}: {line}")
    if args.apply:
        # join from the url-deduped frame, not raw ext: the clean table
        # must hold exactly one row per kept url even after a recrawl
        rest = [c for c in ext.columns if c != "url"]
        kept = (
            ext.join(
                disp.where(F.col("stage") == "kept").select("url"),
                "url", "left_semi",
            )
            # one struct max_by so every column comes from the SAME row
            .groupBy("url")
            .agg(F.max_by(F.struct(*rest), F.xxhash64("text")).alias("_row"))
            .select("url", *[F.col(f"_row.{c}").alias(c) for c in rest])
        )
        csid = IcebergLiteTable(f"{args.table_root}/clean").overwrite(
            kept, properties={"rows": counts.get("kept", 0)}
        )
        print(f"clean snapshot {csid}: {counts.get('kept', 0)} docs")
    disp.unpersist()
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    """Corpus statistics over the committed extracted output, computed
    with the bounded-state sketches (operators/sketches.py): per-status
    doc counts, HLL distinct-host estimate, and DDSketch length
    quantiles per extract_status — the numbers an operator wants before
    launching anything expensive, at sketch cost (no distinct shuffle,
    no global sort) no matter the corpus size."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.sketches import dd_sketch_quantiles, hll_distinct
    from ocr_spark.pipeline import read_extracted

    spark = _spark()
    ext = read_extracted(spark, args.table_root)
    if ext is None:
        print("no committed snapshots", file=sys.stderr)
        return 1
    counts = {
        r["extract_status"]: r["n"]
        for r in ext.groupBy("extract_status")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    host = F.parse_url("url", F.lit("HOST"))
    hosts = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct(
            ext.select(F.lit("all").alias("g"), host.alias("h")), "g", "h"
        ).collect()
    }
    lens = ext.select(
        "extract_status", F.length(F.coalesce("text", F.lit(""))).alias("n_chars")
    )
    qs = sorted(
        dd_sketch_quantiles(lens, "extract_status").collect(),
        key=lambda r: (r["grp"], r["q"]),
    )
    print(f"docs={sum(counts.values())} statuses={sorted(counts.items())}")
    print(f"distinct_hosts~={hosts.get('all', 0)}")
    for r in qs:
        print(f"len[{r['grp']}] q{int(r['q'] * 100)} ~= {r['est_value']:.0f}")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    spark = _spark()
    t = IcebergLiteTable(f"{args.table_root}/{args.table}")
    if not t.exists():
        print("no committed snapshots", file=sys.stderr)
        return 1
    if args.target_file_mb:
        sid = t.compact(spark, target_file_mb=args.target_file_mb)
    else:
        sid = t.compact(spark, target_partitions=args.target_partitions)
    entries = t.entries()
    files = sum(f.endswith(".parquet") for e in entries for f in os.listdir(e["dir"]))
    print(f"compacted into snapshot {sid} ({files} files in {len(entries)} entries)")
    return 0


def cmd_zorder(args: argparse.Namespace) -> int:
    """Rewrite a committed table z-order-clustered on the given columns
    (plans/zorder.py): one clustered rewrite buys manifest range pruning
    on EVERY listed column for all later scans. Prints the before/after
    pruning ratio for a probe range on each column so the payoff is
    visible at commit time."""
    from ocr_spark.plans.zorder import pruning_ratio, write_zordered, zorder_key
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    spark = _spark()
    src = IcebergLiteTable(f"{args.table_root}/{args.table}")
    if not src.exists():
        print("no committed snapshots", file=sys.stderr)
        return 1
    df = src.read(spark)
    cols = args.by.split(",")
    # sanity: zorder_key validates the columns exist before any write
    zorder_key(df.limit(1), cols)
    out_root = f"{args.table_root}/{args.table}_zorder"
    t = write_zordered(df, out_root, cols, n_buckets=args.buckets)
    stats = {e["dir"]: e.get("stats", {}) for e in t.entries()}
    print(f"z-ordered {df.count()} rows into {len(stats)} entries at {out_root}")
    for c in cols:
        los = [s[c][0] for s in stats.values() if c in s]
        his = [s[c][1] for s in stats.values() if c in s]
        if not los:
            continue
        lo, hi = min(los), max(his)
        probe_hi = lo + (hi - lo) // 10 if isinstance(lo, int) else hi
        r = pruning_ratio(t, c, lo, probe_hi)
        print(f"prune[{c}] bottom-decile probe keeps {r:.2f} of entries")
    return 0


def cmd_expire(args: argparse.Namespace) -> int:
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(f"{args.table_root}/{args.table}")
    if not t.exists():
        print("no committed snapshots", file=sys.stderr)
        return 1
    res = t.expire_snapshots(keep_last=args.keep_last)
    orphans = t.remove_orphans()
    print(
        f"expired {res['manifests_removed']} snapshots, "
        f"reclaimed {res['dirs_removed']} data dirs, "
        f"removed {len(orphans)} orphan dirs"
    )
    return 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="ocr_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="resumable extraction batch")
    ex.add_argument("--input", required=True)
    ex.add_argument("--table-root", required=True)
    ex.add_argument("--run-id")
    ex.add_argument("--chunks", type=int, default=4)
    ex.add_argument("--partitions", type=int, default=None)
    ex.add_argument("--no-resume", action="store_true")
    ex.set_defaults(fn=cmd_extract)

    sy = sub.add_parser("synth", help="write a deterministic pages table")
    sy.add_argument("--n", type=int, required=True)
    sy.add_argument("--output", required=True)
    sy.add_argument("--seed", type=int, default=42)
    sy.add_argument("--partitions", type=int, default=None)
    sy.add_argument("--iceberg", action="store_true",
                    help="commit to an iceberg-lite table instead of a parquet dir")
    sy.set_defaults(fn=cmd_synth)

    va = sub.add_parser("validate", help="QA expectations over committed output")
    va.add_argument("--table-root", required=True)
    va.set_defaults(fn=cmd_validate)

    si = sub.add_parser(
        "signals", help="fused per-document signal table over committed output"
    )
    si.add_argument("--table-root", required=True)
    si.set_defaults(fn=cmd_signals)

    de = sub.add_parser(
        "dedup", help="corpus hygiene (quality -> exact -> near-dup) dispositions"
    )
    de.add_argument("--table-root", required=True)
    de.add_argument("--threshold", type=float, default=0.5,
                    help="minhash jaccard threshold for the near-dup stage")
    de.add_argument("--apply", action="store_true",
                    help="also commit surviving docs to {table_root}/clean")
    de.set_defaults(fn=cmd_dedup)

    st = sub.add_parser(
        "stats", help="sketch-based corpus statistics over committed output"
    )
    st.add_argument("--table-root", required=True)
    st.set_defaults(fn=cmd_stats)

    co = sub.add_parser("compact", help="rewrite a table's data files (snapshot commit)")
    co.add_argument("--table-root", required=True)
    co.add_argument("--table", default="extracted")
    co.add_argument("--target-partitions", type=int, default=64)
    co.add_argument("--target-file-mb", type=int, default=None,
                    help="size files by bytes (Iceberg binpack sizing) "
                         "instead of a fixed count")
    co.set_defaults(fn=cmd_compact)

    zo = sub.add_parser(
        "zorder", help="rewrite a table z-order-clustered for multi-column pruning"
    )
    zo.add_argument("--table-root", required=True)
    zo.add_argument("--table", default="extracted")
    zo.add_argument("--by", required=True,
                    help="comma-separated columns to cluster on")
    zo.add_argument("--buckets", type=int, default=16)
    zo.set_defaults(fn=cmd_zorder)

    exp = sub.add_parser(
        "expire", help="expire old snapshots and remove orphan data dirs"
    )
    exp.add_argument("--table-root", required=True)
    exp.add_argument("--table", default="extracted")
    exp.add_argument("--keep-last", type=int, default=3)
    exp.set_defaults(fn=cmd_expire)

    args = p.parse_args(argv)
    # absolute import: spark-submit runs this file as a top-level script
    from ocr_spark.core.rules import assert_rules_sane

    assert_rules_sane()  # P5: rule-table sanity gates every CLI job at load
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
