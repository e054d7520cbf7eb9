"""In-process CLI chain test: the spark-submit surface (jobs.py) driven
end-to-end — synth -> extract -> signals -> validate -> compact ->
expire — against one tmp table root. jobs._spark() reuses the active
test session via getOrCreate, so the chain runs exactly the shipped
code path minus the JVM launch."""

import os

import pytest

from ocr_spark import jobs


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    pages = str(base / "pages")
    table_root = str(base / "warehouse")
    assert jobs.main(["synth", "--n", "400", "--output", pages]) == 0
    return pages, table_root


def test_cli_extract_then_resume_noop(roots, capsys):
    pages, table_root = roots
    assert jobs.main([
        "extract", "--input", pages, "--table-root", table_root,
        "--run-id", "cli-r1", "--chunks", "2",
    ]) == 0
    out = capsys.readouterr().out
    assert "run_id=cli-r1" in out and "docs=400" in out
    # second run resumes: everything committed, nothing re-extracted
    assert jobs.main([
        "extract", "--input", pages, "--table-root", table_root,
        "--run-id", "cli-r2", "--chunks", "2",
    ]) == 0
    assert "docs=0" in capsys.readouterr().out


def test_cli_signals_commits_beside_output(roots, spark, capsys):
    pages, table_root = roots
    assert jobs.main(["signals", "--table-root", table_root]) == 0
    assert "signals snapshot" in capsys.readouterr().out
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    sig = IcebergLiteTable(f"{table_root}/signals").read(spark)
    assert sig.count() == 400
    assert {"url", "n_tokens", "dominant_script", "is_code"} <= set(sig.columns)
    # re-running is a no-op, not a row-duplicating re-append (resume-aware
    # like extract): the latest snapshot still carries exactly 400 rows
    assert jobs.main(["signals", "--table-root", table_root]) == 0
    assert "signals up to date" in capsys.readouterr().out
    sig2 = IcebergLiteTable(f"{table_root}/signals").read(spark)
    assert sig2.count() == 400
    assert sig2.select("url").distinct().count() == 400


def test_cli_dedup_dispositions_and_apply(roots, spark, capsys):
    pages, table_root = roots
    assert jobs.main(["dedup", "--table-root", table_root, "--apply"]) == 0
    out = capsys.readouterr().out
    assert "dedup snapshot" in out and "kept=" in out and "clean snapshot" in out
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    disp = IcebergLiteTable(f"{table_root}/dedup").read(spark)
    assert disp.count() == 400  # one disposition per committed doc
    clean = IcebergLiteTable(f"{table_root}/clean").read(spark)
    kept = disp.where("stage = 'kept'").count()
    assert clean.count() == kept > 0
    # idempotent: a re-run replaces, never duplicates
    assert jobs.main(["dedup", "--table-root", table_root]) == 0
    assert IcebergLiteTable(f"{table_root}/dedup").read(spark).count() == 400


def test_cli_stats_sketch_summary(roots, capsys):
    pages, table_root = roots
    assert jobs.main(["stats", "--table-root", table_root]) == 0
    out = capsys.readouterr().out
    assert "docs=400" in out
    assert "distinct_hosts~=" in out
    assert "q50" in out and "q99" in out


def test_cli_zorder_rewrite(roots, spark, capsys):
    pages, table_root = roots
    assert jobs.main([
        "zorder", "--table-root", table_root, "--by", "bytes_in,n_blocks",
        "--buckets", "8",
    ]) == 0
    out = capsys.readouterr().out
    assert "z-ordered 400 rows into" in out
    assert "prune[bytes_in]" in out and "prune[n_blocks]" in out
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    t = IcebergLiteTable(f"{table_root}/extracted_zorder")
    assert t.read(spark).count() == 400


def test_cli_validate_compact_expire(roots, capsys):
    pages, table_root = roots
    assert jobs.main(["validate", "--table-root", table_root]) == 0
    assert jobs.main([
        "compact", "--table-root", table_root, "--target-partitions", "2",
    ]) == 0
    out = capsys.readouterr().out
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    entries = IcebergLiteTable(f"{table_root}/extracted").entries()
    files = sum(f.endswith(".parquet") for e in entries for f in os.listdir(e["dir"]))
    assert f"({files} files in {len(entries)} entries)" in out
    assert len(entries) > 1  # one per content_kind, as run_extract wrote it
    assert jobs.main([
        "expire", "--table-root", table_root, "--keep-last", "1",
    ]) == 0
    assert "expired" in capsys.readouterr().out


def test_cli_signals_without_snapshots_fails_cleanly(tmp_path):
    assert jobs.main(["signals", "--table-root", str(tmp_path / "empty")]) == 1


def test_cli_dedup_recrawl_duplicate_urls(spark, tmp_path, capsys):
    """ADVICE r4 jobs.py item: a recrawl/append can leave multiple
    committed rows per url. cmd_dedup must collapse to one disposition
    per url (no _did fan-out) and --apply must commit exactly one row
    per kept url."""
    from pyspark.sql import functions as F

    from ocr_spark.session import EXTRACTED_SCHEMA
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    table_root = str(tmp_path / "warehouse")
    n = 60
    base = spark.range(n).select(
        F.concat(F.lit("https://ex.com/p"), F.col("id")).alias("url"),
        F.concat(
            F.lit("Document body text number "), F.col("id"),
            F.lit(" with enough distinct words to clear the quality gate "
                  "alpha beta gamma delta epsilon zeta eta theta iota"),
        ).alias("text"),
        F.lit("ok").alias("extract_status"),
        F.lit("html").alias("content_kind"),
        F.lit(3).alias("n_blocks"),
        F.lit(1000).cast("long").alias("bytes_in"),
        F.lit(500).cast("long").alias("bytes_out"),
        F.lit(0).alias("partition_id"),
    )
    t = IcebergLiteTable(f"{table_root}/extracted")
    t.append(spark.createDataFrame(base.collect(), EXTRACTED_SCHEMA))
    # recrawl: the first 20 urls come back with changed text
    recrawl = base.limit(20).withColumn(
        "text", F.concat(F.col("text"), F.lit(" recrawled tail"))
    )
    t.append(spark.createDataFrame(recrawl.collect(), EXTRACTED_SCHEMA))

    assert jobs.main(["dedup", "--table-root", table_root, "--apply"]) == 0
    capsys.readouterr()
    disp = IcebergLiteTable(f"{table_root}/dedup").read(spark)
    assert disp.count() == n  # one row per url, not per committed row
    assert disp.select("url").distinct().count() == n
    clean = IcebergLiteTable(f"{table_root}/clean").read(spark)
    assert clean.count() == clean.select("url").distinct().count()
    kept = disp.where("stage = 'kept'").count()
    assert clean.count() == kept > 0
