"""The layer metrics of the benchmark's traced run (``--trace 1``).

    python3 perfbench/layers.py        # the table as JSON

For each layer: the workloads whose traced run reports it, how it is
measured, the end-to-end metrics a change to that layer should move
(``moves``) and the workloads on which such a change predicts no end-to-end
change (``no_change_on``). A lower value is better for every layer. Units
come with each measurement; ``BENCHMARK.json``'s ``per_layer`` lists, with
name and unit, the layers both benchmark workloads report.

This module imports neither Spark nor the engine, so ``compare.py`` and
readers of the table can load it anywhere.
"""

import json

PAGES = ("extract_crawl", "pipeline_resume")
ALL = PAGES + ("dedup_corpus",)
DEDUP_QUERIES = ("exact_dedup", "simhash_pairs", "minhash_pairs", "winnow_pairs",
                 "dedup_clusters")
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes")

LAYERS: list[dict] = []


def layer(name: str, workloads, moves, no_change_on, how: str) -> None:
    LAYERS.append({"name": name, "workloads": list(workloads), "moves": list(moves),
                   "no_change_on": list(no_change_on), "how": how})


# -- every workload --
layer("session.start_s", ALL, ["setup_s"], [],
      "process start to the first finished job of the session get_spark returns")
layer("sources.scan_s", ALL, ["docs_per_s"], [],
      "the workload's input parquet read into a noop sink")
for c in COUNTERS:
    layer(f"spark.{c}", ALL, ["docs_per_s"], [],
          f"{c.replace('_', ' ')} of one pass's jobs under benchmark-set job groups, from "
          "the status tracker and status store (median over instrumented passes)")
for name, fn in (("core.extract.record_us", "extract_record"),
                 ("core.htmlparse.tokenize_us", "extract_blocks"),
                 ("core.htmlparse.score_us", "score_blocks"),
                 ("core.pdfparse.pdf_us", "extract_pdf_text")):
    layer(name, ALL, ["docs_per_s"], ["dedup_corpus"],
          f"serial per-document time of {fn} on a seed-chosen sample of generated pages")
layer("memory.jvm_peak_mb", ALL, [], [],
      "VmHWM of the Spark JVM over the timed passes (the part of peak_rss_mb that "
      "python_peak_rss_mb leaves out)")
layer("tracing.overhead_share", ALL, [], [],
      "median instrumented pass wall / median plain pass wall - 1 in the traced run; an "
      "instrumented wall includes its job groups, spans, counter and plan collection")

# -- extract_crawl: prefix decomposition of the extraction job --
layer("plans.partitioning.shuffle_s", ["extract_crawl"], ["docs_per_s"], ["dedup_corpus"],
      "salted_repartition -> noop minus the scan prefix")
layer("plans.partitioning.shuffle_bytes", ["extract_crawl"], ["docs_per_s"], ["dedup_corpus"],
      "shuffle write bytes of the extraction job")
layer("plans.partitioning.exchanges", ["extract_crawl"], ["docs_per_s"], ["dedup_corpus"],
      "exchanges in the executed plan of the extraction job")
layer("plans.partitioning.partition_skew", ["extract_crawl"], ["docs_per_s"], ["dedup_corpus"],
      "max / median output rows per partition_id of the ledger's full extraction job")
layer("operators.extract_op.arrow_s", PAGES, ["docs_per_s"], ["dedup_corpus"],
      "extract_crawl: an identity mapInPandas after the shuffle -> noop, minus the shuffle "
      "prefix; pipeline_resume: the same increment on run_extract's chunk frames, summed "
      "over the chunks")
layer("operators.extract_op.parse_s", PAGES, ["docs_per_s"], ["dedup_corpus"],
      "extract_pages -> noop minus the arrow prefix (pipeline_resume: on run_extract's "
      "chunk frames with its repartition=\"auto\", summed over the chunks)")
layer("sink.parquet_write_s", ["extract_crawl"], ["docs_per_s"], ["dedup_corpus"],
      "extract_pages -> parquet minus extract_pages -> noop")
layer("ledger.sum_s", ["extract_crawl"], ["docs_per_s"], [],
      "sum of the increments scan .. parquet write (the full job timed in the ledger), to "
      "compare with ledger.pass_s")
layer("ledger.pass_s", ["extract_crawl"], ["docs_per_s"], [],
      "median plain timed pass wall of the same run")

# -- pipeline_resume --
layer("pipeline.overhead_s", ["pipeline_resume"], ["docs_per_s"],
      ["extract_crawl", "dedup_corpus"],
      "run_extract wall minus an extract_pages -> parquet control on the same input")
layer("pipeline.resume_s", ["pipeline_resume"], ["resume_s"], ["extract_crawl", "dedup_corpus"],
      "median wall of run_extract over the fully committed table")
for op in ("run_extract", "resume"):
    for c in COUNTERS[:4]:
        layer(f"pipeline.{op}.spark_{c}", ["pipeline_resume"], ["docs_per_s", "resume_s"],
              ["extract_crawl", "dedup_corpus"],
              f"{c.replace('_', ' ')} of the {op} call under its job group")
layer("sources.iceberg_lite.commit_s", ["pipeline_resume"], ["docs_per_s"],
      ["extract_crawl", "dedup_corpus"],
      "IcebergLiteTable.append of a materialized frame minus a plain partitioned parquet "
      "write of it")
layer("sources.iceberg_lite.read_s", ["pipeline_resume"], ["resume_s"],
      ["extract_crawl", "dedup_corpus"],
      "IcebergLiteTable.read(...).select('url') -> noop over the committed table")

# -- dedup queries: dedup_corpus, and extract_crawl's traced run --
for q in DEDUP_QUERIES:
    where = ["dedup_corpus", "extract_crawl"]
    layer(f"operators.dedup.{q}_s", where, ["docs_per_s"], PAGES,
          f"median wall of {q} (query and toPandas)")
    layer(f"operators.dedup.{q}.exchanges", where, ["docs_per_s"], PAGES,
          f"exchanges in the executed plan of {q} after the action")
    layer(f"operators.dedup.{q}.shuffle_bytes", where, ["docs_per_s"], PAGES,
          f"shuffle write bytes of {q}")
    layer(f"operators.dedup.{q}.spill_bytes", where, ["docs_per_s"], PAGES,
          f"disk spill bytes of {q}")


def for_workload(workload: str) -> list[str]:
    """Names of the layers ``workload``'s traced run reports."""
    return [m["name"] for m in LAYERS if workload in m["workloads"]]


if __name__ == "__main__":
    print(json.dumps(LAYERS, indent=1))
