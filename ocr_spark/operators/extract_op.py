"""The distributed parse stage: Arrow-batched main-content extraction.

This is THE heavy operator — the analog of the reference's OCR phase (86% of
wall, SURVEY §4) — expressed per ``input_hint`` as vectorized pandas/Arrow
UDFs with no per-row Python on the JVM side:

- column pruning up front (only url/html/text/lang cross the Arrow boundary;
  the analog of ROI-only processing, one_key_process.py:476);
- deterministic salted repartition before the parse when the input cannot
  fill the task slots, or on request (north_rule; the analog of the serial
  split pre-stage, batch_folder_process.py:824-847, but as a cheap shuffle
  instead of a serial phase);
- one stage for every output shape: the text, markdown and span paths share
  ``_parse_stage`` (pruning, partition policy, the ``mapInPandas`` call)
  and one Arrow-batch row loop (``_record_batches``);
- ``mapInPandas`` iterator: any per-task setup happens once before the batch
  loop (the reference's engine-per-worker amortization,
  one_key_process.py:672-674) — our parser is stateless pure Python, so the
  amortized object is just the imported module;
- failures never drop rows: each document yields exactly one output row with
  ``extract_status`` (P7 contract, one_key_process.py:576-582);
- ``partition_id`` recorded per row for per-partition lineage/metrics
  (the 识别成功率/per-segment-log analog, one_key_process.py:890-894).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..core.extract import (
    MARKDOWN_COLUMNS,
    extract_markdown_record,
    extract_record,
    extract_span_rows,
    SPAN_COLUMNS,
)
from .. import session
from ..plans.partitioning import salted_repartition
from ..session import EXTRACTED_SCHEMA

INPUT_COLS = ("url", "html", "text", "lang")

RECORD_COLUMNS = (
    "url", "text", "extract_status", "content_kind", "n_blocks", "bytes_in", "bytes_out"
)

MARKDOWN_SCHEMA = (
    "url string, markdown string, extract_status string, "
    "content_kind string, n_blocks int"
)

SPANS_SCHEMA = (
    "url string, block_idx int, span_start int, span_end int, "
    "block_text string, heading boolean"
)


def _record_batches(
    batches: Iterator[pd.DataFrame],
    record_fn: Callable[..., dict | list[dict]],
    cols: tuple[str, ...],
    fan_out: bool = False,
) -> Iterator[pd.DataFrame]:
    """The row loop every parse path shares: per Arrow batch, zip the four
    input columns, map a non-str (NaN/None) ``text`` to None, call
    ``record_fn`` once per page and lay its records out column-wise.
    ``record_fn`` returns one dict per page, or with ``fan_out`` a list of
    dicts (N rows per page)."""
    for pdf in batches:
        rows: list[dict] = []
        add = rows.extend if fan_out else rows.append
        for url, html, text, lang in zip(*(pdf[c].tolist() for c in INPUT_COLS)):
            add(record_fn(url, html, text if isinstance(text, str) else None, lang))
        yield pd.DataFrame({c: [r[c] for r in rows] for c in cols}, copy=False)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Per-task prologue (E2 analog): resolve TaskContext once, reuse across
    # all Arrow batches of this task.
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for frame in _record_batches(batches, extract_record, RECORD_COLUMNS):
        frame["partition_id"] = pid
        yield frame


def _markdown_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _record_batches(batches, extract_markdown_record, MARKDOWN_COLUMNS)


def _span_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _record_batches(batches, extract_span_rows, SPAN_COLUMNS, fan_out=True)


def _bytes_conf(spark, key: str, default: int) -> int:
    """A Spark byte-size conf in bytes, parsed by the JVM's own parser
    ('134217728b', '128m', '64mb', '1g', plain int = bytes)."""
    raw = spark.conf.get(key, str(default))
    return int(spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Lower bound on the partitions Spark's file source scans ``df`` in,
    planned the way ``FilePartition`` plans them: split size
    ``min(maxPartitionBytes, max(openCostInBytes, sum(size + openCost) /
    minPartitionNum))``, files packed largest first, next fit, each
    charged ``size + openCost``. Every file counts as one piece: Spark may
    cut a file into byte ranges, but a range inside one parquet row group
    reads no rows, so only a file is sure to carry any. Returns 0 (=> caller
    shuffles) when the input is not a file scan or sizes are unreachable."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    sizes = []
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return 0  # remote store: sizes not reachable driver-side here
        try:
            sizes.append(os.path.getsize(p.path))
        except OSError:
            return 0
    spark = df.sparkSession
    max_pb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    min_parts = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    split = min(max_pb, max(open_cost, sum(s + open_cost for s in sizes) // min_parts))
    parts, filled = 0, None
    for size in sorted(sizes, reverse=True):
        if filled is None or filled + size > split:
            parts, filled = parts + 1, 0
        filled += size + open_cost
    return parts


def auto_repartition(df: DataFrame) -> bool:
    """The "auto" policy: shuffle only when the scan cannot fill the task
    slots, judged by a lower bound on the scan's partitions that follows
    Spark's own file packing (``_estimated_scan_partitions``). Raw file
    COUNT measures the wrong quantity: many tiny files pack into few scan
    partitions, and one file split into byte ranges yields partitions that
    read nothing. Metadata-only probe: paths + local sizes, no
    DataFrame->RDD conversion, no job. Non-file sources (empty inputFiles)
    or unreachable sizes shuffle — the safe default."""
    return _estimated_scan_partitions(df) < df.sparkSession.sparkContext.defaultParallelism


def _parse_stage(
    df: DataFrame,
    batch_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: str,
    num_partitions: int | None,
    repartition: bool | str,
) -> DataFrame:
    """The one parse stage behind every extraction path: prune to
    ``INPUT_COLS``, apply the ``repartition`` policy documented on
    :func:`extract_pages`, then a single ``mapInPandas(batch_fn)``."""
    pruned = df.select(*INPUT_COLS)  # column pruning BEFORE the Arrow boundary
    if num_partitions is None:
        num_partitions = session.default_partitions(df.sparkSession)
    if repartition == "auto":
        repartition = auto_repartition(df)
    if repartition:
        pruned = salted_repartition(pruned, num_partitions)
    return pruned.mapInPandas(batch_fn, schema=schema)


def extract_pages(
    df: DataFrame,
    num_partitions: int | None = None,
    repartition: bool | str = "auto",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted table.

    Returns one row per input row with schema ``EXTRACTED_SCHEMA``.

    ``repartition``: True forces the salted host-hash shuffle into
    ``num_partitions`` partitions (default ``session.default_partitions``;
    use for host-clustered crawl input — the north_rule skew case); False
    trusts the input partitioning; "auto" shuffles
    only when the input has fewer partitions than the cluster can run in
    parallel (uniform, well-split input skips a pointless shuffle of the
    full payload bytes). "auto" counts the scan partitions from the input's
    file sizes and Spark's file-packing confs, with each file as one piece.
    That is a lower bound: Spark may also cut a file into byte ranges, but
    a range inside one parquet row group reads no rows, so a one-file input
    still shuffles. A non-file input always shuffles.
    """
    return _parse_stage(df, _extract_batches, EXTRACTED_SCHEMA,
                        num_partitions, repartition)


def extract_page_markdown(df: DataFrame) -> DataFrame:
    """pages -> markdown records (MARKDOWN_SCHEMA): the structured-output
    twin of :func:`extract_pages` — identical keep/drop decisions and the
    salted shuffle of ``repartition=True``, but headings/list items/quotes
    render as markdown instead of flattening (core.markdown). One row per
    input row, P7."""
    return _parse_stage(df, _markdown_batches, MARKDOWN_SCHEMA, None, True)


def extract_page_spans(df: DataFrame) -> DataFrame:
    """pages -> per-block span rows (SPANS_SCHEMA): the span-emitting twin
    of :func:`extract_pages` (1:N rows; N = kept blocks, exactly 1 NULL-span
    row for non-HTML/failed/empty docs so no url ever disappears). The
    salted shuffle of ``repartition=True`` and the text path's Arrow batch
    shape; the output
    carries (int, int) spans + block text only, so the fan-out rows are
    narrow — at 100 TB the span table is a small fraction of the input."""
    return _parse_stage(df, _span_batches, SPANS_SCHEMA, None, True)
