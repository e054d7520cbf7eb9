"""Host-level spam / SEO-farm detection.

Web-scale corpus curation drops whole HOSTS, not just pages: template
farms serve thousands of near-identical pages, and link farms exist to
inflate PageRank — both poison training data in bulk and both are
invisible to per-page quality gates (each individual page looks fine).
The two canonical host signals (used by the Common-Crawl-derived
curation pipelines and by classic web-spam work, Ntoulas et al. 2006):

- **intra-host duplication** — the fraction of a host's pages whose
  content fingerprint also appears on another page of the same host
  (template/doorway farms score near 1.0);
- **link-shape imbalance** — distinct hosts linked TO vs linked FROM:
  a farm fans out to many hosts while nothing links back.

Both are plain aggregates: one groupBy over (host, fingerprint), two
groupBys over the host edge list, one full-outer merge on host. At
10^12 pages the fingerprint agg shuffles (host, 16-byte fp) pairs —
never text — and everything downstream is host-grain (~10^7 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5


SPAM_MIN_PAGES = 3  # hosts with fewer pages are never condemned
SPAM_DUP_RATIO_MAX = 0.5
SPAM_LINK_RATIO_MAX = 5.0


def spam_host_signals(docs: DataFrame, host_edges: DataFrame) -> DataFrame:
    """Per-host spam profile: (host, n_pages, dup_pages, dup_ratio,
    out_hosts, in_hosts, link_ratio, spam_dup, spam_farm, is_spam).

    ``docs`` is page-grain with ``host`` and ``text`` columns; ``host_edges``
    is the host-level edge list from :func:`links.host_graph`
    (src_host, dst_host, n_links).

    - ``dup_ratio`` = (n_pages - distinct fingerprints) / n_pages; a
      host where every page is unique scores 0.0, a one-template farm
      approaches 1.0.
    - ``link_ratio`` = out_hosts / max(in_hosts, 1): fan-out with no
      reciprocation.
    - ``spam_dup`` / ``spam_farm`` flag each signal past its threshold
      (``SPAM_DUP_RATIO_MAX``, ``SPAM_LINK_RATIO_MAX``); ``is_spam`` =
      either, gated on ``SPAM_MIN_PAGES`` so a two-page host
      can never be condemned (hosts below the floor get all-false
      flags, not dropped rows). Hosts with pages but no edges (and
      vice versa) still get a row — full-outer on host, coalesced 0s."""
    fp = docs.select(F.col("host"), fingerprint_md5("text").alias("fp"))
    content = fp.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("dup_pages"),
    )
    out_side = host_edges.groupBy(F.col("src_host").alias("host")).agg(
        F.count_distinct("dst_host").alias("out_hosts")
    )
    in_side = host_edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.count_distinct("src_host").alias("in_hosts")
    )
    merged = (
        content.join(out_side, "host", "full_outer")
        .join(in_side, "host", "full_outer")
        .select(
            "host",
            F.coalesce("n_pages", F.lit(0)).alias("n_pages"),
            F.coalesce("dup_pages", F.lit(0)).alias("dup_pages"),
            F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
            F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
        )
    )
    dup_ratio = F.when(
        F.col("n_pages") > 0, F.col("dup_pages") / F.col("n_pages")
    ).otherwise(F.lit(0.0))
    link_ratio = F.col("out_hosts") / F.greatest(F.col("in_hosts"), F.lit(1))
    eligible = F.col("n_pages") >= SPAM_MIN_PAGES
    spam_dup = eligible & (dup_ratio > SPAM_DUP_RATIO_MAX)
    spam_farm = eligible & (link_ratio > SPAM_LINK_RATIO_MAX)
    return merged.select(
        "host",
        "n_pages",
        "dup_pages",
        dup_ratio.alias("dup_ratio"),
        "out_hosts",
        "in_hosts",
        link_ratio.alias("link_ratio"),
        spam_dup.alias("spam_dup"),
        spam_farm.alias("spam_farm"),
        (spam_dup | spam_farm).alias("is_spam"),
    )
