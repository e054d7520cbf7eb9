"""Guaranteed heavy hitters over the corpus token stream.

At 100 TB the frequent-token question ("which tokens/urls/hosts exceed
phi of the corpus?") cannot be answered by `groupBy(token).count()`
alone: the shuffle carries the FULL long tail — billions of near-unique
keys that can never qualify — and the map-side hash tables grow with
partition vocabulary, not with the answer. The reference's analog is its
driver-side counter rollups (SURVEY §2.5 A8); the scale path here is the
classic two-pass summary-then-recount:

1. **Misra-Gries summary per partition** (``mg_candidates``): each input
   partition is streamed through a bounded table of ``m`` counters via
   ``mapInPandas`` — increment on hit, insert while space, otherwise
   decrement ALL counters by one (evicting zeros). Memory is O(m) per
   partition regardless of vocabulary, and NOTHING shuffles: each
   partition emits at most ``m`` candidate tokens.

   Guarantee (Misra & Gries 1982): any token with partition frequency
   > N_p/(m+1) survives its partition's table. By pigeonhole across
   partitions, any token with GLOBAL frequency > N/(m+1) exceeds the
   per-partition bound in at least one partition, so the union of
   summaries contains every qualifying token. The sketch can only ADD
   false candidates, never lose a true one.

2. **Exact recount of candidates only** (``heavy_hitters``): the token
   stream semi-joins the (tiny, broadcast) candidate set and is counted
   exactly; the filter ``freq * (m+1) > n_total`` (pure integer
   arithmetic — SQL-portable, no FP threshold) removes the false
   candidates. The recount shuffle carries ONLY candidate-matched rows,
   map-side combined to <= m rows per partition — the answer's size, not
   the corpus's.

By the guarantee, the output EQUALS the exact SQL answer
(``GROUP BY token HAVING count(*)*(m+1) > total``) — which is exactly
what the DuckDB twin checks: an end-to-end proof that the sketch layer
loses nothing.

Python appears only in the bounded-memory summary pass (genuinely not
expressible relationally: the decrement step is stream-order stateful);
it is Arrow-batched and emits <= m rows per partition. The recount pass
is pure JVM.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import canonical_words

# Misra-Gries counter budget — part of the answer's identity (threshold =
# n_total/(HH_M+1)), shared with the DuckDB twin; read at call time
HH_M = 32


def mg_candidates(tokens_df: DataFrame) -> DataFrame:
    """Per-partition Misra-Gries summaries over a column of token arrays:
    one bounded table of ``m = HH_M`` counters per partition, emitted as a
    distinct (token) candidate frame of <= m rows per input partition.

    The union over partitions is a SUPERSET of every token whose global
    frequency exceeds n_total/(m+1) (see module docstring)."""
    m = HH_M   # bound on the driver: the summary runs in Python workers

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for arr in pdf["toks"]:
                for tok in arr:
                    c = counters.get(tok)
                    if c is not None:
                        counters[tok] = c + 1
                    elif len(counters) < m:
                        counters[tok] = 1
                    else:
                        # decrement-all; evict zeros (amortized O(1)/token)
                        dead = [t for t, v in counters.items() if v == 1]
                        for t in counters:
                            counters[t] -= 1
                        for t in dead:
                            del counters[t]
        yield pd.DataFrame({"token": pd.Series(list(counters), dtype="str")})

    return tokens_df.select("toks").mapInPandas(
        summarize, "token string"
    ).distinct()


def heavy_hitters(df: DataFrame) -> DataFrame:
    """Every token with frequency > n_total/(HH_M+1), with its EXACT count:
    (token, freq, n_total) ordered by (freq desc, token asc).

    Two passes over the source: the bounded-memory summary (no shuffle)
    and the candidate-gated exact recount (shuffle carries only candidate
    rows). Output provably equals the exact one-pass SQL answer — the
    DuckDB twin replays ``GROUP BY token HAVING freq*(HH_M+1) > total``."""
    toks = df.select(
        canonical_words(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
    ).where(F.array_join("toks", " ") != "")
    cand = mg_candidates(toks)
    stream = toks.select(F.explode("toks").alias("token"))
    total = stream.agg(F.count("*").alias("n_total"))
    return (
        stream.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(F.col("freq") * (HH_M + 1) > F.col("n_total"))
        .select("token", "freq", "n_total")
        .orderBy(F.col("freq").desc(), "token")
    )
