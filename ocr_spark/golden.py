"""Golden-fixture generation: the serial single-process oracle path.

Runs the SAME ``ocr_spark.core.extract.extract_record`` the distributed
pandas-UDF path runs — the reference's pattern of sharing identical core
functions across entry points (批量处理使用说明.md:196-204) — so the pytest
byte-identity gate (FIXTURES.md §2) compares two executions of one function,
serial vs Arrow-batched/distributed.
"""

from __future__ import annotations

import pandas as pd

from .core.extract import RESULT_COLUMNS, extract_record
from .core.synth import gen_pages


def golden_records(pages: list[dict]) -> list[dict]:
    return [extract_record(p["url"], p["html"], p["text"], p["lang"]) for p in pages]


def golden_frame(n: int) -> pd.DataFrame:
    recs = golden_records(gen_pages(n))
    return pd.DataFrame.from_records(recs, columns=list(RESULT_COLUMNS))
