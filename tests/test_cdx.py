"""CDXJ source: frame/JSON parsing edge cases and fetch-plan semantics
(the registry query pins the happy path against DuckDB; these pin the
failure modes P7 requires)."""

from ocr_spark.sources.cdx import fetch_plan, parse_cdxj

GOOD = (
    'org,example)/a 20260203040506 {"url": "https://example.org/a", '
    '"mime": "text/html", "status": "200", "digest": "sha1:AB", '
    '"length": "100", "offset": "5000", '
    '"filename": "seg/f1.warc.gz"}'
)


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_parse_good_line(spark):
    r = parse_cdxj(_lines(spark, [GOOD])).collect()[0]
    assert r.cdx_ok is True
    assert r.urlkey == "org,example)/a"
    assert r.ts == "2026-02-03 04:05:06"
    assert r.url == "https://example.org/a"
    assert r.status == 200
    assert r.warc_path == "seg/f1.warc.gz"
    assert (r.warc_offset, r.warc_length) == (5000, 100)


def test_parse_failures_never_drop(spark):
    """Frame miss, broken JSON, JSON missing filename, NULL line — all
    four come back as cdx_ok=false rows with NULL capture fields."""
    bad = [
        "corrupt line with no structure",
        "org,example)/b 20260203040506 {broken json",
        'org,example)/c 20260203040506 {"url": "https://example.org/c"}',
        None,
    ]
    got = parse_cdxj(_lines(spark, bad)).collect()
    assert len(got) == 4
    for r in got:
        assert r.cdx_ok is False
        assert r.url is None and r.warc_path is None
        assert r.warc_offset is None and r.status is None


def test_fetch_plan_batches_by_offset(spark):
    """12 records in one warc, batch_size 5 -> batches of 5/5/2 in offset
    order; a second warc and the malformed group plan independently."""
    rows = [
        (f'k{i} 20260203040506 {{"url": "u{i}", "length": "10", '
         f'"offset": "{1000 - i * 10}", "filename": "w1"}}')
        for i in range(10)
    ]
    rows += [
        ('kx 20260203040506 {"url": "ux", "length": "7", '
         '"offset": "3", "filename": "w2"}'),
        "garbage",
    ]
    plan = {
        (r.warc_path, r.batch): r
        for r in fetch_plan(parse_cdxj(_lines(spark, rows))).collect()
    }
    # FETCH_BATCH_SIZE = 4: the 10 w1 records cut into 4 + 4 + 2
    assert plan[("w1", 0)].n_records == 4
    assert plan[("w1", 1)].n_records == 4
    assert plan[("w1", 2)].n_records == 2
    # offset-ordered: batch 0 holds the four SMALLEST offsets
    assert plan[("w1", 0)].max_offset < plan[("w1", 1)].min_offset
    assert plan[("w1", 1)].max_offset < plan[("w1", 2)].min_offset
    assert plan[("w1", 0)].bytes_total == 40
    assert plan[("w2", 0)].n_records == 1
    audit = plan[(None, 0)]
    assert audit.n_records == 1 and audit.bytes_total is None
