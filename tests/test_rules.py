"""Load-time rule-table sanity layer (P5): the current tables pass, and
each invariant family actually trips on a representative bad table."""

import pytest

from ocr_spark.core import htmlparse as H
from ocr_spark.core.rules import RuleSanityError, assert_rules_sane


def test_current_tables_are_sane():
    assert_rules_sane()


def _with(monkeypatch, name, value):
    monkeypatch.setattr(H, name, value)


def test_uppercase_vocab_entry_trips(monkeypatch):
    _with(monkeypatch, "VOID_TAGS", H.VOID_TAGS | {"BR"})
    with pytest.raises(RuleSanityError, match="never match"):
        assert_rules_sane()


def test_empty_vocab_trips(monkeypatch):
    _with(monkeypatch, "HEADING_TAGS", frozenset())
    with pytest.raises(RuleSanityError, match="empty"):
        assert_rules_sane()


def test_skip_block_overlap_trips(monkeypatch):
    _with(monkeypatch, "SKIP_TAGS", H.SKIP_TAGS | {"p"})
    with pytest.raises(RuleSanityError, match="both open a text block"):
        assert_rules_sane()


def test_heading_outside_blocks_trips(monkeypatch):
    _with(monkeypatch, "HEADING_TAGS", H.HEADING_TAGS | {"h7"})
    with pytest.raises(RuleSanityError, match="block boundaries"):
        assert_rules_sane()


def test_inverted_lenient_ladder_trips(monkeypatch):
    _with(monkeypatch, "LENIENT_MIN_BLOCK_CHARS", H.MIN_BLOCK_CHARS + 10)
    with pytest.raises(RuleSanityError, match="relax the strict floor"):
        assert_rules_sane()


def test_lenient_link_ceiling_must_relax(monkeypatch):
    _with(monkeypatch, "LENIENT_MAX_LINK_DENSITY", H.MAX_LINK_DENSITY / 2)
    with pytest.raises(RuleSanityError, match="relax the strict ceiling"):
        assert_rules_sane()


def test_substring_blocklist_trips(monkeypatch):
    import re

    _with(monkeypatch, "_BLOCKLIST_RE", re.compile("nav|meta", re.IGNORECASE))
    with pytest.raises(RuleSanityError, match="whole tokens"):
        assert_rules_sane()


def test_pipeline_entry_calls_the_layer(monkeypatch, spark, tmp_path):
    """run_extract must refuse to start when a rule table is broken."""
    from ocr_spark.pipeline import run_extract
    from ocr_spark.sources.pages import synth_pages

    _with(monkeypatch, "HEADING_TAGS", frozenset())
    with pytest.raises(RuleSanityError):
        run_extract(spark, synth_pages(spark, 10), str(tmp_path / "t"), "run1", chunks=4)
