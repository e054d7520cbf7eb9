"""Property tests (hypothesis): the extraction core is a TOTAL, idempotent,
deterministic function of its input — the invariants the byte-identity and
failure->empty contracts rest on (SURVEY §5 property-test plan)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.core.extract import RESULT_COLUMNS, extract_record
from ocr_spark.core.htmlparse import extract_blocks, score_blocks
from ocr_spark.core.normalize import normalize_inline, normalize_text

TEXTS = st.text(max_size=400)
PAYLOADS = st.one_of(
    st.none(),
    st.binary(max_size=400),
    TEXTS.map(lambda s: s.encode("utf-8")),
    TEXTS.map(lambda s: f"<html><body><p>{s}</p></body></html>".encode()),
    st.binary(max_size=200).map(lambda b: b"%PDF-1.4\n" + b),
)


@settings(max_examples=300, deadline=None)
@given(TEXTS)
def test_normalize_text_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once
    assert normalize_inline(normalize_inline(s)) == normalize_inline(s)


@settings(max_examples=300, deadline=None)
@given(TEXTS)
def test_normalize_output_clean(s):
    out = normalize_text(s)
    assert "\r" not in out and " " not in out and "​" not in out
    assert "\n\n\n" not in out
    assert out == out.strip()
    for line in out.split("\n"):
        assert line == line.strip(" \t")
        assert "  " not in line


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_html_extract_total_on_text(s):
    # never raises, whatever the markup soup looks like
    kept = score_blocks(extract_blocks(s))
    assert all(isinstance(b.text, str) for b in kept)


@settings(max_examples=200, deadline=None)
@given(PAYLOADS, st.one_of(st.none(), TEXTS))
def test_extract_record_total_and_deterministic(payload, fallback):
    r1 = extract_record("u", payload, fallback, "en")
    r2 = extract_record("u", payload, fallback, "en")
    assert r1 == r2                               # deterministic
    assert set(r1) == set(RESULT_COLUMNS)         # fixed schema
    assert isinstance(r1["text"], str)            # failure -> empty, never None
    if r1["extract_status"] == "ok":
        assert len(r1["text"]) > 0
    assert r1["bytes_out"] == len(r1["text"].encode("utf-8"))


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_html_output_is_normalize_canonical(s):
    """The invariant the extract fast path relies on: tokenizer output is
    already normalize_text-canonical (extract_record skips the redundant
    pass on the HTML branch)."""
    for markup in (
        f"<html><body><p>{s}</p><div>{s} tail words enough to keep</div></body></html>",
        s,
    ):
        text = "\n".join(b.text for b in score_blocks(extract_blocks(markup)))
        assert normalize_text(text) == text


WORDS = st.text(alphabet="abcdef", min_size=1, max_size=10)


@settings(max_examples=150, deadline=None)
@given(st.dictionaries(WORDS, st.integers(1, 50), min_size=1, max_size=12),
       st.integers(0, 30))
def test_bpe_fit_deterministic_and_encode_total(counts, n_merges):
    """BPE core invariants: the fit is a pure function of its input; every
    encoded word re-concatenates to itself (lossless); token count never
    exceeds word length; encoding is idempotent under re-encode."""
    from unittest import mock

    from ocr_spark.core import bpe
    from ocr_spark.core.bpe import encode_word, fit_bpe

    def fit(word_counts):
        with mock.patch.multiple(bpe, BPE_TRAIN_COUNTS=word_counts,
                                 BPE_N_MERGES=n_merges):
            return fit_bpe()

    m1 = fit(counts)
    m2 = fit(dict(reversed(list(counts.items()))))
    assert m1 == m2                       # insertion-order independent
    assert len(m1) <= n_merges
    ranks = {p: i for i, p in enumerate(m1)}
    for w in counts:
        toks = encode_word(w, ranks)
        assert "".join(toks) == w
        assert 1 <= len(toks) <= len(w)
        # re-encoding each produced token splits it no further
        for t in toks:
            assert encode_word(t, ranks) == [t]
