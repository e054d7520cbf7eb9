"""Corpus mixing: token-budget mixture selection (greedy cut, allowlist,
determinism) and domain-level quality gates (support floor, empirical-Bayes
shrinkage)."""

import pytest

from ocr_spark.operators import mixing
from ocr_spark.operators.mixing import domain_blocklist, token_budget_select


@pytest.fixture
def budgets(monkeypatch):
    """Sets ``MIX_BUDGETS`` for the test."""
    return lambda b: monkeypatch.setattr(mixing, "MIX_BUDGETS", b)


def _doc(i, lang, words, word="tok"):
    # distinct-enough words keep quality_score from degenerating
    return (i, lang, " ".join(f"{word}{i}x{j}" for j in range(words)))


def test_token_budget_greedy_cut(spark, budgets):
    # en budget 25 tokens; docs of 10 tokens each -> exactly 2 selected,
    # the 3rd crosses the budget, the 4th stays unselected too (greedy
    # running-sum semantics, not knapsack).
    rows = [_doc(i, "en", 10) for i in range(4)]
    budgets({"en": 25})
    out = token_budget_select(
        spark.createDataFrame(rows, "doc_id long, lang string, text string"),
    ).collect()
    sel = {r["doc_id"]: r for r in out}
    assert len(out) == 4
    assert sum(r["selected"] for r in out) == 2
    # ledger is auditable: cum_tokens strictly increases along the ranking
    ranked = sorted(out, key=lambda r: r["cum_tokens"])
    assert [r["cum_tokens"] for r in ranked] == [10, 20, 30, 40]
    assert all(sel[r["doc_id"]]["n_tokens"] == 10 for r in out)


def test_token_budget_lang_allowlist(spark, budgets):
    rows = [_doc(0, "en", 5), _doc(1, "zz", 5)]
    budgets({"en": 100})
    out = token_budget_select(
        spark.createDataFrame(rows, "doc_id long, lang string, text string"),
    ).collect()
    # zz has no budget -> excluded entirely, not just unselected
    assert {r["lang"] for r in out} == {"en"}


def test_token_budget_quality_ordering(spark, budgets):
    # same token count, different quality: doc 1 sits in the good length
    # band and carries stopwords (quality 1.0); doc 0 is short with none
    # (quality 0.5). The budget fits one doc -> the better one wins even
    # though doc 0 sorts first by id.
    rows = [
        (0, "en", " ".join(f"w{j}" for j in range(12))),
        (1, "en", "the quick brown foxhound vaulted over the sleepy "
                  "gardener and trotted away down the long gravel lane"),
    ]
    budgets({"en": 17})  # fits doc 1 (17 tokens) alone; doc 0 would also fit
    out = {
        r["doc_id"]: r
        for r in token_budget_select(
            spark.createDataFrame(rows, "doc_id long, lang string, text string"),
        ).collect()
    }
    assert out[1]["selected"] and not out[0]["selected"]
    assert out[1]["quality"] > out[0]["quality"]


def _host_rows():
    rows = []
    # goodhost: 6 docs, all pass quality_filter (30 distinct words)
    for i in range(6):
        rows.append((i, f"https://goodhost.com/p{i}",
                     " ".join(f"w{i}x{j}" for j in range(30))))
    # badhost: 6 docs, 5 fail (too_short), 1 passes -> kept_frac ~0.17
    for i in range(6, 11):
        rows.append((i, f"https://badhost.com/p{i}", "tiny page"))
    rows.append((11, "https://badhost.com/ok",
                 " ".join(f"v{j}" for j in range(30))))
    # smallhost: 2 docs, both fail — below the support floor, never blocked
    rows.append((12, "https://smallhost.com/a", "x"))
    rows.append((13, "https://smallhost.com/b", "y"))
    return rows


def test_domain_blocklist_support_floor(spark, monkeypatch):
    monkeypatch.setattr(mixing, "HOST_BLOCK_FRAC", 0.5)
    df = spark.createDataFrame(_host_rows(), "doc_id long, url string, text string")
    bl = {r["host"]: r for r in domain_blocklist(df).collect()}
    assert not bl["goodhost.com"]["blocked"] and bl["goodhost.com"]["kept_frac"] == 1.0
    assert bl["badhost.com"]["blocked"] and bl["badhost.com"]["n_docs"] == 6
    # two failing docs but under the 5-document floor -> spared
    assert not bl["smallhost.com"]["blocked"] and bl["smallhost.com"]["kept_frac"] == 0.0


def test_token_budget_plan_single_lang_shuffle(spark, budgets):
    # budgets broadcast; the only exchange is the lang hash partitioning
    # feeding the window — no SinglePartition anywhere.
    df = spark.createDataFrame(
        [_doc(i, "en", 8) for i in range(10)],
        "doc_id long, lang string, text string",
    )
    budgets({"en": 50})
    out = token_budget_select(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_domain_quality_eb_shrinks_small_hosts(spark, monkeypatch):
    """A 2-page all-bad host must NOT be blocked (posterior near the
    prior), while a 40-page all-bad host must be — the evidence-scaled
    behavior the support floor cannot express; a large good host stays
    unblocked with smoothed ~ own rate."""
    from ocr_spark.operators.mixing import domain_quality_eb

    good = ("this is a perfectly reasonable document with plenty of real "
            "words and normal sentences that passes the quality gate "
            "because it looks like ordinary prose text written by people. "
            ) * 3
    rows = []
    # big good host: 80 pages of prose (prior g ~ 0.66, above threshold)
    rows += [(i, f"https://good.com/p{i}", good) for i in range(80)]
    # big bad host: 40 junk pages
    rows += [(100 + i, f"https://bad.com/p{i}", "x x") for i in range(40)]
    # tiny bad host: 2 junk pages — floor-exempt in domain_blocklist,
    # prior-shrunk (not blocked) here
    rows += [(200 + i, f"https://tinybad.com/p{i}", "y y") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    monkeypatch.setattr(mixing, "HOST_BLOCK_FRAC", 0.5)
    out = {r.host: r for r in domain_quality_eb(df).collect()}
    assert not out["good.com"].blocked
    assert out["good.com"].smoothed_frac > 0.8
    assert out["bad.com"].blocked            # 40 bad pages beat the prior
    assert not out["tinybad.com"].blocked    # 2 pages shrink to the prior
    assert out["tinybad.com"].kept_frac == 0.0
    assert out["tinybad.com"].smoothed_frac > 0.4
