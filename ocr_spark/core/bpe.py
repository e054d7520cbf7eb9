"""Pure deterministic byte-pair-encoding core (NO Spark imports).

The standard BPE algorithm (Sennrich et al. 2016, arXiv:1508.07909) with
every tie broken deterministically so a fit is a pure function of its
input word counts:

- fit: at each step merge the most frequent adjacent symbol pair; ties
  resolve to the lexicographically smallest pair. Merging rewrites every
  word left-to-right non-overlapping ('aaa' + merge (a,a) -> ['aa','a']).
- encode: repeatedly merge the lowest-rank (earliest-learned) pair present
  in the word, left-to-right non-overlapping, until no learned pair
  remains — the reference greedy-apply semantics.

Shared-core discipline (the extraction contract's pattern,
SURVEY.md §5): this module is imported by BOTH the distributed encoder
(operators/tokenizer.py) and the tests' serial oracle, and its outputs
are pinned by hand-computed golden cases — so the distributed path is
checked against an independently verifiable serial reference, not
against itself.
"""

from __future__ import annotations

from collections import Counter

Pair = tuple[str, str]

# The shipped encoder's fixed training counts: fit once on a frozen sample
# (the production shape — tokenizers are fit offline on a bounded sample
# and shipped as an artifact). 24 of the corpus's 31 words with stylized
# descending counts: the 7 absent words exercise the <unk> path
# corpus-wide. Shared by the queries and their DuckDB twins so the fitted
# map cannot drift between engines.
BPE_TRAIN_COUNTS = {
    "join": 96, "hash": 94, "row": 93, "batch": 92, "scan": 91,
    "customer": 90, "column": 89, "filter": 88, "small": 87, "slow": 86,
    "merge": 85, "order": 84, "vector": 83, "line": 82, "data": 81,
    "table": 80, "agg": 79, "value": 78, "key": 77, "stream": 76,
    "window": 75, "spark": 74, "group": 73, "part": 72,
}
BPE_N_MERGES = 40


def _apply_merge(syms: list[str], pair: Pair) -> list[str]:
    """Left-to-right non-overlapping rewrite of ``pair`` into one symbol."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def fit_bpe() -> list[Pair]:
    """Learn up to ``BPE_N_MERGES`` merge rules from ``BPE_TRAIN_COUNTS``
    (both read at call time). Deterministic: max pair count, ties to the
    lexicographically smallest pair. Stops early when no pair occurs at
    least twice."""
    word_counts = BPE_TRAIN_COUNTS
    vocab = {w: list(w) for w in word_counts}
    merges: list[Pair] = []
    for _ in range(BPE_N_MERGES):
        pairs: Counter[Pair] = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        top = max(pairs.values())
        if top < 2:
            break
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        vocab = {w: _apply_merge(s, best) for w, s in vocab.items()}
    return merges


def encode_word(word: str, ranks: dict[Pair, int]) -> list[str]:
    """Greedy BPE apply: merge the lowest-rank learned pair present until
    none remains. ``ranks`` maps each merge pair to its learn order."""
    syms = list(word)
    while len(syms) >= 2:
        present = {(a, b) for a, b in zip(syms, syms[1:]) if (a, b) in ranks}
        if not present:
            break
        syms = _apply_merge(syms, min(present, key=lambda p: ranks[p]))
    return syms


def build_word_map() -> dict[str, str]:
    """Fit (``fit_bpe``) and return the memoized word -> space-joined token
    string map for every word of ``BPE_TRAIN_COUNTS`` — the broadcastable
    artifact the distributed encoder serves (unfitted words encode to
    '<unk>')."""
    merges = fit_bpe()
    ranks = {p: i for i, p in enumerate(merges)}
    return {w: " ".join(encode_word(w, ranks)) for w in BPE_TRAIN_COUNTS}
