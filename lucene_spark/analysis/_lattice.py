"""The Viterbi lattice core shared by the ja / ko / zh segmenters.

The reference shares one Viterbi between kuromoji and nori
(ViterbiNBest.java / Viterbi.java over a TokenInfoDictionary prefix
lookup plus CharacterDefinition unknown-word arcs). This module is that
shared machinery; :mod:`~lucene_spark.analysis.cjk` (kuromoji role),
:mod:`~lucene_spark.analysis.korean` (nori role) and
:mod:`~lucene_spark.analysis.chinese` (smartcn role) supply only their
policies — character classes, dictionary entries, unknown-word arcs,
connection costs and (ja) the search-mode penalty:

- :func:`prefix_dict` — first char → dictionary entries, longest first;
- :func:`best_path` — the min-cost walk with backtrace;
- :func:`segmenter` — the memoized token → spans / parts analyzer hook;
- :func:`longest_compound` + :func:`stack_stream` — the index-time
  STACKED stage behind cjk_search compounds and ko_mixed.
"""

from __future__ import annotations

from functools import lru_cache, partial
from operator import itemgetter

_MEMO_MAX = 100_000
_BOS = (0, 0, ("", "BOS", 0))  # the start node: no cost, tag "BOS"


def prefix_dict(entries) -> dict[str, list]:
    """first char → entries (tuples whose first field is the surface)
    sorted longest-first, ties by surface (TokenInfoDictionary
    prefix-lookup role)."""
    by_first: dict[str, list] = {}
    for e in entries:
        by_first.setdefault(e[0][0], []).append(e)
    for lst in by_first.values():
        lst.sort(key=lambda e: (-len(e[0]), e[0]))
    return by_first


def best_path(n: int, arcs, conn) -> list[tuple[int, int, tuple]]:
    """Minimum-cost cover of positions 0..n. ``arcs(i)`` lists the
    (surface, tag, cost, ...) arcs starting at i; ``conn(prev_tag,
    tag)`` is the connection cost, "BOS" tagging the run start. One
    best arc is kept per end position. Returns the path's nodes
    [(cost so far, start, arc)] in text order.

    Tie-break: a longer arc wins, otherwise the first one listed. Arcs
    are visited by increasing start, so the first arc to reach an end
    position is also the longest one reaching it at that cost, and a
    strict ``<`` implements the rule. Arcs of equal length ending at
    the same position share their start (hence their surface), so the
    order each language lists its arcs in is part of its contract."""
    best: list = [None] * (n + 1)
    best[0] = _BOS
    for i in range(n):
        node = best[i]
        if node is None:
            continue
        here = node[0]
        prev = node[2][1]
        for arc in arcs(i):
            j = i + len(arc[0])
            total = here + arc[2] + conn(prev, arc[1])
            cur = best[j]
            if cur is None or total < cur[0]:
                best[j] = (total, i, arc)
    out = []
    while n > 0:
        node = best[n]
        out.append(node)
        n = node[1]
    out.reverse()
    return out


def _memoized(segment, applies, passthrough):
    """``segment`` behind a per-token memo; tokens ``applies`` rejects
    (None accepts every token) take ``passthrough``, unmemoized."""
    memo: dict[str, list] = {}

    def seg(token: str) -> list:
        if applies is not None and not applies(token):
            return passthrough(token)
        got = memo.get(token)
        if got is None:
            got = memo[token] = segment(token)
            if len(memo) > _MEMO_MAX:
                memo.clear()
        return got

    return seg


@lru_cache(maxsize=64)
def segmenter(spans_of, applies, *policy):
    """The analyzer's 1:N expander hook for one language policy:
    returns ``token → parts`` whose ``.spans`` attribute is ``token →
    [(part, rel_start, rel_end)]``. Both views derive from
    ``spans_of(*policy, token)``; each memoizes only what it returns,
    so a parts-only analyzer keeps no offsets alive. Tokens ``applies``
    rejects (None accepts every token) lowercase through as one part.

    lru-cached per policy: a large user dictionary tuple is hashed once
    per factory call (per tokenize batch), while the memos hit on plain
    string keys."""
    spans_of = partial(spans_of, *policy)
    spans = _memoized(spans_of, applies, lambda t: [(t.lower(), 0, len(t))])
    parts = _memoized(
        lambda t: list(map(itemgetter(0), spans_of(t))), applies, lambda t: [t.lower()]
    )
    parts.spans = spans
    spans.parts = parts
    return parts


def longest_compound(toks, poss, starts, ends, i: int, known) -> tuple[str, int] | None:
    """(surface, j) for the longest toks[i..j], j > i, whose
    concatenation is in ``known`` and whose tokens are position-
    contiguous and, when offsets are given, offset-contiguous; None if
    there is none. A dropped punctuation character leaves no position
    gap, but the reference's single lattice arc spans raw text, so it
    never joins a compound across one (ソフト・ウェア must NOT yield
    ソフトウェア) — hence the offset check."""
    acc = toks[i]
    best = None
    j = i + 1
    while (
        j < len(toks)
        and poss[j] == poss[j - 1] + 1
        and (starts is None or starts[j] == ends[j - 1])
    ):
        acc += toks[j]
        if acc in known:
            best = (acc, j)
        j += 1
    return best


def stack_stream(toks, poss, starts, ends, overlay):
    """The _stacker_of contract: every token passes through, and
    ``overlay(i)`` → (surface, k) | None stacks ``surface`` after token
    i at its position with overlap=True, spanning starts[i]..ends[k].
    Returns (tokens, positions, overlaps[, starts, ends])."""
    out_t, out_p, out_o = [], [], []
    out_s: list | None = [] if starts is not None else None
    out_e: list | None = [] if starts is not None else None
    for i in range(len(toks)):
        out_t.append(toks[i])
        out_p.append(poss[i])
        out_o.append(False)
        if out_s is not None:
            out_s.append(starts[i])
            out_e.append(ends[i])
        hit = overlay(i)
        if hit is not None:
            out_t.append(hit[0])
            out_p.append(poss[i])
            out_o.append(True)
            if out_s is not None:
                out_s.append(starts[i])
                out_e.append(ends[hit[1]])
    if out_s is not None:
        return out_t, out_p, out_o, out_s, out_e
    return out_t, out_p, out_o
