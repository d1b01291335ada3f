"""Surround query language — the lucene/queryparser/surround module.

Reference: lucene/queryparser/src/java/org/apache/lucene/queryparser/
surround/parser/QueryParser.jj (grammar) and
surround/query/DistanceQuery.java (distance semantics: ``n W`` =
ordered within distance n, ``n N`` = unordered within distance n,
where adjacent terms have distance 1 — so gap slack = n - 1; default
n = 1 i.e. adjacency).

Implemented subset, mapped onto the engine's interval algebra
(lucene_spark.search.intervals — distance ops nest exactly like the
reference's SrndQuery tree):

- ``W(a, b, ...)`` / ``nW(...)``  — ordered, distance n (infix ``a nW b`` too)
- ``N(a, b, ...)`` / ``nN(...)``  — unordered, distance n (infix too)
- ``OR`` inside a distance op → Intervals.or
- top-level ``AND`` / ``OR`` / ``NOT`` booleans over subqueries
- parentheses

Scoring: distance ops score through IntervalQuery (BM25 over the
sloppy-accumulated interval freq) rather than the surround module's
SimpleTerm rewrite — documented deviation; hit SETS match the
reference's distance semantics.

Not implemented (documented): truncation ``pre*``/``?`` inside
distance ops, field prefixes, proximity over boolean subqueries other
than OR (the reference forbids AND/NOT inside W/N too).
"""

from __future__ import annotations

import re

from lucene_spark.search import ast as A
from lucene_spark.search.intervals import IMaxGaps, IOr, IOrdered, ITerm, IUnordered

_TOK = re.compile(
    r"""\s*(?:
    (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<comma>,)
  | (?P<and>(?i:AND)\b)
  | (?P<or>(?i:OR)\b)
  | (?P<not>(?i:NOT)\b)
  | (?P<dist>(?P<dn>\d*)(?P<dk>[WNwn])\b)
  | (?P<term>[^\s(),]+)
)""",
    re.VERBOSE,
)


def _lex(s: str) -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    pos = 0
    while pos < len(s):
        m = _TOK.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"cannot lex surround query at {s[pos:]!r}")
        pos = m.end()
        if m.group("dist"):
            out.append(("dist", (int(m.group("dn") or 1), m.group("dk").upper())))
        elif m.group("term"):
            out.append(("term", m.group("term")))
        else:
            for k in ("lparen", "rparen", "comma", "and", "or", "not"):
                if m.group(k):
                    out.append((k, m.group(k)))
                    break
    return out


class _P:
    def __init__(self, toks):
        self.toks, self.i = toks, 0

    def peek(self):
        return self.toks[self.i][0] if self.i < len(self.toks) else None

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind):
        if self.peek() != kind:
            raise ValueError(f"expected {kind}, got {self.peek()}")
        return self.next()

    # ---- interval-source level (inside distance ops) -----------------------

    def src_or(self):
        parts = [self.src_primary()]
        while self.peek() == "or":
            self.next()
            parts.append(self.src_primary())
        return parts[0] if len(parts) == 1 else IOr(tuple(parts))

    def src_primary(self):
        k = self.peek()
        if k == "dist":
            return self.src_dist()
        if k == "lparen":
            self.next()
            s = self.src_or()
            self.expect("rparen")
            return s
        if k == "term":
            t = self.next()[1]
            if any(ch in t for ch in "*?"):
                raise ValueError("truncation inside distance ops is not supported")
            return ITerm(t.lower())
        raise ValueError(f"unexpected token {k} inside distance op")

    def src_dist(self):
        n, kind = self.next()[1]
        self.expect("lparen")
        subs = [self.src_or()]
        while self.peek() == "comma":
            self.next()
            subs.append(self.src_or())
        self.expect("rparen")
        return _dist_source(n, kind, tuple(subs))

    # ---- query level --------------------------------------------------------

    def q_or(self):
        parts = [self.q_and()]
        while self.peek() == "or":
            self.next()
            parts.append(self.q_and())
        if len(parts) == 1:
            return parts[0]
        return A.BooleanQuery(tuple((A.Occur.SHOULD, p) for p in parts))

    def q_and(self):
        parts = [self.q_not()]
        while self.peek() == "and":
            self.next()
            parts.append(self.q_not())
        if len(parts) == 1:
            return parts[0]
        return A.BooleanQuery(tuple((A.Occur.MUST, p) for p in parts))

    def q_not(self):
        left = self.q_infix()
        while self.peek() == "not":
            self.next()
            right = self.q_infix()
            left = A.BooleanQuery(((A.Occur.MUST, left), (A.Occur.MUST_NOT, right)))
        return left

    def q_infix(self):
        """Infix distance: ``a 3W b [5N c ...]`` — left-associative,
        each operator folds the accumulated source with the next
        primary (QueryParser.jj infix SrndQuery chain)."""
        left_q = self.q_primary()
        if self.peek() != "dist":
            return left_q
        src = _as_source(left_q)
        while self.peek() == "dist":
            n, kind = self.next()[1]
            right = _as_source(self.q_primary())
            src = _dist_source(n, kind, (src, right))
        return A.IntervalQuery(src, score_mode="span")

    def q_primary(self):
        k = self.peek()
        if k == "dist":
            return A.IntervalQuery(self.src_dist(), score_mode="span")
        if k == "lparen":
            self.next()
            q = self.q_or()
            self.expect("rparen")
            return q
        if k == "term":
            t = self.next()[1]
            if t.endswith("*") and "*" not in t[:-1] and "?" not in t:
                return A.PrefixQuery(t[:-1].lower())
            if any(ch in t for ch in "*?"):
                return A.WildcardQuery(t.lower())
            return A.TermQuery(t.lower())
        raise ValueError(f"unexpected token {k}")


def _dist_source(n: int, kind: str, subs: tuple):
    inner = IOrdered(subs) if kind == "W" else IUnordered(subs)
    # distance n: adjacent = 1 → allowed interior gaps = n - 1
    return IMaxGaps(n - 1, inner)


def _as_source(q):
    if isinstance(q, A.TermQuery):
        return ITerm(q.term)
    if isinstance(q, A.IntervalQuery):
        return q.source
    if isinstance(q, A.BooleanQuery) and all(o is A.Occur.SHOULD for o, _ in q.clauses):
        return IOr(tuple(_as_source(s) for _, s in q.clauses))
    raise ValueError(f"cannot use {type(q).__name__} inside a distance op")


def parse_surround(s: str) -> A.Query:
    """Parse a surround-language query into the engine AST."""
    p = _P(_lex(s))
    q = p.q_or()
    if p.peek() is not None:
        raise ValueError(f"trailing tokens at {p.toks[p.i:]!r}")
    return A.rewrite(q)
