"""Seeded inputs for the benchmark: code corpora and query streams.

The base corpus is ``lucene_spark.fixtures.make_corpus`` (synthetic
``(repo, path, commit, lang, content)`` source code over a Zipf
vocabulary). That fixture has a small vocabulary: at 20k docs about 790
distinct tokens and none with df below 200, so every query term would be
hot and the reader's point-read and cache layers would never miss. Each
document therefore gets one extra line of rare identifiers drawn from a
seeded Zipf tail of consonant-only words, which cannot collide with the
fixture's consonant-vowel words.

Everything here is a pure function of its seed: the same seed gives a
byte-identical corpus and query stream. ``digest`` checks it within a
run, and ``PINNED_DIGEST`` across runs and environments.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_spark.fixtures import make_corpus
from lucene_spark.search import ast as A

_TAIL_LETTERS = np.array(list("bcdfghjklmnpqrstvwxz"))
# tokens the standard analyzer keeps unchanged (and under its 255-char cap)
_PLAIN = re.compile(r"^[a-z][a-z0-9]{0,254}$")


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w / w.sum())


def _draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


def code_corpus(n_docs: int, seed: int, tail_vocab: int = 24_000, tail_per_doc: tuple[int, int] = (4, 24)) -> pd.DataFrame:
    """``n_docs`` fixture documents plus one line of rare identifiers each.

    Columns: doc_id (0..n-1), repo, path, commit, lang, content."""
    pdf = make_corpus(n_docs, seed=seed).drop(columns=["content_sha256"])
    rng = np.random.default_rng([seed, 1])
    words = ["".join(w) for w in _TAIL_LETTERS[rng.integers(0, len(_TAIL_LETTERS), (tail_vocab, 6))]]
    words = np.array(list(dict.fromkeys("q" + w for w in words)))
    cdf = _zipf_cdf(len(words), 1.0)
    counts = rng.integers(tail_per_doc[0], tail_per_doc[1] + 1, n_docs)
    drawn = words[_draw(rng, cdf, int(counts.sum()))]
    ends = np.cumsum(counts)
    tails = [" ".join(drawn[e - c : e]) for c, e in zip(counts, ends)]
    pdf["content"] = [c + "\n" + t for c, t in zip(pdf["content"], tails)]
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    return pdf


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


def doc_freqs(pdf: pd.DataFrame) -> Counter:
    """df of every plain token (one the analyzer keeps unchanged)."""
    df: Counter = Counter()
    for c in pdf["content"]:
        df.update(set(c.split()))
    return Counter({t: n for t, n in df.items() if _PLAIN.match(t)})


def _adjacent_pairs(content: str) -> list[tuple[str, str]]:
    """Adjacent plain-token pairs within one line: phrases that occur."""
    return [
        (a, b)
        for ln in content.split("\n")
        for a, b in zip(ln.split(" "), ln.split(" ")[1:])
        if _PLAIN.match(a) and _PLAIN.match(b)
    ]


@dataclass(frozen=True)
class Query:
    shape: str  # term | and | or | not | phrase | wildcard | dist
    text: str  # what the engine receives
    ast: A.Query  # the same query built directly, for the oracle
    k: int
    terms: tuple[str, ...]


def _term(t: str) -> A.TermQuery:
    return A.TermQuery(t)


def _bool(*clauses) -> A.BooleanQuery:
    return A.BooleanQuery(tuple(clauses))


SHAPES = ("term", "and", "or", "term", "not", "phrase", "and", "wildcard", "or", "phrase")
_GOLDEN = 0.6180339887498949


def query_stream(pdf: pd.DataFrame, df: Counter, n: int, seed: int, zipf_s: float = 1.0) -> list[Query]:
    """``n`` distinct driver-route queries. Shapes repeat in a fixed cycle
    and k alternates 10 / 100, so every seed gets the same mix. Terms are
    a Zipf draw over the whole vocabulary ranked by df (rare tail
    included), taken through a seeded low-discrepancy sequence so the df
    profile of a short stream matches the Zipf law closely for any seed.
    Phrases are two adjacent tokens of a random line, so each matches."""
    rng = np.random.default_rng([seed, 2])
    vocab = sorted(df, key=lambda t: (-df[t], t))
    cdf = _zipf_cdf(len(vocab), zipf_s)
    wild_vocab = [t for t in vocab if len(t) >= 4]
    wild_cdf = _zipf_cdf(len(wild_vocab), zipf_s)
    u = [rng.random()]

    def draw(c: np.ndarray) -> int:
        u[0] = (u[0] + _GOLDEN) % 1.0
        return int(min(np.searchsorted(c, u[0]), len(c) - 1))

    def term() -> str:
        return vocab[draw(cdf)]

    contents = pdf["content"].tolist()
    seen: set[str] = set()
    out: list[Query] = []
    i = 0
    while len(out) < n:
        shape, k = SHAPES[i % len(SHAPES)], (10, 100)[(i // len(SHAPES)) % 2]
        i += 1
        if shape == "term":
            a = term()
            q = Query(shape, a, _term(a), k, (a,))
        elif shape == "and":
            a, b = term(), term()
            q = Query(shape, f"{a} AND {b}", _bool((A.Occur.MUST, _term(a)), (A.Occur.MUST, _term(b))), k, (a, b))
        elif shape == "or":
            ts = (term(), term(), term())
            q = Query(shape, " OR ".join(ts), _bool(*((A.Occur.SHOULD, _term(t)) for t in ts)), k, ts)
        elif shape == "not":
            a, b = term(), term()
            q = Query(shape, f"+{a} -{b}", _bool((A.Occur.MUST, _term(a)), (A.Occur.MUST_NOT, _term(b))), k, (a, b))
        elif shape == "phrase":
            pairs = _adjacent_pairs(contents[int(rng.integers(0, len(contents)))])
            if not pairs:
                continue
            a, b = pairs[int(rng.integers(0, len(pairs)))]
            q = Query(shape, f'"{a} {b}"', A.PhraseQuery((a, b)), k, (a, b))
        else:
            stem = wild_vocab[draw(wild_cdf)][:3]
            q = Query(shape, stem + "*", A.PrefixQuery(stem), k, (stem + "*",))
        if q.text in seen:
            continue
        seen.add(q.text)
        out.append(q)
    return out


def hot_conjunctions(df: Counter, n: int, seed: int, top: int = 24) -> list[Query]:
    """``n`` distinct two-term AND queries over the ``top`` highest-df
    terms: the distributed route's many-chunk case."""
    rng = np.random.default_rng([seed, 3])
    hot = sorted(df, key=lambda t: (-df[t], t))[:top]
    pairs = [(a, b) for i, a in enumerate(hot) for b in hot[i + 1 :]]
    order = rng.permutation(len(pairs))[:n]
    return [
        Query("dist", f"{a} AND {b}", _bool((A.Occur.MUST, _term(a)), (A.Occur.MUST, _term(b))), 10, (a, b))
        for a, b in (pairs[i] for i in order)
    ]


def df_band(df_value: int, n_docs: int) -> str:
    """Coarse df band of a term, for the input profile."""
    if df_value == 0:
        return "absent"
    share = df_value / n_docs
    if share >= 0.1:
        return "hot"
    if df_value > 10:
        return "mid"
    return "rare"


def digest(pdf: pd.DataFrame, queries: list[Query]) -> str:
    """sha256 over every field of every row and query, each written out as
    plain text, so that the digest does not depend on how numpy or pandas
    print their scalars."""
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update(("\t".join(str(v) for v in row) + "\n").encode())
    for q in queries:
        h.update(f"{q.shape}\t{q.text}\t{q.k}\n".encode())
    return h.hexdigest()


def inputs(n_docs: int, corpus_seed: int, n_queries: int, seed: int):
    """Corpus, its df, the driver query stream and the distributed hot
    conjunctions, each derived from the one before."""
    pdf = code_corpus(n_docs, corpus_seed)
    df = doc_freqs(pdf)
    return pdf, df, query_stream(pdf, df, n_queries, seed), hot_conjunctions(df, 60, seed)


# digest of inputs(200, 7, 50, 7), generated when the benchmark was written:
# a change of numpy's generators, pandas or the fixture shows as a mismatch
PINNED = (200, 7, 50, 7)
PINNED_DIGEST = "e45482e65b74645065e98f878ff2e441ad0b3a5e923c58976967661b91c83293"


def pinned_digest() -> str:
    pdf, _df, queries, dist = inputs(*PINNED)
    return digest(pdf, queries + dist)
