"""Chinese word segmentation — the smartcn role.

Mirrors the reference's SmartChineseAnalyzer pipeline
(lucene/analysis/smartcn/src/java/org/apache/lucene/analysis/cn/smart/
SmartChineseAnalyzer.java — sentence/word segmentation → porter-stemmed
lowercase Latin → punctuation stopwords; hhmm/HHMMSegmenter.java — the
hidden-Markov word segmentation whose OOV behavior is single-character
tokens; Utility.java — fullwidth/presentation-form normalization;
resources stopwords.txt — the default stop set is punctuation).

The prefix dictionary, best-path walk and memoized segmenter are the
lattice core shared with the kuromoji and nori roles
(:mod:`lucene_spark.analysis._lattice`); this module supplies the
Chinese policies — dictionary word costs, a flat connection cost and
single-character unknown arcs, exactly the reference's observable OOV
contract (TestSmartChineseAnalyzer.testOOV: 优素福·拉扎·吉拉尼 → one
token per character). The public TestSmartChineseAnalyzer golden
subset is pinned in tests/test_chinese.py with the reference's offsets
and position increments.

Deviations, stated plainly:

- The word dictionary is a SMALL deterministic fixture (the reference's
  hhmm binary dictionaries are not reproduced) + user words; the HHMM
  bigram transition costs collapse to word costs + a flat connection
  cost — every pinned golden resolves identically, and OOV behavior
  (single characters) is the same by construction.
- Stopped punctuation consumes a position at the library level (the
  testChineseStopWords2 golden: posIncr 2 after a dropped ':'); the
  index-time "zh" analyzer chain drops it WITHOUT a gap (the expander
  protocol is linear — same documented deviation as the cjk analyzer's
  standalone-punctuation note).
"""

from __future__ import annotations

from functools import lru_cache

from lucene_spark.analysis._lattice import best_path, prefix_dict, segmenter
from lucene_spark.analysis.porter import porter_stem

HANZI, LATIN, DIGIT, PUNCT, SPACE, OTHER = range(6)

# stopwords.txt role: the default stop set is punctuation (ASCII +
# fullwidth/CJK forms + presentation-form delimiters)
_STOP_PUNCT = set(
    ",.`-_=?'|\"(){}[]<>*#&^$@!~:;+/\\"
    "《》—－，。、：；？！·．‧＂＇（）［］｛｝＜＞｜"
    "︱︳﹘"
)


# Utility.java fullwidth → halfwidth normalization, a str.translate
# table (offsets are preserved: 1 char → 1 char)
_FOLD = {o: o - 0xFEE0 for o in range(0xFF01, 0xFF5F)}
_FOLD[0x3000] = " "


def _char_class(ch: str) -> int:
    o = ord(ch)
    if (
        0x4E00 <= o <= 0x9FFF
        or 0x3400 <= o <= 0x4DBF
        or 0xF900 <= o <= 0xFAFF
        or 0x20000 <= o <= 0x2FFFF
    ):
        return HANZI
    if ch in _STOP_PUNCT:
        return PUNCT
    if ch.isspace():
        return SPACE
    if ("a" <= ch <= "z") or ("A" <= ch <= "Z"):
        return LATIN
    if "0" <= ch <= "9":
        return DIGIT
    return OTHER


# (surface, cost) — the fixture word dictionary, costs on an
# HHMM-frequency-like scale (common words cheap)
_WORD_DICT = (
    ("我", 1200), ("购买", 1800), ("了", 1000), ("道具", 2000),
    ("和", 1100), ("服装", 2000), ("中国", 1600), ("北京", 1800),
    ("我们", 1400), ("可以", 1500), ("没有", 1500), ("什么", 1500),
    ("时间", 1700), ("工作", 1700), ("学习", 1800), ("朋友", 1800),
    ("喜欢", 1800), ("今天", 1700), ("明天", 1800), ("现在", 1600),
)

_UNK_SINGLE = 6000  # OOV hanzi: one arc per character (HHMM contract)
_CONN = 200


def _conn(_prev_tag, _tag) -> int:
    """The flat connection cost: zh arcs carry no tags."""
    return _CONN


@lru_cache(maxsize=64)
def _dict_of(user_words: tuple = ()):
    entries = list(_WORD_DICT) + [(w, 1500) for w in user_words]
    return prefix_dict([(surf, None, cost) for surf, cost in entries])


def _run_path(run: str, user_words: tuple) -> list[tuple[int, int, tuple]]:
    """Best path over one hanzi run (HHMMSegmenter.process role, the
    lattice core under the zh policy): at each position the
    single-character unknown arc first, then dictionary prefix arcs."""
    by_first = _dict_of(user_words)

    def arcs(i: int) -> list:
        ch = run[i]
        out = [(ch, None, _UNK_SINGLE)]
        for e in by_first.get(ch, ()):
            if run.startswith(e[0], i):
                out.append(e)
        return out

    return best_path(len(run), arcs, _conn)


def segment(
    text: str, stopwords: bool = True, user_words: tuple = ()
) -> list[tuple[str, int, int, int]]:
    """Segment ``text`` → [(token, start, end, pos_inc)] — the
    SmartChineseAnalyzer stream:

    - hanzi runs segment through the lattice (OOV → single chars);
    - Latin runs lowercase + porter-stem (the chain's PorterStemFilter);
    - digit runs are their own tokens;
    - other-script characters tokenize one per character;
    - punctuation: dropped as a stopword CONSUMING a position when
      ``stopwords`` (StopFilter enablePositionIncrements), else emitted
      normalized to "," (the SentenceTokenizer delimiter conversion —
      the testChineseStopWordsOff golden).
    Fullwidth forms fold to halfwidth before classification (offsets
    index the original text)."""
    folded = text.translate(_FOLD)
    n = len(folded)
    out: list[tuple[str, int, int, int]] = []
    pending_inc = 1
    i = 0
    while i < n:
        cls = _char_class(folded[i])
        if cls == SPACE:
            i += 1
            continue
        j = i + 1
        while j < n and _char_class(folded[j]) == cls:
            j += 1
        seg_text = folded[i:j]
        if cls == HANZI:
            for _c, s, (surf, _tag, _cost) in _run_path(seg_text, user_words):
                out.append((surf, i + s, i + s + len(surf), pending_inc))
                pending_inc = 1
        elif cls == LATIN:
            out.append((porter_stem(seg_text.lower()), i, j, pending_inc))
            pending_inc = 1
        elif cls == DIGIT:
            out.append((seg_text, i, j, pending_inc))
            pending_inc = 1
        elif cls == PUNCT:
            for k in range(i, j):
                if stopwords:
                    pending_inc += 1  # stopword consumes a position
                else:
                    out.append((",", k, k + 1, pending_inc))
                    pending_inc = 1
        else:  # OTHER scripts: one token per character
            for k in range(i, j):
                out.append((folded[k], k, k + 1, pending_inc))
                pending_inc = 1
        i = j
    return out


def _token_spans(user_words: tuple, token: str) -> list:
    return [(t[0], t[1], t[2]) for t in segment(token, user_words=user_words)]


def make_segmenter_zh(user_words: tuple = ()):
    """``token → parts`` (``.spans``: token → [(part, rel_start,
    rel_end)]) for the analyzer's 1:N expander hook, over the lattice
    core's memoized segmenter. Every chunk runs the smartcn stream;
    stopped punctuation drops WITHOUT a gap on this linear path
    (documented deviation, see module docstring)."""
    return segmenter(_token_spans, None, user_words)
