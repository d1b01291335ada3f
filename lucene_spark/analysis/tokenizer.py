"""StandardAnalyzer-equivalent tokenization (UAX#29 word break subset).

Reference semantics (all under /root/reference/):
- lucene/core/src/java/org/apache/lucene/analysis/standard/StandardAnalyzer.java:50-53,84-97
  — pipeline = StandardTokenizer → LowerCaseFilter → StopFilter with an
  EMPTY default stopword set (CharArraySet.EMPTY_SET), so by default no
  stopwords are removed. We match that default.
- lucene/core/src/java/org/apache/lucene/analysis/standard/StandardTokenizerImpl.jflex:211-252
  — UAX#29 word-break rules. A word token is a sequence of letter runs
  and digit runs (WB5/8/9/10) where:
    * MidLetter ∪ MidNumLet ∪ Single_Quote join letter–letter (WB6/7),
    * MidNum ∪ MidNumLet ∪ Single_Quote join digit–digit (WB11/12),
    * ExtendNumLet (e.g. ``_``) glues at edges and between runs (WB13a/b).
- lucene/core/src/java/org/apache/lucene/analysis/standard/StandardTokenizer.java:152-166
  — tokens longer than maxTokenLength (default 255) are DROPPED, not
  chopped; the skipped token still consumes a position.

Scope: letter/number word rules over all Unicode letters/digits, plus
single-codepoint CJK ideograph/hiragana tokens. Not implemented (out of
fixture scope, documented): emoji sequences, regional indicators,
Hebrew double-quote rules, SE-Asian segmentation, Extend/Format/ZWJ
absorption. The fixture corpus (source code) exercises none of these.

Everything is vectorized: the hot path is ``tokenize_series`` running
``re.findall`` over a pandas Series inside an Arrow-batched pandas UDF —
no per-row Python in the Spark plan (input_hint requirement).
"""

from __future__ import annotations

import re

import pandas as pd

MAX_TOKEN_LENGTH = 255  # StandardTokenizer.java:39-60 (DEFAULT_MAX_TOKEN_LENGTH)

# ASCII + BMP members of the UAX#29 classes we implement
# (Unicode 12.1 WordBreakProperty.txt values, as used by Lucene 9's grammar).
_SINGLE_QUOTE = "'"
_MID_LETTER = ":··״‧︓﹕："
_MID_NUM_LET = ".‘’․﹒＇．"
_MID_NUM = ",;;։،؍٬߸⁄︐︔﹐﹔，；"
_EXTEND_NUM_LET = "_ ‿⁀⁔︳︴﹍﹎﹏＿"

_L_JOIN = re.escape(_MID_LETTER + _MID_NUM_LET + _SINGLE_QUOTE)
_N_JOIN = re.escape(_MID_NUM + _MID_NUM_LET + _SINGLE_QUOTE)
_ENL = re.escape(_EXTEND_NUM_LET)

# CJK single-char token types (IDEOGRAPHIC / HIRAGANA): one token per char.
_CJK = "一-鿿㐀-䶿豈-﫿ぁ-ゖ"

# L = any Unicode letter (approximates WB:ALetter ∪ Hebrew_Letter for our
# scope), N = any Unicode decimal digit (WB:Numeric). CJK chars are
# excluded from L because they are not ALetter — they tokenize per-char.
_L = rf"[^\W\d_{_ENL}{_CJK}]"
_N = r"\d"
# A run must contain at least one letter/digit: bare ExtendNumLet ("___")
# is not a word per the grammar (StandardTokenizerImpl.jflex:238-252 —
# every alternative requires a letter/numeric/katakana core).
_RUN = rf"[{_ENL}]*(?:{_L}|{_N})(?:{_L}|{_N}|[{_ENL}])*"
_JOINER = rf"(?:(?<={_L})[{_L_JOIN}](?={_L})|(?<={_N})[{_N_JOIN}](?={_N}))"

_TOKEN_RE = re.compile(rf"{_RUN}(?:{_JOINER}{_RUN})*|[{_CJK}]")

# ---- the "cjk" analyzer's tokenizer stage ---------------------------------
# Contiguous CJK text (kana + kanji + CJK punctuation + fullwidth forms)
# becomes ONE raw token (chunked at 255 so length filters never drop a
# run) which the 1:N expander segments through the kuromoji-role
# Viterbi lattice (analysis/cjk.py); non-CJK text keeps the standard
# grammar with the whole CJK range excluded from the letter class
# (katakana is a standard-ALetter run otherwise and would glue to
# adjacent latin).
_CJK_FULL = "　-〿぀-ヿ一-鿿㐀-䶿豈-﫿＀-￯"
_L_NOCJK = rf"[^\W\d_{_ENL}{_CJK_FULL}]"
_RUN_NOCJK = rf"[{_ENL}]*(?:{_L_NOCJK}|{_N})(?:{_L_NOCJK}|{_N}|[{_ENL}])*"
_JOINER_NOCJK = rf"(?:(?<={_L_NOCJK})[{_L_JOIN}](?={_L_NOCJK})|(?<={_N})[{_N_JOIN}](?={_N}))"
_CJK_TOKEN_RE = re.compile(
    rf"[{_CJK_FULL}]{{1,255}}|{_RUN_NOCJK}(?:{_JOINER_NOCJK}{_RUN_NOCJK})*"
)

# ---- the "ko" analyzer's tokenizer stage ----------------------------------
# A whitespace-free chunk CONTAINING hangul/hanja becomes one raw token
# (nori's lattice walks whole chunks: digits, latin and punctuation
# inside the chunk are split/dropped by the Viterbi arcs — 44사이즈,
# 것!, 도로ㆍ지반); anything else keeps the standard grammar.
_KO_CLASS = "가-힣ᄀ-ᇿ㄰-㆏一-鿿㐀-䶿豈-﫿"
_KO_TOKEN_RE = re.compile(
    rf"[^\s]{{0,64}}[{_KO_CLASS}][^\s]{{0,190}}|{_RUN_NOCJK}(?:{_JOINER_NOCJK}{_RUN_NOCJK})*"
)

# ---- the "zh" analyzer's tokenizer stage (smartcn role) -------------------
# same chunking idea: a whitespace-free chunk containing hanzi becomes
# one raw token for the HHMM-role lattice; everything else keeps the
# standard grammar (with porter applied by the zh expander itself)
_ZH_CLASS = "一-鿿㐀-䶿豈-﫿\U00020000-\U0002FFFF"
_ZH_TOKEN_RE = re.compile(
    rf"[^\s]{{0,64}}[{_ZH_CLASS}][^\s]{{0,190}}|{_RUN_NOCJK}(?:{_JOINER_NOCJK}{_RUN_NOCJK})*"
)


def _raw_tokens(text: str) -> list[str]:
    return _TOKEN_RE.findall(text)


# EnglishAnalyzer's default stop set (EnglishAnalyzer.java:43-53,
# ENGLISH_STOP_WORDS_SET — the classic 33-word list, matched
# case-insensitively post-LowerCaseFilter).
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split()
)

_APOS = "'’＇"  # ', ’, ＇ (EnglishPossessiveFilter.java:40-48)


def _strip_possessive(t: str) -> str:
    """EnglishPossessiveFilter (EnglishPossessiveFilter.java:38-52):
    strip a trailing <apostrophe>s / <apostrophe>S."""
    if len(t) >= 2 and t[-2] in _APOS and (t[-1] == "s" or t[-1] == "S"):
        return t[:-2]
    return t


# ---- the "code" analyzer: WordDelimiterGraphFilter-style splitting ---------
#
# WordDelimiterGraphFilter (lucene/analysis/common/src/java/org/apache/lucene/
# analysis/miscellaneous/WordDelimiterGraphFilter.java:63-105 javadoc;
# WordDelimiterIterator.java charType machine) with the configuration a
# source-code search deployment uses: GENERATE_WORD_PARTS |
# GENERATE_NUMBER_PARTS | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS |
# STEM_ENGLISH_POSSESSIVE, no catenation and no preserveOriginal — with
# only generate flags the output is a LINEAR token stream (each part
# consumes one position, first part taking the original's position,
# WordDelimiterGraphFilter.java:380-393), so no token graph arises.
# "XMLHttpRequest" → xml,http,request; "snake_case" → snake,case;
# "SD500" → sd,500; "O'Neil's" → o,neil.
#
# Part boundaries (WordDelimiterIterator): category runs of
# digit / UPPER / lower, where an UPPER run followed by Upper+lower
# surrenders its last upper to the next part, and every non-alnum char
# (incl. the underscores StandardTokenizer keeps via ExtendNumLet) is a
# delimiter. Non-ASCII cased letters are grouped with the lowercase
# class (documented subset: source-code identifiers are ASCII; the
# reference uses Character.isUpperCase over all of Unicode).
_CODE_PART_RE = re.compile(r"\d+|[A-Z]+(?![a-z])|[A-Z]?[^\W\d_A-Z]+")


def code_parts(token: str) -> list[str]:
    """Subword parts of one StandardTokenizer token, lowercased."""
    return [m.group().lower() for m in _CODE_PART_RE.finditer(_strip_possessive(token))]


def code_parts_spans(token: str) -> list[tuple[str, int, int]]:
    """(part, start, end) with offsets relative to the token start
    (OffsetAttribute contract: parts point into the original text)."""
    return [
        (m.group().lower(), m.start(), m.end())
        for m in _CODE_PART_RE.finditer(_strip_possessive(token))
    ]


import functools


@functools.lru_cache(maxsize=64)
def _cjk_user_words(stem: str) -> tuple:
    """Parse the "cjk"/"cjk_search" analyzer's optional user
    dictionary out of the analyzer name ("cjk:word1,word2" — the
    UserDictionary role carried through the string-typed analyzer
    plumbing and the manifest). lru-cached per analyzer string (str
    hashes cache natively) — a large gate-style user dictionary parses
    once per process, not once per Arrow batch."""
    head, _sep, tail = stem.partition(":")
    if tail:
        return tuple(sorted(set(w for w in tail.split(",") if w)))
    return ()


def _cjk_mode(stem: str) -> str:
    return "search" if stem.partition(":")[0].startswith("cjk_search") else "normal"


def _cjk_ext(stem: str) -> bool:
    """"cjk_ext" / "cjk_search_ext": the opt-in extended lexicon
    (analysis.cjk_dict_ext) joins the fixture dictionary."""
    return stem.partition(":")[0].endswith("_ext")


def _ko_decompound(stem: str) -> str:
    """"ko" → discard (the reference's DEFAULT_DECOMPOUND); "ko_none"
    keeps compounds whole; "ko_mixed" expands DISCARD parts and the
    index-time STACKED stage re-adds the original surfaces posInc-0
    (the cjk_search compound_stream pattern — see builder._stacker_of
    + analysis.korean.mixed_stream)."""
    return "none" if stem.partition(":")[0] == "ko_none" else "discard"


def _expander_spans(stem):
    """token → [(part, rel_start, rel_end)] analyzers (1:N chains:
    "code" case-part splitting, "cjk*" / "ko*" / "zh" lattice
    segmentation); None for every 1:1 chain handled by
    :func:`_emitter`."""
    if stem == "code":
        return code_parts_spans
    if not isinstance(stem, str):
        return None
    head = stem.partition(":")[0]
    if head.startswith("cjk"):
        from lucene_spark.analysis.cjk import make_segmenter

        return make_segmenter(_cjk_user_words(stem), _cjk_mode(stem), _cjk_ext(stem)).spans
    if head in ("ko", "ko_none", "ko_mixed"):
        from lucene_spark.analysis.korean import make_segmenter_ko

        return make_segmenter_ko(_cjk_user_words(stem), _ko_decompound(stem)).spans
    if head == "zh":
        from lucene_spark.analysis.chinese import make_segmenter_zh

        return make_segmenter_zh(_cjk_user_words(stem)).spans
    return None


def _expander(stem):
    """token → list-of-parts: the parts projection of
    :func:`_expander_spans` ("code" keeps its offsets-free regex
    split)."""
    if stem == "code":
        return code_parts
    spans = _expander_spans(stem)
    return None if spans is None else spans.parts


# WhitespaceTokenizer (lucene/analysis/common .../core/
# WhitespaceTokenizer.java:28-35 via WhitespaceAnalyzer.java:30-38):
# maximal runs of non-whitespace, NO LowerCaseFilter — terms keep case.
# The same 255-char maxTokenLen default applies (:42-52).
_WS_RE = re.compile(r"\S+")

# KeywordTokenizer (lucene/analysis/common .../core/
# KeywordTokenizer.java:28-40 via KeywordAnalyzer.java:26-36): the
# ENTIRE input is one token — no splitting, no case folding, no length
# cap (the token buffer grows to the input; nothing is dropped).
_KW_RE = re.compile(r"(?s)\A.+\Z")

_NO_MAX = 1 << 62  # "unlimited" sentinel for filter-by-length paths


def _tokenizer_of(stem, max_token_length: int = MAX_TOKEN_LENGTH):
    """(token regex, lowercase?, effective max token length) — the
    Tokenizer stage selection. "whitespace" splits on whitespace and
    preserves case; "keyword" emits the whole input as one uncapped
    token; everything else uses the StandardTokenizer grammar with
    LowerCaseFilter applied by the chain (or by the default path)."""
    if stem == "whitespace":
        return _WS_RE, False, max_token_length
    if stem == "keyword":
        return _KW_RE, False, _NO_MAX
    if isinstance(stem, str) and stem.startswith("cjk"):
        return _CJK_TOKEN_RE, True, max_token_length
    if isinstance(stem, str) and stem.partition(":")[0] in ("ko", "ko_none", "ko_mixed"):
        return _KO_TOKEN_RE, True, max_token_length
    if isinstance(stem, str) and stem.partition(":")[0] == "zh":
        return _ZH_TOKEN_RE, True, max_token_length
    return _TOKEN_RE, True, max_token_length


def _emitter(stem):
    """Analyzer filter chain AFTER the tokenizer, as one
    token → (token | None) function; None = token removed but still
    consuming a position (StopFilter position-increment contract).

    ``stem`` selects the analyzer (the IndexConfig.analyzer value;
    bools are the legacy spelling):
    - False / "standard": StandardAnalyzer — lowercase only
      (StandardAnalyzer.java:50-53, empty default stop set)
    - True / "porter": standard + PorterStemFilter
    - "english": EnglishAnalyzer.createComponents
      (EnglishAnalyzer.java:102-110) — EnglishPossessiveFilter →
      LowerCaseFilter → StopFilter(ENGLISH_STOP_WORDS_SET) →
      PorterStemFilter (no stem-exclusion set)

    Returns None for the standard chain so hot paths keep their
    branch-free vectorized form."""
    if stem in (False, None, "standard"):
        return None
    if stem in ("whitespace", "keyword"):
        return None  # no filters at all (Whitespace/KeywordAnalyzer have none)
    if stem == "ascii":
        # standard + ASCIIFoldingFilter (ASCIIFoldingFilter.java:60-80):
        # lowercase, then fold to ASCII equivalents
        from lucene_spark.analysis.folding import fold_ascii

        return lambda t: fold_ascii(t.lower())
    if stem == "icu":
        # standard + ICUNormalizer2Filter defaults (nfkc_cf: NFKC +
        # full case folding + default-ignorable removal); the chain's
        # lowercase is subsumed by casefold
        from lucene_spark.analysis.icu import icu_normalize

        return lambda t: icu_normalize(t) or None
    from lucene_spark.analysis.porter import porter_stem

    if stem in (True, "porter"):
        return lambda t: porter_stem(t.lower())
    if stem == "english":

        def emit(t: str):
            t = _strip_possessive(t).lower()
            if t in ENGLISH_STOP_WORDS:
                return None
            return porter_stem(t)

        return emit
    raise ValueError(f"unknown analyzer: {stem!r}")


def tokenize(
    text: str,
    max_token_length: int = MAX_TOKEN_LENGTH,
    stem: bool = False,
    char_filters=(),
) -> list[str]:
    """Analyze ``text``: char filters (pre-tokenizer, length-preserving
    — see analysis.folding) → UAX#29 words → drop >255 → the ``stem``
    analyzer chain (standard lowercase / porter / english — see
    :func:`_emitter`). Stop-removed tokens are dropped from the output
    (positions are only tracked by the *_positions variants)."""
    if char_filters:
        from lucene_spark.analysis.folding import char_filter_chain

        text = char_filter_chain(char_filters)(text)
    tok_re, lower, max_token_length = _tokenizer_of(stem, max_token_length)
    out = [t for t in tok_re.findall(text) if len(t) <= max_token_length]
    ex = _expander(stem)
    if ex is not None:
        return [p for t in out for p in ex(t)]
    em = _emitter(stem)
    if em is None:
        return [t.lower() for t in out] if lower else list(out)
    return [r for r in (em(t) for t in out) if r is not None]


def tokenize_with_positions(
    text: str, max_token_length: int = MAX_TOKEN_LENGTH
) -> tuple[list[str], list[int]]:
    """Tokens plus Lucene positions (dropped over-length tokens still
    consume a position — StandardTokenizer.java:158-166)."""
    toks, positions = [], []
    for pos, t in enumerate(_raw_tokens(text)):
        if len(t) <= max_token_length:
            toks.append(t.lower())
            positions.append(pos)
    return toks, positions


def _apply_char_filters(texts: pd.Series, char_filters) -> pd.Series:
    if not char_filters:
        return texts.fillna("")
    from lucene_spark.analysis.folding import char_filter_chain

    return texts.fillna("").map(char_filter_chain(char_filters))


def tokenize_pos_off_series(
    texts: pd.Series,
    max_token_length: int = MAX_TOKEN_LENGTH,
    stem: bool = False,
    char_filters=(),
) -> tuple[pd.Series, pd.Series, pd.Series, pd.Series]:
    """Batch tokenization with positions AND char offsets (the
    IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS analyzer
    contract, IndexOptions.java:29-50 / OffsetAttribute): returns
    (tokens, positions, starts, ends) Series of equal-length lists.
    Offsets index the ORIGINAL text (lowercasing and stemming never
    move offsets — both filters are offset-preserving)."""
    tok_re, lower, max_token_length = _tokenizer_of(stem, max_token_length)
    ex = _expander(stem)
    ex_spans = _expander_spans(stem)
    em = None if ex is not None else _emitter(stem)
    toks_out, pos_out, st_out, en_out = [], [], [], []
    for text in _apply_char_filters(texts, char_filters):
        toks, poss, sts, ens = [], [], [], []
        if ex is not None:
            pos = 0
            for m in tok_re.finditer(text):
                t = m.group()
                if len(t) > max_token_length:
                    pos += 1
                    continue
                spans = ex_spans(t)
                if not spans:
                    pos += 1
                    continue
                for part, rs, re_ in spans:
                    toks.append(part)
                    poss.append(pos)
                    sts.append(m.start() + rs)
                    ens.append(m.start() + re_)
                    pos += 1
        else:
            for p, m in enumerate(tok_re.finditer(text)):
                t = m.group()
                if len(t) <= max_token_length:
                    r = em(t) if em else (t.lower() if lower else t)
                    if r is None:  # stop-removed: consumes position only
                        continue
                    toks.append(r)
                    poss.append(p)
                    sts.append(m.start())
                    ens.append(m.end())
        toks_out.append(toks)
        pos_out.append(poss)
        st_out.append(sts)
        en_out.append(ens)
    idx = texts.index
    return (
        pd.Series(toks_out, index=idx),
        pd.Series(pos_out, index=idx),
        pd.Series(st_out, index=idx),
        pd.Series(en_out, index=idx),
    )


def tokenize_series(
    texts: pd.Series,
    max_token_length: int = MAX_TOKEN_LENGTH,
    stem: bool = False,
    char_filters=(),
) -> pd.Series:
    """Vectorized batch tokenization for pandas UDFs (Arrow path)."""
    # str.findall is the pandas-vectorized regex scan; the lowercase +
    # length filter runs on the token lists (tiny vs the regex cost).
    tok_re, lower, max_token_length = _tokenizer_of(stem, max_token_length)
    raw = _apply_char_filters(texts, char_filters).str.findall(tok_re)
    ex = _expander(stem)
    if ex is not None:
        return raw.map(lambda ts: [p for t in ts if len(t) <= max_token_length for p in ex(t)])
    em = _emitter(stem)
    if em:
        return raw.map(
            lambda ts: [
                r for t in ts if len(t) <= max_token_length if (r := em(t)) is not None
            ]
        )
    if not lower:
        return raw.map(lambda ts: [t for t in ts if len(t) <= max_token_length])
    if max_token_length is None:
        return raw.map(lambda ts: [t.lower() for t in ts])
    return raw.map(lambda ts: [t.lower() for t in ts if len(t) <= max_token_length])


def tokenize_pos_series(
    texts: pd.Series,
    max_token_length: int = MAX_TOKEN_LENGTH,
    stem: bool = False,
    char_filters=(),
) -> tuple[pd.Series, pd.Series]:
    """Batch tokenization with Lucene positions (dropped over-length
    tokens still consume a position increment). Returns (tokens,
    positions) Series of equal-length lists."""
    tok_re, lower, max_token_length = _tokenizer_of(stem, max_token_length)
    raw = _apply_char_filters(texts, char_filters).str.findall(tok_re)
    ex = _expander(stem)
    em = None if ex is not None else _emitter(stem)
    toks_out, pos_out = [], []
    for ts in raw:
        toks, poss = [], []
        if ex is not None:
            # 1:N chains: each part consumes one position (first part
            # takes the original token's position, the rest increment —
            # WordDelimiterGraphFilter.java:380-393); a dropped or
            # part-less token still consumes one position
            pos = 0
            for t in ts:
                if len(t) > max_token_length:
                    pos += 1
                    continue
                parts = ex(t)
                if not parts:
                    pos += 1
                    continue
                for part in parts:
                    toks.append(part)
                    poss.append(pos)
                    pos += 1
        else:
            for p, t in enumerate(ts):
                if len(t) <= max_token_length:
                    r = em(t) if em else (t.lower() if lower else t)
                    if r is None:  # stop-removed: consumes position only
                        continue
                    toks.append(r)
                    poss.append(p)
        toks_out.append(toks)
        pos_out.append(poss)
    return pd.Series(toks_out, index=texts.index), pd.Series(pos_out, index=texts.index)
