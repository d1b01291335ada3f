"""Driver-contract queries + DuckDB oracle SQL for the correctness gate.

Each gate query runs the REAL engine (index build via `IndexBuilder`,
search via `Searcher`) over the driver's `documents` testdata table and
returns a small deterministic DataFrame. The paired oracle is a pure
ANSI-SQL (DuckDB) re-derivation of the same result from first
principles: tokenize with the same UAX#29-subset pattern (the corpus is
plain `[a-z0-9]+` text, verified equivalent), rebuild tf/df/norms/stats
relationally, and score BM25 with Lucene's formula (k1=1.2, b=0.75,
SmallFloat-encoded norms decoded through the 256-entry LENGTH_TABLE —
reference: lucene/core/src/java/org/apache/lucene/search/similarities/
BM25Similarity.java:103-252, lucene/core/src/java/org/apache/lucene/
util/SmallFloat.java:103-167).

Scores are float32 in the engine and float64 in SQL; both sides round
to 2 decimals (`score_r`) — rank order and doc ids must match exactly
(rank-identity is the north rule; HitQueue.java:78-84 tie-break).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.codec.smallfloat import NORM_LENGTH_TABLE
from lucene_spark.index.builder import FIELD_SEP, IndexBuilder, IndexConfig
from lucene_spark.index.reader import SearchIndex
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher, TopDocs

ENGINE_VERSION = "v15"  # v15: LatLonShape tessellation columns (double-typed)
TOKEN_SQL = "[a-z0-9]+"
K1, B = 1.2, 0.75

_CACHE: dict[str, tuple[SearchIndex, Searcher]] = {}


# ---- corpus + index --------------------------------------------------------


# Deterministic per-doc triangle for the LatLonShape gates: one
# tessellation triangle per doc (docs with doc_id % 7 == 6 carry no
# shape; docs with doc_id % 7 == 3 cluster in a [-50,-18]x[5,30]
# lon/lat region so fixed query boxes get real selectivity). The SAME
# SQL text runs through Spark (F.expr in corpus_df) and DuckDB (the
# oracle CTE), so every derived double is bit-identical on both sides.
_SHAPE_AX = (
    "CASE WHEN doc_id % 7 = 3 THEN -50.0 + (doc_id * 11 % 200) / 10.0 "
    "ELSE (doc_id * 104729 % 33000) / 100.0 - 170.0 END"
)
_SHAPE_AY = (
    "CASE WHEN doc_id % 7 = 3 THEN 5.0 + (doc_id * 29 % 150) / 10.0 "
    "ELSE (doc_id * 7919 % 16000) / 100.0 - 85.0 END"
)
_SHAPE_BX = (
    "CASE WHEN doc_id % 7 = 3 THEN {ax} + 8.0 + (doc_id * 3 % 40) / 10.0 "
    "ELSE {ax} + ((doc_id * 31 % 40) + 5) / 10.0 END"
)
_SHAPE_BY = (
    "CASE WHEN doc_id % 7 = 3 THEN {ay} + (doc_id * 5 % 20) / 10.0 - 1.0 "
    "ELSE {ay} + ((doc_id * 17 % 30) - 15) / 10.0 END"
)
_SHAPE_CX = (
    "CASE WHEN doc_id % 7 = 3 THEN {ax} + (doc_id * 13 % 60) / 10.0 "
    "ELSE {ax} + ((doc_id * 13 % 25) + 3) / 10.0 END"
)
_SHAPE_CY = (
    "CASE WHEN doc_id % 7 = 3 THEN {ay} + 7.0 + (doc_id * 7 % 30) / 10.0 "
    "ELSE {ay} + ((doc_id * 23 % 35) + 5) / 10.0 END"
)


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → the engine's
    (repo, path, commit, lang, content) input shape, keeping the
    table's own doc_id (deterministic, already dense)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.select(
        F.col("doc_id").cast("long"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("head").alias("commit"),
        F.col("lang"),
        F.col("n_chars").cast("long"),
        # second TOKENIZED field (multi-field indexing): first 6
        # space-words of the text — oracle derives the identical
        # relation with list_slice(string_split(...)) in DuckDB
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 6), " ").alias("title"),
        # deterministic point per doc (LatLonPoint gates); the oracle
        # derives the identical values from doc_id in SQL
        ((F.col("doc_id") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        # deterministic LongRange per doc (RangeFieldQuery gates)
        (F.col("doc_id") * 17 % 50).alias("r_lo"),
        (F.col("doc_id") * 17 % 50 + F.col("doc_id") * 7 % 13).alias("r_hi"),
        ((F.col("doc_id") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
        F.col("text").alias("content"),
    )
    # LatLonShape tessellation columns (x = lon, y = lat); the docs with
    # doc_id % 7 == 6 carry NULLs (no indexed geometry)
    # cast the base coords to DOUBLE up front: Spark's SQL parser types
    # the decimal literals as DECIMAL and would otherwise propagate
    # decimal(30,6) into the stored columns — blocking parquet min-max
    # pushdown of the bbox phase and inserting casts into the exact
    # phase (the values themselves are exact either way; DuckDB runs
    # the same text in float64 natively)
    docs = (
        docs.withColumn("_shax", F.expr(_SHAPE_AX).cast("double"))
        .withColumn("_shay", F.expr(_SHAPE_AY).cast("double"))
        .withColumn("_shbx", F.expr(_SHAPE_BX.format(ax="_shax")))
        .withColumn("_shby", F.expr(_SHAPE_BY.format(ay="_shay")))
        .withColumn("_shcx", F.expr(_SHAPE_CX.format(ax="_shax")))
        .withColumn("_shcy", F.expr(_SHAPE_CY.format(ay="_shay")))
    )
    has = F.col("doc_id") % 7 != 6
    docs = (
        docs.withColumn(
            "shape_tris",
            F.when(
                has,
                F.expr(
                    "array(named_struct('ax', _shax, 'ay', _shay, 'bx', _shbx, 'by', _shby, "
                    "'cx', _shcx, 'cy', _shcy, 'ab', true, 'bc', true, 'ca', true))"
                ),
            ),
        )
        .withColumn("shape_minlat", F.when(has, F.least("_shay", "_shby", "_shcy")))
        .withColumn("shape_maxlat", F.when(has, F.greatest("_shay", "_shby", "_shcy")))
        .withColumn("shape_minlon", F.when(has, F.least("_shax", "_shbx", "_shcx")))
        .withColumn("shape_maxlon", F.when(has, F.greatest("_shax", "_shbx", "_shcx")))
        .drop("_shax", "_shay", "_shbx", "_shby", "_shcx", "_shcy")
    )
    return docs


def gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Build (once per sf_dir per process; reused on disk across
    processes) the gate index. docs_per_chunk=128 makes every common
    term 'hot' at sf>=0.01 so the chunked/salted layout is exercised."""
    key = os.path.abspath(sf_dir)
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gate_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(
            docs_per_chunk=128, term_buckets=4, positions=True, offsets=True,
            extra_fields=("title",), vector_field="embedding", term_vectors=True,
        )
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
            F.col("vec_id").cast("long").alias("doc_id"), "embedding"
        )
        corpus = corpus_df(spark, sf_dir).join(emb, "doc_id", "left")
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def code_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Index with the "code" analyzer (WordDelimiterGraphFilter role)
    over a camelCase-joined derivation of the documents text: initcap
    each word, then join (word, Capitalized-word) pairs. Splitting the
    joined identifiers on case transitions restores EXACTLY the
    standard token stream of the ORIGINAL text (the corpus is pure
    lowercase alpha words — verified at every sf), so the standard
    BM25 SQL oracles (tscore/post CTEs) apply to these queries
    unchanged: the gate proves the 1:N analyzer round-trips through
    the whole index + query pipeline."""
    key = ("code", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatec_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True, analyzer="code")
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content",
            F.regexp_replace(F.initcap(F.col("content")), r"(\w+) ([A-Z][a-z]+)", "$1$2"),
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def multi_gate_index(spark: SparkSession, sf_dir: str):
    """Two half-indexes split at the doc-id midpoint (local 0-based ids
    in each) + a MultiSearcher over them (MultiReader role). Global
    stats sum across leaves and doc ids rebase by cumulative maxDoc, so
    composite hits coincide with the whole-corpus index — the standard
    tscore oracle applies unchanged (IndexSearcher.java:947-962)."""
    from lucene_spark.search.multi import MultiSearcher

    key = ("multi", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    halves = []
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    mid = n_docs // 2
    for i, (lo, hi, shift) in enumerate([(0, mid, 0), (mid, n_docs, mid)]):
        idx_dir = f"/tmp/lucene_spark_gatem_{ENGINE_VERSION}/{name}_{i}"
        if not os.path.exists(f"{idx_dir}/manifest.json"):
            cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True)
            corpus = (
                corpus_df(spark, sf_dir)
                .drop("title")
                .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .withColumn("doc_id", F.col("doc_id") - F.lit(shift))
            )
            IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
        halves.append(SearchIndex(spark, idx_dir))
    _CACHE[key] = MultiSearcher(halves)
    return _CACHE[key]


def ws_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """WhitespaceAnalyzer index over the initcap-ed documents text:
    every token is Capitalized, so case sensitivity is observable.
    initcap is a BIJECTION on the (pure-lowercase-word) corpus tokens —
    tf/df/dl are untouched — so the cased query "Table" must reproduce
    the standard tscore oracle for 'table' exactly."""
    key = ("ws", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatews_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True, analyzer="whitespace")
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content", F.initcap(F.col("content"))
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def _taq_gap_dfa():
    """0 -table-> 1 -hash-> 2(acc); 1 -ANY-> 3 -hash-> 2(acc): exact
    adjacency or one-token gap (TermAutomatonQuery javadoc example
    shape). Built per call — TermDFA is a frozen dataclass, cheap."""
    from lucene_spark.search.automaton import TermAutomatonBuilder

    b = TermAutomatonBuilder()
    s1, s2, s3 = b.create_state(), b.create_state(), b.create_state()
    b.set_accept(s2)
    b.add_transition(0, s1, "table")
    b.add_transition(s1, s2, "hash")
    b.add_any_transition(s1, s3)
    b.add_transition(s3, s2, "hash")
    return b.finish()


def pay_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """DelimitedPayloadTokenFilter index (DelimitedPayloadTokenFilter
    .java:35-70 + FloatEncoder): every token of the corpus is annotated
    "token|<p>" with p = (0-based position % 7) - 1 — a deterministic
    integer payload in [-1, 5] the oracle re-derives from the post CTE
    ((pos-1) % 7 - 1, pos being 1-based there). Stripping the suffix
    restores the raw token stream exactly (whitespace tokens of the
    corpus are the TOKEN_SQL words), so tf/df/dl and the standard
    tscore oracle apply verbatim while the .pay stream carries the
    per-occurrence floats."""
    key = ("pay", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatepay_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(
            docs_per_chunk=128,
            term_buckets=4,
            analyzer="whitespace",
            delimited_payloads="|",
        )
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content",
            F.expr(
                "array_join(transform(split(content, ' '), "
                "(t, i) -> concat(t, '|', cast(pmod(i, 7) - 1 as int))), ' ')"
            ),
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def kw_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """KeywordAnalyzer index (KeywordTokenizer.java:28-40): the whole
    field value is ONE case-preserved token, so the postings space holds
    analyzed keyword terms — equality AND prefix/wildcard run through
    the same term dictionary as any tokenized field. Content =
    source || '-' || upper(lang) ("src13-EN"): StandardAnalyzer would
    split it into two lowercased tokens; keyword semantics keep it
    whole, which the oracle reproduces relationally (tf=1, dl=1)."""
    key = ("kw", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatekw_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, analyzer="keyword")
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content", F.concat(F.col("repo"), F.lit("-"), F.upper(F.col("lang")))
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def ascii_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """ASCIIFolding analyzer over accent-TRANSLATED text (a→á, e→é,
    o→ö): folding restores the original token stream exactly (the
    accented letters are still Unicode letters, so token boundaries
    never move), which makes the standard tscore oracle apply verbatim
    — the bijection proof pattern of the code/whitespace gates.
    Reference: ASCIIFoldingFilter.java:60-80."""
    key = ("ascii", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gateascii_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, analyzer="ascii")
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content", F.translate(F.col("content"), "aeo", "áéö")
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def icu_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """ICUNormalizer2Filter (nfkc_cf) analyzer over fullwidth-UPPERCASE
    translated text: every [a-z0-9] becomes its fullwidth uppercase
    form (Ａ-Ｚ／０-９ — still Unicode letters/digits, so token
    boundaries never move) and NFKC + case folding restores the
    original token stream exactly → the standard tscore oracle applies
    verbatim (the ascii-gate bijection pattern, exercising BOTH the
    compatibility-normalization and case-folding legs). Reference:
    ICUNormalizer2Filter.java defaults."""
    key = ("icu", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gateicu_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, analyzer="icu")
        src = "abcdefghijklmnopqrstuvwxyz0123456789"
        dst = "".join(chr(0xFF21 + i) for i in range(26)) + "".join(
            chr(0xFF10 + i) for i in range(10)
        )
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content", F.translate(F.col("content"), src, dst)
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


_CJK_TR = str.maketrans(
    # a-z → katakana; 0-9 → fullwidth digits (still one CJK run);
    # '_' / "'" (ExtendNumLet / joiner chars the engine keeps inside
    # tokens) → kanji so such tokens stay single runs too. The 間
    # marker is outside this alphabet, keeping the word code
    # prefix-free; the build-time bijection check fails loudly on any
    # future token shape this table does not cover.
    "abcdefghijklmnopqrstuvwxyz0123456789_'",
    "アイウエオカキクケコサシスセソタチツテトナニヌネノハ０１２３４５６７８９下之",
)

_KO_TR = str.maketrans(
    # a-z + 0-9 + _' → distinct hangul syllables; the 힣 marker is
    # outside this alphabet, keeping the word code prefix-free (the
    # _CJK_TR pattern). Digits must map to HANGUL (not stay digits) or
    # the lattice would cut SN arcs mid-word and break the bijection.
    "abcdefghijklmnopqrstuvwxyz0123456789_'",
    "가나다라마바사아자차카타파하거너더러머버서어저처커터퍼허고노도로모보소오조초",
)

_ZH_TR = str.maketrans(
    # a-z + 0-9 + _' → distinct hanzi DISJOINT from every fixture
    # word's characters (no system arc can cross a word code); the 齉
    # marker keeps the code prefix-free (the _CJK_TR/_KO_TR pattern)
    "abcdefghijklmnopqrstuvwxyz0123456789_'",
    "山水火木金土石田口目耳手足车马鱼鸟花草竹米贝言虫雨云风空海门户瓦甘玉白皮豆走",
)

# analyzer → (word-code translation, prefix-free marker, script name)
_SEGMENTED = {
    "cjk": (_CJK_TR, "間", "katakana"),
    "ko": (_KO_TR, "힣", "hangul"),
    "zh": (_ZH_TR, "齉", "hanzi"),
}


def _seg_term(lang: str, word: str) -> str:
    tr, marker, _script = _SEGMENTED[lang]
    return word.translate(tr) + marker


def _seg_words(lang: str, text: str) -> list[str]:
    """One doc's engine token stream as ``lang`` word codes — shared by
    the corpus transform, the vocabulary derivation, and the
    build-time bijection check."""
    from lucene_spark.analysis import tokenize

    return [_seg_term(lang, w) for w in tokenize(text or "")]


def _segmented_gate_index(
    spark: SparkSession, sf_dir: str, lang: str
) -> tuple[SearchIndex, Searcher]:
    """The bijection construction shared by the ja / ko / zh segmenter
    gates: every standard token of the corpus translates to a
    prefix-free word code in ``lang``'s script, and the codes
    concatenate into ≤250-char unspaced runs. With the translated
    vocabulary as the user dictionary (UserDictionary role) the lattice
    recovers EXACTLY the original token boundaries, so the token stream
    bijects to the standard stream and the tscore/post oracles apply
    verbatim (the code/ascii gate pattern)."""
    key = (lang, os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    from pyspark.sql.functions import pandas_udf

    from lucene_spark.analysis.tokenizer import _expander

    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gate{lang}_{ENGINE_VERSION}/{name}"

    @pandas_udf("string")
    def _segify(texts):
        import pandas as pd

        out = []
        for t in texts:
            lines: list[str] = []
            cur: list[str] = []
            ln = 0
            for w in _seg_words(lang, t):
                if ln + len(w) > 250 and cur:
                    lines.append("".join(cur))
                    cur, ln = [], 0
                cur.append(w)
                ln += len(w)
            if cur:
                lines.append("".join(cur))
            out.append(" ".join(lines))
        return pd.Series(out)

    if not os.path.exists(f"{idx_dir}/manifest.json"):
        base = corpus_df(spark, sf_dir).drop("title")

        # vocabulary through the ENGINE tokenizer (the same stream
        # _segify translates — an SQL-regexp vocab could disagree on
        # joiner/ExtendNumLet tokens and leave dictionary holes)
        @pandas_udf("array<string>")
        def _tok(texts):
            import pandas as pd

            return pd.Series([_seg_words(lang, t) for t in texts])

        vocab = sorted(
            {
                r["w"]
                for r in base.select(
                    F.explode(_tok(F.col("content"))).alias("w")
                ).distinct().collect()
            }
        )
        analyzer = f"{lang}:" + ",".join(vocab)
        cfg = IndexConfig(
            docs_per_chunk=128, term_buckets=4, positions=True, analyzer=analyzer
        )
        corpus = base.withColumn("content", _segify(F.col("content")))
        # bijection guard: the segmented stream must recover EXACTLY
        # the standard token counts per doc (the prefix-free marker
        # makes this hold by construction; fail LOUDLY if the corpus
        # ever grows token shapes that break the translation instead
        # of letting scores drift from the oracle)
        seg = _expander(analyzer)

        @pandas_udf("boolean")
        def _bijects(orig, segmented):
            import pandas as pd

            out = []
            for o, c in zip(orig, segmented):
                got = [p for tok in (c or "").split(" ") for p in seg(tok)]
                out.append(got == _seg_words(lang, o))
            return pd.Series(out)

        chk = (
            base.select("doc_id", F.col("content").alias("_orig"))
            .join(corpus.select("doc_id", "content"), "doc_id")
            .filter(~_bijects(F.col("_orig"), F.col("content")))
            .count()
        )
        if chk:
            raise AssertionError(
                f"{lang} gate bijection broken for {chk} docs — the corpus grew "
                f"token shapes the {_SEGMENTED[lang][2]} translation does not cover"
            )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def cjk_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """kuromoji-role "cjk" analyzer gate: a→ア … z→ハ word codes with a
    trailing 間 marker (間 is outside the katakana alphabet), through
    :func:`_segmented_gate_index`. Reference:
    JapaneseTokenizer.java:60-120, dict/UserDictionary.java."""
    return _segmented_gate_index(spark, sf_dir, "cjk")


def zh_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """smartcn-role "zh" analyzer gate: prefix-free hanzi word codes on
    the HHMM-role lattice, through :func:`_segmented_gate_index`.
    Segmentation-semantics parity is pinned separately in
    tests/test_chinese.py; this gate proves the ANALYZER INTEGRATION
    (tokenizer stage, expander, positions)."""
    return _segmented_gate_index(spark, sf_dir, "zh")


def ko_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """nori-role "ko" analyzer gate: prefix-free hangul word codes
    (marker 힣), through :func:`_segmented_gate_index`. Reference:
    KoreanTokenizer.java:61-70, TestKoreanTokenizer.java goldens
    (segmentation parity is pinned separately in tests/test_korean.py;
    this gate proves the ANALYZER INTEGRATION — tokenizer stage,
    expander hook, positions — against the DuckDB oracle)."""
    return _segmented_gate_index(spark, sf_dir, "ko")


def html_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """html_strip char filter over tag-wrapped text: tags blank to
    spaces and the trailing &nbsp; decodes to a non-token char, so the
    token stream equals the raw corpus exactly → tscore oracle
    verbatim. Reference: HTMLStripCharFilter.java."""
    key = ("html", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatehtml_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, char_filters=("html_strip",))
        corpus = corpus_df(spark, sf_dir).drop("title").withColumn(
            "content",
            F.concat(F.lit('<p class="doc">'), F.col("content"), F.lit("</p>&nbsp;")),
        )
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def edgegram_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Edge-ngram index (EdgeNGramTokenFilter.java:25-60, 1..4 grams,
    stacked posInc 0): search-as-you-type prefixes are first-class
    postings. Statistics: norms stay the unigram dl (every token emits
    >=1 gram at min_gram=1), sum_ttf = Σ min(len(token), 4)."""
    key = ("eg", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gateeg_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, edge_ngrams=(1, 4))
        IndexBuilder(spark, cfg).build(
            corpus_df(spark, sf_dir).drop("title"), idx_dir, assign_ids=False
        )
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def synstack_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Index-time synonym index (SynonymGraphFilter.java:221-280 +
    FlattenGraphFilter, SynonymMap expand=true): the set {table, hash}
    — every occurrence of either term also indexes the other, stacked
    at posInc 0. Querying either member sees the UNION postings:
    tf = tf(table)+tf(hash), df = docs containing either, avgdl grows
    by one stacked copy per occurrence, norms discount the stack."""
    key = ("sy", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatesy_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, synonyms=(("table", "hash"),))
        IndexBuilder(spark, cfg).build(
            corpus_df(spark, sf_dir).drop("title"), idx_dir, assign_ids=False
        )
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def shingle_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Bigram-shingled index (ShingleFilter.java:30-120, min=max=2,
    outputUnigrams=true): shingles are first-class postings stacked at
    posInc 0. Statistics split like the reference: norms discount the
    stack (unigram dl), sum_ttf counts every posting — the oracle
    rebuilds both relationally (the corpus has no >255-char tokens, so
    positions are dense and shingle count per doc = dl - 1)."""
    key = ("sh", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatesh_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, shingles=(2, 2))
        IndexBuilder(spark, cfg).build(
            corpus_df(spark, sf_dir).drop("title"), idx_dir, assign_ids=False
        )
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def dv_gate_index(spark: SparkSession, sf_dir: str) -> SearchIndex:
    """Index with a staged numeric doc-values update generation
    (IndexWriter.updateNumericDocValue role): every doc_id % 10 == 0
    gets n_chars := -doc_id via the merge-on-read sidecar — postings
    and norms untouched. Oracle: a CASE over the documents relation."""
    key = ("dv", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    from lucene_spark.index.dvupdates import update_numeric_doc_values

    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gated_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4)
        IndexBuilder(spark, cfg).build(corpus_df(spark, sf_dir).drop("title"), idx_dir, assign_ids=False)
    if not os.path.exists(f"{idx_dir}/dv_updates"):
        n = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
        update_numeric_doc_values(
            spark, idx_dir, "n_chars", {d: float(-d) for d in range(0, n, 10)}
        )
    _CACHE[key] = SearchIndex(spark, idx_dir)
    return _CACHE[key]


def addindexes_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Index produced by IndexWriter.addIndexes (CodecReader variant,
    IndexWriter.java:3137): the corpus is built as TWO independent
    half-indexes (the upper half 0-based, as an unrelated index would
    be), then merged with doc-id rebasing and NO re-analysis
    (index/addindexes.py decodes packed postings back to the inverted
    relation). The merged doc ids equal the source table's, and the
    merge re-runs the builder's global aggregation, so the standard
    BM25/phrase oracles apply verbatim."""
    key = ("addix", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gateadd_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        import shutil

        from lucene_spark.index.addindexes import add_indexes

        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True)
        corpus = corpus_df(spark, sf_dir).drop("title")
        cut = corpus.count() // 2
        a, b = idx_dir + "_half_a", idx_dir + "_half_b"
        IndexBuilder(spark, cfg).build(
            corpus.filter(F.col("doc_id") < cut), a, assign_ids=False
        )
        IndexBuilder(spark, cfg).build(
            corpus.filter(F.col("doc_id") >= cut).withColumn(
                "doc_id", F.col("doc_id") - cut
            ),
            b,
            assign_ids=False,
        )
        add_indexes(spark, a, [b], out_dir=idx_dir)
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def addcopy_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Like :func:`addindexes_gate_index` but via the Directory-variant
    tier append (``mode='copy'``, IndexWriter.java:2954): map-only
    doc-id re-encode, no term shuffle. The cut sits on a chunk
    boundary, so the rebased ids equal the source table's and the
    standard oracles apply."""
    key = ("addcopy", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gateaddc_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        import shutil

        from lucene_spark.index.addindexes import add_indexes

        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True)
        corpus = corpus_df(spark, sf_dir).drop("title")
        cut = (corpus.count() // 2 // 128) * 128
        a = idx_dir + "_half_a"
        b = idx_dir + "_half_b"
        IndexBuilder(spark, cfg).build(
            corpus.filter(F.col("doc_id") < cut), a, assign_ids=False
        )
        IndexBuilder(spark, cfg).build(
            corpus.filter(F.col("doc_id") >= cut).withColumn(
                "doc_id", F.col("doc_id") - cut
            ),
            b,
            assign_ids=False,
        )
        add_indexes(spark, a, [b], out_dir=idx_dir, mode="copy")
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


def sorted_gate_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Index-sorted gate index (IndexWriterConfig.setIndexSort role):
    doc ids assigned by (n_chars DESC, src doc_id ASC), so sorted
    search early-terminates. The table's own doc_id rides along as the
    stored field ``src_id`` for oracle comparison."""
    key = ("sorted", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gates_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(
            docs_per_chunk=128,
            term_buckets=4,
            positions=True,
            index_sort=("-n_chars", "src_id"),
        )
        corpus = corpus_df(spark, sf_dir).withColumnRenamed("doc_id", "src_id").drop("title")
        IndexBuilder(spark, cfg).build(corpus, idx_dir)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


_UPDATED_TEXT = "vector table vector merge vector"


def writer_index(spark: SparkSession, sf_dir: str) -> tuple[SearchIndex, Searcher]:
    """Incremental-write-path index (IndexWriter): stage the corpus as
    two add batches, updateDocument the doc-0 row to ``_UPDATED_TEXT``,
    commit with expunge — so search + stats reflect the updated corpus
    exactly (oracle: same scoring over a CASE-updated documents
    relation). Cached on disk like the main gate index."""
    key = ("writer", os.path.abspath(sf_dir))
    if key in _CACHE:
        return _CACHE[key]
    from lucene_spark.index.writer import IndexWriter

    name = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/lucene_spark_gatew_{ENGINE_VERSION}/{name}"
    if not os.path.exists(f"{idx_dir}/manifest.json"):
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=4, positions=True, offsets=True)
        corpus = corpus_df(spark, sf_dir).drop("n_chars")
        w = IndexWriter(spark, idx_dir, cfg)
        w.add_documents(corpus.filter(F.col("doc_id") % 2 == 0).drop("doc_id"))
        w.add_documents(corpus.filter(F.col("doc_id") % 2 == 1).drop("doc_id"))
        row0 = corpus.filter(F.col("doc_id") == 0).first()
        upd = spark.createDataFrame(
            [(row0["repo"], row0["path"], row0["commit"], row0["lang"], _UPDATED_TEXT)],
            "repo string, path string, commit string, lang string, content string",
        )
        w.update_documents(upd, key_cols=("repo", "path", "commit"))
        w.commit(expunge_deletes=True)
    index = SearchIndex(spark, idx_dir)
    _CACHE[key] = (index, Searcher(index))
    return _CACHE[key]


# ---- result shaping --------------------------------------------------------


def _round2(x: float) -> float:
    # round-half-away at 2dp; margins are asserted far from boundaries
    # by tests/check_gate, so any sane rounding agrees with DuckDB's.
    import math

    return math.floor(x * 100.0 + 0.5) / 100.0 if x >= 0 else -math.floor(-x * 100.0 + 0.5) / 100.0


def _round4(x: float) -> float:
    import math

    return math.floor(x * 1e4 + 0.5) / 1e4 if x >= 0 else -math.floor(-x * 1e4 + 0.5) / 1e4


def _hits_df(spark: SparkSession, td: TopDocs) -> DataFrame:
    rows = [(i + 1, int(d), _round2(float(s))) for i, (d, s) in enumerate(td.hits)]
    return spark.createDataFrame(rows, "rank bigint, doc_id bigint, score_r double")


def _ids_df(spark: SparkSession, td: TopDocs) -> DataFrame:
    rows = sorted((int(d),) for d, _ in td.hits)
    return spark.createDataFrame(rows, "doc_id bigint")


# ---- oracle SQL scaffold ---------------------------------------------------


def base_ctes(doc_rel: str = "documents") -> str:
    """``doc_rel``: the (doc_id, text, ...) relation to derive
    everything from — default the raw table; pass a derived relation
    (e.g. with a CASE-updated text) to oracle write-path operations."""
    dvals = ",".join(f"({b},{int(v)})" for b, v in enumerate(NORM_LENGTH_TABLE))
    return f"""WITH dtab(b, v) AS (VALUES {dvals}),
toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_SQL}')) AS term FROM {doc_rel}),
post AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos
         FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_SQL}') AS l FROM {doc_rel})),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
norms AS (SELECT dl.doc_id, dl.dl, max(d.b)::BIGINT AS norm, max(d.v)::BIGINT AS dlen
          FROM dl JOIN dtab d ON d.v <= dl.dl GROUP BY dl.doc_id, dl.dl),
stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sum_ttf,
          sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
dfr AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ttf FROM tf GROUP BY term),
idfw AS (SELECT term, df, ttf,
         ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)) AS w FROM dfr),
tscore AS (SELECT f.doc_id, f.term,
    i.w - i.w / (1 + f.tf * (1.0 / ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM stats))))) AS s
    FROM tf f JOIN idfw i USING (term) JOIN norms n USING (doc_id)),
ttl AS (SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS t FROM {doc_rel}),
ttoks AS (SELECT doc_id, unnest(regexp_extract_all(lower(t), '{TOKEN_SQL}')) AS term FROM ttl),
tdl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM ttoks GROUP BY doc_id),
tnorms AS (SELECT tdl.doc_id, max(d.v)::BIGINT AS dlen FROM tdl JOIN dtab d ON d.v <= tdl.dl GROUP BY tdl.doc_id),
tlstats AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM tdl),
tltf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM ttoks GROUP BY doc_id, term),
tlidfw AS (SELECT term, count(*)::BIGINT AS df,
           ln(1 + ((SELECT n FROM tlstats) - count(*) + 0.5) / (count(*) + 0.5)) AS w FROM tltf GROUP BY term),
tlscore AS (SELECT f.doc_id, f.term,
    i.w - i.w / (1 + f.tf * (1.0 / ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM tlstats))))) AS s
    FROM tltf f JOIN tlidfw i USING (term) JOIN tnorms n USING (doc_id))"""


def topk_sql(score_cte: str, k: int = 10) -> str:
    # Rank ordering quantizes the float64 oracle score to FLOAT32 — the
    # precision the ENGINE compares at. Two docs whose scores are
    # mathematically equal can come out of DuckDB's parallel SUM with
    # last-ulp float64 noise in a thread-scheduling-dependent order;
    # the engine sees exactly-equal f32 scores and tie-breaks by
    # doc_id. Casting the sort key to REAL collapses that noise so the
    # oracle tie-breaks identically, making the rank column
    # deterministic run-to-run. score_r stays the f64 2dp round.
    return (
        f"{base_ctes()}, q AS ({score_cte}) "
        f"SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        f"doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT {k}"
    )


def ids_sql(pred_cte: str) -> str:
    return f"{base_ctes()} SELECT DISTINCT doc_id FROM ({pred_cte}) ORDER BY doc_id"


_INV = f"(1.0 / ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM stats))))"


# ---- gate query definitions ------------------------------------------------

ALL_K = 1_000_000  # "collect every match" for constant-score id queries


def _search(spark, sf_dir, query: A.Query, k: int = 10, mode: str = "driver") -> TopDocs:
    _, searcher = gate_index(spark, sf_dir)
    return searcher.search(query, k=k, mode=mode)


def _sim_search(
    spark, sf_dir, model: str, query: A.Query, k: int = 10, mode: str = "driver"
) -> TopDocs:
    """Search under a non-default Similarity (IndexSearcher.setSimilarity)."""
    index, _ = gate_index(spark, sf_dir)
    return Searcher(index, similarity=model).search(query, k=k, mode=mode)


def queries() -> dict:
    Q: dict = {}

    # -- scored top-k (BM25 rank identity) --
    Q["ft_term_top10"] = lambda spark, sf: _hits_df(spark, _search(spark, sf, A.TermQuery("table")))
    # pluggable Similarity models (ClassicSimilarity.java, BooleanSimilarity.java,
    # LMDirichletSimilarity.java) over the same index/norms
    Q["ft_classic_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "classic", A.TermQuery("table"))
    )
    # "code" analyzer (WordDelimiterGraphFilter): same scores as the
    # standard index over the original text — the camel join is
    # inverted by the splitter (round-trip proof, see code_gate_index)
    Q["ft_code_top10"] = lambda spark, sf: _hits_df(
        spark, code_gate_index(spark, sf)[1].search("table", k=10)
    )
    # MultiReader: two half-indexes, summed stats, rebased doc ids —
    # must equal the single-index tscore oracle exactly
    Q["ft_multi_top10"] = lambda spark, sf: _hits_df(
        spark, multi_gate_index(spark, sf).search("table OR merge", k=10)
    )
    # distributed composite: one composite Weight runs each leaf's
    # chunk-parallel plan, TopDocs.merge — same oracle as driver mode
    Q["ft_multi_dist_top10"] = lambda spark, sf: _hits_df(
        spark, multi_gate_index(spark, sf).search("table OR merge", k=10, mode="distributed")
    )
    # WhitespaceAnalyzer: cased term over the initcap-ed corpus — the
    # token bijection means the standard tscore oracle applies verbatim
    Q["ft_ws_top10"] = lambda spark, sf: _hits_df(
        spark, ws_gate_index(spark, sf)[1].search("Table", k=10)
    )
    # PayloadScoreQuery over the delimited-payload index: BM25 span
    # score × SumPayloadFunction over 'table' occurrence payloads
    # (PayloadScoreQuery.java:43-95; negative sums truncate to 0)
    Q["ft_payload_sum_top10"] = lambda spark, sf: _hits_df(
        spark,
        pay_gate_index(spark, sf)[1].search(
            A.PayloadScoreQuery(A.TermQuery("table"), function="sum"), k=10
        ),
    )
    # MaxPayloadFunction as the WHOLE score (includeSpanScore=false)
    Q["ft_payload_max_top10"] = lambda spark, sf: _hits_df(
        spark,
        pay_gate_index(spark, sf)[1].search(
            A.PayloadScoreQuery(
                A.TermQuery("table"), function="max", include_span_score=False
            ),
            k=10,
        ),
    )
    # exact ordered phrase span: payloads of BOTH slots of every
    # "table hash" adjacency feed the sum
    Q["ft_payload_phrase_top10"] = lambda spark, sf: _hits_df(
        spark,
        pay_gate_index(spark, sf)[1].search(
            A.PayloadScoreQuery(A.PhraseQuery(("table", "hash")), function="sum"), k=10
        ),
    )
    # SpanPayloadCheckQuery: only occurrences whose payload == 3 match
    # (SpanPayloadCheckQuery.java:47-90, MatchOperation.EQ)
    Q["ft_payloadcheck_ids"] = lambda spark, sf: _ids_df(
        spark,
        pay_gate_index(spark, sf)[1].search(
            A.SpanPayloadCheckQuery(A.TermQuery("table"), payloads=(3.0,)), k=10**9
        ),
    )
    # distributed twin: the payload stream rides the per-chunk blobs
    Q["ft_dist_payload_sum_top10"] = lambda spark, sf: _hits_df(
        spark,
        pay_gate_index(spark, sf)[1].search(
            A.PayloadScoreQuery(A.TermQuery("table"), function="sum"),
            k=10,
            mode="distributed",
        ),
    )
    # Multi-word (graph) query-time synonyms: analyzeGraphBoolean —
    # term "table" with alternative "hash merge" → SHOULD(TermQuery,
    # auto-generated PhraseQuery); scores SUM over matching clauses
    def _graphsyn_term(spark, sf):
        from lucene_spark.analysis.synonyms import SynonymMap, expand_synonyms

        q = expand_synonyms(A.TermQuery("table"), SynonymMap([("table", "hash merge")]))
        return _hits_df(spark, gate_index(spark, sf)[1].search(q, k=10))

    Q["ft_graphsyn_top10"] = _graphsyn_term

    # analyzeGraphPhrase: phrase "table hash" where "hash" ≡ "merge
    # sort" → SHOULD of one PhraseQuery per finite path
    def _graphsyn_phrase(spark, sf):
        from lucene_spark.analysis.synonyms import SynonymMap, expand_synonyms

        q = expand_synonyms(
            A.PhraseQuery(("table", "hash")), SynonymMap([("hash", "merge sort")])
        )
        return _hits_df(spark, gate_index(spark, sf)[1].search(q, k=10))

    Q["ft_graphsyn_phrase_top10"] = _graphsyn_phrase

    # distributed twins: the graph-expanded SHOULD booleans run the
    # chunked leaf-parallel path bit-identically
    def _graphsyn_dist(spark, sf):
        from lucene_spark.analysis.synonyms import SynonymMap, expand_synonyms

        q = expand_synonyms(A.TermQuery("table"), SynonymMap([("table", "hash merge")]))
        return _hits_df(spark, gate_index(spark, sf)[1].search(q, k=10, mode="distributed"))

    Q["ft_dist_graphsyn_top10"] = _graphsyn_dist
    # MultiRangeQuery (sandbox): OR of point ranges over one field in
    # ONE scan (single Catalyst OR-of-BETWEEN predicate)
    Q["ft_multirange_ids"] = lambda spark, sf: _ids_df(
        spark,
        gate_index(spark, sf)[1].search(
            A.ConstantScoreQuery(
                A.MultiRangeQuery("n_chars", ((None, 400), (800, 1200), (3000, None)))
            ),
            k=10**9,
        ),
    )
    # TermAutomatonQuery (sandbox): "table hash" | "table ANY hash" —
    # an automaton that does NOT rewrite to a phrase (ANY arc). freq
    # follows TermAutomatonScorer.countMatches' observable counts:
    # adjacency arrivals + dist-2 span arrivals, where a dist-2 span
    # whose gap token is itself a query term arrives TWICE (the sweep
    # starts AT lastPos, so token positions get both the det term step
    # and a separate any-symbol step; PosState.add never dedups)
    Q["ft_automaton_top10"] = lambda spark, sf: _hits_df(
        spark, gate_index(spark, sf)[1].search(A.TermAutomatonQuery(_taq_gap_dfa()), k=10)
    )
    Q["ft_dist_automaton_top10"] = lambda spark, sf: _hits_df(
        spark,
        gate_index(spark, sf)[1].search(
            A.TermAutomatonQuery(_taq_gap_dfa()), k=10, mode="distributed"
        ),
    )
    # ASCIIFolding: accented index + accented QUERY term both fold to
    # the standard stream (query-side analysis through the same chain)
    Q["ft_ascii_top10"] = lambda spark, sf: _hits_df(
        spark, ascii_gate_index(spark, sf)[1].search("táblé", k=10)
    )
    # ICU nfkc_cf: the fullwidth-UPPERCASE query term normalizes to
    # 'table' through the same chain (width compat + case folding)
    Q["ft_icu_top10"] = lambda spark, sf: _hits_df(
        spark, icu_gate_index(spark, sf)[1].search("ＴＡＢＬＥ", k=10)
    )
    # kuromoji-role segmentation: the translated corpus (see
    # cjk_gate_index) bijects to the standard stream, so BM25 over the
    # segmented index equals the standard oracle; the phrase gate
    # additionally proves segmented POSITIONS (adjacency survives the
    # lattice cuts)
    Q["ft_cjk_top10"] = lambda spark, sf: _hits_df(
        spark, cjk_gate_index(spark, sf)[1].search(A.TermQuery(_seg_term("cjk", "table")), k=10)
    )
    Q["ft_cjk_phrase_top10"] = lambda spark, sf: _hits_df(
        spark,
        cjk_gate_index(spark, sf)[1].search(
            A.PhraseQuery((_seg_term("cjk", "table"), _seg_term("cjk", "hash"))), k=10
        ),
    )
    # nori-role segmentation: hangul-translated corpus bijects to the
    # standard stream (see ko_gate_index); the phrase gate proves
    # segmented POSITIONS through the Korean lattice
    Q["ft_ko_top10"] = lambda spark, sf: _hits_df(
        spark, ko_gate_index(spark, sf)[1].search(A.TermQuery(_seg_term("ko", "table")), k=10)
    )
    Q["ft_ko_phrase_top10"] = lambda spark, sf: _hits_df(
        spark,
        ko_gate_index(spark, sf)[1].search(
            A.PhraseQuery((_seg_term("ko", "table"), _seg_term("ko", "hash"))), k=10
        ),
    )
    # smartcn-role segmentation, same bijection proof
    Q["ft_zh_top10"] = lambda spark, sf: _hits_df(
        spark, zh_gate_index(spark, sf)[1].search(A.TermQuery(_seg_term("zh", "table")), k=10)
    )
    Q["ft_zh_phrase_top10"] = lambda spark, sf: _hits_df(
        spark,
        zh_gate_index(spark, sf)[1].search(
            A.PhraseQuery((_seg_term("zh", "table"), _seg_term("zh", "hash"))), k=10
        ),
    )
    # html_strip char filter: tag-wrapped corpus tokenizes identically
    Q["ft_html_top10"] = lambda spark, sf: _hits_df(
        spark, html_gate_index(spark, sf)[1].search("table", k=10)
    )
    # bigram shingles as first-class postings: the shingle term scores
    # BM25 with tf = adjacency count, discounted norms, stacked sum_ttf
    Q["ft_shingle_top10"] = lambda spark, sf: _hits_df(
        spark, shingle_gate_index(spark, sf)[1].search(A.TermQuery("table hash"), k=10)
    )
    # index-time synonyms {table, hash}: querying one member scores the
    # union postings (tf summed, df union, avgdl counts stacked copies)
    Q["ft_synstack_top10"] = lambda spark, sf: _hits_df(
        spark, synstack_gate_index(spark, sf)[1].search(A.TermQuery("hash"), k=10)
    )
    # phrase over the synonym index: both slots expand to the set, so
    # '"table hash"' counts every adjacency of set members
    Q["ft_synstack_phrase_top10"] = lambda spark, sf: _hits_df(
        spark, synstack_gate_index(spark, sf)[1].search(A.PhraseQuery(("table", "hash")), k=10)
    )
    # distributed twins (same oracles): stacked postings are plain
    # postings to the chunk-parallel path
    Q["ft_dist_synstack_top10"] = lambda spark, sf: _hits_df(
        spark, synstack_gate_index(spark, sf)[1].search(A.TermQuery("hash"), k=10, mode="distributed")
    )
    Q["ft_dist_synstack_phrase_top10"] = lambda spark, sf: _hits_df(
        spark,
        synstack_gate_index(spark, sf)[1].search(
            A.PhraseQuery(("table", "hash")), k=10, mode="distributed"
        ),
    )
    # edge-ngram postings: the prefix gram 'tab' scores BM25 with
    # tf = count of tokens with that prefix (len >= 3)
    Q["ft_edgegram_top10"] = lambda spark, sf: _hits_df(
        spark, edgegram_gate_index(spark, sf)[1].search(A.TermQuery("tab"), k=10)
    )
    # KeywordAnalyzer: whole value = one case-preserved term; equality
    # and prefix both resolve through the postings term dictionary
    Q["ft_kw_term_top10"] = lambda spark, sf: _hits_df(
        spark, kw_gate_index(spark, sf)[1].search(A.TermQuery("src13-EN"), k=10)
    )
    Q["ft_kw_prefix_ids"] = lambda spark, sf: _ids_df(
        spark, kw_gate_index(spark, sf)[1].search(A.PrefixQuery("src1"), k=ALL_K)
    )
    # LatLonPoint geo queries over the docs table's lat/lon columns
    Q["ft_geobox_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(spark, sf, A.GeoBoxQuery("lat", "lon", -30.0, 45.0, -90.0, 60.0), k=ALL_K),
    )
    Q["ft_geodist_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(spark, sf, A.GeoDistanceQuery("lat", "lon", 10.0, 20.0, 4_000_000.0), k=ALL_K),
    )

    def _geosort(spark, sf):
        from lucene_spark.search.geo import nearest

        _, searcher = gate_index(spark, sf)
        return nearest(searcher, "table", 48.8, 2.3, k=5).select(
            F.col("doc_id").cast("long"), F.round("distance_m", 1).alias("dist_r")
        )

    Q["ft_geosort_top5"] = _geosort
    # spatial3d role: GeoStandardCircle membership (cutoffAngle =
    # radius / PlanetModel.meanRadius) and GeoConvexPolygon plane
    # sidedness — both pure Catalyst trig predicates
    Q["ft_geo3d_circle_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf,
            A.BooleanQuery((
                (A.Occur.MUST, A.MatchAllDocsQuery()),
                (A.Occur.FILTER, A.Geo3DDistanceQuery("lat", "lon", 10.0, 20.0, 4_000_000.0, model="wgs84")),
            )),
            k=ALL_K,
        ),
    )
    _G3D_RING = ((0.001, 0.001), (0.001, 40.001), (35.001, 40.001), (35.001, 0.001))
    Q["ft_geo3d_poly_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf,
            A.BooleanQuery((
                (A.Occur.MUST, A.MatchAllDocsQuery()),
                (A.Occur.FILTER, A.Geo3DPolygonQuery("lat", "lon", _G3D_RING)),
            )),
            k=ALL_K,
        ),
    )
    # LatLonPoint.newPolygonQuery: pentagon shell with a triangular hole
    _POLY_SHELL = ((-10.001, -50.001), (40.001, -60.001), (55.001, 10.001), (20.001, 60.001), (-30.001, 20.001))
    _POLY_HOLE = ((0.001, -20.001), (15.001, -25.001), (10.001, 5.001))
    Q["ft_geopoly_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf, A.GeoPolygonQuery("lat", "lon", _POLY_SHELL, (_POLY_HOLE,)), k=ALL_K
        ),
    )
    # LatLonShape doc-geometry queries (tessellated triangles on the
    # docs table; search/shapes.py): box relations + a triangle-polygon
    # intersects, every one oracled by re-deriving the fixture triangle
    # and the closed-geometry predicates in SQL
    Q["ft_shape_intersects_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(spark, sf, A.ShapeBoxQuery("shape", 8.0, 18.0, -45.0, -35.0), k=ALL_K),
    )
    Q["ft_shape_within_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf,
            A.ShapeBoxQuery("shape", 0.0, 32.0, -55.0, -25.0, relation="within"),
            k=ALL_K,
        ),
    )
    Q["ft_shape_disjoint_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf,
            A.ShapeBoxQuery("shape", 8.0, 18.0, -45.0, -35.0, relation="disjoint"),
            k=ALL_K,
        ),
    )
    Q["ft_shape_contains_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark, sf,
            A.ShapeBoxQuery("shape", 12.0, 13.0, -40.0, -39.0, relation="contains"),
            k=ALL_K,
        ),
    )
    _SHAPE_QPOLY = ((8.0, -46.0), (22.0, -38.0), (6.0, -30.0))
    Q["ft_shape_poly_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(spark, sf, A.ShapePolygonQuery("shape", _SHAPE_QPOLY), k=ALL_K),
    )
    Q["ft_shape_point_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(spark, sf, A.ShapePointQuery("shape", 14.0, -41.0), k=ALL_K),
    )
    Q["ft_dist_shape_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.FILTER, A.ShapeBoxQuery("shape", 8.0, 18.0, -45.0, -35.0)),
                )
            ),
            mode="distributed",
        ),
    )
    # distributed twins: the lazy PredSpec path for the polygon filter
    # and the chunked scoring path for the blended-fuzzy rewrite must
    # hash-match the same oracles as their driver-mode originals
    Q["ft_dist_geopoly_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark,
            sf,
            A.GeoPolygonQuery("lat", "lon", _POLY_SHELL, (_POLY_HOLE,)),
            k=ALL_K,
            mode="distributed",
        ),
    )
    Q["ft_dist_fuzzyscored_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.FuzzyQuery("tale", max_edits=2, rewrite="blended_freq", transpositions=False),
            mode="distributed",
        ),
    )
    # FuzzyQuery under the REFERENCE's default scored rewrite
    # (TopTermsBlendedFreqScoringRewrite): per-term boost by edit
    # distance, df blended to the max over the expansion set
    Q["ft_fuzzyscored_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.FuzzyQuery("tale", max_edits=2, rewrite="blended_freq", transpositions=False))
    )
    # FeatureField.newSaturationQuery as a SHOULD clause next to BM25
    # (the reference javadoc's pagerank-boost pattern); weight=1.5
    # arrives as BoostQuery per FeatureField.java:525-527. The feature
    # column is n_chars; scores quantize through the freq-encode
    # round trip (float32 mantissa truncated to its top 8 bits).
    _featq = A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("table")),
            (A.Occur.SHOULD, A.BoostQuery(A.FeatureQuery("n_chars", "saturation", pivot=256.0), 1.5)),
        )
    )
    Q["ft_feature_top10"] = lambda spark, sf: _hits_df(spark, _search(spark, sf, _featq))
    Q["ft_dist_feature_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, _featq, mode="distributed")
    )
    # LongField.newDistanceFeatureQuery: recency-style proximity boost
    # (score = pivot / (pivot + |value - origin|), no quantization)
    _distfq = A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("table")),
            (A.Occur.SHOULD, A.LongDistanceFeatureQuery("n_chars", origin=300, pivot=50)),
        )
    )
    Q["ft_distfeat_top10"] = lambda spark, sf: _hits_df(spark, _search(spark, sf, _distfq))
    # LatLonPoint.newDistanceFeatureQuery: geo proximity as score
    Q["ft_geofeat_top5"] = lambda spark, sf: _hits_df(
        spark,
        _search(spark, sf, A.GeoDistanceFeatureQuery("lat", "lon", 48.8, 2.3, 1_000_000.0), k=5),
    )
    # quoted camelCase identifier splices into a positional phrase
    # (QueryBuilder.createFieldQuery(quoted=true) over the parts)
    Q["ft_codephrase_top10"] = lambda spark, sf: _hits_df(
        spark, code_gate_index(spark, sf)[1].search('"tableHash"', k=10)
    )
    Q["ft_lmd_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "lmdirichlet", A.TermQuery("table"))
    )
    # DFR I(n)L2 (DFRSimilarity + BasicModelIn + AfterEffectL + H2)
    Q["ft_dfr_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "dfr", A.TermQuery("table"))
    )
    # LM Jelinek-Mercer (lambda=0.1) and DFI (Standardized independence)
    Q["ft_lmjm_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "lmjelinekmercer", A.TermQuery("table"))
    )
    Q["ft_dfi_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "dfi", A.TermQuery("table"))
    )
    # IB SPL-D(f)-H2 (IBSimilarity + DistributionSPL + LambdaDF + H2)
    Q["ft_ib_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "ib", A.TermQuery("table"))
    )
    # Indri Dirichlet (mu=2000, p = ttf/sumTtf, no boost, no clamp —
    # every score is a negative log-probability)
    Q["ft_indri_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "indri", A.TermQuery("table"))
    )
    # Axiomatic F2EXP and F3LOG (s=0.25, queryLen=1, k=0.35 defaults)
    Q["ft_axf2exp_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "axiomaticf2exp", A.TermQuery("table"))
    )
    Q["ft_axf3log_top10"] = lambda spark, sf: _hits_df(
        spark, _sim_search(spark, sf, "axiomaticf3log", A.TermQuery("table"))
    )

    def _sweetspot(spark, sf):
        # SweetSpot plateau config (ln 4..32, steep 0.5, tf_base 1.5,
        # tf_min 2) — exercises the non-length-monotone bound path
        from lucene_spark.search.similarity import SweetSpotSim

        sim = SweetSpotSim(ln_min=4, ln_max=32, ln_steep=0.5, tf_base=1.5, tf_min=2.0)
        return _hits_df(spark, _sim_search(spark, sf, sim, A.TermQuery("table")))

    Q["ft_sweetspot_top10"] = _sweetspot

    def _fieldinset(spark, sf):
        # DocValuesTermsQuery role: lang IN (en, fr) FILTER on a term
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("table")),
                (A.Occur.FILTER, A.FieldInSetQuery("lang", ("en", "fr"))),
            )
        )
        return _ids_df(spark, _search(spark, sf, q, k=ALL_K))

    Q["ft_fieldset_ids"] = _fieldinset

    def _rangefield(spark, sf):
        # LongRange CROSSES [10, 25] as a FILTER on a scored term
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("table")),
                (A.Occur.FILTER, A.RangeFieldQuery("r_lo", "r_hi", 10, 25, relation="crosses")),
            )
        )
        return _ids_df(spark, _search(spark, sf, q, k=ALL_K))

    Q["ft_rangefield_ids"] = _rangefield

    def _multisim(spark, sf):
        # MultiSimilarity CombSUM: bm25 + classic over the same stats
        from lucene_spark.search.similarity import MultiSim

        return _hits_df(
            spark, _sim_search(spark, sf, MultiSim(["bm25", "classic"]), A.TermQuery("table"))
        )

    Q["ft_multisim_top10"] = _multisim

    def _perfield(spark, sf):
        # PerFieldSimilarityWrapper: content scores bm25, title scores
        # classic, composed in one SHOULD boolean
        from lucene_spark.search.similarity import PerFieldSim

        q = A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.TermQuery("vector")),
                (A.Occur.SHOULD, A.TermQuery("vector", field="title")),
            )
        )
        return _hits_df(
            spark,
            _sim_search(spark, sf, PerFieldSim("bm25", {"title": "classic"}), q),
        )

    Q["ft_perfield_top10"] = _perfield
    Q["ft_boolsim_top10"] = lambda spark, sf: _hits_df(
        spark,
        _sim_search(
            spark,
            sf,
            "boolean",
            A.BooleanQuery(
                ((A.Occur.SHOULD, A.TermQuery("merge")), (A.Occur.SHOULD, A.TermQuery("vector")))
            ),
        ),
    )
    Q["ft_and_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(((A.Occur.MUST, A.TermQuery("merge")), (A.Occur.MUST, A.TermQuery("vector")))),
        ),
    )
    Q["ft_or_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.SHOULD, A.TermQuery("dup")),
                    (A.Occur.SHOULD, A.TermQuery("vector")),
                    (A.Occur.SHOULD, A.TermQuery("scan")),
                )
            ),
        ),
    )
    Q["ft_not_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST_NOT, A.TermQuery("merge")))),
        ),
    )
    Q["ft_phrase_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.PhraseQuery(("table", "hash")))
    )
    Q["ft_synonym_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.SynonymQuery(("table", "dup")))
    )
    def _combined(spark, sf):
        # CombinedFieldQuery (BM25F): 'table' across content+title as
        # one pseudo-field, weights 1.0
        from lucene_spark.search.combined import combined_field_search

        _, searcher = gate_index(spark, sf)
        hits = combined_field_search(searcher, ["table"], {"content": 1.0, "title": 1.0}, k=10)
        return spark.createDataFrame(
            [(i + 1, int(d), round(float(s), 2)) for i, (d, s) in enumerate(hits)],
            "rank bigint, doc_id bigint, score_r double",
        )

    Q["ft_combined_top10"] = _combined

    def _synexp(spark, sf):
        # query-time synonym expansion: 'hash' rewrites to the blended
        # SynonymQuery(hash, scan) via the SynonymMap
        from lucene_spark.analysis.synonyms import expand_synonyms

        _, searcher = gate_index(spark, sf)
        q = expand_synonyms(A.TermQuery("hash"), {"hash": ("scan",)})
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_synexp_top10"] = _synexp

    Q["ft_dismax_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.DisjunctionMaxQuery((A.TermQuery("table"), A.TermQuery("merge")), tie_breaker=0.3),
        ),
    )
    # BlendedTermQuery: both terms score with the blended df = max of
    # their docFreqs, combined by DisjunctionMax(0.01)
    Q["ft_blended_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.BlendedTermQuery(("table", "merge")))
    )
    # cross-field blending: 'table' on content AND title — idf of each
    # side uses the SHARED max df but its own field's docCount/avgdl
    Q["ft_blended_fields_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark, sf, A.BlendedTermQuery(("table", "title" + FIELD_SEP + "table"))
        ),
    )
    # -- multi-field (title = first-6-words): per-field df/avgdl BM25 --
    Q["ft_field_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.TermQuery("vector", field="title"))
    )
    Q["ft_fields_bool_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                ((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("merge", field="title")))
            ),
        ),
    )
    # the classic multi-field user query: same term, best field wins
    Q["ft_fields_dismax_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.DisjunctionMaxQuery(
                (A.TermQuery("table"), A.TermQuery("table", field="title")), tie_breaker=0.3
            ),
        ),
    )
    # XML query parser (queryparser/xml CoreParser): Boolean with
    # must/boosted-should/mustnot built from the XML surface
    def _xmlq(spark, sf):
        from lucene_spark.search.xmlparser import parse_xml_query

        q = parse_xml_query(
            '<BooleanQuery fieldName="content">'
            '<Clause occurs="must"><TermQuery>table</TermQuery></Clause>'
            '<Clause occurs="should"><TermQuery boost="2.0">merge</TermQuery></Clause>'
            '<Clause occurs="mustnot"><TermQuery>vector</TermQuery></Clause>'
            "</BooleanQuery>"
        )
        return _hits_df(spark, _search(spark, sf, q))

    Q["ft_xml_top10"] = _xmlq

    # MultiFieldQueryParser (lucene/queryparser/classic/
    # MultiFieldQueryParser.java:43-121): unqualified clauses fan out
    # into SHOULD per-field copies with per-field boosts
    def _mfparse(spark, sf):
        from lucene_spark.search.parser import parse_multifield

        q = parse_multifield(
            "table merge", fields=("content", "title"), boosts={"title": 0.5}
        )
        return _hits_df(spark, _search(spark, sf, q))

    Q["ft_mfparse_top10"] = _mfparse
    Q["ft_multiphrase_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.MultiPhraseQuery((("table", "merge"), ("hash",))))
    )
    # sloppy multiphrase whose slots SHARE a term ('hash' in both):
    # the hasMultiTermRpts repeat-group path (SloppyPhraseMatcher.java:
    # 435-453,562-585) — slot collisions resolve by advancing the
    # lesser; oracle = the same 2-slot machine as a recursive CTE
    Q["ft_multiphrase_shared_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.MultiPhraseQuery((("table", "hash"), ("hash",)), slop=2))
    )
    # sloppy phrase: for the 2-term case the reference pq traversal
    # (SloppyPhraseMatcher.java:162-205) reduces to an alternating
    # cross-list successor chain — SQL-expressible as a recursive CTE
    # (see oracle); equivalence to the kernel fuzz-verified over 25k
    # random position-list pairs (tests/test_sloppy.py)
    Q["ft_sloppy_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.PhraseQuery(("table", "hash"), slop=3))
    )
    # span/interval proximity (SpanNearQuery / Intervals.ordered|unordered)
    Q["ft_spannear_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.SpanNearQuery(("table", "hash"), slop=4, in_order=True))
    )
    Q["ft_spanunord_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.SpanNearQuery(("merge", "vector"), slop=6, in_order=False))
    )
    Q["ft_distributed_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("hash")))),
            mode="distributed",
        ),
    )

    # -- distributed twins of every scored shape: the chunked leaf-
    # parallel path (applyInPandas kernels + TakeOrderedAndProject
    # merge) must produce BIT-IDENTICAL hashes to driver mode — the
    # 100-TB execution path proven against the same oracles --
    def _dist_twin(q):
        return lambda spark, sf: _hits_df(spark, _search(spark, sf, q, mode="distributed"))

    Q["ft_dist_term_top10"] = _dist_twin(A.TermQuery("table"))
    Q["ft_dist_or_top10"] = _dist_twin(
        A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.TermQuery("dup")),
                (A.Occur.SHOULD, A.TermQuery("vector")),
                (A.Occur.SHOULD, A.TermQuery("scan")),
            )
        )
    )
    Q["ft_dist_phrase_top10"] = _dist_twin(A.PhraseQuery(("table", "hash")))
    Q["ft_dist_sloppy_top10"] = _dist_twin(A.PhraseQuery(("table", "hash"), slop=3))
    Q["ft_dist_spannear_top10"] = _dist_twin(
        A.SpanNearQuery(("table", "hash"), slop=4, in_order=True)
    )
    Q["ft_dist_multiphrase_top10"] = _dist_twin(
        A.MultiPhraseQuery((("table", "merge"), ("hash",)))
    )
    Q["ft_dist_mpshared_top10"] = _dist_twin(
        A.MultiPhraseQuery((("table", "hash"), ("hash",)), slop=2)
    )
    Q["ft_dist_synonym_top10"] = _dist_twin(A.SynonymQuery(("table", "dup")))
    Q["ft_dist_dismax_top10"] = _dist_twin(
        A.DisjunctionMaxQuery((A.TermQuery("table"), A.TermQuery("merge")), tie_breaker=0.3)
    )
    Q["ft_dist_msm_top10"] = _dist_twin(
        A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.TermQuery("dup")),
                (A.Occur.SHOULD, A.TermQuery("vector")),
                (A.Occur.SHOULD, A.TermQuery("scan")),
            ),
            minimum_should_match=2,
        )
    )
    Q["ft_dist_boost_top10"] = _dist_twin(
        A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.BoostQuery(A.TermQuery("table"), 2.0)),
                (A.Occur.SHOULD, A.TermQuery("merge")),
            )
        )
    )

    def _dist_interval(spark, sf):
        from lucene_spark.search.intervals import IMaxGaps, INotContaining, IOrdered, ITerm

        src = INotContaining(IMaxGaps(4, IOrdered((ITerm("table"), ITerm("hash")))), ITerm("merge"))
        return _hits_df(spark, _search(spark, sf, A.IntervalQuery(src), mode="distributed"))

    Q["ft_dist_interval_top10"] = _dist_interval

    # MUST + SHOULD through the block-max conjunction kernel
    # (Boolean2ScorerSupplier req/opt branch): required term drives
    # candidates, optional terms add score via skip-data decode
    Q["ft_mustshould_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.MUST, A.TermQuery("hash")),
                    (A.Occur.SHOULD, A.TermQuery("vector")),
                    (A.Occur.SHOULD, A.TermQuery("dup")),
                )
            ),
        ),
    )
    Q["ft_msm_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.SHOULD, A.TermQuery("dup")),
                    (A.Occur.SHOULD, A.TermQuery("vector")),
                    (A.Occur.SHOULD, A.TermQuery("scan")),
                ),
                minimum_should_match=2,
            ),
        ),
    )
    Q["ft_boost_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.SHOULD, A.BoostQuery(A.TermQuery("table"), 2.0)),
                    (A.Occur.SHOULD, A.TermQuery("merge")),
                )
            ),
        ),
    )

    # FILTERED block-max WAND: metadata filter + SHOULD disjunction —
    # the req(filter)+opt(TOP_SCORES) branch; the doc-set rides into
    # the WAND kernel as an allowed mask, pruning stays exact
    Q["ft_filterwand_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.SHOULD, A.TermQuery("dup")),
                    (A.Occur.SHOULD, A.TermQuery("vector")),
                    (A.Occur.FILTER, A.FieldValueQuery("lang", "en")),
                )
            ),
        ),
    )

    # keyword-field (StringField) filter: column equality as FILTER
    Q["ft_lang_filter_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.FILTER, A.FieldValueQuery("lang", "en")),
                )
            ),
        ),
    )

    # the same keyword filter through DISTRIBUTED leaf-parallel search:
    # the lang='en' doc set arrives per-chunk from the pushed-down docs
    # scan (PredSpec lazy path) — ids never reach the driver
    Q["ft_dist_filter_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.FILTER, A.FieldValueQuery("lang", "en")),
                )
            ),
            mode="distributed",
        ),
    )

    # MatchAllDocs through distributed mode: each chunk synthesizes its
    # doc range arithmetically (no all_doc_ids() driver collect)
    Q["ft_dist_matchall_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.MatchAllDocsQuery(), k=ALL_K, mode="distributed")
    )

    # numeric metadata range (PointRangeQuery role): Catalyst range
    # predicate on the docs table as a FILTER clause
    Q["ft_numrange_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.FILTER, A.FieldRangeQuery("n_chars", 200, 400)),
                )
            ),
            k=ALL_K,
        ),
    )

    def _searchafter(spark, sf):
        # deep pagination (IndexSearcher.searchAfter / PagingTop-
        # ScoreDocCollector): page 2 of the 'table' ranking — the top
        # 10 strictly after page 1's last (doc, score) mark
        _, searcher = gate_index(spark, sf)
        page1 = searcher.search(A.TermQuery("table"), k=10)
        after = page1.hits[-1]
        td = searcher.search_after((after[0], after[1]), A.TermQuery("table"), k=10)
        return _hits_df(spark, td)

    Q["ft_searchafter_top10"] = _searchafter

    Q["ft_dist_numrange_ids"] = lambda spark, sf: _ids_df(
        spark,
        _search(
            spark,
            sf,
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("table")),
                    (A.Occur.FILTER, A.FieldRangeQuery("n_chars", 200, 400)),
                )
            ),
            k=ALL_K,
            mode="distributed",
        ),
    )

    def _sorted(spark, sf):
        from lucene_spark.search.postprocess import sorted_search

        index, searcher = gate_index(spark, sf)
        out = sorted_search(
            searcher, A.TermQuery("table"), index.docs, [("n_chars", False)], k=10
        )
        return out.select(F.col("doc_id").cast("long"), F.col("n_chars").cast("long"))

    Q["ft_sorted_top10"] = _sorted

    def _sorted_after(spark, sf):
        # searchAfter(FieldDoc) paging: strictly after (n_chars=900,
        # doc 37) in the (n_chars DESC, doc_id ASC) order
        from lucene_spark.search.postprocess import sorted_search

        index, searcher = gate_index(spark, sf)
        out = sorted_search(
            searcher, A.TermQuery("table"), index.docs, [("n_chars", False)],
            k=10, after=(900, 37),
        )
        return out.select(F.col("doc_id").cast("long"), F.col("n_chars").cast("long"))

    Q["ft_sortedafter_top10"] = _sorted_after

    def _indexsort(spark, sf):
        # early-terminating sorted search over the INDEX-SORTED index;
        # result mapped back to source doc ids via the stored src_id
        index, searcher = sorted_gate_index(spark, sf)
        td = searcher.search_sorted_index(A.TermQuery("table"), k=10)
        rank = spark.createDataFrame(
            [(i + 1, int(d)) for i, (d, _) in enumerate(td.hits)], "rank bigint, doc_id bigint"
        )
        return (
            index.docs.join(F.broadcast(rank), "doc_id")
            .select(
                "rank",
                F.col("src_id").cast("long").alias("doc_id"),
                F.col("n_chars").cast("long"),
            )
            .orderBy("rank")
        )

    Q["ft_indexsort_top10"] = _indexsort

    def _knn(spark, sf):
        # KnnFloatVectorQuery with a keyword pre-filter: top-5 by
        # cosine among docs with lang='en' (the filter pushes to the
        # docs-table scan; candidates never reach the driver)
        _, searcher = gate_index(spark, sf)
        qv = (
            spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
            .filter(F.col("vec_id") == 0)
            .first()["embedding"]
        )
        td = searcher.knn_search(qv, k=5, filter=A.FieldValueQuery("lang", "en"))
        rows = [(i + 1, int(d), _round4(float(s))) for i, (d, s) in enumerate(td.hits)]
        return spark.createDataFrame(rows, "rank bigint, doc_id bigint, score_r double")

    Q["ft_knn_top5"] = _knn

    # -- MultiTermQuery family (constant-score doc sets) --
    Q["ft_prefix_ids"] = lambda spark, sf: _ids_df(spark, _search(spark, sf, A.PrefixQuery("s"), k=ALL_K))
    # SCORING_BOOLEAN_REWRITE: each expansion scored with its own idf
    Q["ft_prefix_scoring_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.PrefixQuery("sc", rewrite="scoring_boolean"))
    )
    # TopTermsScoringBooleanQueryRewrite: equal-boost expansions keep
    # the lexicographically smallest top_n
    Q["ft_prefix_topterms_top10"] = lambda spark, sf: _hits_df(
        spark, _search(spark, sf, A.PrefixQuery("sc", rewrite="top_terms", top_n=5))
    )
    Q["ft_wildcard_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.WildcardQuery("*ow"), k=ALL_K)
    )
    Q["ft_fuzzy_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.FuzzyQuery("tabl", max_edits=1, transpositions=False), k=ALL_K)
    )
    # FuzzyQuery under the REFERENCE DEFAULT metric (transpositions=
    # true, FuzzyQuery.java:57): one adjacent swap is ONE edit —
    # "tabel"~1 matches "table" (OSA 1, classic 2). The oracle spells
    # out OSA<=1 = classic<=1 OR exactly-one-adjacent-swap.
    Q["ft_fuzzytrans_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.FuzzyQuery("tabel", max_edits=1), k=ALL_K)
    )
    Q["ft_range_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.TermRangeQuery("scan", "table"), k=ALL_K)
    )
    Q["ft_termset_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.TermInSetQuery(("dup", "vector", "zzznosuch")), k=ALL_K)
    )

    Q["ft_regexp_ids"] = lambda spark, sf: _ids_df(
        spark, _search(spark, sf, A.RegexpQuery("sc.n|h.sh"), k=ALL_K)
    )

    # -- counting collector --
    def _count(spark, sf):
        _, searcher = gate_index(spark, sf)
        n = searcher.count(
            A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("merge"))))
        )
        return spark.createDataFrame([(int(n),)], "cnt bigint")

    Q["ft_count_and"] = _count

    def _facet(spark, sf):
        from lucene_spark.search.postprocess import facet_counts

        _, searcher = gate_index(spark, sf)
        q = A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("merge"))))
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return facet_counts(searcher, q, docs, "lang").select("lang", F.col("cnt").cast("long"))

    Q["ft_facet_lang"] = _facet

    def _facet_long(spark, sf):
        # LongValueFacetCounts over an expression source (n_chars // 50)
        from lucene_spark.search.postprocess import long_value_facet_counts

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return long_value_facet_counts(
            searcher, A.TermQuery("table"), docs, F.floor(F.col("n_chars") / 50), n=5
        )

    Q["ft_facet_long"] = _facet_long

    def _facet_assoc(spark, sf):
        # sum-association facets: weight = n_chars summed per source
        from lucene_spark.search.postprocess import facet_sum_associations

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return facet_sum_associations(
            searcher, A.TermQuery("table"), docs, "source", "n_chars"
        ).select("category", F.col("weight").cast("long"))

    Q["ft_facet_assoc"] = _facet_assoc

    def _group(spark, sf):
        from lucene_spark.search.postprocess import group_top_hits

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        g = group_top_hits(searcher, A.TermQuery("table"), docs, "lang", k_per_group=2)
        # F.round is HALF_UP == _round2 for the positive BM25 scores
        return g.select("lang", "grank", "doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_group_top"] = _group

    # distributed-hit-relation twins: the SAME aggregations computed
    # over Searcher.match_frame (no driver hit materialization) must
    # match the same oracles as the driver-mode originals
    def _facet_dist(spark, sf):
        from lucene_spark.search.postprocess import facet_counts

        _, searcher = gate_index(spark, sf)
        q = A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("merge"))))
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return facet_counts(searcher, q, docs, "lang", mode="distributed").select(
            "lang", F.col("cnt").cast("long")
        )

    Q["ft_dist_facet_lang"] = _facet_dist

    def _group_dist(spark, sf):
        from lucene_spark.search.postprocess import group_top_hits

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        g = group_top_hits(searcher, A.TermQuery("table"), docs, "lang", 2, mode="distributed")
        return g.select("lang", "grank", "doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_dist_group_top"] = _group_dist

    def _funcscore_dist(spark, sf):
        from lucene_spark.search.functionscore import function_score

        index, searcher = gate_index(spark, sf)
        out = function_score(
            searcher, A.TermQuery("table"), "_score * ln(1 + n_chars)", index.docs, k=10,
            mode="distributed",
        )
        return out.select("rank", "doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_dist_funcscore_top10"] = _funcscore_dist

    def _boostq(spark, sf):
        # FunctionScoreQuery.boostByQuery: BM25('table') doubled for
        # docs that also match 'hash'
        from lucene_spark.search.functionscore import boost_by_query

        index, searcher = gate_index(spark, sf)
        out = boost_by_query(
            searcher, A.TermQuery("table"), A.TermQuery("hash"), 2.0, index.docs, k=10
        )
        return out.select("rank", "doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_boostq_top10"] = _boostq

    def _facet_sample(spark, sf):
        # RandomSamplingFacetsCollector: lang facet over a deterministic
        # 25% sample of 'table' matches, amortized by 1/rate
        from lucene_spark.search.postprocess import facet_counts_sampled

        index, searcher = gate_index(spark, sf)
        return facet_counts_sampled(
            searcher, A.TermQuery("table"), index.docs, "lang", 0.25
        )

    Q["ft_facet_sample"] = _facet_sample

    def _suggest_regex(spark, sf):
        from lucene_spark.search.suggest import complete_regex

        index, _ = gate_index(spark, sf)
        return complete_regex(index, "ta[bn].*", k=10)

    Q["sg_regex_top10"] = _suggest_regex

    def _highlight(spark, sf):
        # offsets-index highlight probe: snippets sliced from stored
        # text at INDEXED char offsets (UnifiedHighlighter offsets
        # source); the fixed first-match window makes the exact snippet
        # string SQL-re-derivable
        from lucene_spark.search.postprocess import first_match_window

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return first_match_window(searcher, "table", docs, pre=20, post=40)

    Q["ft_highlight"] = _highlight

    def _highlight_analysis(spark, sf):
        # OffsetSource.ANALYSIS twin: the SAME snippet rows re-derived
        # by re-analyzing the stored text with the index's recorded
        # analyzer (the UnifiedHighlighter fallback for indexes built
        # with neither offsets nor term vectors) — checked against the
        # identical DuckDB oracle as ft_highlight
        from lucene_spark.search.postprocess import first_match_window

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return first_match_window(searcher, "table", docs, pre=20, post=40, source="analysis")

    Q["ft_highlight_analysis"] = _highlight_analysis

    def _join(spark, sf):
        from lucene_spark.search.joins import join_top_parents

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        j = join_top_parents(searcher, A.TermQuery("table"), docs, "source", "max", k=10)
        return j.select("rank", "parent", F.round("score", 2).alias("score_r"), "n_children")

    Q["ft_join_top"] = _join

    def _termvec(spark, sf):
        # TermVectors.get(7): per-doc term/tf/positions point read
        index, _ = gate_index(spark, sf)
        tv = index.term_vector(7)
        return tv.select(
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.array_join(F.col("poss").cast("array<string>"), ",").alias("pos_list"),
        )

    Q["ix_termvec"] = _termvec

    def _chunks(spark, sf):
        # training-pipeline chunking: 64-token windows, 16 overlap
        from lucene_spark.pipeline.chunking import chunk_documents

        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        c = chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=16)
        return c.select(
            "doc_id",
            "chunk_idx",
            "n_chunk_tokens",
            "begin_tok",
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
        )

    Q["tx_chunks"] = _chunks

    def _pack(spark, sf):
        # concat-and-split sequence packing (pretraining layout):
        # count = char length, 4096-token sequences
        from lucene_spark.pipeline.chunking import pack_sequences

        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        counted = docs.select("doc_id", F.length("text").cast("long").alias("n"))
        return pack_sequences(counted, "n", seq_len=4096)

    Q["tx_pack"] = _pack

    def _blockjoin(spark, sf):
        # ToParentBlockJoinQuery: every 5th doc is the block parent
        # (children 5k..5k+3, parent 5k+4), ScoreMode.Total
        from lucene_spark.search.blockjoin import to_parent_block_join

        _, searcher = gate_index(spark, sf)
        j = to_parent_block_join(searcher, A.TermQuery("table"), "doc_id % 5 = 4", "total", k=10)
        return j.select("rank", "parent_doc_id", F.round("score", 2).alias("score_r"), "n_children")

    Q["ft_blockjoin_top10"] = _blockjoin

    def _childjoin(spark, sf):
        # ToChildBlockJoinQuery: children of parent-query matches,
        # each inheriting the parent's score
        from lucene_spark.search.blockjoin import to_child_block_join

        _, searcher = gate_index(spark, sf)
        j = to_child_block_join(searcher, A.TermQuery("table"), "doc_id % 5 = 4", k=10)
        return j.select("rank", "doc_id", "parent_doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_childjoin_top10"] = _childjoin

    def _covering(spark, sf):
        # CoveringQuery: per-doc minimum-should-match 1 + doc_id % 3
        from lucene_spark.search.covering import covering_top_k

        _, searcher = gate_index(spark, sf)
        j = covering_top_k(
            searcher,
            [A.TermQuery("table"), A.TermQuery("hash"), A.TermQuery("scan")],
            "1 + doc_id % 3",
            k=10,
        )
        return j.select("rank", "doc_id", F.round("score", 2).alias("score_r"), "n_matched")

    Q["ft_covering_top10"] = _covering

    def _sideways(spark, sf):
        # DrillSideways: each dim's counts computed with the OTHER
        # dim's filter applied; distributed hit relations
        from lucene_spark.search.postprocess import drill_sideways

        index, searcher = gate_index(spark, sf)
        # corpus_df maps documents.source -> the index's repo column
        return drill_sideways(
            searcher,
            A.TermQuery("table"),
            {"lang": "en", "repo": "src0"},
            index.docs,
            mode="distributed",
        )

    Q["ft_sideways_counts"] = _sideways

    def _surround(spark, sf):
        # surround language: 3W(table, hash) = ordered within distance 3
        from lucene_spark.search.surround import parse_surround

        _, searcher = gate_index(spark, sf)
        return _hits_df(spark, searcher.search(parse_surround("3W(table, hash)"), k=10))

    Q["ft_surround_top10"] = _surround

    def _within(spark, sf):
        # Intervals.containedBy: occurrences of 'merge' inside a minimal
        # ordered (table .. hash) interval
        from lucene_spark.search.intervals import IContainedBy, IOrdered, ITerm

        _, searcher = gate_index(spark, sf)
        src = IContainedBy(ITerm("merge"), IOrdered((ITerm("table"), ITerm("hash"))))
        return _hits_df(spark, searcher.search(A.IntervalQuery(src), k=10))

    Q["ft_within_top10"] = _within

    def _phrasewild(spark, sf):
        # PhraseWildcardQuery: "table s*" — slot 2 expands against the
        # term dictionary, then the union-postings phrase kernel
        from lucene_spark.search.misc import phrase_wildcard

        index, searcher = gate_index(spark, sf)
        return _hits_df(spark, searcher.search(phrase_wildcard(index, ["table", "s*"]), k=10))

    Q["ft_phrasewild_top10"] = _phrasewild

    def _diversified(spark, sf):
        # DiversifiedTopDocsCollector: top-10 with <=1 hit per lang
        from lucene_spark.search.misc import diversified_top_k

        _, searcher = gate_index(spark, sf)
        j = diversified_top_k(searcher, A.TermQuery("table"), "lang", 1, k=10)
        return j.select("rank", "doc_id", "key", F.round("score", 2).alias("score_r"))

    Q["ft_diversified_top10"] = _diversified

    def _dvstats(spark, sf):
        # DocValuesStats over n_chars for docs matching 'table'
        from lucene_spark.search.misc import doc_values_stats

        _, searcher = gate_index(spark, sf)
        st = doc_values_stats(searcher, A.TermQuery("table"), "n_chars")
        return st.select(
            F.col("count").alias("n_vals"),
            F.col("missing").alias("n_missing"),
            "vmin",
            "vmax",
            "vsum",
            F.round("mean", 4).alias("mean_r"),
            F.round("variance", 2).alias("var_r"),
        )

    Q["ft_dvstats"] = _dvstats

    def _simpleq(spark, sf):
        # SimpleQueryParser: never-throws syntax, right-to-left
        # precedence; 'table + (hash | scan)' = table AND (hash OR scan)
        from lucene_spark.search.simpleparser import parse_simple

        _, searcher = gate_index(spark, sf)
        return _hits_df(spark, searcher.search(parse_simple("table + (hash | scan)"), k=10))

    Q["ft_simpleq_top10"] = _simpleq

    def _notcontaining(spark, sf):
        # Intervals.notContaining: ordered (table .. hash) pairs with
        # NO 'merge' occurrence inside
        from lucene_spark.search.intervals import INotContaining, IOrdered, ITerm

        _, searcher = gate_index(spark, sf)
        src = INotContaining(IOrdered((ITerm("table"), ITerm("hash"))), ITerm("merge"))
        return _hits_df(spark, searcher.search(A.IntervalQuery(src), k=10))

    Q["ft_notcontaining_top10"] = _notcontaining

    def _before(spark, sf):
        # Intervals.before: 'merge' occurrences ending before the start
        # of some 'table' occurrence
        from lucene_spark.search.intervals import IBefore, ITerm

        _, searcher = gate_index(spark, sf)
        src = IBefore(ITerm("merge"), ITerm("table"))
        return _hits_df(spark, searcher.search(A.IntervalQuery(src), k=10))

    Q["ft_before_top10"] = _before

    # -- span surface (SpanOr/SpanNot/SpanFirst over intervals) --
    def _spanor(spark, sf):
        from lucene_spark.search.spans import span_or, span_query

        _, searcher = gate_index(spark, sf)
        return _hits_df(spark, searcher.search(span_query(span_or("merge", "vector")), k=10))

    Q["ft_spanor_top10"] = _spanor

    def _spannot(spark, sf):
        # ordered (table, hash) within 4 gaps, excluding matches that
        # overlap a 'merge' occurrence widened 1 left / 1 right
        from lucene_spark.search.spans import span_near, span_not, span_query

        _, searcher = gate_index(spark, sf)
        q = span_query(span_not(span_near(["table", "hash"], 4, True), "merge", pre=1, post=1))
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_spannot_top10"] = _spannot

    def _spanfirst(spark, sf):
        from lucene_spark.search.spans import span_first, span_query

        _, searcher = gate_index(spark, sf)
        return _hits_df(spark, searcher.search(span_query(span_first("table", 6)), k=10))

    Q["ft_spanfirst_top10"] = _spanfirst

    def _spanposrange(spark, sf):
        # SpanPositionRangeQuery(table, 3, 12): start >= 3, excl end <= 12
        from lucene_spark.search.spans import span_position_range, span_query

        _, searcher = gate_index(spark, sf)
        return _hits_df(
            spark, searcher.search(span_query(span_position_range("table", 3, 12)), k=10)
        )

    Q["ft_spanposrange_top10"] = _spanposrange

    def _spancontain(spark, sf):
        # SpanContainingQuery(near(table,hash)~4, merge): big pairs that
        # contain a merge occurrence, scored by the big intervals
        from lucene_spark.search.spans import span_containing, span_near, span_query

        _, searcher = gate_index(spark, sf)
        q = span_query(span_containing(span_near(["table", "hash"], 4, True), "merge"))
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_spancontain_top10"] = _spancontain

    def _complexphrase(spark, sf):
        # ComplexPhraseQueryParser: "(table merge) v*"~2 — group slot +
        # wildcard slot, ordered span-near with 2 gaps
        from lucene_spark.search.complexphrase import parse_complex_phrase

        index, searcher = gate_index(spark, sf)
        q = parse_complex_phrase(index, "(table merge) v*", slop=2)
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_complexphrase_top10"] = _complexphrase

    def _spanmulti(spark, sf):
        # SpanMultiTermQueryWrapper(s*) inside SpanFirst(12): the
        # wildcard expands against the term dictionary into a span-OR
        from lucene_spark.search.spans import span_first, span_multi_term, span_query

        index, searcher = gate_index(spark, sf)
        q = span_query(span_first(span_multi_term(index, "s*"), 12))
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_spanmulti_top10"] = _spanmulti

    def _interval_or(spark, sf):
        # Intervals.or of two ordered pairs, minimalized across sources
        from lucene_spark.search.intervals import IOr, IOrdered, ITerm

        _, searcher = gate_index(spark, sf)
        src = IOr(
            (
                IOrdered((ITerm("table"), ITerm("hash"))),
                IOrdered((ITerm("scan"), ITerm("merge"))),
            )
        )
        return _hits_df(spark, searcher.search(A.IntervalQuery(src), k=10))

    Q["ft_intervalor_top10"] = _interval_or

    def _interval_atleast(spark, sf):
        # Intervals.atLeast(2, table, hash, scan): minimal spans over
        # pair combinations (MinimumShouldMatchIntervalsSource role)
        from lucene_spark.search.flexible import at_least
        from lucene_spark.search.intervals import ITerm

        _, searcher = gate_index(spark, sf)
        src = at_least(2, ITerm("table"), ITerm("hash"), ITerm("scan"))
        return _hits_df(spark, searcher.search(A.IntervalQuery(src), k=10))

    Q["ft_atleast_top10"] = _interval_atleast

    def _fnparse(spark, sf):
        # StandardQueryParser fn: syntax — the parsed tree must execute
        # identically to the hand-built atLeast above (same oracle)
        from lucene_spark.search.flexible import parse_interval_fn

        _, searcher = gate_index(spark, sf)
        q = parse_interval_fn("fn:atleast(2 table hash scan)")
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_fnparse_top10"] = _fnparse

    def _dist_atleast(spark, sf):
        from lucene_spark.search.flexible import parse_interval_fn

        _, searcher = gate_index(spark, sf)
        q = parse_interval_fn("fn:atleast(2 table hash scan)")
        return _hits_df(spark, searcher.search(q, k=10, mode="distributed"))

    Q["ft_dist_atleast_top10"] = _dist_atleast

    def _funcscore(spark, sf):
        # FunctionScoreQuery (boostByValue-style expression rescoring):
        # BM25('table') × ln(1 + n_chars), Catalyst-evaluated
        from lucene_spark.search.functionscore import function_score

        index, searcher = gate_index(spark, sf)
        out = function_score(
            searcher, A.TermQuery("table"), "_score * ln(1 + n_chars)", index.docs, k=10
        )
        return out.select("rank", "doc_id", F.round("score", 2).alias("score_r"))

    Q["ft_funcscore_top10"] = _funcscore

    def _exprsort(spark, sf):
        # lucene/expressions: JS-language expression compiled to a
        # Catalyst expression (Expression.getSortField role) — sort
        # matches by its value; integer-exact arithmetic so the DuckDB
        # oracle computes bit-identical doubles
        from lucene_spark.search.expressions import expression_sort

        index, searcher = gate_index(spark, sf)
        out = expression_sort(
            searcher,
            A.TermQuery("table"),
            index.docs,
            "floor(n_chars / 7) * (doc_id % 5 + 1) + n_chars % 13",
            k=10,
        )
        return out.select("rank", "doc_id", F.round("sort_value", 2).alias("value_r"))

    Q["ft_exprsort_top10"] = _exprsort

    def _exprrescore(spark, sf):
        # ExpressionRescorer: first-pass BM25('table') top-30 re-ranked
        # by 0.5*_score + n_chars % 101 (the _score binding)
        from lucene_spark.search.expressions import expression_rescore

        index, searcher = gate_index(spark, sf)
        first = searcher.search(A.TermQuery("table"), k=30)
        td = expression_rescore(
            searcher, first, "0.5 * _score + n_chars % 101", index.docs, top_n=10
        )
        return _hits_df(spark, td)

    Q["ft_exprrescore_top10"] = _exprrescore

    def _rescore(spark, sf):
        # QueryRescorer: first pass BM25('table') top-30, rescored by
        # first + 2.0 * BM25('hash') where 'hash' matches; the second
        # pass rides the distributed match relation
        from lucene_spark.search.postprocess import rescore

        _, searcher = gate_index(spark, sf)
        first = searcher.search(A.TermQuery("table"), k=30)
        return _hits_df(spark, rescore(searcher, first, A.TermQuery("hash"), top_n=10, weight=2.0))

    Q["ft_rescore_top10"] = _rescore

    def _facet_range(spark, sf):
        from lucene_spark.search.postprocess import facet_range_counts

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        ranges = [
            ("short", 0, 200),
            ("mid", 200, 400),
            ("long", 400, 1000),
            ("all", 0, 1000),  # overlapping: counted independently
        ]
        return facet_range_counts(searcher, A.TermQuery("table"), docs, "n_chars", ranges)

    Q["ft_facet_range"] = _facet_range

    def _facet_path(spark, sf):
        # hierarchical dim (lang → source): top children of path ('en',)
        from lucene_spark.search.postprocess import taxonomy_counts

        _, searcher = gate_index(spark, sf)
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        q = A.BooleanQuery(((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("merge"))))
        return taxonomy_counts(searcher, q, docs, ["lang", "source"], path=("en",))

    Q["ft_facet_path"] = _facet_path

    def _drilldown(spark, sf):
        from lucene_spark.search.postprocess import drill_down

        _, searcher = gate_index(spark, sf)
        q = drill_down(A.TermQuery("table"), {"lang": ("en", "de")})
        return _hits_df(spark, searcher.search(q, k=10))

    Q["ft_drilldown_top10"] = _drilldown

    def _mlt(spark, sf):
        from lucene_spark.search.mlt import more_like_this

        _, searcher = gate_index(spark, sf)
        return _hits_df(spark, more_like_this(searcher, 0, corpus_df(spark, sf), k=10))

    Q["ft_mlt_top10"] = _mlt

    def _nbayes(spark, sf):
        # SimpleNaiveBayesClassifier batch: every doc_id % 17 == 3 doc
        # classified against the lang-labeled corpus; full posterior
        # distribution (p softmax-normalized, rank 1 = assignClass)
        from lucene_spark.search.classify import naive_bayes_classify

        index, _ = gate_index(spark, sf)
        corpus = corpus_df(spark, sf)
        inputs = corpus.filter(F.col("doc_id") % 17 == 3)
        out = naive_bayes_classify(
            index, inputs, corpus, class_col="lang", text_col="content"
        )
        return out.select(
            "doc_id", "cls", F.round("p", 4).alias("p_r"), F.col("rank").cast("long").alias("rank")
        ).orderBy("doc_id", "rank")

    Q["ft_nbayes"] = _nbayes

    def _knn_classify(spark, sf):
        # KNearestNeighborClassifier: MLT(doc 0) top-10 voting
        from lucene_spark.search.classify import knn_classify
        from lucene_spark.search.engine import Searcher

        index, _ = gate_index(spark, sf)
        corpus = corpus_df(spark, sf)
        text = corpus.filter(F.col("doc_id") == 0).collect()[0]["content"]
        votes = knn_classify(Searcher(index), text, corpus, "lang", k=10)
        rows = [(i + 1, c, _round2(float(s))) for i, (c, s) in enumerate(votes)]
        return spark.createDataFrame(rows, "rank bigint, cls string, score_r double")

    Q["ft_knncls"] = _knn_classify

    def _suggest_prefix(spark, sf):
        from lucene_spark.search.suggest import complete_prefix

        index, _ = gate_index(spark, sf)
        return complete_prefix(index, "s", k=10)

    Q["sg_prefix_top10"] = _suggest_prefix

    def _suggest_freetext(spark, sf):
        # FreeTextSuggester: bigram LM with stupid backoff; key
        # "table s" -> bigram continuations of 'table' matching s* at
        # backoff 1.0, unseen unigram s* completions at 0.4
        from pyspark.sql import functions as F

        from lucene_spark.search.suggest import build_freetext_model, free_text_suggest

        model = build_freetext_model(_docs(spark, sf))
        return free_text_suggest(model, "table s", num=10).select(
            "suggestion", F.round("score", 6).alias("score_r")
        )

    Q["sg_freetext_top10"] = _suggest_freetext

    def _suggest_infix(spark, sf):
        # AnalyzingInfixSuggester: suggestions = stored titles, lookup
        # matches any token with the fragment as prefix, weight = n_chars
        from lucene_spark.search.suggest import infix_suggest

        index, _ = gate_index(spark, sf)
        sugg = index.docs.select(
            F.col("title").alias("suggestion"), F.col("n_chars").alias("weight")
        )
        return infix_suggest(sugg, "tab", k=10)

    Q["sg_infix_top10"] = _suggest_infix

    def _suggest_context(spark, sf):
        # ContextQuery over ContextSuggestField: contexts = (lang, repo),
        # exact 'en' at boost 2 plus the PREFIX context 'src1' at 1.5
        from lucene_spark.search.suggest import context_suggest

        index, _ = gate_index(spark, sf)
        sugg = index.docs.select(
            F.col("title").alias("suggestion"),
            F.col("n_chars").alias("weight"),
            F.array("lang", "repo").alias("contexts"),
        )
        return context_suggest(
            sugg, "t", [("en", 2.0, True), ("src1", 1.5, False)], k=10
        )

    Q["sg_context_top10"] = _suggest_context

    def _suggest_spell(spark, sf):
        from lucene_spark.search.suggest import spell_suggest

        index, _ = gate_index(spark, sf)
        return spell_suggest(index, "dat", k=5, max_edits=2)

    Q["sg_spell_top5"] = _suggest_spell

    def _wordbreak(spark, sf):
        from lucene_spark.search.suggest import word_breaks

        index, _ = gate_index(spark, sf)
        return word_breaks(index, "tablehash", k=5)

    Q["sg_wordbreak_top5"] = _wordbreak

    def _wordcombine(spark, sf):
        from lucene_spark.search.suggest import word_combinations

        index, _ = gate_index(spark, sf)
        return word_combinations(index, ["tab", "le", "hash"], k=5)

    Q["sg_wordcombine_top5"] = _wordcombine

    def _common_terms(spark, sf):
        from lucene_spark.search.commonterms import search_common_terms

        _, searcher = gate_index(spark, sf)
        td = search_common_terms(searcher, ("the", "scan", "dup"), k=10, max_term_frequency=0.5)
        return _hits_df(spark, td)

    Q["ft_commonterms_top10"] = _common_terms

    # distributed twins for scored shapes that previously ran
    # driver-mode only: same semantics, leaf-parallel chunk plan, same
    # oracles — each one proves the 100-TB path hash-matches
    Q["ft_dist_shingle_top10"] = lambda spark, sf: _hits_df(
        spark,
        shingle_gate_index(spark, sf)[1].search(
            A.TermQuery("table hash"), k=10, mode="distributed"
        ),
    )
    Q["ft_dist_blended_top10"] = lambda spark, sf: _hits_df(
        spark,
        _search(spark, sf, A.BlendedTermQuery(("table", "merge")), mode="distributed"),
    )
    Q["ft_dist_classic_top10"] = lambda spark, sf: _hits_df(
        spark,
        _sim_search(spark, sf, "classic", A.TermQuery("table"), mode="distributed"),
    )
    Q["ft_dist_lmd_top10"] = lambda spark, sf: _hits_df(
        spark,
        _sim_search(spark, sf, "lmdirichlet", A.TermQuery("table"), mode="distributed"),
    )

    def _common_terms_dist(spark, sf):
        from lucene_spark.search.commonterms import common_terms_query

        _, searcher = gate_index(spark, sf)
        q = common_terms_query(searcher.index, ("the", "scan", "dup"), max_term_frequency=0.5)
        return _hits_df(spark, searcher.search(q, k=10, mode="distributed"))

    Q["ft_dist_commonterms_top10"] = _common_terms_dist

    def _surround_dist(spark, sf):
        from lucene_spark.search.surround import parse_surround

        _, searcher = gate_index(spark, sf)
        return _hits_df(
            spark, searcher.search(parse_surround("3W(table, hash)"), k=10, mode="distributed")
        )

    Q["ft_dist_surround_top10"] = _surround_dist

    def _simpleq_dist(spark, sf):
        from lucene_spark.search.simpleparser import parse_simple

        _, searcher = gate_index(spark, sf)
        return _hits_df(
            spark,
            searcher.search(parse_simple("table + (hash | scan)"), k=10, mode="distributed"),
        )

    Q["ft_dist_simpleq_top10"] = _simpleq_dist

    def _complexphrase_dist(spark, sf):
        from lucene_spark.search.complexphrase import parse_complex_phrase

        index, searcher = gate_index(spark, sf)
        q = parse_complex_phrase(index, "(table merge) v*", slop=2)
        return _hits_df(spark, searcher.search(q, k=10, mode="distributed"))

    Q["ft_dist_complexphrase_top10"] = _complexphrase_dist

    def _mlt_dist(spark, sf):
        from lucene_spark.search.mlt import more_like_this_query

        index, searcher = gate_index(spark, sf)
        q = more_like_this_query(index, 0, corpus_df(spark, sf))
        return _hits_df(spark, searcher.search(q, k=10, mode="distributed"))

    Q["ft_dist_mlt_top10"] = _mlt_dist

    def _sorted_dist(spark, sf):
        from lucene_spark.search.postprocess import sorted_search

        index, searcher = gate_index(spark, sf)
        out = sorted_search(
            searcher, A.TermQuery("table"), index.docs, [("n_chars", False)], k=10,
            mode="distributed",
        )
        return out.select(F.col("doc_id").cast("long"), F.col("n_chars").cast("long"))

    Q["ft_dist_sorted_top10"] = _sorted_dist

    # the full pluggable-similarity family through the distributed plan
    for _m, _key in (
        ("dfr", "ft_dist_dfr_top10"),
        ("lmjelinekmercer", "ft_dist_lmjm_top10"),
        ("dfi", "ft_dist_dfi_top10"),
        ("ib", "ft_dist_ib_top10"),
        ("indri", "ft_dist_indri_top10"),
        ("axiomaticf2exp", "ft_dist_axf2exp_top10"),
        ("axiomaticf3log", "ft_dist_axf3log_top10"),
    ):
        Q[_key] = (
            lambda spark, sf, _m=_m: _hits_df(
                spark, _sim_search(spark, sf, _m, A.TermQuery("table"), mode="distributed")
            )
        )

    def _sweetspot_dist(spark, sf):
        from lucene_spark.search.similarity import SweetSpotSim

        sim = SweetSpotSim(ln_min=4, ln_max=32, ln_steep=0.5, tf_base=1.5, tf_min=2.0)
        return _hits_df(
            spark, _sim_search(spark, sf, sim, A.TermQuery("table"), mode="distributed")
        )

    Q["ft_dist_sweetspot_top10"] = _sweetspot_dist

    def _multisim_dist(spark, sf):
        from lucene_spark.search.similarity import MultiSim

        return _hits_df(
            spark,
            _sim_search(
                spark, sf, MultiSim(["bm25", "classic"]), A.TermQuery("table"),
                mode="distributed",
            ),
        )

    Q["ft_dist_multisim_top10"] = _multisim_dist

    def _perfield_dist(spark, sf):
        from lucene_spark.search.similarity import PerFieldSim

        q = A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.TermQuery("vector")),
                (A.Occur.SHOULD, A.TermQuery("vector", field="title")),
            )
        )
        return _hits_df(
            spark,
            _sim_search(
                spark, sf, PerFieldSim("bm25", {"title": "classic"}), q, mode="distributed"
            ),
        )

    Q["ft_dist_perfield_top10"] = _perfield_dist

    def _percolate(spark, sf):
        from lucene_spark.search.percolate import QueryMonitor

        qm = QueryMonitor(
            spark,
            {
                "q_term": A.TermQuery("table"),
                "q_and": A.BooleanQuery(
                    ((A.Occur.MUST, A.TermQuery("merge")), (A.Occur.MUST, A.TermQuery("vector")))
                ),
                "q_msm": A.BooleanQuery(
                    (
                        (A.Occur.SHOULD, A.TermQuery("dup")),
                        (A.Occur.SHOULD, A.TermQuery("vector")),
                        (A.Occur.SHOULD, A.TermQuery("scan")),
                    ),
                    minimum_should_match=2,
                ),
                "q_phrase": A.PhraseQuery(("table", "hash")),
                "q_not": A.BooleanQuery(
                    ((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST_NOT, A.TermQuery("merge")))
                ),
                "q_prefix": A.PrefixQuery("s"),
                "q_sloppy2": A.PhraseQuery(("table", "hash"), slop=2),
            },
        )
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).select("doc_id", "text")
        return qm.match(docs).orderBy("doc_id", "query_id")

    Q["pc_match"] = _percolate

    def _writer_update(spark, sf):
        index, searcher = writer_index(spark, sf)
        td = searcher.search(A.TermQuery("vector"), k=ALL_K)
        hits = spark.createDataFrame(
            [(int(d), _round2(float(s))) for d, s in td.hits], "doc_id bigint, score_r double"
        )
        return (
            index.docs.join(F.broadcast(hits), "doc_id")
            .select("path", "score_r")
            .orderBy("path")
        )

    Q["ix_writer_update"] = _writer_update

    def _dv_update(spark, sf):
        index = dv_gate_index(spark, sf)
        return index.docs.select(
            F.col("doc_id").cast("long"), F.col("n_chars").cast("long")
        ).orderBy("doc_id")

    Q["ix_dv_update"] = _dv_update

    def _addindexes_term(spark, sf):
        _, searcher = addindexes_gate_index(spark, sf)
        return _hits_df(spark, searcher.search(A.TermQuery("table"), k=10))

    Q["ix_addindexes_top10"] = _addindexes_term

    def _addindexes_phrase(spark, sf):
        # positions survive the decode → re-pack round trip
        _, searcher = addindexes_gate_index(spark, sf)
        return _hits_df(spark, searcher.search(A.PhraseQuery(("table", "hash")), k=10))

    Q["ix_addindexes_phrase_top10"] = _addindexes_phrase

    def _addcopy_term(spark, sf):
        # copy variant searched through the DISTRIBUTED path: the tier
        # union is exactly the 100-TB read shape
        _, searcher = addcopy_gate_index(spark, sf)
        return _hits_df(spark, searcher.search(A.TermQuery("table"), k=10, mode="distributed"))

    Q["ix_addcopy_top10"] = _addcopy_term

    def _addcopy_phrase(spark, sf):
        _, searcher = addcopy_gate_index(spark, sf)
        return _hits_df(spark, searcher.search(A.PhraseQuery(("table", "hash")), k=10))

    Q["ix_addcopy_phrase_top10"] = _addcopy_phrase

    # -- index-table invariants --
    def _term_stats(spark, sf):
        index, _ = gate_index(spark, sf)
        return (
            index.term_stats_df.orderBy(F.desc("df"), F.asc("term"))
            .limit(20)
            .select("term", F.col("df").cast("long"), F.col("ttf").cast("long"))
        )

    Q["ix_term_stats"] = _term_stats

    def _norms(spark, sf):
        index, _ = gate_index(spark, sf)
        return index.norms.select(
            F.col("doc_id").cast("long"), F.col("dl").cast("long"), F.col("norm").cast("long")
        ).orderBy("doc_id")

    Q["ix_norms"] = _norms

    def _docs_sha(spark, sf):
        index, _ = gate_index(spark, sf)
        return index.docs.select(F.col("doc_id").cast("long"), "content_sha256").orderBy("doc_id")

    Q["ix_docs_sha"] = _docs_sha

    def _cstats(spark, sf):
        index, _ = gate_index(spark, sf)
        s = index.stats
        return spark.createDataFrame(
            [(int(s.doc_count), int(s.sum_total_term_freq))], "doc_count bigint, sum_ttf bigint"
        )

    Q["ix_collection_stats"] = _cstats

    def _postings_decode(spark, sf):
        # decode the FOR/varint-packed blob back to (doc_id, tf) rows —
        # gates the codec round-trip end-to-end against relational truth
        index, _ = gate_index(spark, sf)
        pl = index.collect_postings(["merge"])["merge"]
        rows = [(int(d), int(t)) for d, t in zip(pl.docs, pl.tfs)]
        return spark.createDataFrame(rows, "doc_id bigint, tf bigint")

    Q["ix_postings_decode"] = _postings_decode

    Q.update(_pipeline_queries())
    return Q


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _pipeline_queries() -> dict:
    from lucene_spark.pipeline import dedup, multimodal, similarity, textstats

    Q: dict = {}

    Q["dd_exact"] = lambda spark, sf: dedup.exact_duplicates(_docs(spark, sf)).select(
        "content_sha256", F.col("rep_id").cast("long"), F.col("n_dups").cast("long")
    )
    Q["dd_jaccard"] = lambda spark, sf: dedup.jaccard_pairs(_docs(spark, sf), threshold=0.5).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), F.round("jaccard", 3).alias("jaccard_r")
    )
    Q["dd_minhash"] = lambda spark, sf: dedup.minhash_lsh_pairs(_docs(spark, sf), threshold=0.5).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), F.round("jaccard", 3).alias("jaccard_r")
    )
    Q["dd_clusters"] = lambda spark, sf: dedup.duplicate_clusters(
        dedup.jaccard_pairs(_docs(spark, sf), threshold=0.5)
    ).select(F.col("doc_id").cast("long"), F.col("cluster").cast("long"))
    # SimHash: FNV-1a-64 re-derived in DuckDB as a recursive CTE, the
    # banding verified against exact all-pairs hamming → full oracle
    Q["dd_simhash"] = lambda spark, sf: dedup.simhash_pairs(_docs(spark, sf), max_hamming=3).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), F.col("hamming").cast("long")
    )

    def _ann_queries(spark, sf):
        e = _emb(spark, sf)
        return e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")

    Q["ann_cosine_top5"] = lambda spark, sf: similarity.brute_cosine_topk(
        _emb(spark, sf), _ann_queries(spark, sf), k=5
    ).select("query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r"))
    # LSH ANN: bucketing-dependent recall → rows-only check (no oracle)
    Q["ann_lsh_top5"] = lambda spark, sf: similarity.lsh_cosine_topk(
        _emb(spark, sf), _ann_queries(spark, sf), k=5
    ).select("query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r"))
    # full-recall parameterization (n_bits=0 → one bucket): the SAME
    # LSH code path, provably equal to brute force → full oracle
    Q["ann_lsh_full_top5"] = lambda spark, sf: similarity.lsh_cosine_topk(
        _emb(spark, sf), _ann_queries(spark, sf), k=5, n_bits=0, n_tables=1
    ).select("query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r"))

    # Embedding-cosine near-dup: exact pair path at this (low) threshold;
    # the sign-LSH banded path is the >=0.8-threshold scale path (pytest)
    Q["dd_embed"] = lambda spark, sf: similarity.embedding_near_dup(
        _emb(spark, sf), threshold=0.45
    ).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), F.round("sim", 4).alias("sim_r")
    )
    # SemDeDup trained path: k-means quantizer → rows-only check (the
    # pinned-centroid twin below carries the full oracle)
    Q["dd_semdedup"] = lambda spark, sf: similarity.semantic_dedup(
        _emb(spark, sf), threshold=0.45, n_clusters=4
    ).select(
        "vec_id", F.col("is_dup").cast("long").alias("dup"),
    ).orderBy("vec_id")

    def _semdedup_full(spark, sf):
        import numpy as np

        emb = _emb(spark, sf)
        dim = len(emb.select("embedding").first()[0])
        # one PINNED centroid (the first basis vector): centroid_sim =
        # v[0]/|v| and a single cluster — the whole keep-low algorithm
        # becomes SQL-expressible, the oracle twin for dd_semdedup
        cent = np.zeros((1, dim)); cent[0, 0] = 1.0
        return (
            similarity.semantic_dedup(emb, threshold=0.45, centroids=cent)
            .select(
                "vec_id",
                F.round("centroid_sim", 4).alias("csim_r"),
                F.col("is_dup").cast("long").alias("dup"),
            )
            .orderBy("vec_id")
        )

    Q["dd_semdedup_full"] = _semdedup_full
    # HNSW graph ANN (per-shard small-world graphs, parquet sidecar,
    # parallel leaf search + merge — pipeline/hnsw.py). Graph-path
    # recall is ef-dependent → rows-only; the ef>=shard-size
    # parameterization scans shards exhaustively → full oracle (the
    # lsh n_bits=0 / ivf full-probe twin pattern).
    def _hnsw_graph(spark, sf):
        from lucene_spark.pipeline.hnsw import build_hnsw

        d = f"/tmp/lucene_spark_gatehnsw_{ENGINE_VERSION}/{os.path.basename(os.path.normpath(sf))}"
        if not os.path.exists(f"{d}/_SUCCESS"):
            build_hnsw(_emb(spark, sf), d, n_shards=4, m=8, ef_construction=64)
        return spark.read.parquet(d)

    def _hnsw_q(spark, sf, ef):
        from lucene_spark.pipeline.hnsw import hnsw_cosine_topk

        return hnsw_cosine_topk(_hnsw_graph(spark, sf), _ann_queries(spark, sf), k=5, ef=ef).select(
            "query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r")
        )

    Q["ann_hnsw_top5"] = lambda spark, sf: _hnsw_q(spark, sf, 64)
    Q["ann_hnsw_full_top5"] = lambda spark, sf: _hnsw_q(spark, sf, 10**6)

    # IVF-Flat ANN: probe-dependent recall → rows-only check (no oracle)
    Q["ann_ivf_top5"] = lambda spark, sf: similarity.ivf_cosine_topk(
        _emb(spark, sf), _ann_queries(spark, sf), k=5, n_centroids=8, n_probe=3
    ).select("query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r"))
    # full-probe parameterization (n_probe = n_centroids → every list
    # scanned): the SAME IVF code path, provably equal to brute force
    Q["ann_ivf_full_top5"] = lambda spark, sf: similarity.ivf_cosine_topk(
        _emb(spark, sf), _ann_queries(spark, sf), k=5, n_centroids=8, n_probe=8
    ).select("query_id", "rank", F.col("vec_id").cast("long"), F.round("sim", 4).alias("sim_r"))

    # -- curation: decontamination + deterministic sampling --
    from lucene_spark.pipeline import curation

    def _bench(spark, sf):
        return _docs(spark, sf).filter(F.col("doc_id") % 97 == 0).select(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ").alias("text")
        )

    # exact-substring dedup (Lee et al. 2022 at word-5-gram
    # granularity): per-doc merged duplicated spans + span removal
    def _dupspans(spark, sf):
        from lucene_spark.pipeline import substrings

        return (
            substrings.duplicated_ngram_spans(_docs(spark, sf), n=5)
            .select(
                F.col("doc_id").cast("long"),
                F.col("n_tokens").cast("long"),
                F.col("dup_tokens").cast("long"),
                F.round("dup_frac", 4).alias("dup_frac_r"),
            )
            .orderBy("doc_id")
        )

    Q["dd_dupspans"] = _dupspans

    def _dupclean(spark, sf):
        from lucene_spark.pipeline import substrings

        return (
            substrings.remove_duplicated_ngrams(_docs(spark, sf), n=5)
            .select(F.col("doc_id").cast("long"), "text", F.col("dup_tokens").cast("long"))
            .orderBy("doc_id")
        )

    Q["dd_dupclean"] = _dupclean

    # C4 line filters over a deterministically line-structured
    # derivation of the corpus (7-token lines; every third line of a
    # doc lacks terminal punctuation; every 17th doc gains a brace,
    # every 19th a "lorem ipsum" line) — the oracle derives the
    # identical multiline text in SQL
    def _c4(spark, sf):
        docs = _docs(spark, sf)
        toks = F.split(F.col("text"), " ")
        nlines = F.ceil(F.size(toks) / F.lit(7)).cast("int")
        lines = F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda i: F.concat(
                F.array_join(F.slice(toks, i * 7 + 1, 7), " "),
                F.when((F.col("doc_id") + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
            ),
        )
        text2 = F.concat(
            F.array_join(lines, "\n"),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" {")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 0, F.lit("\nsome lorem ipsum filler line.")).otherwise(
                F.lit("")
            ),
        )
        mdocs = docs.select("doc_id", text2.alias("text"))
        return curation.c4_line_filters(mdocs).orderBy("doc_id")

    Q["tx_c4"] = _c4

    # PII scrubbing over deterministically planted PII (every doc gains
    # an email; every 3rd an IP, every 5th a phone) — oracle plants the
    # identical strings and applies the same RE2-safe patterns
    def _pii(spark, sf):
        docs = _docs(spark, sf)
        d = F.col("doc_id")
        text2 = F.concat(
            F.col("text"),
            F.lit(" contact user"), d.cast("string"), F.lit("@example.com"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit("."), (d % 100).cast("string")),
            ).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit(" call +1 555 123 4567")).otherwise(F.lit("")),
        )
        pdocs = docs.select("doc_id", text2.alias("text"))
        return curation.scrub_pii(pdocs).orderBy("doc_id")

    Q["tx_pii"] = _pii

    # event-time windowed aggregation over the events table (the
    # Structured Streaming windowed-agg surface, batch-verified —
    # identical code runs on a readStream source)
    def _ev_windows(spark, sf):
        from lucene_spark.streaming.windows import windowed_event_counts

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return (
            windowed_event_counts(ev, window="10 minutes")
            .select(
                F.col("window_start").cast("long"),
                "event_type",
                F.col("n_events").cast("long"),
                F.round("sum_value", 2).alias("sum_value_r"),
            )
            .orderBy("window_start", "event_type")
        )

    Q["ev_windows"] = _ev_windows

    def _ev_sessions(spark, sf):
        from lucene_spark.streaming.windows import sessionize

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return (
            sessionize(ev, gap="30 minutes")
            .select(
                F.col("user_id").cast("long"),
                F.col("session_start").cast("long"),
                F.col("n_events").cast("long"),
                F.round("sum_value", 2).alias("sum_value_r"),
            )
            .orderBy("user_id", "session_start")
        )

    Q["ev_sessions"] = _ev_sessions

    # corpus profiling: exact columns oracled; the HLL++ estimate is
    # pytest-verified against its rsd bound (approximate by design)
    def _vocab(spark, sf):
        from lucene_spark.pipeline.sketches import vocabulary_stats

        return vocabulary_stats(_docs(spark, sf)).select("n_docs", "n_tokens", "vocab_exact")

    Q["tx_vocab"] = _vocab

    def _quantiles(spark, sf):
        from lucene_spark.pipeline.sketches import length_quantiles

        return length_quantiles(_docs(spark, sf)).select(
            "prob", F.round("q", 2).alias("q_r")
        )

    Q["tx_len_quantiles"] = _quantiles

    def _hh(spark, sf):
        from lucene_spark.pipeline.sketches import term_heavy_hitters

        return term_heavy_hitters(_docs(spark, sf), k=10)

    Q["tx_heavy_hitters"] = _hh

    Q["dd_decontam"] = lambda spark, sf: curation.contaminated_ids(
        _docs(spark, sf), _bench(spark, sf), n=8
    ).select(F.col("doc_id").cast("long")).orderBy("doc_id")
    Q["tx_sample"] = lambda spark, sf: curation.sample_deterministic(
        _docs(spark, sf), 0.25
    ).select(F.col("doc_id").cast("long")).orderBy("doc_id")
    Q["tx_sample_strat"] = lambda spark, sf: curation.sample_stratified(
        _docs(spark, sf), {"en": 1.0, "fr": 0.5}, "lang", default_rate=0.1
    ).select(F.col("doc_id").cast("long")).orderBy("doc_id")

    def _fuzzy_suggest(spark, sf):
        from lucene_spark.search.suggest import fuzzy_suggest

        index, _ = gate_index(spark, sf)
        return fuzzy_suggest(index, "tablw", k=10)

    Q["sg_fuzzy_top10"] = _fuzzy_suggest

    Q["tx_repetition"] = lambda spark, sf: textstats.repetition_signals(
        _docs(spark, sf)
    ).select(
        F.col("doc_id").cast("long"),
        "dup_line_frac",
        "dup_line_char_frac",
        "top_ngram_char_frac",
    )
    Q["tx_quality"] = lambda spark, sf: textstats.quality_metrics(_docs(spark, sf)).select(
        "doc_id", "n_tokens", "n_chars", "avg_token_len", "stopword_ratio", "ttr"
    )
    Q["tx_langid"] = lambda spark, sf: textstats.language_id(_docs(spark, sf)).select(
        "doc_id", "en_ratio", "pred_lang"
    )
    Q["tx_tokens"] = lambda spark, sf: textstats.token_counts(_docs(spark, sf)).select(
        "doc_id", "ws_tokens", "an_tokens", "bpe_est"
    )

    def _tx_perplexity(spark, sf):
        # CCNet-style LM quality signal: add-1 bigram self-perplexity
        from pyspark.sql import functions as F

        from lucene_spark.pipeline.lm import perplexity

        return (
            perplexity(_docs(spark, sf))
            .select("doc_id", "n_tokens", F.round("ppl", 3).alias("ppl"))
            .orderBy("doc_id")
        )

    Q["tx_perplexity"] = _tx_perplexity

    def _tx_bpe(spark, sf):
        # BPE tokenizer training (deterministic merge sequence). The
        # merge loop is iterative, not one-shot-SQL-expressible, so
        # this gate is rows-only (pytest holds the from-definition
        # brute oracle, tests/test_bpe.py).
        from lucene_spark.pipeline.bpe import train_bpe

        merges = train_bpe(_docs(spark, sf), n_merges=24)
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank bigint, left string, right string",
        )

    Q["tx_bpe_merges"] = _tx_bpe

    def _tx_rebalance(spark, sf):
        # source-mix rebalancing: cap every source at 3% of the corpus
        from lucene_spark.pipeline.curation import rebalance_sources

        return rebalance_sources(_docs(spark, sf), "source", max_frac=0.03).select(
            "doc_id"
        ).orderBy("doc_id")

    Q["tx_rebalance"] = _tx_rebalance

    def _tx_dsir_weights(spark, sf):
        # DSIR (Xie et al. 2023): importance weights of every doc under
        # hashed unigram+bigram bucket models — target = the doc_id%17
        # slice (a deterministic stand-in for the quality corpus), raw =
        # the full table
        from lucene_spark.pipeline.dsir import importance_weights

        docs = _docs(spark, sf)
        return (
            importance_weights(docs, docs.filter("doc_id % 17 = 0"), n_buckets=4096)
            .select("doc_id", "n_grams", F.round("logw", 4).alias("logw"))
            .orderBy("doc_id")
        )

    Q["tx_dsir_weights"] = _tx_dsir_weights

    def _tx_dsir_select(spark, sf):
        # DSIR Gumbel top-k selection (deterministic md5-derived noise)
        from lucene_spark.pipeline.dsir import dsir_select

        docs = _docs(spark, sf)
        return (
            dsir_select(docs, docs.filter("doc_id % 17 = 0"), n=50, n_buckets=4096)
            .select("doc_id")
            .orderBy("doc_id")
        )

    Q["tx_dsir_select"] = _tx_dsir_select
    Q["tx_fp"] = lambda spark, sf: textstats.fingerprints(_docs(spark, sf)).select("doc_id", "fp")

    Q["mm_meta"] = lambda spark, sf: multimodal.extract_metadata(
        multimodal.with_payload(_docs(spark, sf))
    ).select(
        "doc_id", "kind", "format", "n_bytes", "width", "height", "sample_rate", "n_frames"
    )

    return Q


def oracle_sql() -> dict[str, str]:
    O: dict[str, str] = {}
    O["ft_term_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    # ClassicSimilarity: tf = sqrt(freq), idf = ln((N+1)/(df+1)) + 1,
    # lengthNorm = 1/sqrt(len) (ClassicSimilarity.java:38-64)
    O["ft_code_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    O["ft_ws_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    # folding/char-filter bijections: token stream identical to the raw
    # corpus, so the standard tscore oracle applies verbatim
    O["ft_ascii_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    O["ft_icu_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    # cjk gate: token-stream bijection (see cjk_gate_index) → the
    # standard term/phrase oracles apply verbatim
    O["ft_cjk_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    # ko gate: token-stream bijection (see ko_gate_index) → the
    # standard term/phrase oracles apply verbatim
    O["ft_ko_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    O["ft_zh_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    O["ft_html_top10"] = topk_sql("SELECT doc_id, s FROM tscore WHERE term = 'table'")
    # edge-ngram (1..4): tf('tab') = tokens with len>=3 and prefix
    # 'tab'; norms = unigram dl; avgdl = Σ min(len(token),4) / n
    O["ft_edgegram_top10"] = (
        base_ctes()
        + ", egstat AS (SELECT sum(least(length(term), 4))::DOUBLE / "
        "   (SELECT n FROM stats) AS avgdl FROM toks), "
        "egtf AS (SELECT doc_id, count(*)::BIGINT AS tf FROM toks "
        "   WHERE length(term) >= 3 AND substr(term, 1, 3) = 'tab' GROUP BY doc_id), "
        "egdf AS (SELECT count(*)::BIGINT AS df FROM egtf), "
        "egw AS (SELECT ln(1 + ((SELECT n FROM stats) - (SELECT df FROM egdf) + 0.5) "
        "   / ((SELECT df FROM egdf) + 0.5)) AS w), "
        "q AS (SELECT f.doc_id, egw.w - egw.w / (1 + f.tf * (1.0 / "
        f"  ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM egstat))))) AS s "
        "  FROM egtf f JOIN norms n ON n.doc_id = f.doc_id, egw) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # KeywordAnalyzer: every doc is one token (tf=1, dl=1 → norm
    # decode 1, avgdl=1); BM25 from first principles over the whole
    # case-preserved value source||'-'||upper(lang)
    O["ft_kw_term_top10"] = (
        "WITH kw AS (SELECT doc_id, source || '-' || upper(lang) AS term FROM documents), "
        "kst AS (SELECT count(*)::BIGINT AS n FROM kw), "
        "kdf AS (SELECT count(*)::BIGINT AS df FROM kw WHERE term = 'src13-EN'), "
        "q AS (SELECT doc_id, "
        "  ln(1 + ((SELECT n FROM kst) - (SELECT df FROM kdf) + 0.5) / ((SELECT df FROM kdf) + 0.5)) "
        "  - ln(1 + ((SELECT n FROM kst) - (SELECT df FROM kdf) + 0.5) / ((SELECT df FROM kdf) + 0.5)) "
        f"    / (1 + 1.0 * (1.0 / ({K1} * ((1 - {B}) + {B} * 1.0 / 1.0)))) AS s "
        "  FROM kw WHERE term = 'src13-EN') "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    O["ft_kw_prefix_ids"] = (
        "SELECT doc_id FROM documents "
        "WHERE (source || '-' || upper(lang)) LIKE 'src1%' ORDER BY doc_id"
    )
    # payload gates: payload of the occurrence at 1-based post.pos is
    # (pos-1) % 7 - 1 (the index annotated 0-based positions); the
    # token stream is the raw corpus, so tscore applies verbatim.
    # Sum factor truncates negative to 0 (PayloadSpanScorer:250-257).
    _PAY = "((p.pos - 1) % 7 - 1)"
    O["ft_payload_sum_top10"] = topk_sql(
        "SELECT t.doc_id, t.s * greatest(pf.f, 0) AS s "
        "FROM tscore t JOIN (SELECT p.doc_id, sum(" + _PAY + ")::DOUBLE AS f "
        "  FROM post p WHERE p.term = 'table' GROUP BY p.doc_id) pf USING (doc_id) "
        "WHERE t.term = 'table'"
    )
    O["ft_payload_max_top10"] = topk_sql(
        "SELECT p.doc_id, greatest(max(" + _PAY + "), 0)::DOUBLE AS s "
        "FROM post p WHERE p.term = 'table' GROUP BY p.doc_id"
    )
    # phrase span payloads: both slots of every 'table hash' adjacency
    # (a.pos and b.pos = a.pos+1) contribute to the sum; span score =
    # exact-phrase BM25 (freq = adjacency count, weight = summed idfs)
    O["ft_payload_phrase_top10"] = topk_sql(
        "SELECT sp.doc_id, "
        "  (ws.w - ws.w / (1 + sp.pf * " + _INV + ")) * greatest(sp.f, 0) AS s "
        "FROM (SELECT a.doc_id, count(*)::BIGINT AS pf, "
        "        sum(((a.pos - 1) % 7 - 1) + ((b.pos - 1) % 7 - 1))::DOUBLE AS f "
        "      FROM post a JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "      WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id) sp "
        "JOIN norms n ON n.doc_id = sp.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws"
    )
    O["ft_payloadcheck_ids"] = ids_sql(
        "SELECT p.doc_id FROM post p WHERE p.term = 'table' AND " + _PAY + " = 3"
    )
    O["ft_dist_payload_sum_top10"] = O["ft_payload_sum_top10"]
    # TermAutomatonQuery "table (hash | ANY hash)": countMatches path
    # counting = adjacencies + dist-2 spans + dist-2 spans AGAIN when
    # the gap token is a query term (TermAutomatonScorer's ANY sweep
    # starts AT lastPos, so the gap token is consumed BOTH via the
    # expanded det term step and via a separate any-symbol step, and
    # PosState.add never dedups — two distinct accept arrivals);
    # weight = summed idfs of the automaton's present terms
    O["ft_automaton_top10"] = topk_sql(
        "SELECT f.doc_id, ws.w - ws.w / (1 + f.tf * " + _INV + ") AS s "
        "FROM (SELECT x.doc_id, sum(x.c)::BIGINT AS tf FROM ("
        "  SELECT a.doc_id, count(*)::BIGINT AS c FROM post a "
        "    JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "    WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id "
        "  UNION ALL SELECT a.doc_id, count(*)::BIGINT FROM post a "
        "    JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 2 "
        "    WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id "
        "  UNION ALL SELECT a.doc_id, count(*)::BIGINT FROM post a "
        "    JOIN post m ON a.doc_id = m.doc_id AND m.pos = a.pos + 1 "
        "    JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 2 "
        "    WHERE a.term = 'table' AND m.term IN ('table','hash') AND b.term = 'hash' "
        "    GROUP BY a.doc_id"
        ") x GROUP BY x.doc_id) f "
        "JOIN norms n USING (doc_id), "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws"
    )
    O["ft_dist_automaton_top10"] = O["ft_automaton_top10"]
    # graph synonyms: SHOULD boolean sums the matching clause scores —
    # term score + per-path phrase scores re-derived relationally
    _PH2 = (
        "SELECT a.doc_id, count(*)::BIGINT AS tf FROM post a "
        "JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "WHERE a.term = 'hash' AND b.term = 'merge' GROUP BY a.doc_id"
    )
    O["ft_graphsyn_top10"] = topk_sql(
        "SELECT coalesce(t.doc_id, p.doc_id) AS doc_id, "
        "  coalesce(t.s, 0) + coalesce(p.s, 0) AS s FROM "
        "(SELECT doc_id, s FROM tscore WHERE term = 'table') t FULL JOIN "
        "(SELECT f.doc_id, ws.w - ws.w / (1 + f.tf * " + _INV + ") AS s "
        " FROM (" + _PH2 + ") f JOIN norms n USING (doc_id), "
        " (SELECT sum(w) AS w FROM idfw WHERE term IN ('hash','merge')) ws) p "
        "ON t.doc_id = p.doc_id"
    )
    _PH2B = (
        "SELECT a.doc_id, count(*)::BIGINT AS tf FROM post a "
        "JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id"
    )
    _PH3 = (
        "SELECT a.doc_id, count(*)::BIGINT AS tf FROM post a "
        "JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "JOIN post c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 "
        "WHERE a.term = 'table' AND b.term = 'merge' AND c.term = 'sort' "
        "GROUP BY a.doc_id"
    )
    O["ft_graphsyn_phrase_top10"] = topk_sql(
        "SELECT coalesce(p1.doc_id, p2.doc_id) AS doc_id, "
        "  coalesce(p1.s, 0) + coalesce(p2.s, 0) AS s FROM "
        "(SELECT f.doc_id, w1.w - w1.w / (1 + f.tf * " + _INV + ") AS s "
        " FROM (" + _PH2B + ") f JOIN norms n USING (doc_id), "
        " (SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) w1) p1 FULL JOIN "
        "(SELECT f.doc_id, w2.w - w2.w / (1 + f.tf * " + _INV + ") AS s "
        " FROM (" + _PH3 + ") f JOIN norms n USING (doc_id), "
        " (SELECT sum(w) AS w FROM idfw WHERE term IN ('table','merge','sort')) w2) p2 "
        "ON p1.doc_id = p2.doc_id"
    )
    O["ft_dist_graphsyn_top10"] = O["ft_graphsyn_top10"]
    O["ft_multirange_ids"] = (
        "SELECT doc_id FROM documents WHERE n_chars <= 400 "
        "OR n_chars BETWEEN 800 AND 1200 OR n_chars >= 3000 ORDER BY doc_id"
    )
    # bigram-shingled index: tf('table hash') = adjacency count; df =
    # docs with the adjacency; norms = unigram dlen (discountOverlaps);
    # avgdl = (Σ dl + shingles)/n with shingles = dl-1 (dense positions)
    O["ft_shingle_top10"] = (
        base_ctes()
        + ", sstat AS (SELECT sum(dl + CASE WHEN dl >= 2 THEN dl - 1 ELSE 0 END)::DOUBLE"
        "            / count(*) AS avgdl, count(*)::BIGINT AS n FROM dl), "
        "stf AS (SELECT a.doc_id, count(*)::BIGINT AS tf FROM post a "
        "        JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "        WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id), "
        "sdf AS (SELECT count(*)::BIGINT AS df FROM stf), "
        "sw AS (SELECT ln(1 + ((SELECT n FROM sstat) - (SELECT df FROM sdf) + 0.5) "
        "        / ((SELECT df FROM sdf) + 0.5)) AS w), "
        "q AS (SELECT f.doc_id, sw.w - sw.w / (1 + f.tf * (1.0 / "
        f"      ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM sstat))))) AS s "
        "      FROM stf f JOIN norms n ON n.doc_id = f.doc_id, sw) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # index-time synonyms {table, hash}: member postings are the UNION
    # (tf = tf(table)+tf(hash), df = docs with either); avgdl counts one
    # stacked copy per member occurrence; norms stay the surface dl
    _SYN_CTES = (
        ", synx AS (SELECT count(*)::BIGINT AS extra FROM toks WHERE term IN ('table', 'hash')), "
        "sstat AS (SELECT ((SELECT sum_ttf FROM stats) + (SELECT extra FROM synx))::DOUBLE "
        "          / (SELECT n FROM stats) AS avgdl), "
        "stf AS (SELECT doc_id, count(*)::BIGINT AS tf FROM toks "
        "        WHERE term IN ('table', 'hash') GROUP BY doc_id), "
        "sdf AS (SELECT count(*)::BIGINT AS df FROM stf), "
        "sw AS (SELECT ln(1 + ((SELECT n FROM stats) - (SELECT df FROM sdf) + 0.5) "
        "        / ((SELECT df FROM sdf) + 0.5)) AS w), "
    )
    _SYN_INV = f"(1.0 / ({K1} * ((1 - {B}) + {B} * n.dlen / (SELECT avgdl FROM sstat))))"
    _SYN_TAIL = (
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    O["ft_synstack_top10"] = (
        base_ctes()
        + _SYN_CTES
        + "q AS (SELECT f.doc_id, sw.w - sw.w / (1 + f.tf * " + _SYN_INV + ") AS s "
        "      FROM stf f JOIN norms n USING (doc_id), sw) "
        + _SYN_TAIL
    )
    # phrase '"table hash"' over the synonym index: both slots see the
    # union postings, so freq = adjacencies of ANY two set members;
    # weight = idf(table) + idf(hash) = 2w (equal union df)
    O["ft_synstack_phrase_top10"] = (
        base_ctes()
        + _SYN_CTES
        + "ptf AS (SELECT a.doc_id, count(*)::BIGINT AS tf FROM post a "
        "        JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "        WHERE a.term IN ('table', 'hash') AND b.term IN ('table', 'hash') "
        "        GROUP BY a.doc_id), "
        "q AS (SELECT f.doc_id, 2 * sw.w - 2 * sw.w / (1 + f.tf * " + _SYN_INV + ") AS s "
        "      FROM ptf f JOIN norms n USING (doc_id), sw) "
        + _SYN_TAIL
    )
    O["ft_dist_synstack_top10"] = O["ft_synstack_top10"]
    O["ft_dist_synstack_phrase_top10"] = O["ft_synstack_phrase_top10"]
    O["ft_geobox_ids"] = (
        "WITH coords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        "SELECT doc_id FROM coords WHERE lat BETWEEN -30.0 AND 45.0 "
        "AND lon BETWEEN -90.0 AND 60.0 ORDER BY doc_id"
    )
    O["ft_geodist_ids"] = (
        "WITH coords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        "SELECT doc_id FROM coords WHERE 2.0 * 6371008.7714 * asin(sqrt(pow(sin((radians(lat) - radians(10.0)) / 2.0), 2.0) + cos(radians(10.0)) * cos(radians(lat)) * pow(sin((radians(lon) - radians(20.0)) / 2.0), 2.0))) <= 4000000.0 "
        "ORDER BY doc_id"
    )
    from lucene_spark.search.geo import ray_cast_sql as _rc

    _POLY_SHELL = ((-10.001, -50.001), (40.001, -60.001), (55.001, 10.001), (20.001, 60.001), (-30.001, 20.001))
    _POLY_HOLE = ((0.001, -20.001), (15.001, -25.001), (10.001, 5.001))
    O["ft_geopoly_ids"] = (
        "WITH coords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, "
        "((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        "SELECT doc_id FROM coords WHERE (" + _rc("lat", "lon", _POLY_SHELL) + ") "
        "AND NOT (" + _rc("lat", "lon", _POLY_HOLE) + ") ORDER BY doc_id"
    )
    from lucene_spark.search import ast as _A3
    from lucene_spark.search.spatial3d import circle_sql as _c3sql
    from lucene_spark.search.spatial3d import polygon_sql as _p3sql

    _G3D_RING = ((0.001, 0.001), (0.001, 40.001), (35.001, 40.001), (35.001, 0.001))
    O["ft_geo3d_circle_ids"] = (
        "WITH coords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, "
        "((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        "SELECT doc_id FROM coords WHERE "
        + _c3sql(_A3.Geo3DDistanceQuery("lat", "lon", 10.0, 20.0, 4_000_000.0, model="wgs84"))
        + " ORDER BY doc_id"
    )
    O["ft_geo3d_poly_ids"] = (
        "WITH coords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, "
        "((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        "SELECT doc_id FROM coords WHERE "
        + _p3sql(_A3.Geo3DPolygonQuery("lat", "lon", _G3D_RING))
        + " ORDER BY doc_id"
    )
    O["ft_geosort_top5"] = (
        base_ctes()
        + ", gcoords AS (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents) "
        + "SELECT m.doc_id, round(2.0 * 6371008.7714 * asin(sqrt(pow(sin((radians(lat) - radians(48.8)) / 2.0), 2.0) + cos(radians(48.8)) * cos(radians(lat)) * pow(sin((radians(lon) - radians(2.3)) / 2.0), 2.0))), 1) AS dist_r "
        + "FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'table') m "
        + "JOIN gcoords USING (doc_id) ORDER BY 2.0 * 6371008.7714 * asin(sqrt(pow(sin((radians(lat) - radians(48.8)) / 2.0), 2.0) + cos(radians(48.8)) * cos(radians(lat)) * pow(sin((radians(lon) - radians(2.3)) / 2.0), 2.0))), doc_id LIMIT 5"
    )
    # Blended-freq fuzzy: expansions of 'tale' within 2 edits; boost =
    # 1 - ed/min(len(term), 4) (exact -> 1.0); idf uses df = max over
    # the expansion set; SHOULD-summed per-term BM25
    O["ft_fuzzyscored_top10"] = topk_sql(
        "SELECT f.doc_id, sum(bw.bo * (i.w - i.w / (1 + f.tf * " + _INV + "))) AS s "
        "FROM (SELECT term, CASE WHEN levenshtein(term, 'tale') = 0 THEN 1.0 "
        "      ELSE 1.0 - levenshtein(term, 'tale')::DOUBLE / least(length(term), 4) END AS bo "
        "      FROM dfr WHERE levenshtein(term, 'tale') <= 2) bw "
        "JOIN tf f USING (term) JOIN norms n USING (doc_id), "
        "(SELECT ln(1 + ((SELECT n FROM stats) - max(df) + 0.5) / (max(df) + 0.5)) AS w "
        " FROM dfr WHERE levenshtein(term, 'tale') <= 2) i "
        "GROUP BY f.doc_id"
    )
    # FeatureField saturation over n_chars quantized through the
    # freq-encode round trip: floatToIntBits(v) >>> 15 truncates the
    # float32 mantissa to its top 8 bits — for integer v that is
    # floor(v * 2^(8-e)) * 2^(e-8) with e = floor(log2(v)), computed
    # with an exactness correction on e (FeatureField.java:196-218)
    _FEAT_Q = (
        "(SELECT doc_id, floor(n_chars * pow(2.0, 8 - e)) * pow(2.0, e - 8) AS q "
        " FROM (SELECT doc_id, n_chars, "
        "         CASE WHEN pow(2.0, el + 1) <= n_chars THEN el + 1 "
        "              WHEN pow(2.0, el) > n_chars THEN el - 1 ELSE el END AS e "
        "       FROM (SELECT doc_id, n_chars, CAST(floor(log2(n_chars)) AS BIGINT) AS el "
        "             FROM documents)))"
    )
    O["ft_feature_top10"] = topk_sql(
        "SELECT d.doc_id, coalesce(ts.s, 0.0) + 1.5 * (1.0 - 256.0 / (fq.q + 256.0)) AS s "
        "FROM documents d "
        "LEFT JOIN (SELECT doc_id, s FROM tscore WHERE term = 'table') ts USING (doc_id) "
        "JOIN " + _FEAT_Q + " fq USING (doc_id)"
    )
    O["ft_dist_feature_top10"] = O["ft_feature_top10"]
    O["ft_dist_geopoly_ids"] = O["ft_geopoly_ids"]

    # ---- LatLonShape oracles: re-derive the fixture triangle from
    # doc_id with the SAME SQL text Spark ran (corpus_df F.expr), then
    # the SAME closed-geometry predicate formulas as search/shapes.py —
    # every cross product is float64-identical on both sides.
    _SHP_REL = (
        "(SELECT doc_id, x1, y1, "
        + _SHAPE_BX.format(ax="x1") + " AS x2, "
        + _SHAPE_BY.format(ay="y1") + " AS y2, "
        + _SHAPE_CX.format(ax="x1") + " AS x3, "
        + _SHAPE_CY.format(ay="y1") + " AS y3 "
        "FROM (SELECT doc_id, " + _SHAPE_AX + " AS x1, " + _SHAPE_AY + " AS y1 "
        "FROM documents WHERE doc_id % 7 <> 6))"
    )
    _SHPV = (("x1", "y1"), ("x2", "y2"), ("x3", "y3"))

    def _scross(ox, oy, px, py, qx, qy):
        # (p - o) x (q - o), the shapes.py _cross_c operand order
        return f"(({px}) - ({ox})) * (({qy}) - ({oy})) - (({py}) - ({oy})) * (({qx}) - ({ox}))"

    def _spin(kx, ky):
        # constant point in the doc triangle (shapes._pin_tri_c)
        s1 = _scross("x1", "y1", "x2", "y2", kx, ky)
        s2 = _scross("x2", "y2", "x3", "y3", kx, ky)
        s3 = _scross("x3", "y3", "x1", "y1", kx, ky)
        bbox = (
            f"{kx} >= least(x1,x2,x3) AND {kx} <= greatest(x1,x2,x3) AND "
            f"{ky} >= least(y1,y2,y3) AND {ky} <= greatest(y1,y2,y3)"
        )
        return (
            f"(({bbox}) AND ((({s1}) >= 0 AND ({s2}) >= 0 AND ({s3}) >= 0) OR "
            f"(({s1}) <= 0 AND ({s2}) <= 0 AND ({s3}) <= 0)))"
        )

    def _bcorners(b):
        bminx, bminy, bmaxx, bmaxy = b
        return ((bminx, bminy), (bmaxx, bminy), (bmaxx, bmaxy), (bminx, bmaxy))

    def _sseg_box(p, q, b):
        # closed segment-vs-box (shapes._seg_box_closed_c)
        (px, py), (qx, qy) = p, q
        bminx, bminy, bmaxx, bmaxy = b
        ds = [_scross(px, py, qx, qy, x, y) for x, y in _bcorners(b)]
        overlap = (
            f"greatest({px},{qx}) >= {bminx} AND least({px},{qx}) <= {bmaxx} AND "
            f"greatest({py},{qy}) >= {bminy} AND least({py},{qy}) <= {bmaxy}"
        )
        return (
            f"(({overlap}) AND least({ds[0]},{ds[1]},{ds[2]},{ds[3]}) <= 0 "
            f"AND greatest({ds[0]},{ds[1]},{ds[2]},{ds[3]}) >= 0)"
        )

    def _stri_box(b):
        # closed triangle-vs-box (shapes._tri_box_intersects_c)
        bminx, bminy, bmaxx, bmaxy = b
        vin = " OR ".join(
            f"({x} >= {bminx} AND {x} <= {bmaxx} AND {y} >= {bminy} AND {y} <= {bmaxy})"
            for x, y in _SHPV
        )
        pins = " OR ".join(_spin(kx, ky) for kx, ky in _bcorners(b))
        segs = " OR ".join(_sseg_box(_SHPV[i], _SHPV[(i + 1) % 3], b) for i in range(3))
        return f"(({vin}) OR ({pins}) OR ({segs}))"

    def _scontains(b):
        # box ⊆ triangle union (shapes shape_box_condition 'contains');
        # every fixture edge carries the boundary flag
        bminx, bminy, bmaxx, bmaxy = b
        corners_cov = " AND ".join(_spin(kx, ky) for kx, ky in _bcorners(b))

        def crossing(p, q):
            (px, py), (qx, qy) = p, q
            pin_open_p = f"({px} > {bminx} AND {px} < {bmaxx} AND {py} > {bminy} AND {py} < {bmaxy})"
            pin_open_q = f"({qx} > {bminx} AND {qx} < {bmaxx} AND {qy} > {bminy} AND {qy} < {bmaxy})"
            ds = [_scross(px, py, qx, qy, x, y) for x, y in _bcorners(b)]
            strict = (
                f"least({ds[0]},{ds[1]},{ds[2]},{ds[3]}) < 0 AND "
                f"greatest({ds[0]},{ds[1]},{ds[2]},{ds[3]}) > 0"
            )
            oover = (
                f"greatest({px},{qx}) > {bminx} AND least({px},{qx}) < {bmaxx} AND "
                f"greatest({py},{qy}) > {bminy} AND least({py},{qy}) < {bmaxy}"
            )
            return f"({pin_open_p} OR {pin_open_q} OR (({strict}) AND ({oover})))"

        no_cross = " OR ".join(
            crossing(_SHPV[i], _SHPV[(i + 1) % 3]) for i in range(3)
        )
        return f"(({corners_cov}) AND NOT ({no_cross}))"

    _SB = (-45.0, 8.0, -35.0, 18.0)  # bminx(lon), bminy(lat), bmaxx, bmaxy
    O["ft_shape_intersects_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE {_stri_box(_SB)}"
    )
    O["ft_shape_disjoint_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE NOT {_stri_box(_SB)}"
    )
    O["ft_shape_within_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE "
        "least(x1,x2,x3) >= -55.0 AND greatest(x1,x2,x3) <= -25.0 AND "
        "least(y1,y2,y3) >= 0.0 AND greatest(y1,y2,y3) <= 32.0"
    )
    O["ft_shape_contains_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE {_scontains((-40.0, 12.0, -39.0, 13.0))}"
    )

    def _stri_tri(qt):
        # closed doc-tri vs constant query-tri (shapes._tri_tri_closed_c)
        qax, qay, qbx, qby, qcx, qcy = qt

        def pin_const(px, py):
            s1 = _scross(qax, qay, qbx, qby, px, py)
            s2 = _scross(qbx, qby, qcx, qcy, px, py)
            s3 = _scross(qcx, qcy, qax, qay, px, py)
            bbox = (
                f"{px} >= {min(qax, qbx, qcx)} AND {px} <= {max(qax, qbx, qcx)} AND "
                f"{py} >= {min(qay, qby, qcy)} AND {py} <= {max(qay, qby, qcy)}"
            )
            return (
                f"(({bbox}) AND ((({s1}) >= 0 AND ({s2}) >= 0 AND ({s3}) >= 0) OR "
                f"(({s1}) <= 0 AND ({s2}) <= 0 AND ({s3}) <= 0)))"
            )

        def segseg(p, q, c, d):
            (px, py), (qx, qy) = p, q
            (cx_, cy_), (dx_, dy_) = c, d
            o1 = _scross(px, py, qx, qy, cx_, cy_)
            o2 = _scross(px, py, qx, qy, dx_, dy_)
            o3 = _scross(cx_, cy_, dx_, dy_, px, py)
            o4 = _scross(cx_, cy_, dx_, dy_, qx, qy)
            overlap = (
                f"greatest({px},{qx}) >= {min(cx_, dx_)} AND least({px},{qx}) <= {max(cx_, dx_)} AND "
                f"greatest({py},{qy}) >= {min(cy_, dy_)} AND least({py},{qy}) <= {max(cy_, dy_)}"
            )
            return f"(({overlap}) AND ({o1}) * ({o2}) <= 0 AND ({o3}) * ({o4}) <= 0)"

        doc_in_q = " OR ".join(pin_const(x, y) for x, y in _SHPV)
        q_in_doc = " OR ".join(_spin(kx, ky) for kx, ky in ((qax, qay), (qbx, qby), (qcx, qcy)))
        qe = (((qax, qay), (qbx, qby)), ((qbx, qby), (qcx, qcy)), ((qcx, qcy), (qax, qay)))
        crossings = " OR ".join(
            segseg(_SHPV[i], _SHPV[(i + 1) % 3], c, d) for i in range(3) for c, d in qe
        )
        return f"(({doc_in_q}) OR ({q_in_doc}) OR ({crossings}))"

    # query triangle (lat,lon) ((8,-46),(22,-38),(6,-30)) as (x, y)
    O["ft_shape_poly_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE "
        f"{_stri_tri((-46.0, 8.0, -38.0, 22.0, -30.0, 6.0))}"
    )
    # point (lat 14, lon -41) inside the doc triangle
    O["ft_shape_point_ids"] = ids_sql(
        f"SELECT doc_id FROM {_SHP_REL} WHERE {_spin(-41.0, 14.0)}"
    )
    O["ft_dist_shape_top10"] = topk_sql(
        f"SELECT t.doc_id, t.s FROM tscore t JOIN {_SHP_REL} f ON f.doc_id = t.doc_id "
        f"AND {_stri_box(_SB)} WHERE t.term = 'table'"
    )
    O["ft_dist_fuzzyscored_top10"] = O["ft_fuzzyscored_top10"]
    # LongDistanceFeatureQuery: pivot / (pivot + |value - origin|)
    O["ft_distfeat_top10"] = topk_sql(
        "SELECT d.doc_id, coalesce(ts.s, 0.0) + 50.0 / (50.0 + abs(d.n_chars - 300.0)) AS s "
        "FROM documents d "
        "LEFT JOIN (SELECT doc_id, s FROM tscore WHERE term = 'table') ts USING (doc_id)"
    )
    # LatLonPoint.newDistanceFeatureQuery: pivot_m / (pivot_m + haversine)
    O["ft_geofeat_top5"] = topk_sql(
        "SELECT doc_id, 1000000.0 / (1000000.0 + 2.0 * 6371008.7714 * asin(sqrt("
        "pow(sin((radians(lat) - radians(48.8)) / 2.0), 2.0) + cos(radians(48.8)) * cos(radians(lat)) "
        "* pow(sin((radians(lon) - radians(2.3)) / 2.0), 2.0)))) AS s "
        "FROM (SELECT doc_id, ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat, "
        "((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon FROM documents)",
        k=5,
    )
    O["ft_multi_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('table','merge') GROUP BY doc_id"
    )
    O["ft_multi_dist_top10"] = O["ft_multi_top10"]
    O["ft_classic_top10"] = topk_sql(
        "SELECT f.doc_id, sqrt(f.tf) * (ln(((SELECT n FROM stats) + 1) / (d.df + 1.0)) + 1.0) "
        "* (1.0 / sqrt(n.dlen)) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # LMDirichlet mu=2000: max(0, ln(1 + tf/(mu*p)) + ln(mu/(len+mu))),
    # p = (ttf+1)/(sumTtf+1) (LMDirichletSimilarity.java:70-75)
    O["ft_lmd_top10"] = topk_sql(
        "SELECT f.doc_id, greatest(ln(1 + f.tf / (2000.0 * (d.ttf + 1.0) / "
        "((SELECT sum_ttf FROM stats) + 1.0))) + ln(2000.0 / (n.dlen + 2000.0)), 0.0) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # DFR I(n)L2: score = log2((N+1)/(df+0.5)) * (1 - 1/(1 + tfn)),
    # tfn = tf * log2(1 + avgdl/dlen) (DFRSimilarity.java:30-35,
    # BasicModelIn.java:34-45, NormalizationH2.java:57-58)
    O["ft_dfr_top10"] = topk_sql(
        "SELECT f.doc_id, "
        "(ln(((SELECT n FROM stats) + 1) / (d.df + 0.5)) / ln(2)) "
        "* (1 - 1 / (1 + f.tf * ln(1 + (SELECT avgdl FROM stats) / n.dlen) / ln(2))) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # LMJelinekMercer lambda=0.1: ln(1 + ((1-l)*tf/dlen)/(l*p)),
    # p = (ttf+1)/(sumTtf+1) (LMJelinekMercerSimilarity.java:63-69)
    O["ft_lmjm_top10"] = topk_sql(
        "SELECT f.doc_id, ln(1 + (0.9 * f.tf / n.dlen) / (0.1 * (d.ttf + 1.0) / "
        "((SELECT sum_ttf FROM stats) + 1.0))) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # DFI Standardized: e = (ttf+1)*dlen/(sumTtf+1); tf <= e scores 0,
    # else log2((tf-e)/sqrt(e) + 1) (DFISimilarity.java:57-70,
    # IndependenceStandardized.java:32-34)
    O["ft_dfi_top10"] = topk_sql(
        "SELECT f.doc_id, CASE WHEN f.tf > e.e THEN log2((f.tf - e.e) / sqrt(e.e) + 1) "
        "ELSE 0.0 END AS s "
        "FROM tf f JOIN norms n USING (doc_id) JOIN dfr d USING (term), "
        "LATERAL (SELECT (d.ttf + 1.0) * n.dlen / ((SELECT sum_ttf FROM stats) + 1.0) AS e) e "
        "WHERE f.term = 'table'"
    )
    # IB SPL-D(f)-H2: lambda = f32((df+1)/(N+1)); tfn = tf*log2(1 +
    # avgdl/dlen); q = 1 - 1/(tfn+1); s = -ln((lambda^q - lambda)/(1 -
    # lambda)) (IBSimilarity.java:93-96, DistributionSPL.java:34-58,
    # LambdaDF.java:32-38, NormalizationH2.java:57-58)
    O["ft_ib_top10"] = topk_sql(
        "SELECT f.doc_id, -ln((pow(l.lam, 1 - 1 / (f.tf * ln(1 + (SELECT avgdl FROM stats) "
        "/ n.dlen) / ln(2) + 1)) - l.lam) / (1 - l.lam)) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id), "
        "LATERAL (SELECT CAST(CAST((d.df + 1.0) / ((SELECT n FROM stats) + 1.0) AS REAL) "
        "AS DOUBLE) AS lam) l "
        "WHERE f.term = 'table'"
    )
    # Indri Dirichlet mu=2000: ln((tf + mu*p)/(dlen + mu)), p =
    # ttf/sumTtf — no boost, no clamp (IndriDirichletSimilarity.java:60-66,
    # IndriCollectionModel:100-105)
    O["ft_indri_top10"] = topk_sql(
        "SELECT f.doc_id, ln((f.tf + 2000.0 * d.ttf / (SELECT sum_ttf FROM stats)) "
        "/ (n.dlen + 2000.0)) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # Axiomatic F2EXP (s=0.25, k=0.35): tf/(tf + s + s*dlen/avgdl) *
    # ((N+1)/df)^k (AxiomaticF2EXP.java:57-80, Axiomatic.java:96-105)
    O["ft_axf2exp_top10"] = topk_sql(
        "SELECT f.doc_id, greatest(f.tf / (f.tf + 0.25 + 0.25 * n.dlen / (SELECT avgdl FROM stats)) "
        "* pow(((SELECT n FROM stats) + 1.0) / d.df, 0.35), 0.0) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # Axiomatic F3LOG (s=0.25, queryLen=1): (1 + ln(1 + ln(tf+1))) *
    # ln((N+1)/df) - (dlen - 1)*s*1/avgdl, clamped at 0
    # (AxiomaticF3LOG.java:48-74, Axiomatic.java:96-105)
    O["ft_axf3log_top10"] = topk_sql(
        "SELECT f.doc_id, greatest((1 + ln(1 + ln(f.tf + 1.0))) * "
        "ln(((SELECT n FROM stats) + 1.0) / d.df) "
        "- (n.dlen - 1) * 0.25 / (SELECT avgdl FROM stats), 0.0) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # SweetSpotSimilarity plateau (SweetSpotSimilarity.java:106-142):
    # tf = tf<=2 ? 1.5 : sqrt(tf + 1.5^2 - 2); classic idf;
    # lengthNorm = 1/sqrt(0.5*(|L-4| + |L-32| - 28) + 1)
    O["ft_sweetspot_top10"] = topk_sql(
        "SELECT f.doc_id, "
        "(CASE WHEN f.tf <= 2 THEN 1.5 ELSE sqrt(f.tf + 2.25 - 2.0) END) "
        "* (ln(((SELECT n FROM stats) + 1) / (d.df + 1.0)) + 1.0) "
        "* (1.0 / sqrt(0.5 * (abs(n.dlen - 4) + abs(n.dlen - 32) - 28) + 1.0)) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) WHERE f.term = 'table'"
    )
    # DocValuesTermsQuery role: metadata set membership as FILTER
    O["ft_fieldset_ids"] = ids_sql(
        "SELECT doc_id FROM tf WHERE term = 'table' AND doc_id IN "
        "(SELECT doc_id FROM documents WHERE lang IN ('en','fr'))"
    )
    # RangeFieldQuery CROSSES (RangeFieldQuery.java:328-345 —
    # intersects && !within); r_lo/r_hi derive from doc_id like the
    # geo columns
    O["ft_rangefield_ids"] = ids_sql(
        "SELECT doc_id FROM tf WHERE term = 'table' AND doc_id IN ("
        " SELECT doc_id FROM ("
        "  SELECT doc_id, (doc_id * 17) % 50 AS r_lo, "
        "         (doc_id * 17) % 50 + (doc_id * 7) % 13 AS r_hi FROM documents) r"
        " WHERE (r_lo <= 25 AND r_hi >= 10) AND NOT (r_lo >= 10 AND r_hi <= 25))"
    )
    # MultiSimilarity CombSUM (MultiSimilarity.java:31-70): per-doc
    # bm25 score (tscore) + classic TF-IDF score, f32-summed engine-side
    O["ft_multisim_top10"] = topk_sql(
        "SELECT f.doc_id, t.s + sqrt(f.tf) * (ln(((SELECT n FROM stats) + 1) / (d.df + 1.0)) "
        "+ 1.0) * (1.0 / sqrt(n.dlen)) AS s "
        "FROM tf f JOIN dfr d USING (term) JOIN norms n USING (doc_id) "
        "JOIN tscore t ON t.doc_id = f.doc_id AND t.term = f.term "
        "WHERE f.term = 'table'"
    )
    # PerFieldSimilarityWrapper (PerFieldSimilarityWrapper.java:40-48):
    # content clause scores bm25 (tscore), title clause scores classic
    # over the TITLE field's stats (tltf/tlidfw/tnorms/tlstats CTEs)
    O["ft_perfield_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM ("
        "SELECT doc_id, s FROM tscore WHERE term = 'vector' "
        "UNION ALL "
        "SELECT f.doc_id, sqrt(f.tf) * (ln(((SELECT n FROM tlstats) + 1) / (i.df + 1.0)) + 1.0) "
        "* (1.0 / sqrt(n.dlen)) AS s "
        "FROM tltf f JOIN tlidfw i USING (term) JOIN tnorms n USING (doc_id) "
        "WHERE f.term = 'vector'"
        ") GROUP BY doc_id"
    )
    # BooleanSimilarity: per-clause score == boost (1.0); SHOULD sum =
    # number of matched clauses (BooleanSimilarity.java:58-60)
    O["ft_boolsim_top10"] = topk_sql(
        "SELECT doc_id, count(*)::DOUBLE AS s FROM tf WHERE term IN ('merge','vector') GROUP BY doc_id"
    )
    O["ft_and_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('merge','vector') "
        "GROUP BY doc_id HAVING count(*) = 2"
    )
    O["ft_or_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('dup','vector','scan') GROUP BY doc_id"
    )
    O["ft_not_top10"] = topk_sql(
        "SELECT doc_id, s FROM tscore WHERE term = 'table' "
        "AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'merge')"
    )
    O["ft_phrase_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT a.doc_id, count(*)::BIGINT AS pf FROM post a "
        "      JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "      WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws"
    )
    # the code-analyzer phrase gate splices "tableHash" → [table, hash]:
    # identical positional semantics to the standard exact phrase
    O["ft_codephrase_top10"] = O["ft_phrase_top10"]
    O["ft_cjk_phrase_top10"] = O["ft_phrase_top10"]
    O["ft_ko_phrase_top10"] = O["ft_phrase_top10"]
    O["ft_zh_phrase_top10"] = O["ft_phrase_top10"]
    # 2-term sloppy phrase ("table hash"~3): the reference pq traversal
    # (SloppyPhraseMatcher.java:162-205) reduces, for two distinct
    # terms, to an alternating cross-list successor chain over the
    # offset-adjusted position lists: x1 = max of the first positions
    # (tie → the later slot), x_{k+1} = strict successor of x_k in the
    # OTHER list; each chain element emits one match of distance
    # x_k - (predecessor-or-equal in the other list), scored
    # sloppyWeight = 1/(1+d) when d <= slop (PhraseScorer.java:75-79).
    # Fuzz-verified identical to the kernel over 25k random lists.
    O["ft_sloppy_top10"] = base_ctes().replace("WITH ", "WITH RECURSIVE ", 1) + f""",
pa AS (SELECT doc_id, pos::BIGINT AS p FROM post WHERE term = 'table'),
pb AS (SELECT doc_id, pos::BIGINT - 1 AS p FROM post WHERE term = 'hash'),
b2 AS (SELECT a.doc_id, a.ma, b.mb
       FROM (SELECT doc_id, min(p) AS ma FROM pa GROUP BY 1) a
       JOIN (SELECT doc_id, min(p) AS mb FROM pb GROUP BY 1) b USING (doc_id)),
chain AS (
  SELECT doc_id, CASE WHEN ma > mb THEN ma ELSE mb END AS x,
         CASE WHEN ma > mb THEN 0 ELSE 1 END AS lst
  FROM b2
  UNION ALL
  SELECT doc_id, x, lst FROM (
    SELECT c.doc_id,
      CASE c.lst WHEN 0 THEN (SELECT min(p) FROM pb WHERE pb.doc_id = c.doc_id AND pb.p > c.x)
                 ELSE (SELECT min(p) FROM pa WHERE pa.doc_id = c.doc_id AND pa.p > c.x) END AS x,
      1 - c.lst AS lst
    FROM chain c) WHERE x IS NOT NULL
),
mt AS (SELECT c.doc_id,
       c.x - (CASE c.lst WHEN 0 THEN (SELECT max(p) FROM pb WHERE pb.doc_id = c.doc_id AND pb.p <= c.x)
                         ELSE (SELECT max(p) FROM pa WHERE pa.doc_id = c.doc_id AND pa.p <= c.x) END) AS d
       FROM chain c),
pf AS (SELECT doc_id, sum(1.0 / (1 + d)) AS pf FROM mt WHERE d IS NOT NULL AND d <= 3 GROUP BY doc_id),
q AS (SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * {_INV}) AS s
      FROM pf p JOIN norms n ON n.doc_id = p.doc_id,
      (SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws)
SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"""

    # span-near: minimal ordered 2-term intervals = mutually-nearest
    # (a < b) pairs — b's nearest 'table' predecessor is a AND a's
    # nearest 'hash' successor is b (fuzz-verified vs minimal_intervals
    # over 8k random lists); freq = Σ 1/(1+gaps), gaps = b - a - 1
    def _mutual_pairs(t_lo: str, t_hi: str) -> str:
        return (
            f"SELECT * FROM (SELECT b.doc_id, b.pos AS pb, "
            f"(SELECT max(a.pos) FROM post a WHERE a.doc_id = b.doc_id "
            f" AND a.term = '{t_lo}' AND a.pos < b.pos) AS pa "
            f"FROM post b WHERE b.term = '{t_hi}') mp0 "
            f"WHERE pa IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM post b2 WHERE b2.doc_id = mp0.doc_id AND b2.term = '{t_hi}' "
            f" AND b2.pos > mp0.pa AND b2.pos < mp0.pb)"
        )

    O["ft_spannear_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE pb - pa - 1 <= 4 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws"
    )
    # unordered = union of both orientations of the mutual-pair set
    O["ft_spanunord_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf FROM ("
        f"        SELECT doc_id, pa, pb FROM ({_mutual_pairs('merge', 'vector')}) "
        f"        UNION ALL SELECT doc_id, pa, pb FROM ({_mutual_pairs('vector', 'merge')})) mp "
        "      WHERE pb - pa - 1 <= 6 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('merge','vector')) ws"
    )

    # Intervals.notContaining(ordered(table,hash), merge): minimal
    # ordered pairs with no merge position inside [pa, pb]. Reference
    # IntervalQuery scoring: saturation — s = pf/(pf + 1), no
    # similarity, no norms (IntervalQuery.java:41-58,
    # IntervalScoreFunction.saturationFunction(1))
    O["ft_notcontaining_top10"] = topk_sql(
        "SELECT p.doc_id, p.pf / (p.pf + 1) AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE NOT EXISTS (SELECT 1 FROM post po WHERE po.doc_id = mp.doc_id "
        "            AND po.term = 'merge' AND po.pos >= mp.pa AND po.pos <= mp.pb) "
        "      GROUP BY doc_id) p"
    )
    # Intervals.before(merge, table): merge positions strictly before
    # the latest table position; each contributes 1/(1+0) -> pf =
    # count; saturation score pf/(pf + 1)
    O["ft_before_top10"] = topk_sql(
        "SELECT p.doc_id, p.pf / (p.pf + 1.0) AS s "
        "FROM (SELECT po.doc_id, count(*)::BIGINT AS pf FROM post po "
        "      JOIN (SELECT doc_id, max(pos) AS mx FROM post WHERE term = 'table' "
        "            GROUP BY doc_id) t ON t.doc_id = po.doc_id "
        "      WHERE po.term = 'merge' AND po.pos < t.mx GROUP BY po.doc_id) p"
    )

    # SpanOr over two terms: every occurrence is a one-position minimal
    # interval → freq = tf sum; weight sums idf over both clause terms
    # (SpanWeight.buildSimWeight over all terms)
    O["ft_spanor_top10"] = topk_sql(
        "SELECT f.doc_id, ws.w - ws.w / (1 + f.tfs * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(tf)::BIGINT AS tfs FROM tf WHERE term IN ('merge','vector') "
        "      GROUP BY doc_id) f "
        "JOIN norms n ON n.doc_id = f.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('merge','vector')) ws"
    )
    # SpanNot(near(table,hash)~4, merge, pre=1, post=1): mutual ordered
    # pairs within 4 gaps whose [pa,pb] does not overlap any merge
    # position widened to [m-1, m+1]
    O["ft_spannot_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE pb - pa - 1 <= 4 "
        "      AND NOT EXISTS (SELECT 1 FROM post po WHERE po.doc_id = mp.doc_id "
        "            AND po.term = 'merge' AND po.pos - 1 <= mp.pb AND po.pos + 1 >= mp.pa) "
        "      GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash','merge')) ws"
    )
    # SpanFirst(table, 6): occurrences with exclusive end <= 6; the
    # post CTE is 1-based so 0-based p + 1 = pos <= 6
    O["ft_spanfirst_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, count(*)::BIGINT AS pf FROM post "
        "      WHERE term = 'table' AND pos <= 6 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT w FROM idfw WHERE term = 'table') ws"
    )
    # SpanPositionRange(table, 3, 12): 0-based start >= 3 and exclusive
    # end <= 12; post CTE is 1-based so pos BETWEEN 4 AND 12
    O["ft_spanposrange_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, count(*)::BIGINT AS pf FROM post "
        "      WHERE term = 'table' AND pos BETWEEN 4 AND 12 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT w FROM idfw WHERE term = 'table') ws"
    )
    # SpanContaining(near(table,hash)~4, merge): minimal ordered pairs
    # within 4 gaps that contain a merge position; scored by the BIG
    # pairs (freq term 1/(pb-pa)); weight sums idf over all three terms
    O["ft_spancontain_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE pb - pa - 1 <= 4 "
        "      AND EXISTS (SELECT 1 FROM post po WHERE po.doc_id = mp.doc_id "
        "            AND po.term = 'merge' AND po.pos >= mp.pa AND po.pos <= mp.pb) "
        "      GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash','merge')) ws"
    )
    # ComplexPhrase "(table merge) v*"~2: ordered minimal pairs where
    # slot1 ∈ {table, merge} and slot2 ∈ v*-expansion {value, vector};
    # pa = max slot1 pos < pb, minimal wrt slot2 positions; freq term
    # 1/(pb-pa) for pairs with <= 2 interior gaps; weight = summed idf
    # over every expanded term (SpanWeight contract)
    O["ft_complexphrase_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf FROM ("
        " SELECT * FROM (SELECT b.doc_id, b.pos AS pb, "
        "  (SELECT max(a.pos) FROM post a WHERE a.doc_id = b.doc_id "
        "   AND a.term IN ('table','merge') AND a.pos < b.pos) AS pa "
        "  FROM post b WHERE b.term IN ('value','vector')) mp0 "
        " WHERE pa IS NOT NULL AND NOT EXISTS "
        "  (SELECT 1 FROM post b2 WHERE b2.doc_id = mp0.doc_id "
        "   AND b2.term IN ('value','vector') AND b2.pos > mp0.pa AND b2.pos < mp0.pb)"
        ") mp WHERE pb - pa - 1 <= 2 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','merge','value','vector')) ws"
    )
    # SpanMultiTermQueryWrapper(s*) in SpanFirst(12): dictionary
    # expansion -> span-OR of width-1 terms; freq = matching positions
    # with exclusive end <= 12 (1-based pos <= 12); weight = summed idf
    # over the EXPANDED terms
    O["ft_spanmulti_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, count(*)::BIGINT AS pf FROM post "
        "      WHERE term LIKE 's%' AND pos <= 12 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term LIKE 's%') ws"
    )
    O["ft_synonym_top10"] = topk_sql(
        "SELECT f.doc_id, ws.w - ws.w / (1 + f.tfs * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(tf)::BIGINT AS tfs FROM tf WHERE term IN ('table','dup') "
        "      GROUP BY doc_id) f "
        "JOIN norms n ON n.doc_id = f.doc_id, "
        "(SELECT ln(1 + ((SELECT n FROM stats) - max(df) + 0.5) / (max(df) + 0.5)) AS w "
        " FROM dfr WHERE term IN ('table','dup')) ws"
    )
    # CombinedFieldQuery (BM25F): freq = tf_content + tf_title; norm =
    # intToByte4(LENGTH[norm_c] + LENGTH[norm_t]) -> dlen2 = max table
    # value <= that sum; pseudo df = max per-field df, docCount = max
    # per-field docCount, sumTTF = sum of per-field sums
    O["ft_combined_top10"] = (
        base_ctes() + ", cf AS (SELECT doc_id, count(*)::BIGINT AS ctf FROM toks "
        "      WHERE term = 'table' GROUP BY doc_id), "
        "tf2 AS (SELECT doc_id, count(*)::BIGINT AS ttf2 FROM ttoks "
        "      WHERE term = 'table' GROUP BY doc_id), "
        "m AS (SELECT coalesce(cf.doc_id, tf2.doc_id) AS doc_id, "
        "      coalesce(ctf, 0) + coalesce(ttf2, 0) AS fr "
        "      FROM cf FULL OUTER JOIN tf2 ON cf.doc_id = tf2.doc_id), "
        "nv AS (SELECT m.doc_id, m.fr, "
        "      coalesce(n.dlen, 0) + coalesce(tn.dlen, 0) AS nvv "
        "      FROM m LEFT JOIN norms n ON n.doc_id = m.doc_id "
        "      LEFT JOIN tnorms tn ON tn.doc_id = m.doc_id), "
        "cn AS (SELECT doc_id, fr, "
        "      (SELECT max(v) FROM dtab WHERE v <= nvv) AS dlen2 FROM nv), "
        "ps AS (SELECT greatest((SELECT count(*) FROM cf), (SELECT count(*) FROM tf2)) AS df, "
        "      greatest((SELECT n FROM stats), (SELECT count(*) FROM tdl)) AS dc, "
        "      (SELECT sum_ttf FROM stats) + (SELECT sum(dl) FROM tdl) AS sttf), "
        "q AS (SELECT cn.doc_id, "
        "      ln(1 + (ps.dc - ps.df + 0.5) / (ps.df + 0.5)) "
        "      - ln(1 + (ps.dc - ps.df + 0.5) / (ps.df + 0.5)) "
        "        / (1 + cn.fr * (1.0 / (1.2 * ((1 - 0.75) + 0.75 * cn.dlen2 "
        "           / (ps.sttf::DOUBLE / ps.dc))))) AS s "
        "      FROM cn, ps) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # synonym-map expansion of 'hash' -> blended SynonymQuery(hash,scan)
    O["ft_synexp_top10"] = topk_sql(
        "SELECT f.doc_id, ws.w - ws.w / (1 + f.tfs * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(tf)::BIGINT AS tfs FROM tf WHERE term IN ('hash','scan') "
        "      GROUP BY doc_id) f "
        "JOIN norms n ON n.doc_id = f.doc_id, "
        "(SELECT ln(1 + ((SELECT n FROM stats) - max(df) + 0.5) / (max(df) + 0.5)) AS w "
        " FROM dfr WHERE term IN ('hash','scan')) ws"
    )
    O["ft_mustshould_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore "
        "WHERE term IN ('table','hash','vector','dup') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'hash') "
        "GROUP BY doc_id"
    )
    # PhraseWildcardQuery "table s*": union-postings adjacency; weight
    # sums idf over the literal slot + EVERY dictionary term the
    # wildcard slot expands to (MultiPhraseQuery weight convention)
    O["ft_phrasewild_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT a.doc_id, count(DISTINCT a.pos)::BIGINT AS pf FROM post a "
        "      JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "      WHERE a.term = 'table' AND b.term LIKE 's%' GROUP BY a.doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term = 'table' OR term LIKE 's%') ws"
    )
    # DiversifiedTopDocsCollector: per-key rank then the global cut
    O["ft_diversified_top10"] = (
        base_ctes() + ", q AS (SELECT t.doc_id, d.lang AS key, t.s FROM tscore t "
        "      JOIN documents d USING (doc_id) WHERE t.term = 'table'), "
        "r AS (SELECT doc_id, key, s, row_number() OVER "
        "      (PARTITION BY key ORDER BY CAST(s AS REAL) DESC, doc_id) AS rn FROM q) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, key, round(s, 2) AS score_r FROM r WHERE rn <= 1 "
        "ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # DocValuesStats(n_chars) over the 'table' match set
    O["ft_dvstats"] = (
        base_ctes() + " SELECT count(d.n_chars)::BIGINT AS n_vals, "
        "(count(*) - count(d.n_chars))::BIGINT AS n_missing, "
        "min(d.n_chars)::BIGINT AS vmin, max(d.n_chars)::BIGINT AS vmax, "
        "sum(d.n_chars)::BIGINT AS vsum, round(avg(d.n_chars), 4) AS mean_r, "
        "round(var_pop(d.n_chars), 2) AS var_r "
        "FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'table') m "
        "JOIN documents d USING (doc_id)"
    )
    # SimpleQueryParser 'table + (hash | scan)': required term + a
    # required SHOULD group scoring the sum of its matching clauses
    O["ft_simpleq_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore "
        "WHERE term IN ('table','hash','scan') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term IN ('hash','scan')) "
        "GROUP BY doc_id"
    )
    O["ft_dismax_top10"] = topk_sql(
        "SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS s FROM tscore "
        "WHERE term IN ('table','merge') GROUP BY doc_id"
    )
    # BlendedTermQuery: per-term BM25 with the SHARED max df, dismax 0.01
    O["ft_blended_top10"] = topk_sql(
        "SELECT doc_id, max(s) + 0.01 * (sum(s) - max(s)) AS s FROM ("
        " SELECT f.doc_id, wb.w - wb.w / (1 + f.tf * " + _INV + ") AS s"
        " FROM tf f JOIN norms n ON n.doc_id = f.doc_id,"
        " (SELECT ln(1 + ((SELECT n FROM stats) - max(df) + 0.5) / (max(df) + 0.5)) AS w"
        "  FROM dfr WHERE term IN ('table','merge')) wb"
        " WHERE f.term IN ('table','merge')) GROUP BY doc_id"
    )
    # cross-field blending: shared max df across content/title, each
    # side scored with its OWN field's docCount/avgdl/norms
    O["ft_blended_fields_top10"] = (
        base_ctes()
        + ", gdf AS (SELECT greatest("
        "   (SELECT df FROM dfr WHERE term = 'table'),"
        "   coalesce((SELECT df FROM tlidfw WHERE term = 'table'), 0)) AS v), "
        "bcs AS (SELECT f.doc_id, "
        "   ln(1 + ((SELECT n FROM stats) - (SELECT v FROM gdf) + 0.5) / ((SELECT v FROM gdf) + 0.5)) "
        "   - ln(1 + ((SELECT n FROM stats) - (SELECT v FROM gdf) + 0.5) / ((SELECT v FROM gdf) + 0.5)) "
        "     / (1 + f.tf * (1.0 / (1.2 * ((1 - 0.75) + 0.75 * n.dlen / (SELECT avgdl FROM stats))))) AS s "
        "   FROM tf f JOIN norms n ON n.doc_id = f.doc_id WHERE f.term = 'table'), "
        "bts AS (SELECT f.doc_id, "
        "   ln(1 + ((SELECT n FROM tlstats) - (SELECT v FROM gdf) + 0.5) / ((SELECT v FROM gdf) + 0.5)) "
        "   - ln(1 + ((SELECT n FROM tlstats) - (SELECT v FROM gdf) + 0.5) / ((SELECT v FROM gdf) + 0.5)) "
        "     / (1 + f.tf * (1.0 / (1.2 * ((1 - 0.75) + 0.75 * n.dlen / (SELECT avgdl FROM tlstats))))) AS s "
        "   FROM tltf f JOIN tnorms n ON n.doc_id = f.doc_id WHERE f.term = 'table'), "
        "q AS (SELECT doc_id, max(s) + 0.01 * (sum(s) - max(s)) AS s FROM "
        "   (SELECT * FROM bcs UNION ALL SELECT * FROM bts) GROUP BY doc_id) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    O["ft_field_top10"] = topk_sql("SELECT doc_id, s FROM tlscore WHERE term = 'vector'")
    O["ft_fields_bool_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM ("
        "SELECT doc_id, s FROM tscore WHERE term = 'table' "
        "UNION ALL SELECT doc_id, s FROM tlscore WHERE term = 'merge'"
        ") GROUP BY doc_id HAVING count(*) = 2"
    )
    # XML parser boolean: must table + 2.0*should merge - mustnot vector
    O["ft_xml_top10"] = topk_sql(
        "SELECT doc_id, sum(CASE WHEN term = 'merge' THEN 2 * s ELSE s END) AS s "
        "FROM tscore WHERE term IN ('table','merge') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'vector') "
        "GROUP BY doc_id"
    )
    # MultiFieldQueryParser fan-out: 'table merge' over content+title
    # (title boosted 0.5) — SHOULD-sum of every per-field BM25 leaf
    O["ft_mfparse_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM ("
        "SELECT doc_id, s FROM tscore WHERE term IN ('table','merge') "
        "UNION ALL SELECT doc_id, 0.5 * s FROM tlscore WHERE term IN ('table','merge')"
        ") GROUP BY doc_id"
    )
    O["ft_fields_dismax_top10"] = topk_sql(
        "SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS s FROM ("
        "SELECT doc_id, s FROM tscore WHERE term = 'table' "
        "UNION ALL SELECT doc_id, s FROM tlscore WHERE term = 'table'"
        ") GROUP BY doc_id"
    )
    O["ft_multiphrase_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT a.doc_id, count(DISTINCT a.pos)::BIGINT AS pf FROM post a "
        "      JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "      WHERE a.term IN ('table','merge') AND b.term = 'hash' GROUP BY a.doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','merge','hash')) ws"
    )
    O["ft_distributed_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('table','hash') "
        "GROUP BY doc_id HAVING count(*) = 2"
    )
    # shared-term sloppy multiphrase (slots {table,hash} / {hash}, ~2):
    # a recursive CTE runs the exact 2-slot PQ machine — slot0 iterates
    # the union list, slot1 the 'hash' list; after any advance landing
    # both slots on one token, the LESSER (always slot1: adjusted
    # position x-1 < x) advances (SloppyPhraseMatcher.java:286-344);
    # a crossing of the captured queue-top emits the running
    # matchLength; exhaustion emits it once more. Fuzz-verified
    # step-identical to the kernel (tests/test_sloppy.py
    # TestSharedTermMachine).
    O["ft_multiphrase_shared_top10"] = base_ctes().replace(
        "WITH ", "WITH RECURSIVE ", 1
    ) + f""",
la AS (SELECT doc_id, pos::BIGINT AS p FROM post WHERE term IN ('table','hash')),
lb AS (SELECT doc_id, pos::BIGINT AS p FROM post WHERE term = 'hash'),
ini0 AS (SELECT a.doc_id, a.x0, b.xb
         FROM (SELECT doc_id, min(p) AS x0 FROM la GROUP BY 1) a
         JOIN (SELECT doc_id, min(p) AS xb FROM lb GROUP BY 1) b USING (doc_id)),
ini AS (SELECT doc_id, x0,
          CASE WHEN xb = x0 THEN (SELECT min(p) FROM lb WHERE lb.doc_id = i.doc_id AND lb.p > i.xb)
               ELSE xb END AS x1
        FROM ini0 i),
steps AS (
  SELECT doc_id, x0, x1,
         greatest(x0, x1 - 1) AS end_,
         CASE WHEN x0 <= x1 - 1 THEN 0 ELSE 1 END AS ld,
         CASE WHEN x0 <= x1 - 1 THEN x1 - 1 ELSE x0 END AS nxt,
         greatest(x0, x1 - 1) - least(x0, x1 - 1) AS ml,
         CAST(NULL AS BIGINT) AS emit_ml,
         FALSE AS done
  FROM ini WHERE x1 IS NOT NULL
  UNION ALL
  SELECT doc_id, x0, x1, end_,
         CASE WHEN fin OR NOT crossed THEN ld WHEN x0 <= x1 - 1 THEN 0 ELSE 1 END AS ld,
         CASE WHEN fin OR NOT crossed THEN nxt WHEN x0 <= x1 - 1 THEN x1 - 1 ELSE x0 END AS nxt,
         CASE WHEN fin THEN ml
              WHEN crossed THEN end_ - least(x0, x1 - 1)
              ELSE least(ml, end_ - plead) END AS ml,
         CASE WHEN fin OR crossed THEN ml ELSE CAST(NULL AS BIGINT) END AS emit_ml,
         fin AS done
  FROM (
    SELECT doc_id, x0a AS x0, coalesce(x1c, x1a) AS x1, end2 AS end_, ld, nxt, ml, plead,
           fin, NOT fin AND plead > nxt AS crossed
    FROM (
      SELECT *, fin1 OR (collided AND x1c IS NULL) AS fin,
             CASE WHEN x1c IS NOT NULL THEN greatest(end1, x1c - 1) ELSE end1 END AS end2,
             CASE WHEN ld = 0 THEN x0a ELSE coalesce(x1c, x1a) - 1 END AS plead
      FROM (
        SELECT *, NOT fin1 AND x0a = x1a AS collided,
               CASE WHEN NOT fin1 AND x0a = x1a
                    THEN (SELECT min(p) FROM lb WHERE lb.doc_id = t2.doc_id AND lb.p > t2.x1a)
                    ELSE x1a END AS x1c
        FROM (
          SELECT doc_id, ld, nxt, ml, adv IS NULL AS fin1,
                 CASE WHEN ld = 0 AND adv IS NOT NULL THEN adv ELSE x0 END AS x0a,
                 CASE WHEN ld = 1 AND adv IS NOT NULL THEN adv ELSE x1 END AS x1a,
                 CASE WHEN adv IS NULL THEN end_ ELSE greatest(end_, adv - ld) END AS end1
          FROM (
            SELECT s.*,
                   CASE WHEN s.ld = 0 THEN (SELECT min(p) FROM la WHERE la.doc_id = s.doc_id AND la.p > s.x0)
                        ELSE (SELECT min(p) FROM lb WHERE lb.doc_id = s.doc_id AND lb.p > s.x1) END AS adv
            FROM steps s WHERE NOT s.done
          ) t1
        ) t2
      ) t3
    ) t4
  ) t5
),
pf AS (SELECT doc_id, sum(1.0 / (1 + emit_ml)) AS pf FROM steps
       WHERE emit_ml IS NOT NULL AND emit_ml <= 2 GROUP BY doc_id),
q AS (SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * {_INV}) AS s
      FROM pf p JOIN norms n ON n.doc_id = p.doc_id,
      (SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws)
SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"""

    O["ft_msm_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('dup','vector','scan') "
        "GROUP BY doc_id HAVING count(*) >= 2"
    )
    O["ft_boost_top10"] = topk_sql(
        "SELECT doc_id, sum(CASE WHEN term = 'table' THEN 2 * s ELSE s END) AS s "
        "FROM tscore WHERE term IN ('table','merge') GROUP BY doc_id"
    )
    O["ft_group_top"] = (
        base_ctes() + ", q AS (SELECT doc_id, s FROM tscore WHERE term = 'table'), "
        "g AS (SELECT d.lang, q.doc_id, q.s, "
        # rank at float32 like the engine (CAST collapses f64-only
        # ties so the doc_id tie-break agrees — same rule as topk_sql)
        "row_number() OVER (PARTITION BY d.lang ORDER BY CAST(q.s AS REAL) DESC, q.doc_id) AS grank "
        "FROM q JOIN documents d USING (doc_id)) "
        "SELECT lang, grank::BIGINT AS grank, doc_id, round(s, 2) AS score_r "
        "FROM g WHERE grank <= 2 ORDER BY lang, grank"
    )

    O["ft_join_top"] = (
        base_ctes() + ", q AS (SELECT doc_id, s FROM tscore WHERE term = 'table'), "
        "g AS (SELECT d.source AS parent, max(q.s) AS s, count(*)::BIGINT AS n_children "
        "      FROM q JOIN documents d USING (doc_id) GROUP BY d.source) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, parent) AS BIGINT) AS rank, "
        "parent, round(s, 2) AS score_r, n_children FROM g ORDER BY CAST(s AS REAL) DESC, parent LIMIT 10"
    )
    # TermVectors.get(7): terms of one doc with tf + 0-based positions
    # (the oracle's post CTE is 1-based)
    O["ix_termvec"] = (
        base_ctes() + " SELECT term, count(*)::BIGINT AS tf, "
        "array_to_string(list_sort(list(pos - 1)), ',') AS pos_list "
        "FROM post WHERE doc_id = 7 GROUP BY term ORDER BY term"
    )
    # sliding-window chunking: 64-token windows, stride 48, last window
    # reaches the end; md5 over the space-rejoined window
    O["tx_chunks"] = (
        r"WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), "
        "x -> len(x) > 0) AS toks FROM documents), "
        "nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0), "
        "c AS (SELECT doc_id, toks, CASE WHEN n <= 64 THEN 1 "
        "      ELSE 1 + CAST(ceil((n - 64)::DOUBLE / 48) AS BIGINT) END AS nc FROM nz), "
        "e AS (SELECT doc_id, toks, unnest(range(nc)) AS chunk_idx FROM c), "
        "w AS (SELECT doc_id, chunk_idx, "
        "      list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64) AS win FROM e) "
        "SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, len(win)::BIGINT AS n_chunk_tokens, "
        "(chunk_idx*48)::BIGINT AS begin_tok, md5(array_to_string(win, ' ')) AS chunk_md5 "
        "FROM w ORDER BY doc_id, chunk_idx"
    )
    O["tx_pack"] = (
        "WITH t AS (SELECT doc_id, length(text)::BIGINT AS n FROM documents), "
        "c AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS b FROM t) "
        "SELECT doc_id, n AS n_tokens, b AS begin_off, "
        "CASE WHEN n > 0 THEN b // 4096 END AS first_seq, "
        "CASE WHEN n > 0 THEN (b + n - 1) // 4096 END AS last_seq, "
        "(CASE WHEN n > 0 THEN (b + n - 1) // 4096 - b // 4096 + 1 ELSE 0 END)::BIGINT AS n_seqs "
        "FROM c ORDER BY doc_id"
    )
    # CoveringQuery: sum of matching clause scores, per-doc threshold
    O["ft_covering_top10"] = (
        base_ctes() + ", q AS (SELECT doc_id, sum(s) AS s, count(*)::BIGINT AS n_matched "
        "      FROM tscore WHERE term IN ('table','hash','scan') GROUP BY doc_id), "
        "f AS (SELECT q.doc_id, q.s, q.n_matched FROM q "
        "      WHERE q.n_matched >= greatest(1 + q.doc_id % 3, 1)) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r, n_matched FROM f ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # DrillSideways: dim X's counts apply every filter EXCEPT X's own
    O["ft_sideways_counts"] = (
        base_ctes() + ", m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'table'), "
        "lc AS (SELECT 'lang' AS dim, d.lang AS value, count(*)::BIGINT AS cnt "
        "       FROM m JOIN documents d USING (doc_id) WHERE d.source = 'src0' GROUP BY d.lang), "
        "sc AS (SELECT 'repo' AS dim, d.source AS value, count(*)::BIGINT AS cnt "
        "       FROM m JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY d.source) "
        "SELECT dim, value, cnt FROM (SELECT * FROM lc UNION ALL SELECT * FROM sc) "
        "ORDER BY dim, cnt DESC, value"
    )
    # block join: parent(c) = min parent doc id > c (BitSet nextSetBit);
    # parent-doc matches excluded, ScoreMode.Total over child scores
    O["ft_blockjoin_top10"] = (
        base_ctes() + ", q AS (SELECT doc_id, s FROM tscore WHERE term = 'table'), "
        "par AS (SELECT doc_id AS p_id FROM documents WHERE doc_id % 5 = 4), "
        "m AS (SELECT q.doc_id, q.s, "
        "      (SELECT min(p.p_id) FROM par p WHERE p.p_id > q.doc_id) AS parent "
        "      FROM q WHERE q.doc_id % 5 <> 4), "
        "g AS (SELECT parent AS parent_doc_id, sum(s) AS s, count(*)::BIGINT AS n_children "
        "      FROM m WHERE parent IS NOT NULL GROUP BY parent) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, parent_doc_id) AS BIGINT) AS rank, "
        "parent_doc_id, round(s, 2) AS score_r, n_children FROM g "
        "ORDER BY CAST(s AS REAL) DESC, parent_doc_id LIMIT 10"
    )
    O["ft_childjoin_top10"] = (
        base_ctes() + ", ph AS (SELECT doc_id AS p_id, s FROM tscore "
        "               WHERE term = 'table' AND doc_id % 5 = 4), "
        "kids AS (SELECT d.doc_id, (SELECT min(p.doc_id) FROM documents p "
        "         WHERE p.doc_id % 5 = 4 AND p.doc_id > d.doc_id) AS parent "
        "         FROM documents d WHERE d.doc_id % 5 <> 4), "
        "j AS (SELECT k.doc_id, k.parent AS parent_doc_id, ph.s FROM kids k "
        "      JOIN ph ON ph.p_id = k.parent) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, parent_doc_id, round(s, 2) AS score_r FROM j "
        "ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # surround 3W(table, hash): ordered minimal pairs with <= 2 gaps
    O["ft_surround_top10"] = topk_sql(
        "SELECT p.doc_id, ws.w - ws.w / (1 + p.pf * " + _INV + ") AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE pb - pa - 1 <= 2 GROUP BY doc_id) p "
        "JOIN norms n ON n.doc_id = p.doc_id, "
        "(SELECT sum(w) AS w FROM idfw WHERE term IN ('table','hash')) ws"
    )
    # Intervals.containedBy('merge', ordered(table, hash)): each merge
    # occurrence inside a minimal pair contributes 1/(1+0) → pf = count
    O["ft_within_top10"] = topk_sql(
        "SELECT p.doc_id, p.pf / (p.pf + 1.0) AS s FROM ("
        " SELECT doc_id, count(*)::BIGINT AS pf FROM ("
        f"  SELECT DISTINCT po.doc_id, po.pos FROM post po JOIN ({_mutual_pairs('table', 'hash')}) mp"
        "   ON po.doc_id = mp.doc_id AND po.pos >= mp.pa AND po.pos <= mp.pb"
        "   WHERE po.term = 'merge') z"
        " GROUP BY doc_id) p"
    )
    # Intervals.or(ordered(table,hash), ordered(scan,merge)): union of
    # both minimal-pair sets, re-minimalized across sources (drop any
    # pair properly containing another); freq term = 1/(1 + gaps) =
    # 1/(e - s) for 2-term pairs
    O["ft_intervalor_top10"] = topk_sql(
        "SELECT p.doc_id, p.pf / (p.pf + 1) AS s FROM ("
        " SELECT doc_id, sum(1.0 / (e - s)) AS pf FROM ("
        "  SELECT DISTINCT doc_id, s, e FROM ("
        f"   SELECT doc_id, pa AS s, pb AS e FROM ({_mutual_pairs('table', 'hash')})"
        f"   UNION ALL SELECT doc_id, pa, pb FROM ({_mutual_pairs('scan', 'merge')})) u0"
        "  ) u WHERE NOT EXISTS ("
        "   SELECT 1 FROM ("
        f"    SELECT doc_id, pa AS s, pb AS e FROM ({_mutual_pairs('table', 'hash')})"
        f"    UNION ALL SELECT doc_id, pa, pb FROM ({_mutual_pairs('scan', 'merge')})) v"
        "   WHERE v.doc_id = u.doc_id AND ((v.s > u.s AND v.e <= u.e) OR (v.s = u.s AND v.e < u.e)))"
        " GROUP BY doc_id) p"
    )
    # Intervals.atLeast(2, table, hash, scan) = or of the three
    # unordered pairs (MinimumShouldMatchIntervalsSource combination
    # spans); unordered pairs = both orientations of the mutual-pair
    # set, minimalized globally across all pair sources
    _ALPAIRS = (("table", "hash"), ("table", "scan"), ("hash", "scan"))
    _ATLEAST_UNION = " UNION ALL ".join(
        f"SELECT doc_id, pa AS s, pb AS e FROM ({_mutual_pairs(a, b)})"
        for x, y in _ALPAIRS
        for a, b in ((x, y), (y, x))
    )
    _ATLEAST_SQL = (
        "SELECT p.doc_id, p.pf / (p.pf + 1) AS s FROM ("
        " SELECT doc_id, sum(1.0 / (e - s)) AS pf FROM ("
        f"  SELECT DISTINCT doc_id, s, e FROM ({_ATLEAST_UNION}) u0"
        "  ) u WHERE NOT EXISTS ("
        f"   SELECT 1 FROM (SELECT DISTINCT doc_id, s, e FROM ({_ATLEAST_UNION}) v0) v"
        "   WHERE v.doc_id = u.doc_id AND ((v.s > u.s AND v.e <= u.e) OR (v.s = u.s AND v.e < u.e)))"
        " GROUP BY doc_id) p"
    )
    O["ft_atleast_top10"] = topk_sql(_ATLEAST_SQL)
    O["ft_fnparse_top10"] = O["ft_atleast_top10"]
    O["ft_dist_atleast_top10"] = O["ft_atleast_top10"]
    # FunctionScoreQuery: BM25 × ln(1 + n_chars), re-ranked
    O["ft_funcscore_top10"] = topk_sql(
        "SELECT t.doc_id, t.s * ln(1 + d.n_chars) AS s FROM tscore t "
        "JOIN documents d USING (doc_id) WHERE t.term = 'table'"
    )
    # JS expression sort: integer-exact double arithmetic, identical
    # in DuckDB and Catalyst
    O["ft_exprsort_top10"] = (
        base_ctes()
        + " SELECT CAST(row_number() OVER (ORDER BY v DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(v, 2) AS value_r FROM ("
        " SELECT d.doc_id, floor(d.n_chars / 7.0) * (d.doc_id % 5 + 1) + d.n_chars % 13 AS v"
        " FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')"
        ") ORDER BY v DESC, doc_id LIMIT 10"
    )
    # ExpressionRescorer: first-pass top-30 (f32 cut order), value =
    # 0.5*relevance + n_chars % 101
    O["ft_exprrescore_top10"] = (
        base_ctes() + ", fp AS (SELECT doc_id, s FROM tscore WHERE term = 'table' "
        "      ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 30), "
        "q AS (SELECT fp.doc_id, 0.5 * fp.s + d.n_chars % 101 AS s "
        "      FROM fp JOIN documents d USING (doc_id)) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q "
        "ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # QueryRescorer: first-pass top-30 of 'table' (f32 cut order),
    # combined = first + 2.0*second where 'hash' matches, else first
    O["ft_rescore_top10"] = (
        base_ctes() + ", fp AS (SELECT doc_id, s FROM tscore WHERE term = 'table' "
        "      ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 30), "
        "sp AS (SELECT doc_id, s FROM tscore WHERE term = 'hash'), "
        "q AS (SELECT fp.doc_id, fp.s + coalesce(2.0 * sp.s, 0) AS s "
        "      FROM fp LEFT JOIN sp USING (doc_id)) "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10"
    )
    # LongRangeFacetCounts: overlapping ranges each counted independently
    O["ft_facet_range"] = (
        base_ctes() + ", m AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'table'), "
        "j AS (SELECT d.n_chars FROM documents d JOIN m USING (doc_id)) "
        "SELECT 'short' AS label, count(*) FILTER (WHERE n_chars >= 0 AND n_chars < 200)::BIGINT AS cnt FROM j "
        "UNION ALL SELECT 'mid', count(*) FILTER (WHERE n_chars >= 200 AND n_chars < 400)::BIGINT FROM j "
        "UNION ALL SELECT 'long', count(*) FILTER (WHERE n_chars >= 400 AND n_chars < 1000)::BIGINT FROM j "
        "UNION ALL SELECT 'all', count(*) FILTER (WHERE n_chars >= 0 AND n_chars < 1000)::BIGINT FROM j"
    )
    # taxonomy getTopChildren(lang='en' → source)
    O["ft_facet_path"] = (
        base_ctes() + " SELECT d.source AS child, count(*)::BIGINT AS cnt "
        "FROM documents d WHERE d.lang = 'en' AND d.doc_id IN "
        "(SELECT doc_id FROM tf WHERE term IN ('table','merge') "
        " GROUP BY doc_id HAVING count(*) = 2) "
        "GROUP BY d.source ORDER BY cnt DESC, child"
    )
    # DrillDownQuery: FILTER dims don't score
    O["ft_drilldown_top10"] = topk_sql(
        "SELECT t.doc_id, t.s FROM tscore t JOIN documents d USING (doc_id) "
        "WHERE t.term = 'table' AND d.lang IN ('en','de')"
    )
    O["ft_mlt_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ("
        " SELECT term FROM ("
        "  SELECT t.term, t.tf * (ln(((SELECT n FROM stats) + 1.0) / (d.df + 1.0)) + 1.0) AS msc"
        "  FROM tf t JOIN dfr d USING (term)"
        "  WHERE t.doc_id = 0 AND t.tf >= 2 AND d.df >= 5"
        "  ORDER BY msc DESC, t.term LIMIT 25) z"
        ") GROUP BY doc_id"
    )
    # SimpleNaiveBayesClassifier batch (classify.py): prior + add-1
    # likelihood + softmax, classes = documents.lang
    O["ft_nbayes"] = (
        base_ctes()
        + """,
cls AS (SELECT lang AS cls, count(*)::BIGINT AS n_c FROM documents GROUP BY lang),
csum AS (SELECT sum(n_c)::DOUBLE AS dwc FROM cls),
au AS (SELECT sum(df)::DOUBLE / (SELECT n FROM stats) AS au FROM dfr),
wc AS (SELECT t.term, d.lang AS cls, count(*)::BIGINT AS wf
       FROM tf t JOIN documents d USING (doc_id) GROUP BY t.term, d.lang),
inp AS (SELECT doc_id, term, tf::DOUBLE AS tf FROM tf WHERE doc_id % 17 = 3),
sc AS (SELECT i.doc_id, c.cls,
        ln(c.n_c) - ln((SELECT dwc FROM csum))
        + sum(i.tf * ln((coalesce(w.wf, 0) + 1.0) /
              ((SELECT au FROM au) * c.n_c + (SELECT dwc FROM csum)))) AS ls
     FROM inp i CROSS JOIN cls c
     LEFT JOIN wc w ON w.term = i.term AND w.cls = c.cls
     GROUP BY i.doc_id, c.cls, c.n_c),
mx AS (SELECT doc_id, cls, ls, max(ls) OVER (PARTITION BY doc_id) AS m FROM sc),
ex AS (SELECT doc_id, cls, exp(ls - m) AS el FROM mx),
pr AS (SELECT doc_id, cls, el / sum(el) OVER (PARTITION BY doc_id) AS p FROM ex)
SELECT doc_id, cls, round(p, 4) AS p_r,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY CAST(p AS REAL) DESC, cls) AS BIGINT) AS rank
FROM pr ORDER BY doc_id, rank"""
    )
    # KNearestNeighborClassifier (classify.py): boosted-MLT top-10 of
    # doc 0 (boost = msc/best per knnSearch's setBoost(true)) + 1.0
    # (the MUST ConstantScore class-exists clause), votes boost/k
    O["ft_knncls"] = (
        base_ctes()
        + """,
mq AS (SELECT term, msc FROM (
        SELECT t.term, t.tf * (ln(((SELECT n FROM stats) + 1.0) / (d.df + 1.0)) + 1.0) AS msc
        FROM tf t JOIN dfr d USING (term)
        WHERE t.doc_id = 0 AND t.tf >= 2 AND d.df >= 5
        ORDER BY msc DESC, t.term LIMIT 25)),
best AS (SELECT max(msc) AS b FROM mq),
qs AS (SELECT s.doc_id, sum(s.s * q.msc / (SELECT b FROM best)) + 1.0 AS s
       FROM tscore s JOIN mq q USING (term) GROUP BY s.doc_id),
top AS (SELECT doc_id, s FROM qs ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 10),
v AS (SELECT d.lang AS cls, sum(t.s / (SELECT max(s) FROM top)) / 10.0 AS sc
      FROM top t JOIN documents d USING (doc_id) GROUP BY d.lang)
SELECT CAST(row_number() OVER (ORDER BY CAST(sc AS REAL) DESC, cls) AS BIGINT) AS rank,
       cls, round(sc, 2) AS score_r FROM v ORDER BY rank"""
    )
    O["ft_commonterms_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ('the','scan','dup') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term IN "
        "  (SELECT term FROM dfr WHERE term IN ('the','scan','dup') "
        "   AND df <= 0.5 * (SELECT n FROM stats))) "
        "GROUP BY doc_id"
    )
    O["pc_match"] = (
        base_ctes() + " SELECT doc_id, query_id FROM ("
        "SELECT DISTINCT doc_id, 'q_term' AS query_id FROM tf WHERE term = 'table' "
        "UNION ALL SELECT doc_id, 'q_and' FROM (SELECT doc_id FROM tf "
        "  WHERE term IN ('merge','vector') GROUP BY doc_id HAVING count(*) = 2) "
        "UNION ALL SELECT doc_id, 'q_msm' FROM (SELECT doc_id FROM tf "
        "  WHERE term IN ('dup','vector','scan') GROUP BY doc_id HAVING count(*) >= 2) "
        "UNION ALL SELECT DISTINCT a.doc_id, 'q_phrase' FROM post a JOIN post b "
        "  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
        "  WHERE a.term = 'table' AND b.term = 'hash' "
        "UNION ALL SELECT DISTINCT doc_id, 'q_not' FROM tf WHERE term = 'table' "
        "  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'merge') "
        "UNION ALL SELECT DISTINCT doc_id, 'q_prefix' FROM tf WHERE term LIKE 's%' "
        "UNION ALL SELECT DISTINCT a.doc_id, 'q_sloppy2' FROM post a JOIN post b "
        "  ON a.doc_id = b.doc_id AND abs(b.pos - a.pos - 1) <= 2 "
        "  WHERE a.term = 'table' AND b.term = 'hash' "
        ") ORDER BY doc_id, query_id"
    )
    O["ix_writer_update"] = (
        base_ctes(
            "(SELECT doc_id, CASE WHEN doc_id = 0 THEN '" + _UPDATED_TEXT + "' "
            "ELSE text END AS text FROM documents)"
        )
        + " SELECT concat('doc/', CAST(doc_id AS VARCHAR)) AS path, round(s, 2) AS score_r "
        "FROM tscore WHERE term = 'vector' ORDER BY path"
    )
    O["ix_dv_update"] = (
        "SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN -doc_id ELSE n_chars END AS n_chars "
        "FROM documents ORDER BY doc_id"
    )
    # addIndexes merge: doc ids + global stats equal the one-shot build
    # over the whole corpus, so the standard scored oracles apply
    O["ix_addindexes_top10"] = O["ft_term_top10"]
    O["ix_addindexes_phrase_top10"] = O["ft_phrase_top10"]
    O["ix_addcopy_top10"] = O["ft_term_top10"]
    O["ix_addcopy_phrase_top10"] = O["ft_phrase_top10"]
    O["sg_prefix_top10"] = (
        base_ctes() + " SELECT term, ttf::BIGINT AS weight FROM dfr "
        "WHERE term LIKE 's%' ORDER BY weight DESC, term LIMIT 10"
    )
    # FreeTextSuggester key 'table s' (bigram stupid backoff, ALPHA
    # 0.4): bigram (table, s*) scored count/count('table'); unigram s*
    # not seen at the bigram level scored 0.4*count/totTokens; the
    # multiply-then-divide order mirrors the engine expression so the
    # doubles agree bit-for-bit before the 6dp round
    O["sg_freetext_top10"] = (
        "WITH tk AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents), "
        "g1 AS (SELECT l[i] AS last FROM tk, unnest(range(1, len(l)+1)) AS u(i) WHERE len(l) > 0), "
        "g2 AS (SELECT l[i] AS ctx, l[i+1] AS last FROM tk, unnest(range(1, len(l))) AS u(i) WHERE len(l) >= 2), "
        "tot AS (SELECT count(*)::BIGINT AS t FROM g1), "
        "cc AS (SELECT count(*)::BIGINT AS c FROM g1 WHERE last = 'table'), "
        "lv AS (SELECT 'table ' || last AS suggestion, last, 0 AS lvl, "
        "       (1.0 * count(*)) / (SELECT c FROM cc) AS score "
        "       FROM g2 WHERE ctx = 'table' AND last LIKE 's%' GROUP BY last "
        "       UNION ALL "
        "       SELECT last AS suggestion, last, 1 AS lvl, "
        "       (0.4 * count(*)) / (SELECT t FROM tot) AS score "
        "       FROM g1 WHERE last LIKE 's%' GROUP BY last), "
        "dd AS (SELECT suggestion, score, "
        "       row_number() OVER (PARTITION BY last ORDER BY lvl) AS rn FROM lv) "
        "SELECT suggestion, round(score, 6) AS score_r FROM dd WHERE rn = 1 "
        "ORDER BY score DESC, suggestion LIMIT 10"
    )
    # infix suggester: any title token with 'tab' as prefix
    O["sg_infix_top10"] = (
        "WITH ttl AS (SELECT array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') "
        "AS suggestion, n_chars FROM documents) "
        "SELECT suggestion, n_chars::BIGINT AS weight FROM ttl "
        "WHERE len(list_filter(regexp_extract_all(lower(suggestion), '[a-z0-9]+'), "
        "t -> t LIKE 'tab%')) > 0 "
        "ORDER BY weight DESC, suggestion LIMIT 10"
    )
    O["sg_context_top10"] = (
        "WITH ttl AS (SELECT array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') "
        "AS suggestion, n_chars, lang, source FROM documents) "
        "SELECT suggestion, n_chars * greatest("
        "CASE WHEN lang = 'en' THEN 2.0 ELSE 0.0 END, "
        "CASE WHEN source LIKE 'src1%' THEN 1.5 ELSE 0.0 END) AS score "
        "FROM ttl WHERE suggestion LIKE 't%' AND (lang = 'en' OR source LIKE 'src1%') "
        "ORDER BY score DESC, suggestion LIMIT 10"
    )
    O["sg_spell_top5"] = (
        base_ctes() + " SELECT term, levenshtein(term, 'dat')::BIGINT AS dist, df::BIGINT AS df "
        "FROM dfr WHERE levenshtein(term, 'dat') BETWEEN 1 AND 2 "
        "ORDER BY dist, df DESC, term LIMIT 5"
    )
    # WordBreakSpellChecker.suggestWordBreaks: splits of 'tablehash'
    # with both parts in the dictionary, ranked changes asc then max
    # part df desc (NUM_CHANGES_THEN_MAX_FREQUENCY)
    O["sg_wordbreak_top5"] = (
        base_ctes()
        + ", cand AS (SELECT substr('tablehash', 1, i::INT) AS l, "
        "substr('tablehash', i::INT + 1) AS r FROM (SELECT unnest(range(1, 9)) AS i)) "
        "SELECT l || ' ' || r AS suggestion, 1::BIGINT AS changes, "
        "greatest(dl.df, dr.df)::BIGINT AS freq "
        "FROM cand JOIN dfr dl ON dl.term = l JOIN dfr dr ON dr.term = r "
        "ORDER BY changes, freq DESC, suggestion LIMIT 5"
    )
    # suggestWordCombinations over (tab, le, hash): adjacent pairs
    # whose concatenation is a dictionary word and at least one
    # constituent is absent (SUGGEST_WHEN_NOT_IN_INDEX minFreq == 0)
    O["sg_wordcombine_top5"] = (
        base_ctes()
        + " SELECT w.comb AS suggestion, w.start_idx::BIGINT AS start_idx, "
        "w.end_idx::BIGINT AS end_idx, 1::BIGINT AS changes, d.df::BIGINT AS freq "
        "FROM (VALUES ('table', 0, 1, 'tab', 'le'), ('lehash', 1, 2, 'le', 'hash')) "
        "AS w(comb, start_idx, end_idx, t1, t2) "
        "JOIN dfr d ON d.term = w.comb "
        "WHERE least(coalesce((SELECT df FROM dfr WHERE term = w.t1), 0), "
        "coalesce((SELECT df FROM dfr WHERE term = w.t2), 0)) = 0 "
        "ORDER BY changes, freq DESC, start_idx LIMIT 5"
    )
    O["ft_filterwand_top10"] = topk_sql(
        "SELECT t.doc_id, sum(t.s) AS s FROM tscore t JOIN documents d ON d.doc_id = t.doc_id "
        "WHERE t.term IN ('dup','vector') AND d.lang = 'en' GROUP BY t.doc_id"
    )
    O["ft_lang_filter_top10"] = topk_sql(
        "SELECT t.doc_id, t.s FROM tscore t JOIN documents d ON d.doc_id = t.doc_id "
        "WHERE t.term = 'table' AND d.lang = 'en'"
    )

    O["ft_numrange_ids"] = ids_sql(
        "SELECT doc_id FROM tf WHERE term = 'table' AND doc_id IN "
        "(SELECT doc_id FROM documents WHERE n_chars BETWEEN 200 AND 400)"
    )
    # searchAfter page 2 == global ranks 11..20, re-numbered 1..10
    O["ft_searchafter_top10"] = (
        base_ctes() + ", q AS (SELECT doc_id, s FROM tscore WHERE term = 'table') "
        "SELECT CAST(row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) - 10 AS BIGINT) AS rank, "
        "doc_id, round(s, 2) AS score_r FROM q "
        "QUALIFY row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id) BETWEEN 11 AND 20 "
        "ORDER BY CAST(s AS REAL) DESC, doc_id"
    )

    # distributed-mode twins: identical semantics, leaf-parallel plan
    O["ft_dist_filter_top10"] = O["ft_lang_filter_top10"]
    O["ft_dist_numrange_ids"] = O["ft_numrange_ids"]
    O["ft_dist_matchall_ids"] = "SELECT doc_id::BIGINT AS doc_id FROM documents ORDER BY doc_id"
    O["ft_sorted_top10"] = (
        base_ctes() + " SELECT d.doc_id, d.n_chars::BIGINT AS n_chars FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "ORDER BY d.n_chars DESC, d.doc_id LIMIT 10"
    )

    O["ft_sortedafter_top10"] = (
        base_ctes() + " SELECT d.doc_id, d.n_chars::BIGINT AS n_chars FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "AND (d.n_chars < 900 OR (d.n_chars = 900 AND d.doc_id > 37)) "
        "ORDER BY d.n_chars DESC, d.doc_id LIMIT 10"
    )

    O["ft_indexsort_top10"] = (
        base_ctes() + " SELECT row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id)::BIGINT AS rank, "
        "d.doc_id, d.n_chars::BIGINT AS n_chars FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "ORDER BY d.n_chars DESC, d.doc_id LIMIT 10"
    )

    # KnnFloatVectorQuery w/ pre-filter: cosine vs embedding 0 among
    # lang='en' docs; score transform (1+cos)/2 per
    # VectorSimilarityFunction.java COSINE
    O["ft_knn_top5"] = """WITH q AS (
  SELECT unnest(embedding)::DOUBLE AS x, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings WHERE vec_id = 0),
qn AS (SELECT sqrt(sum(x * x)) AS nr FROM q),
ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(range(1, len(embedding) + 1)) AS i
       FROM embeddings),
dots AS (SELECT e.vec_id, sum(e.x * q.x) AS dp, sqrt(sum(e.x * e.x)) AS nr
         FROM ex e JOIN q ON q.i = e.i GROUP BY e.vec_id),
scored AS (SELECT d.vec_id AS doc_id, (1 + dp / (d.nr * (SELECT nr FROM qn))) / 2 AS s
           FROM dots d JOIN documents doc ON doc.doc_id = d.vec_id WHERE doc.lang = 'en')
SELECT row_number() OVER (ORDER BY CAST(s AS REAL) DESC, doc_id)::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, round(s, 4) AS score_r
FROM scored ORDER BY CAST(s AS REAL) DESC, doc_id LIMIT 5"""

    O["ft_prefix_ids"] = ids_sql("SELECT doc_id FROM tf WHERE term LIKE 's%'")
    O["ft_prefix_scoring_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term LIKE 'sc%' GROUP BY doc_id"
    )
    O["ft_prefix_topterms_top10"] = topk_sql(
        "SELECT doc_id, sum(s) AS s FROM tscore WHERE term IN ("
        "SELECT term FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 'sc%' "
        "ORDER BY term LIMIT 5)) GROUP BY doc_id"
    )
    O["ft_wildcard_ids"] = ids_sql("SELECT doc_id FROM tf WHERE regexp_full_match(term, '.*ow')")
    O["ft_fuzzy_ids"] = ids_sql("SELECT doc_id FROM tf WHERE levenshtein(term, 'tabl') <= 1")
    # OSA <= 1: classic <= 1, or an exact single adjacent swap
    # (equal length, classic 2, prefixes/tails equal around swapped i)
    O["ft_fuzzytrans_ids"] = ids_sql(
        "SELECT doc_id FROM tf WHERE levenshtein(term, 'tabel') <= 1 "
        "OR (length(term) = 5 AND levenshtein(term, 'tabel') = 2 AND EXISTS ("
        "  SELECT 1 FROM range(1, 5) r(i) "
        "  WHERE substr(term, 1, i::INT - 1) = substr('tabel', 1, i::INT - 1) "
        "    AND substr(term, i::INT, 1) = substr('tabel', i::INT + 1, 1) "
        "    AND substr(term, i::INT + 1, 1) = substr('tabel', i::INT, 1) "
        "    AND substr(term, i::INT + 2) = substr('tabel', i::INT + 2)))"
    )
    O["ft_range_ids"] = ids_sql("SELECT doc_id FROM tf WHERE term >= 'scan' AND term <= 'table'")
    O["ft_termset_ids"] = ids_sql("SELECT doc_id FROM tf WHERE term IN ('dup','vector','zzznosuch')")
    O["ft_regexp_ids"] = ids_sql("SELECT doc_id FROM tf WHERE regexp_full_match(term, 'sc.n|h.sh')")

    O["ft_count_and"] = (
        base_ctes() + " SELECT count(*)::BIGINT AS cnt FROM (SELECT doc_id FROM tf "
        "WHERE term IN ('table','merge') GROUP BY doc_id HAVING count(*) = 2)"
    )
    O["ft_facet_lang"] = (
        base_ctes() + " SELECT d.lang, count(*)::BIGINT AS cnt FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term IN ('table','merge') "
        "GROUP BY doc_id HAVING count(*) = 2) GROUP BY d.lang ORDER BY cnt DESC, lang"
    )
    # LongValueFacetCounts getTopChildren(5): cnt desc, value asc
    O["ft_facet_long"] = (
        base_ctes() + " SELECT CAST(floor(d.n_chars / 50) AS BIGINT) AS value, "
        "count(*)::BIGINT AS cnt FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "GROUP BY value ORDER BY cnt DESC, value LIMIT 5"
    )
    # sum-association facets: Σ n_chars per source over the match set
    O["ft_facet_assoc"] = (
        base_ctes() + " SELECT d.source AS category, sum(d.n_chars)::BIGINT AS weight "
        "FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "GROUP BY category ORDER BY weight DESC, category"
    )
    O["ix_term_stats"] = base_ctes() + " SELECT term, df, ttf FROM dfr ORDER BY df DESC, term LIMIT 20"
    O["ix_norms"] = base_ctes() + " SELECT doc_id, dl, norm FROM norms ORDER BY doc_id"
    O["ix_docs_sha"] = "SELECT doc_id, sha256(text) AS content_sha256 FROM documents ORDER BY doc_id"
    O["ix_collection_stats"] = base_ctes() + " SELECT n AS doc_count, sum_ttf FROM stats"
    O["ix_postings_decode"] = (
        base_ctes() + " SELECT doc_id, tf FROM tf WHERE term = 'merge' ORDER BY doc_id"
    )

    # offsets probe: token start offsets re-derived arithmetically —
    # cumulative (separator + token) lengths over the zipped
    # regexp_extract_all / regexp_split_to_array streams; snippet
    # rebuilt with the same fixed window as first_match_window
    O["ft_highlight"] = f"""WITH base AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_SQL}') AS toks,
         regexp_split_to_array(lower(text), '{TOKEN_SQL}') AS seps
  FROM documents),
tk AS (SELECT doc_id, text, unnest(toks) AS term,
              unnest(seps[1:len(toks)]) AS sep,
              unnest(range(1, len(toks) + 1)) AS i
       FROM base),
st AS (SELECT doc_id, text, term, i,
              sum(len(sep) + len(term)) OVER (PARTITION BY doc_id ORDER BY i) - len(term) AS s
       FROM tk),
occ AS (SELECT doc_id, any_value(text) AS text, count(*)::BIGINT AS n_occ,
               min(s)::BIGINT AS first_start, (max(s) + 5)::BIGINT AS last_end
        FROM st WHERE term = 'table' GROUP BY doc_id)
SELECT doc_id::BIGINT AS doc_id, n_occ, first_start, last_end,
       substr(text, greatest(1, first_start + 1 - 20)::INT, least(first_start, 20)::INT)
       || '<b>' || substr(text, (first_start + 1)::INT, 5) || '</b>'
       || substr(text, (first_start + 6)::INT, 40) AS snippet
FROM occ ORDER BY doc_id"""

    # the ANALYSIS offset source must reproduce the offsets index
    # byte-for-byte — same oracle
    O["ft_highlight_analysis"] = O["ft_highlight"]

    # -- pipeline operators --
    # exact-substring dedup: dup_tokens = |union of covered positions|
    # (identical to summed merged-island lengths)
    _DUPCTES = (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents), "
        "occ AS (SELECT doc_id, i - 1 AS pos, array_to_string(l[i:i+4], ' ') AS g "
        "        FROM toks, unnest(range(1, len(l) - 5 + 2)) AS t(i) WHERE len(l) >= 5), "
        "dup AS (SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2), "
        "cov AS (SELECT DISTINCT doc_id, cp FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS cp "
        "        FROM occ WHERE g IN (SELECT g FROM dup)))"
    )
    O["dd_dupspans"] = (
        _DUPCTES
        + ", agg AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id) "
        "SELECT a.doc_id, len(t.l)::BIGINT AS n_tokens, a.dup_tokens::BIGINT AS dup_tokens, "
        "round(a.dup_tokens / len(t.l), 4) AS dup_frac_r "
        "FROM agg a JOIN toks t USING (doc_id) ORDER BY a.doc_id"
    )
    O["dd_dupclean"] = (
        _DUPCTES
        + ", covl AS (SELECT doc_id, list(cp) AS cov FROM cov GROUP BY doc_id) "
        "SELECT t.doc_id, coalesce(CASE WHEN c.cov IS NULL THEN array_to_string(t.l, ' ') "
        "ELSE array_to_string(list_transform(list_filter(range(0, len(t.l)), "
        "i -> NOT list_contains(c.cov, i)), i -> t.l[i + 1]), ' ') END, '') AS text, "
        "coalesce(len(c.cov), 0)::BIGINT AS dup_tokens "
        "FROM toks t LEFT JOIN covl c USING (doc_id) ORDER BY t.doc_id"
    )
    # C4 line filters (Raffel et al. 2020 §2.2): derived multiline
    # corpus identical to the Spark-side gate derivation
    O["tx_c4"] = (
        "WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "ml AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(w) / 7.0) AS INT)), "
        "  i -> array_to_string(w[i * 7 + 1 : i * 7 + 7], ' ') || "
        "       CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END) AS ls FROM t0), "
        "mt AS (SELECT doc_id, array_to_string(ls, chr(10)) "
        "  || CASE WHEN doc_id % 17 = 0 THEN ' {' ELSE '' END "
        "  || CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'some lorem ipsum filler line.' ELSE '' END "
        "  AS text FROM ml), "
        "f AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM mt), "
        "k AS (SELECT doc_id, lines, "
        "  list_filter(lines, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"' "
        "    OR l LIKE '%''') "
        "    AND len(list_filter(regexp_split_to_array(trim(l), ' +'), x -> x != '')) >= 3 "
        "    AND NOT contains(lower(l), 'javascript')) AS kept, "
        "  contains(text, '{') AS hb, contains(lower(text), 'lorem ipsum') AS hl FROM f) "
        "SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text, "
        "len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept_lines, "
        "hb::BIGINT AS has_brace, hl::BIGINT AS has_lorem, "
        "(NOT hl AND NOT hb AND len(kept) >= 5)::BIGINT AS keep_doc "
        "FROM k ORDER BY doc_id"
    )
    # PII scrubbing: planted PII re-derived in SQL; same RE2-safe
    # patterns, counts on the pre-scrub text, sequential replacement
    _P_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _P_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    _P_PHONE = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}"
    O["tx_pii"] = (
        "WITH planted AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com' "
        "|| CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) ELSE '' END "
        "|| CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 123 4567' ELSE '' END AS text FROM documents) "
        f"SELECT doc_id, len(regexp_extract_all(text, '{_P_EMAIL}'))::BIGINT AS n_email, "
        f"len(regexp_extract_all(text, '{_P_IP}'))::BIGINT AS n_ipv4, "
        f"len(regexp_extract_all(text, '{_P_PHONE}'))::BIGINT AS n_phone, "
        f"regexp_replace(regexp_replace(regexp_replace(text, '{_P_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_P_IP}', '<IP>', 'g'), '{_P_PHONE}', '<PHONE>', 'g') AS text "
        "FROM planted ORDER BY doc_id"
    )
    # corpus profiling (exact paths)
    O["tx_vocab"] = (
        "WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term "
        "FROM documents) "
        "SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs, "
        "count(*)::BIGINT AS n_tokens, count(DISTINCT term)::BIGINT AS vocab_exact FROM toks"
    )
    O["tx_len_quantiles"] = (
        "WITH lens AS (SELECT len(regexp_extract_all(lower(text), '[a-z0-9]+'))::DOUBLE AS l "
        "FROM documents), "
        "qa AS (SELECT quantile_cont(l, [0.25, 0.5, 0.75, 0.95]) AS qs FROM lens) "
        "SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS prob, "
        "round(unnest(qs), 2) AS q_r FROM qa ORDER BY prob"
    )
    O["tx_heavy_hitters"] = (
        "WITH occ AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term "
        "FROM documents) "
        "SELECT term, count(*)::BIGINT AS ttf, count(DISTINCT doc_id)::BIGINT AS df "
        "FROM occ GROUP BY term ORDER BY ttf DESC, term LIMIT 10"
    )
    # event-time windows: epoch-aligned 10-minute buckets
    O["ev_windows"] = (
        "SELECT (floor(epoch(ts) / 600) * 600)::BIGINT AS window_start, event_type, "
        "count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value_r "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    )
    # session windows, gap 30 min: a new session starts when the gap to
    # the previous event is >= the gap (session end = last + gap, open)
    O["ev_sessions"] = (
        "WITH e AS (SELECT user_id, ts, value, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts) AS pts FROM events), "
        "m AS (SELECT user_id, ts, value, CASE WHEN pts IS NULL "
        "OR ts - pts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e), "
        "s AS (SELECT user_id, ts, value, sum(brk) OVER (PARTITION BY user_id "
        "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
        "SELECT user_id, floor(epoch(min(ts)))::BIGINT AS session_start, "
        "count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value_r "
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"
    )
    O["dd_exact"] = (
        "SELECT sha256(text) AS content_sha256, min(doc_id)::BIGINT AS rep_id, "
        "count(*)::BIGINT AS n_dups FROM documents GROUP BY sha256(text)"
    )
    _SHINGLE_CTES = f"""WITH shl AS (
  SELECT doc_id, l, unnest(range(1, len(l) - 3)) AS i
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_SQL}') AS l FROM documents)
  WHERE len(l) >= 5),
sh AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+4], ' ') AS sg FROM shl),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS i
          FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2)"""
    _jacc = (
        _SHINGLE_CTES + " SELECT da::BIGINT AS doc_a, db::BIGINT AS doc_b, "
        "round(i::DOUBLE / (sa.sz + sb.sz - i), 3) AS jaccard_r "
        "FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db "
        "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5 ORDER BY doc_a, doc_b"
    )
    O["dd_jaccard"] = _jacc
    # LSH+verify equals exact all-pairs ON THIS FIXTURE: banding is
    # deterministic (seeded permutations, no RNG at query time), and
    # the fixture's near-dup pairs sit at jaccard ~0.98 where the
    # 32-band miss probability is ~1e-22 — a pair near the 0.5
    # threshold would have a real (~13%) but FIXED miss chance; if the
    # fixture ever adds near-threshold pairs, expect to re-derive this
    # equality rather than assume it
    O["dd_minhash"] = _jacc
    # connected components over the same pair set: cluster = min doc id
    # reachable (recursive transitive closure; small at gate scale)
    O["dd_clusters"] = (
        _SHINGLE_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
        + """,
prs AS (SELECT da AS a, db AS b FROM inter JOIN sz sa ON sa.doc_id = da
        JOIN sz sb ON sb.doc_id = db WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5),
edges AS (SELECT a AS s, b AS d FROM prs UNION ALL SELECT b, a FROM prs),
reach(v, r) AS (SELECT s, d FROM edges
                UNION SELECT rc.v, e.d FROM reach rc JOIN edges e ON e.s = rc.r)
SELECT v::BIGINT AS doc_id, least(v, min(r))::BIGINT AS cluster
FROM reach GROUP BY v ORDER BY doc_id"""
    )

    # SimHash: FNV-1a 64-bit per distinct token re-derived as a
    # recursive CTE (HUGEINT keeps the 64x41-bit product exact before
    # the mod-2^64 fold), tf-weighted per-bit votes, then exact
    # all-pairs hamming <= 3 — which the engine's pigeonhole banding
    # (4 x 16-bit chunks) provably equals for hamming <= 3.
    O["dd_simhash"] = f"""WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_SQL}')) AS term FROM documents),
vocab AS (SELECT DISTINCT term FROM toks),
fnv AS (
  SELECT term, 0 AS i, 14695981039346656037::UBIGINT AS h FROM vocab
  UNION ALL
  SELECT term, i + 1,
         CAST(((xor(h, unicode(substr(term, i + 1, 1))::UBIGINT))::HUGEINT * 1099511628211)
              % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)
  FROM fnv WHERE i < len(term)
),
thash AS (SELECT term, h FROM fnv WHERE i = len(term)),
tcnt AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
votes AS (SELECT doc_id, b.range AS b,
          sum(CASE WHEN (h >> b.range::UBIGINT) & 1::UBIGINT = 1::UBIGINT THEN c ELSE -c END) AS v
          FROM tcnt JOIN thash USING (term) CROSS JOIN range(64) b GROUP BY 1, 2),
sh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (2::HUGEINT ** b::INT)::HUGEINT ELSE 0::HUGEINT END) AS UBIGINT) AS simhash
       FROM votes GROUP BY doc_id),
shall AS (SELECT d.doc_id, coalesce(s.simhash, 0::UBIGINT) AS simhash FROM documents d LEFT JOIN sh s USING (doc_id))
SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM shall a JOIN shall b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b"""

    O["dd_embed"] = """WITH ex AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings),
dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.x * b.x) AS dp
         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ex GROUP BY vec_id)
SELECT qa::BIGINT AS doc_a, qb::BIGINT AS doc_b, round(dp / (na.nr * nb.nr), 4) AS sim_r
FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb
WHERE dp / (na.nr * nb.nr) >= 0.45 ORDER BY doc_a, doc_b"""

    O["ann_cosine_top5"] = """WITH ex AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings),
dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.x * b.x) AS dp
         FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id != a.vec_id
         WHERE a.vec_id < 8 GROUP BY 1, 2),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ex GROUP BY vec_id)
SELECT qid::BIGINT AS query_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY dp / (na.nr * nb.nr) DESC, cid) AS BIGINT) AS rank,
       cid::BIGINT AS vec_id, round(dp / (na.nr * nb.nr), 4) AS sim_r
FROM dots JOIN nrm na ON na.vec_id = qid JOIN nrm nb ON nb.vec_id = cid
QUALIFY rank <= 5 ORDER BY query_id, rank"""
    # full-recall LSH (one bucket) and full-probe IVF (every list
    # scanned) provably equal brute force — same oracle
    O["ann_lsh_full_top5"] = O["ann_cosine_top5"]
    O["ann_ivf_full_top5"] = O["ann_cosine_top5"]
    O["ann_hnsw_full_top5"] = O["ann_cosine_top5"]
    # SemDeDup pinned-centroid twin: centroid = e0 → centroid_sim =
    # v[0]/|v|, one cluster; keep-low order = (csim ASC, vec_id ASC);
    # is_dup(b) = some EARLIER a with cosine(a, b) >= 0.45
    O["dd_semdedup_full"] = """WITH ex AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ex GROUP BY vec_id),
cs AS (SELECT e.vec_id, e.x / n.nr AS csim FROM ex e JOIN nrm n USING (vec_id) WHERE e.i = 1),
dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.x * b.x) AS dp
         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id != b.vec_id GROUP BY 1, 2),
sims AS (SELECT qa, qb, dp / (na.nr * nb.nr) AS sim
         FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
dup AS (SELECT b.vec_id,
          CAST(coalesce(max(CASE WHEN s.sim >= 0.45 THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup
        FROM cs b
        LEFT JOIN cs a ON (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
        LEFT JOIN sims s ON s.qa = a.vec_id AND s.qb = b.vec_id
        GROUP BY b.vec_id)
SELECT c.vec_id, round(c.csim, 4) AS csim_r, d.dup FROM cs c JOIN dup d USING (vec_id)
ORDER BY c.vec_id"""

    _SW = ",".join(f"'{s}'" for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
    _TOKS = f"WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_SQL}')) AS term FROM documents)"
    O["dd_decontam"] = (
        "WITH bench AS (SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') AS btext "
        "FROM documents WHERE doc_id % 97 = 0), "
        "bg AS (SELECT DISTINCT gram FROM (SELECT doc_id, array_to_string(list_slice(l, i, i + 7), ' ') AS gram FROM (SELECT doc_id, regexp_extract_all(lower(btext), '[a-z0-9]+') AS l FROM bench), unnest(range(1, len(l) - 8 + 2)) AS u(i) WHERE len(l) >= 8)), "
        "cg AS (SELECT doc_id, array_to_string(list_slice(l, i, i + 7), ' ') AS gram FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents), unnest(range(1, len(l) - 8 + 2)) AS u(i) WHERE len(l) >= 8) "
        "SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram) ORDER BY doc_id"
    )
    O["tx_sample"] = (
        "SELECT doc_id FROM documents WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 250000 ORDER BY doc_id"
    )
    O["tx_sample_strat"] = (
        "SELECT doc_id FROM documents WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < "
        "(CASE WHEN lang = 'en' THEN 1000000 WHEN lang = 'fr' THEN 500000 ELSE 100000 END) "
        "ORDER BY doc_id"
    )
    # source-mix rebalancing: per-source rate = min(1, cap/group_n),
    # cap = 0.03 * corpus; md5-bucket filter (int() truncation = floor)
    O["tx_rebalance"] = (
        "WITH gc AS (SELECT source, count(*)::DOUBLE AS gn FROM documents GROUP BY source), "
        "t AS (SELECT count(*)::DOUBLE AS n FROM documents) "
        "SELECT d.doc_id FROM documents d JOIN gc USING (source), t "
        "WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 "
        "< floor((CASE WHEN gn <= 0.03 * n THEN 1.0 ELSE 0.03 * n / gn END) * 1000000) "
        "ORDER BY d.doc_id"
    )
    # DSIR (pipeline/dsir.py model definition): hashed unigram+bigram
    # buckets (md5-prefix % 4096), add-1 smoothed log-ratio of the
    # target (doc_id%17 slice) vs raw (full-table) models; logw = sum
    # over gram occurrences; empty docs keep exactly 0
    _DSIR_CTES = (
        "WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents), "
        "gr AS (SELECT doc_id, l[i] AS gram FROM tk, unnest(range(1, len(l)+1)) AS u(i) "
        "       UNION ALL "
        "       SELECT doc_id, l[i] || ' ' || l[i+1] AS gram FROM tk, unnest(range(1, len(l))) AS u(i)), "
        "gb AS (SELECT doc_id, CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT) % 4096 AS bucket FROM gr), "
        "p AS (SELECT bucket, count(*)::BIGINT AS ct FROM gb WHERE doc_id % 17 = 0 GROUP BY bucket), "
        "q AS (SELECT bucket, count(*)::BIGINT AS cq FROM gb GROUP BY bucket), "
        "tot AS (SELECT (SELECT sum(ct) FROM p) AS tp, (SELECT sum(cq) FROM q) AS tq), "
        "lr AS (SELECT q.bucket, ln((coalesce(p.ct, 0) + 1.0) / (tot.tp + 4096.0)) "
        "              - ln((q.cq + 1.0) / (tot.tq + 4096.0)) AS lr "
        "       FROM q LEFT JOIN p USING (bucket), tot), "
        "dw AS (SELECT gb.doc_id, count(*)::BIGINT AS n_grams, sum(lr.lr) AS logw "
        "       FROM gb JOIN lr USING (bucket) GROUP BY gb.doc_id) "
    )
    O["tx_dsir_weights"] = (
        _DSIR_CTES
        + "SELECT d.doc_id, coalesce(dw.n_grams, 0) AS n_grams, "
        "round(coalesce(dw.logw, 0.0), 4) AS logw "
        "FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN dw USING (doc_id) "
        "ORDER BY d.doc_id"
    )
    O["tx_dsir_select"] = (
        _DSIR_CTES
        + ", ky AS (SELECT d.doc_id, coalesce(dw.logw, 0.0) "
        "  - ln(-ln(((CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
        "            % 1000000) + 0.5) / 1000000.0)) AS key "
        "  FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN dw USING (doc_id)), "
        "sel AS (SELECT doc_id FROM ky ORDER BY key DESC, doc_id LIMIT 50) "
        "SELECT doc_id FROM sel ORDER BY doc_id"
    )
    O["sg_fuzzy_top10"] = (
        base_ctes()
        + " SELECT term, ttf::BIGINT AS weight FROM dfr "
        "WHERE term LIKE 't%' AND least("
        "levenshtein('tablw', substring(term, 1, 4)), "
        "levenshtein('tablw', substring(term, 1, 5)), "
        "levenshtein('tablw', substring(term, 1, 6))) <= 1 "
        "ORDER BY weight DESC, term LIMIT 10"
    )
    O["tx_repetition"] = (
        "WITH lns AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS l "
        "FROM documents), "
        "lm AS (SELECT doc_id, "
        " CASE WHEN len(l) > 0 THEN round(1.0 - len(list_distinct(l)) / len(l)::DOUBLE, 4) ELSE 0.0 END AS dup_line_frac, "
        " CASE WHEN list_sum(list_transform(l, x -> length(x))) > 0 THEN "
        "  round(1.0 - list_sum(list_transform(list_distinct(l), x -> length(x)))::DOUBLE / "
        "        list_sum(list_transform(l, x -> length(x))), 4) ELSE 0.0 END AS dup_line_char_frac "
        " FROM lns), "
        "tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents), "
        "tc AS (SELECT doc_id, coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS tok_chars FROM tk), "
        "g AS (SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram, count(*)::BIGINT AS cnt "
        "      FROM tk, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2 GROUP BY doc_id, gram), "
        "tg AS (SELECT doc_id, cnt, gram, row_number() OVER "
        "        (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM g) "
        "SELECT lm.doc_id, lm.dup_line_frac, lm.dup_line_char_frac, "
        " CASE WHEN tc.tok_chars > 0 AND tg.cnt IS NOT NULL THEN "
        "  round(tg.cnt * (length(tg.gram) - 1)::DOUBLE / tc.tok_chars, 4) ELSE 0.0 END AS top_ngram_char_frac "
        "FROM lm JOIN tc USING (doc_id) LEFT JOIN (SELECT * FROM tg WHERE rn = 1) tg USING (doc_id) "
        "ORDER BY doc_id"
    )
    # add-1 bigram self-perplexity (pipeline/lm.py model definition):
    # prev of token i is l[i-1] (BOS '<s>' at i=1); p = (c12+1)/(c1+V);
    # ppl = exp(-avg ln p); token-less docs keep NULL ppl
    O["tx_perplexity"] = (
        "WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l FROM documents), "
        "g AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS cur "
        "      FROM tk, unnest(range(1, len(l)+1)) AS u(i) WHERE len(l) > 0), "
        "c12 AS (SELECT prev, cur, count(*)::BIGINT AS c12 FROM g GROUP BY prev, cur), "
        "c1 AS (SELECT prev, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY prev), "
        "v AS (SELECT count(DISTINCT cur)::BIGINT AS V FROM c12), "
        "lp AS (SELECT g.doc_id, ln((coalesce(c12.c12, 0) + 1.0) / "
        "       (coalesce(c1.c1, 0) + 1.0 * (SELECT V FROM v))) AS lp "
        "       FROM g LEFT JOIN c12 USING (prev, cur) LEFT JOIN c1 USING (prev)), "
        "agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, exp(-avg(lp)) AS ppl "
        "        FROM lp GROUP BY doc_id) "
        "SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, round(a.ppl, 3) AS ppl "
        "FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id) "
        "ORDER BY d.doc_id"
    )
    O["tx_quality"] = (
        _TOKS + f""", agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(len(term))::BIGINT AS sum_len,
         sum(CASE WHEN term IN ({_SW}) THEN 1 ELSE 0 END)::BIGINT AS n_sw,
         count(DISTINCT term)::BIGINT AS n_dist
  FROM toks GROUP BY doc_id)
SELECT d.doc_id::BIGINT AS doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       length(d.text)::BIGINT AS n_chars,
       round(coalesce(a.sum_len::DOUBLE / a.n_tokens, 0), 4) AS avg_token_len,
       round(coalesce(a.n_sw::DOUBLE / a.n_tokens, 0), 4) AS stopword_ratio,
       round(coalesce(a.n_dist::DOUBLE / a.n_tokens, 0), 4) AS ttr
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""
    )
    O["tx_langid"] = (
        _TOKS + f""", agg AS (
  SELECT doc_id, count(*)::BIGINT AS n,
         sum(CASE WHEN term IN ({_SW}) THEN 1 ELSE 0 END)::BIGINT AS n_sw
  FROM toks GROUP BY doc_id)
SELECT d.doc_id::BIGINT AS doc_id,
       round(coalesce(a.n_sw::DOUBLE / a.n, 0), 4) AS en_ratio,
       CASE WHEN coalesce(a.n_sw::DOUBLE / a.n, 0) >= 0.05 THEN 'en' ELSE 'unknown' END AS pred_lang
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""
    )
    # Integer-only definitions with explicit BIGINT casts at every
    # level: DuckDB's sum(BIGINT) returns HUGEINT (int128 → Decimal in
    # pandas), which value-hashes differently from Spark's int64 even
    # when numerically equal — the round-1 tx_tokens mismatch.
    O["tx_tokens"] = (
        _TOKS + """, agg AS (
  SELECT doc_id, count(*)::BIGINT AS an_tokens,
         sum((len(term) + 3) // 4)::BIGINT AS bpe_est
  FROM toks GROUP BY doc_id)
SELECT d.doc_id::BIGINT AS doc_id,
       len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
       coalesce(a.an_tokens, 0)::BIGINT AS an_tokens,
       coalesce(a.bpe_est, 0)::BIGINT AS bpe_est
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""
    )
    O["tx_fp"] = (
        f"SELECT doc_id::BIGINT AS doc_id, "
        f"md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_SQL}'), ' ')) AS fp FROM documents"
    )
    # the decode stage reads REAL container headers; the oracle
    # re-derives every decoded field from the closed-form synthesis
    # (PNG header 33 B, JPEG 21 B, WAV 44 B + utf8 text tail)
    O["mm_meta"] = """SELECT doc_id::BIGINT AS doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE WHEN doc_id % 6 = 0 THEN 'png' WHEN doc_id % 3 = 0 THEN 'jpeg'
            WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
       (octet_length(encode(text)) + CASE WHEN doc_id % 6 = 0 THEN 33
            WHEN doc_id % 3 = 0 THEN 21 WHEN doc_id % 3 = 1 THEN 44 ELSE 244 END)::BIGINT AS n_bytes,
       CASE WHEN doc_id % 3 = 0 THEN doc_id % 640 + 1
            WHEN doc_id % 3 = 2 THEN doc_id % 1920 + 16 ELSE 0 END::BIGINT AS width,
       CASE WHEN doc_id % 3 = 0 THEN doc_id % 480 + 1
            WHEN doc_id % 3 = 2 THEN doc_id % 1080 + 16 ELSE 0 END::BIGINT AS height,
       CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 1000 ELSE 0 END::BIGINT AS sample_rate,
       CASE WHEN doc_id % 3 = 0 THEN 1
            WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) // 2
            ELSE doc_id % 240 + 24 END::BIGINT AS n_frames
FROM documents"""
    # distributed-hit-relation twins share the driver-mode oracles
    O["ft_dist_facet_lang"] = O["ft_facet_lang"]
    O["ft_dist_group_top"] = O["ft_group_top"]
    O["ft_dist_funcscore_top10"] = O["ft_funcscore_top10"]
    # boostByQuery: BM25('table') × 2 for docs also matching 'hash'
    O["ft_boostq_top10"] = topk_sql(
        "SELECT t.doc_id, t.s * (CASE WHEN h.doc_id IS NOT NULL THEN 2.0 ELSE 1.0 END) AS s "
        "FROM tscore t LEFT JOIN (SELECT DISTINCT doc_id FROM tf WHERE term = 'hash') h "
        "ON h.doc_id = t.doc_id WHERE t.term = 'table'"
    )
    O["ft_facet_sample"] = (
        base_ctes() + " SELECT d.lang AS lang, count(*)::BIGINT AS cnt, "
        "CAST(round(count(*) / 0.25) AS BIGINT) AS est "
        "FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'table') m "
        "JOIN documents d USING (doc_id) "
        "WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 250000 "
        "GROUP BY d.lang ORDER BY cnt DESC, lang"
    )
    O["sg_regex_top10"] = (
        base_ctes() + " SELECT term, ttf::BIGINT AS weight FROM dfr "
        "WHERE regexp_matches(term, '^(?:ta[bn].*)$') "
        "ORDER BY weight DESC, term LIMIT 10"
    )
    # distributed scored-shape twins: same query, chunked execution —
    # identical oracles prove bit-identical scores on the 100-TB path
    O["ft_dist_term_top10"] = O["ft_term_top10"]
    O["ft_dist_or_top10"] = O["ft_or_top10"]
    O["ft_dist_phrase_top10"] = O["ft_phrase_top10"]
    O["ft_dist_sloppy_top10"] = O["ft_sloppy_top10"]
    O["ft_dist_spannear_top10"] = O["ft_spannear_top10"]
    O["ft_dist_multiphrase_top10"] = O["ft_multiphrase_top10"]
    O["ft_dist_mpshared_top10"] = O["ft_multiphrase_shared_top10"]
    O["ft_dist_synonym_top10"] = O["ft_synonym_top10"]
    O["ft_dist_dismax_top10"] = O["ft_dismax_top10"]
    O["ft_dist_msm_top10"] = O["ft_msm_top10"]
    O["ft_dist_boost_top10"] = O["ft_boost_top10"]
    # notContaining(maxgaps(4, ordered(table,hash)), merge): the
    # notcontaining oracle with the gap cap applied
    O["ft_dist_interval_top10"] = topk_sql(
        "SELECT p.doc_id, p.pf / (p.pf + 1) AS s "
        "FROM (SELECT doc_id, sum(1.0 / (pb - pa)) AS pf "
        f"      FROM ({_mutual_pairs('table', 'hash')}) mp "
        "      WHERE pb - pa - 1 <= 4 "
        "      AND NOT EXISTS (SELECT 1 FROM post po WHERE po.doc_id = mp.doc_id "
        "            AND po.term = 'merge' AND po.pos >= mp.pa AND po.pos <= mp.pb) "
        "      GROUP BY doc_id) p"
    )
    # distributed twins (same oracles)
    O["ft_dist_shingle_top10"] = O["ft_shingle_top10"]
    O["ft_dist_blended_top10"] = O["ft_blended_top10"]
    O["ft_dist_classic_top10"] = O["ft_classic_top10"]
    O["ft_dist_lmd_top10"] = O["ft_lmd_top10"]
    O["ft_dist_commonterms_top10"] = O["ft_commonterms_top10"]

    O["ft_dist_surround_top10"] = O["ft_surround_top10"]
    O["ft_dist_simpleq_top10"] = O["ft_simpleq_top10"]
    O["ft_dist_complexphrase_top10"] = O["ft_complexphrase_top10"]
    O["ft_dist_mlt_top10"] = O["ft_mlt_top10"]
    O["ft_dist_sorted_top10"] = O["ft_sorted_top10"]

    for _src, _dst in (
        ("ft_dfr_top10", "ft_dist_dfr_top10"),
        ("ft_lmjm_top10", "ft_dist_lmjm_top10"),
        ("ft_dfi_top10", "ft_dist_dfi_top10"),
        ("ft_ib_top10", "ft_dist_ib_top10"),
        ("ft_indri_top10", "ft_dist_indri_top10"),
        ("ft_axf2exp_top10", "ft_dist_axf2exp_top10"),
        ("ft_axf3log_top10", "ft_dist_axf3log_top10"),
        ("ft_sweetspot_top10", "ft_dist_sweetspot_top10"),
        ("ft_multisim_top10", "ft_dist_multisim_top10"),
        ("ft_perfield_top10", "ft_dist_perfield_top10"),
    ):
        O[_dst] = O[_src]

    return O


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a boolean conjunction at sf0.001."""
    return queries()["ft_and_top10"](spark, "/root/testdata/sf0.001")
