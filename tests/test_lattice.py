"""The shared Viterbi lattice core under the ko and zh cost models, and
the expander contract the single memoized segmenter keeps.

The ko / zh oracles mirror the ja one (tests/test_cjk.py::
TestViterbiVsBrute): they rebuild each language's arcs from its tables
(dictionary, unknown-word costs, connection costs), enumerate EVERY
segmentation of short random runs, and check that the lattice returns a
minimum-cost path, and among the minimum-cost paths the one the
"longer arc wins" tie-break selects: compared from the end of the run,
the path whose arcs are longer. Random user words over a small
alphabet (all at one user-entry cost) make equal-cost paths common, so
the tie-break is exercised, not just the minimum."""

from __future__ import annotations

import itertools
import random

import pytest

from lucene_spark.analysis import chinese, korean


def _user_words(rng, alphabet):
    """Every single character plus a random third of the 2..3-char
    strings over ``alphabet``."""
    longer = ["".join(p) for n in (2, 3) for p in itertools.product(alphabet, repeat=n)]
    return tuple(sorted(set(alphabet) | {w for w in longer if rng.random() < 0.33}))


def _brute(run, arcs_at, conn):
    """(key, path) minimizing key = (cost, lengths read from the end,
    negated); path = [(surface, tag)]."""
    best = None

    def rec(i, prev, cost, path):
        nonlocal best
        if i == len(run):
            key = (cost, tuple(-len(s) for s, _t in reversed(path)))
            if best is None or key < best[0]:
                best = (key, list(path))
            return
        for surf, tag, c in arcs_at(run, i):
            path.append((surf, tag))
            rec(i + len(surf), tag, cost + c + conn(prev, tag), path)
            path.pop()

    rec(0, "BOS", 0, [])
    return best


def _path_cost(run, path, arcs_at, conn):
    """Cost of a lattice path [(surface, start, tag)] under the oracle's
    arcs (the cheapest arc with that surface and tag at that start)."""
    cost, prev = 0, "BOS"
    for surf, start, tag in path:
        options = [c for s, t, c in arcs_at(run, start) if s == surf and t == tag]
        assert options, (run, surf, tag)
        cost += min(options) + conn(prev, tag)
        prev = tag
    return cost


class TestKoreanViterbiVsBrute:
    @staticmethod
    def arcs_at(unigrams, user_words):
        # user entries: a plain surface is an NNG noun at the user cost
        entries = [e[:3] for e in korean._SYSTEM_DICT]
        entries += [(w, "NNG", korean._USER_COST) for w in user_words]

        def arcs(run, i):
            out = [(surf, tag, cost) for surf, tag, cost in entries if run.startswith(surf, i)]
            cls = korean.char_class(run[i])
            if unigrams and cls != korean.PUNCT:
                out.append((run[i], "SY", 11000))
                return out
            j = i + 1
            while j < len(run) and korean.char_class(run[j]) == cls:
                j += 1
            tag, base, per = korean._UNK[cls]
            if cls == korean.PUNCT:
                tag = korean._punct_tag(run[i:j])
            out.append((run[i:j], tag, base + per * (j - i)))
            return out

        return arcs

    def test_fuzz_lattice_vs_exhaustive_dp(self):
        rng = random.Random(43)
        alphabet = "갑을병정"
        pool = "가락지나물은의것화학이외감싸여평창동계올림픽대회정부청사한국2018abc.·!" + alphabet * 8
        for _trial in range(300):
            run = "".join(rng.choice(pool) for _ in range(rng.randint(1, 7)))
            unigrams = rng.random() < 0.3
            user_words = _user_words(rng, alphabet) if rng.random() < 0.7 else ()
            arcs_at = self.arcs_at(unigrams, user_words)
            got = korean.segment(
                run, decompound="none", user_words=user_words, discard_punct=False, unigrams=unigrams
            )
            path = [(t[0], t[1], t[5]) for t in got]
            assert "".join(s for s, _st, _t in path) == run
            want = _brute(run, arcs_at, korean._conn)
            assert _path_cost(run, path, arcs_at, korean._conn) == want[0][0], (run, path, want)
            assert [s for s, _st, _t in path] == [s for s, _t in want[1]], (run, user_words)


class TestChineseViterbiVsBrute:
    @staticmethod
    def arcs_at(user_words):
        # user words join the dictionary at cost 1500
        entries = list(chinese._WORD_DICT) + [(w, 1500) for w in user_words]

        def arcs(run, i):
            out = [(run[i], None, chinese._UNK_SINGLE)]
            out += [(surf, None, cost) for surf, cost in entries if run.startswith(surf, i)]
            return out

        return arcs

    @staticmethod
    def conn(_prev, _tag):
        return chinese._CONN

    def test_fuzz_lattice_vs_exhaustive_dp(self):
        rng = random.Random(47)
        alphabet = "甲乙丙丁"
        pool = "我购买了道具和服装中国北京们可以没有什么时间工作学习朋友喜欢今天明现在的一是" + alphabet * 10
        for _trial in range(300):
            run = "".join(rng.choice(pool) for _ in range(rng.randint(1, 8)))
            user_words = _user_words(rng, alphabet) if rng.random() < 0.7 else ()
            arcs_at = self.arcs_at(user_words)
            got = chinese.segment(run, user_words=user_words)
            assert [t[3] for t in got] == [1] * len(got)
            path = [(t[0], t[1], None) for t in got]
            assert "".join(s for s, _st, _t in path) == run
            want = _brute(run, arcs_at, self.conn)
            assert _path_cost(run, path, arcs_at, self.conn) == want[0][0], (run, want)
            assert [s for s, _st, _t in path] == [s for s, _t in want[1]], (run, user_words)


_GOLDEN = {
    "cjk": [
        "麻薬の密売は根こそぎ絶やさなければならない",
        "魔女狩大将マシュー・ホプキンス。",
        "これは本ではない",
        "数学部長谷川",
        "シニアソフトウェアエンジニアは本を密売する",
        "ソフト・ウェア ＡＢＣ漢字テスト くよ Hello",
    ],
    "ko": [
        "44사이즈 ９.９사이즈",
        "화학 이외의 것!",
        "10.1 인치 모니터",
        "가락지나물은 감싸여",
        "2018 평창 동계올림픽대회",
        "c++ 프로그래밍 언어 정부세종청사",
        "도로ㆍ지반ㆍ수자원ㆍ건설환경ㆍ건축ㆍ화재설비연구",
        "Ба̀лтичко мо̑ре εἰμί Hello",
    ],
    "zh": [
        "我购买了道具和服装。 我购买了道具和服装。",
        "我购买了道具和服装　我购买了道具和服装。",
        "Title:San 我购买 Ｔｅｓｔｓ 了道具和服装１２３４",
        "我购买︱ Tests 了道具和服装",
        "我购买 روبرتTests 了道具和服装",
        "优素福·拉扎·吉拉尼",
    ],
}


@pytest.mark.parametrize("stem", ["cjk", "cjk_search", "ko", "ko_none", "zh"])
def test_parts_view_projects_spans_view(stem):
    """_expander is the parts projection of _expander_spans — the
    contract the single memoized segmenter factory keeps (both cold and
    memo-warm)."""
    from lucene_spark.analysis.tokenizer import _expander, _expander_spans, _tokenizer_of

    tok_re = _tokenizer_of(stem)[0]
    texts = _GOLDEN[stem.partition("_")[0]]
    toks = [t for text in texts for t in tok_re.findall(text)]
    assert toks
    for _round in range(2):
        for tok in toks:
            assert _expander(stem)(tok) == [p for p, _s, _e in _expander_spans(stem)(tok)], tok
