"""Porter stemmer (the PorterStemFilter role).

Reference semantics: lucene/analysis/common/src/java/org/apache/
lucene/analysis/en/PorterStemFilter.java:33-55 (filter applies the
stemmer to every token) and org/tartarus/snowball — Lucene's
PorterStemmer.java is a mechanical translation of Martin Porter's
original 1980 algorithm ("An algorithm for suffix stripping",
Program 14(3):130-137), which this module re-implements from the
published description: steps 1a, 1b (+1b'), 1c, 2, 3, 4, 5a, 5b over
the measure m() of vowel-consonant sequences.

Documented subset (like the tokenizer's UAX#29 subset): the stemmer
applies to lowercase ASCII alphabetic tokens of length >= 3; any
other token (digits, underscores, non-ASCII) passes through
unchanged. Lucene's char-array implementation technically transforms
arbitrary tokens; restricting to the tokens the algorithm is defined
over keeps identifiers like ``x86_64`` stable, which is the right
call for the code-heavy fixture corpus and diverges only outside the
algorithm's domain.
"""

from __future__ import annotations

import re

_ALPHA = re.compile(r"^[a-z]+$")

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m() = number of VC sequences in [C](VC){m}[V]."""
    m, i, n = 0, 0, len(stem)
    while i < n and _is_cons(stem, i):
        i += 1
    while True:
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            return m
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
        if i >= n:
            return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(stem: str) -> bool:
    return len(stem) >= 2 and stem[-1] == stem[-2] and _is_cons(stem, len(stem) - 1)


def _cvc(stem: str) -> bool:
    """*o: consonant-vowel-consonant ending where the final consonant
    is not w, x or y."""
    if len(stem) < 3:
        return False
    return (
        _is_cons(stem, len(stem) - 3)
        and not _is_cons(stem, len(stem) - 2)
        and _is_cons(stem, len(stem) - 1)
        and stem[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    if len(word) < 3 or not _ALPHA.match(word):
        return word
    w = word

    # step 1a: plurals
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]

    # step 1b: -ed / -ing
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # step 1c: y → i after a vowel
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not (stem and stem[-1] in "st"):
                continue
            if _measure(stem) > 1:
                w = stem
            break

    # step 5a: trailing e
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # step 5b: -ll → -l at m > 1
    if _ends_double_cons(w) and w[-1] == "l" and _measure(w[:-1]) > 1:
        w = w[:-1]

    return w
