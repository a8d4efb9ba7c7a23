"""Porter stemmer (Porter, 1980) — the English Snowball-family stemmer
behind the reference's "en_stem" analyzer (ref: src/tokenizer/stemmer.rs
uses rust-stemmers; no stemming library ships in this environment, so the
classic algorithm is implemented directly from its published definition).

Pure python, applied batch-wise over pandas Series inside Arrow kernels.
"""

from __future__ import annotations

_VOWELS = set("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """The 'm' of [C](VC){m}[V]."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        v = not _is_cons(stem, i)
        if not v and prev_vowel:
            m += 1
        prev_vowel = v
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (len(word) >= 2 and word[-1] == word[-2]
            and _is_cons(word, len(word) - 1))


def _cvc(word: str) -> bool:
    """ends cvc where final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (_is_cons(word, len(word) - 3)
            and not _is_cons(word, len(word) - 2)
            and _is_cons(word, len(word) - 1)
            and word[-1] not in "wxy")


def _replace(word: str, suffix: str, repl: str, m_min: int) -> str | None:
    if word.endswith(suffix):
        stem = word[: len(word) - len(suffix)]
        if _measure(stem) > m_min:
            return stem + repl
    return None


def porter_stem(word: str) -> str:
    if len(word) <= 2:
        return word
    w = word

    # ---- step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # ---- step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w = w[:-2]
            flag = True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w = w[:-3]
            flag = True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # ---- step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # ---- step 2
    for suf, rep in (("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
                     ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
                     ("alli", "al"), ("entli", "ent"), ("eli", "e"),
                     ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
                     ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
                     ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
                     ("iviti", "ive"), ("biliti", "ble")):
        out = _replace(w, suf, rep, 0)
        if out is not None:
            w = out
            break

    # ---- step 3
    for suf, rep in (("icate", "ic"), ("ative", ""), ("alize", "al"),
                     ("iciti", "ic"), ("ical", "ic"), ("ful", ""),
                     ("ness", "")):
        out = _replace(w, suf, rep, 0)
        if out is not None:
            w = out
            break

    # ---- step 4
    for suf in ("al", "ance", "ence", "er", "ic", "able", "ible", "ant",
                "ement", "ment", "ent", "ou", "ism", "ate", "iti", "ous",
                "ive", "ize"):
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st" \
                and _measure(w[:-3]) > 1:
            w = w[:-3]

    # ---- step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # ---- step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w
