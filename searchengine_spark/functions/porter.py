"""Full Porter stemmer (Porter 1980, "An algorithm for suffix stripping").

The reference normalizes every token to ALL of its normal forms through a
real morphology (``services/morphology/LemmaFinderImpl.java:49-60`` —
RussianLuceneMorphology, singleton ``:25-31``).  The engine's PINNED
analyzer deliberately replaces that with a fixed exception table (parity
contract, SURVEY.md §5.1); this module fills the pluggable normalizer slot
with a real, complete English normalizer — the classic five-step Porter
algorithm, implemented from the published description (public knowledge;
no code derived from the reference).

:func:`porter_stem` is the spec, token -> stem.  Both analyzer executions
call it (``analyzer._normalizer_fns``): the pure-Python one per token, the
Arrow kernel once per UNIQUE token of a batch.  tests/test_analyzer.py
holds the kernel's output to the pure-Python one.
"""

from __future__ import annotations

_VOWELS = "aeiou"


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _m(stem: str) -> int:
    """The measure: number of VC sequences in [C](VC)^m[V]."""
    n = 0
    i = 0
    ln = len(stem)
    while i < ln and _is_cons(stem, i):
        i += 1
    while i < ln:
        while i < ln and not _is_cons(stem, i):
            i += 1
        if i == ln:
            break
        n += 1
        while i < ln and _is_cons(stem, i):
            i += 1
    return n


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    if len(w) < 3:
        return False
    return (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


def _longest_rule(w: str, rules: tuple[tuple[str, str], ...]) -> tuple[str, str] | None:
    """Porter semantics: the LONGEST matching suffix of the step is chosen
    first; only then is its condition checked (a failing condition does NOT
    fall through to a shorter suffix)."""
    best = None
    for suf, repl in rules:
        if w.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, repl)
    return best


_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)
_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def porter_stem(tok: str) -> str:
    """token (lowercase) -> Porter stem.  Words of length <= 2 are left
    untouched (the reference implementation's k <= k0+1 guard); non-ASCII
    letters count as consonants, so non-English tokens pass through
    unchanged unless they happen to end in an ASCII suffix."""
    w = tok
    if len(w) <= 2:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    grew = False
    if w.endswith("eed"):
        if _m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if _has_vowel(w[:-2]):
            w = w[:-2]
            grew = True
    elif w.endswith("ing"):
        if _has_vowel(w[:-3]):
            w = w[:-3]
            grew = True
    if grew:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _m(w) == 1 and _ends_cvc(w):
            w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2 (m > 0)
    r = _longest_rule(w, _STEP2)
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 0:
            w = stem + r[1]

    # step 3 (m > 0)
    r = _longest_rule(w, _STEP3)
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 0:
            w = stem + r[1]

    # step 4 (m > 1; 'ion' additionally requires the stem to end in s or t)
    r = _longest_rule(w, tuple((s, "") for s in _STEP4))
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 1 and (r[0] != "ion" or (stem and stem[-1] in "st")):
            w = stem

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _m(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem

    # step 5b
    if _m(w) > 1 and _ends_double_cons(w) and w[-1] == "l":
        w = w[:-1]
    return w

