"""The pinned analyzer: tokenize -> normalize -> stop-filter.

Reference semantics (SURVEY.md §2.8, C1-C5): the reference lemmatizer
(``services/morphology/LemmaFinderImpl.java:34-75``) lowercases (C1, :35,38),
strips a punctuation class to spaces (C2, regex at :21), splits on whitespace
(C3, :38), expands each surviving token to >=1 "normal forms" all of which are
counted (C4, :40-44 — one surface token may emit multiple lemmas), and drops
service words (C5, :62-75 — stop tags or short morph info).

The reference's analyzer is a Russian-only Lucene artifact
(``LemmaFinderImpl.java:27``) that drops every non-Cyrillic token — useless for
a source-code corpus — so per FIXTURES.md §6 the analyzer *shape* is pinned
here (shared verbatim by the pure-Python oracle in ``tests/oracle.py``):

1. identifier split: camelCase boundaries -> space (snake_case splits anyway
   because ``_`` is in the punct class);
2. lowercase;
3. strip ``[\\p{Punct}0-9№©◄«»—…]`` -> space (the reference's class verbatim,
   ``LemmaFinderImpl.java:21``);
4. split on ``\\s+``;
5. drop token if ``len(token) <= 3`` (C5 analog of the short-morph-info rule,
   ``LemmaFinderImpl.java:70``) or token in the pinned stop-set (C5 stop-tag
   rule, ``:64-69``);
6. normal forms: pinned exception table (else identity), every form counted
   (C4 multi-lemma rule, ``LemmaFinderImpl.java:40-44``).

Any change here invalidates all golden fixtures.

Two executions of the SAME pinned definition, for every normalizer in
:data:`NORMALIZERS`:

- :func:`analyze_positions` (and its flattening :func:`analyze`): pure
  Python, one text at a time.  The oracle the tests hold every other
  result to, and the query-time analyzer.
- :func:`_analyze_arrow_batch`: pyarrow compute kernels over one Arrow
  batch of texts (``mapInArrow``, no per-row Python; a stemmer touches
  each batch's UNIQUE tokens only).  It serves the build's run kernel
  :func:`doc_term_runs_arrow` (``build_index``, ``rebuild_segments``)
  and the logical index (``operators/tf_df.term_frequencies``).

MAINTENANCE: a change to the pinned shape must land in both; the
agreement tests (test_analyzer.py, test_phrase_positions.py,
test_fused_build.py) fail on any drift.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# --- pinned definition ------------------------------------------------------

# camelCase boundaries (applied before lowercasing)
_CAMEL_1 = "([a-z0-9])([A-Z])"  # fooBar -> foo Bar
_CAMEL_2 = "([A-Z]+)([A-Z][a-z])"  # HTTPServer -> HTTP Server

# The reference's strip class (LemmaFinderImpl.java:21), [\p{Punct}0-9№©◄«»—…],
# with \p{Punct} spelled out as the ASCII punctuation block so Python's re
# and pyarrow's RE2 strip identical characters.
_STRIP = r"[!-/:-@\[-`{-~0-9№©◄«»—…]"

MIN_TOKEN_LEN = 4  # tokens of length <= 3 are dropped (C5 analog)

# Pinned stop-set: English service words (>=4 chars; shorter ones die on the
# length rule) + source-code keywords per the fixture langs {py,java,js,md}.
STOP_WORDS: frozenset[str] = frozenset(
    {
        # english service words
        "the", "and", "for", "with", "this", "that", "from", "are", "was",
        "were", "has", "have", "had", "not", "but", "you", "all", "can",
        "will", "into", "then", "than", "when", "where", "which", "while",
        "your", "their", "there", "what", "been", "being", "over", "under",
        # code keywords (py / java / js)
        "def", "return", "import", "class", "public", "private", "protected",
        "static", "void", "function", "const", "else", "elif", "true",
        "false", "null", "none", "self", "super", "new", "try", "except",
        "catch", "finally", "throw", "throws", "raise", "lambda", "yield",
        "async", "await", "break", "continue", "pass", "global", "nonlocal",
        "interface", "extends", "implements", "package", "final", "abstract",
        "boolean", "double", "float", "long", "short", "byte", "char",
    }
)

# Pinned normal-forms exception table (C4): token -> tuple of lemmas, each
# counted.  Everything not listed maps to itself.
NORMAL_FORMS: dict[str, tuple[str, ...]] = {
    "норма": ("норма", "нормаль"),   # the FIXTURES.md multi-lemma marker
    "geese": ("goose", "geese"),     # an ASCII multi-lemma case for tests
}

# The pluggable normalizer slot (the reference fills it with
# RussianLuceneMorphology, LemmaFinderImpl.java:49-60).  'pinned' is the
# fixture contract; the others leave the golden fixtures valid.
# :func:`_normalizer_fns` says what each one does.
NORMALIZERS = ("pinned", "dict", "stem", "porter", "dict_porter")

# --- optional normalizer: 'stem' (suffix stemmer) ---------------------------
# A deterministic porter-lite suffix stripper in place of the exception-table
# stage.
#
# Rules (first match wins; a rule only fires if the guard holds):
#   1. -sses -> -ss
#   2. -ies  -> -y
#   3. -ing  -> ''   if len(token) >= 6
#   4. -ed   -> ''   if len(token) >= 5
#   5. -s    -> ''   unless token ends in -ss or -us
#   6. otherwise unchanged


def stem_token(tok: str) -> str:
    if tok.endswith("sses"):
        return tok[:-2]
    if tok.endswith("ies"):
        return tok[:-3] + "y"
    if tok.endswith("ing") and len(tok) >= 6:
        return tok[:-3]
    if tok.endswith("ed") and len(tok) >= 5:
        return tok[:-2]
    if tok.endswith("s") and not tok.endswith("ss") and not tok.endswith("us"):
        return tok[:-1]
    return tok


# --- pure-Python core (shared with tests/oracle.py) -------------------------

_camel1_re = re.compile(_CAMEL_1)
_camel2_re = re.compile(_CAMEL_2)
_strip_re = re.compile(_STRIP)


def analyze(text: str, normalizer: str = "pinned",
            forms: dict[str, tuple[str, ...]] | None = None,
            table: dict[str, tuple[str, ...]] | None = None) -> list[str]:
    """text -> lemma stream (with repetition).  ``normalizer='pinned'`` is
    the fixture contract (exception table); ``'stem'`` swaps in the suffix
    stemmer (the pluggable-slot exercise); ``'porter'`` the full five-step
    Porter stemmer (functions/porter.py — the slot's complete English
    normalizer); ``'dict'`` a DICTIONARY morphology: ``forms`` maps a
    surface token to its tuple of normal forms, EVERY form counted — the
    reference's RussianLuceneMorphology shape
    (LemmaFinderImpl.java:40-44/49-60), where one inflected token may emit
    several lemmas.  The pinned exception table is exactly this mechanism
    with a 2-entry dictionary; 'dict' opens the slot to an arbitrary-size
    one without touching the golden fixtures.  ``table``: the caller's
    :func:`dict_porter_table` of ``forms`` ('dict_porter' only; queries
    take it from ``builder.index_analyzer``, once per index)."""
    return [f for fs in analyze_positions(text, normalizer, forms, table)
            for f in fs]


def analyze_positions(text: str, normalizer: str = "pinned",
                      forms: dict[str, tuple[str, ...]] | None = None,
                      table: dict[str, tuple[str, ...]] | None = None,
                      ) -> list[tuple[str, ...]]:
    """Positional variant of :func:`analyze`: one entry per SURVIVING source
    token, holding the tuple of its normal forms.  Where :func:`analyze`
    flattens a multi-lemma token into several stream entries (each counted
    for tf — the indexing contract), phrase matching needs them at ONE
    position: "норма tamok" must match the source "норма tamok" even though
    the flat stream is [норма, нормаль, tamok].  This function IS the single
    pinned pipeline — :func:`analyze` is exactly its flattening, so the two
    views cannot drift apart (the parity contract has one implementation)."""
    table, stem_fn = _normalizer_fns(normalizer, forms, table)
    if not text:
        return []
    s = _camel1_re.sub(r"\1 \2", text)
    s = _camel2_re.sub(r"\1 \2", s)
    s = _strip_re.sub(" ", s.lower())
    out: list[tuple[str, ...]] = []
    for tok in s.split():
        if len(tok) < MIN_TOKEN_LEN or tok in STOP_WORDS:
            continue
        hit = table.get(tok)
        if hit is not None:
            out.append(tuple(hit))
        elif stem_fn is not None:
            out.append((stem_fn(tok),))
        else:
            out.append((tok,))
    return out


def collect_lemmas(text: str) -> dict[str, int]:
    """Per-document lemma -> count map (LemmaFinderImpl.collectLemmas analog,
    LemmaFinderImpl.java:34-47)."""
    return dict(Counter(analyze(text)))


def dict_porter_table(forms: dict[str, tuple[str, ...]],
                      ) -> dict[str, tuple[str, ...]]:
    """The dictionary as the LAYERED normalizer consumes it: every output
    lemma projected into porter space (stemmed, deduped, sorted).  Under
    'dict_porter' raw tokens are stemmed, so dictionary outputs must live
    in the same lemma space or they can never meet — left -> ('leave',
    'left') raw would sit beside a surface 'leave' that porters to
    'leav' and the flagship irregular pairing would return zero hits.
    Tuples are rebuilt here, so values are hashable regardless of what
    the caller loaded from JSON."""
    from .functions.porter import porter_stem

    return {k: tuple(sorted({porter_stem(f) for f in v}))
            for k, v in forms.items()}


_STEM_MEMO: dict = {}
_STEM_MEMO_MAX = 2_000_000  # ~tens of MB of worker memory at the cap


def _stem_arrow(tokens, stem_fn, pa, pc):
    """Stem an arrow string array via dictionary-encode: Python touches
    only the batch's UNIQUE tokens, the per-occurrence mapping is an
    arrow ``take`` over contiguous buffers.  Returns a plain Array.

    Stems memoize per worker process (keyed (stem_fn, token)): Spark
    reuses python workers across batches and tasks, and a corpus's hot
    vocabulary repeats in every batch — without the memo each batch
    re-stems the same tokens.  Bounded: a pathological vocabulary clears
    the memo rather than growing without limit."""
    enc = tokens.dictionary_encode()
    memo = _STEM_MEMO
    if len(memo) > _STEM_MEMO_MAX:
        memo.clear()
    fid = id(stem_fn)
    stems = []
    for u in enc.dictionary.to_pylist():
        k = (fid, u)
        s = memo.get(k)
        if s is None:
            s = stem_fn(u)
            memo[k] = s
        stems.append(s)
    stemmed = pa.array(stems, type=pa.string())
    out = pc.take(stemmed, enc.indices)
    return out.combine_chunks() if isinstance(out, pa.ChunkedArray) else out


def check_normalizer(normalizer: str,
                     forms: dict[str, tuple[str, ...]] | None) -> None:
    """ValueError for a name outside :data:`NORMALIZERS` and for a
    dictionary normalizer ('dict', 'dict_porter') without ``forms``."""
    if normalizer not in NORMALIZERS:
        raise ValueError(
            f"normalizer must be one of {NORMALIZERS}, got {normalizer!r}")
    if normalizer in ("dict", "dict_porter") and forms is None:
        raise ValueError(f"normalizer={normalizer!r} needs a forms mapping")


def _normalizer_fns(normalizer: str,
                    forms: dict[str, tuple[str, ...]] | None,
                    table: dict[str, tuple[str, ...]] | None = None):
    """(normal-forms table, stemmer or None) for ``normalizer``, shared by
    both executions: a token in the table emits ALL its forms, any other
    token is stemmed (when there is a stemmer) or kept as is.

    - 'pinned': the fixture exception table, no stemmer;
    - 'dict': the caller's dictionary ``forms``, no stemmer;
    - 'stem' / 'porter': no table, the suffix / Porter stemmer;
    - 'dict_porter': the LAYERED full English normalizer (the reference's
      own shape: a dictionary morphology over the tokenizer).  The
      dictionary, projected into porter space (:func:`dict_porter_table`),
      answers irregular/ambiguous forms with ALL their lemmas; every token
      it does not know falls through to Porter for the regular
      -s/-ed/-ing inflections.  A caller's ``table`` skips the projection.

    Raises as :func:`check_normalizer` does."""
    check_normalizer(normalizer, forms)
    if normalizer in ("porter", "dict_porter"):
        from .functions.porter import porter_stem

        if normalizer == "dict_porter" and table is None:
            table = dict_porter_table(forms)
        return table or {}, porter_stem
    if normalizer == "stem":
        return {}, stem_token
    return (forms if normalizer == "dict" else NORMAL_FORMS), None


def _analyze_arrow_batch(content, table, stem_fn, stop_set, exc_set, pa, pc):
    """Steps 1-6 of the pinned definition over one Arrow text column, as
    pyarrow compute kernels (RE2 regex) over CONTIGUOUS buffers — tokens
    never become per-string Python objects.  Returns ``(par, lemmas,
    pos)`` per lemma occurrence: ``par`` the row in the batch, ``pos`` the
    rank of the surviving source token in its doc (a multi-lemma token
    emits every form at ONE position, as in :func:`analyze_positions`).
    None when no token survives."""
    import numpy as np

    x = pc.fill_null(content, "")
    x = pc.replace_substring_regex(x, pattern=_CAMEL_1, replacement=r"\1 \2")
    x = pc.replace_substring_regex(x, pattern=_CAMEL_2, replacement=r"\1 \2")
    x = pc.utf8_lower(x)
    x = pc.replace_substring_regex(x, pattern=_STRIP, replacement=" ")
    lists = pc.split_pattern_regex(x, pattern=r"\s+")
    toks = pc.list_flatten(lists)
    par = pc.list_parent_indices(lists)
    # split_pattern_regex emits '' for leading/trailing whitespace;
    # MIN_TOKEN_LEN drops them with the short tokens
    keep = pc.and_(
        pc.greater_equal(pc.utf8_length(toks), MIN_TOKEN_LEN),
        pc.invert(pc.is_in(toks, value_set=stop_set)),
    )
    toks = pc.filter(toks, keep)
    if len(toks) == 0:
        return None
    par = pc.filter(par, keep).to_numpy(zero_copy_only=False).astype(np.int64)
    # position over SURVIVING tokens, per doc: arange minus each doc-run's
    # first index (par is non-decreasing in token order)
    new_doc = np.ones(par.size, dtype=bool)
    new_doc[1:] = par[1:] != par[:-1]
    starts = np.flatnonzero(new_doc)
    pos = np.arange(par.size, dtype=np.int64) - np.repeat(
        starts, np.diff(np.append(starts, par.size)))
    # multi-lemma expansion: exception tokens are rare, so only THAT subset
    # round-trips through Python (same pos, every form)
    exc = pc.is_in(toks, value_set=exc_set)
    if (pc.sum(exc).as_py() or 0) > 0:
        exc_np = exc.to_numpy(zero_copy_only=False)
        bt = pc.filter(toks, pc.invert(exc))
        xt: list[str] = []
        xi: list[int] = []
        for tkn, i in zip(pc.filter(toks, exc).to_pylist(),
                          np.flatnonzero(exc_np).tolist()):
            for form in table[tkn]:
                xt.append(form)
                xi.append(i)
        # dictionary expansions are FINAL lemmas; only the base (raw)
        # subset goes through the stemmer
        if stem_fn is not None and len(bt):
            bt = _stem_arrow(bt, stem_fn, pa, pc)
        toks = pa.concat_arrays([pc.cast(bt, pa.string()),
                                 pa.array(xt, type=pa.string())])
        take = np.concatenate([np.flatnonzero(~exc_np),
                               np.asarray(xi, dtype=np.int64)])
        par, pos = par[take], pos[take]
    elif stem_fn is not None:
        toks = _stem_arrow(toks, stem_fn, pa, pc)
    return par, pc.cast(toks, pa.string()), pos


def doc_term_runs_arrow(docs: DataFrame, seg_size: int, n_buckets: int,
                        text_col: str = "content",
                        normalizer: str = "pinned",
                        forms: dict[str, tuple[str, ...]] | None = None,
                        stats=None) -> DataFrame:
    """THE build's analysis kernel: (doc_id, text) -> sorted posting runs,
    one row per (segment, lemma) per Arrow batch (``index/runs.py``
    schema), with ZERO shuffle.  The batch is analyzed once
    (:func:`_analyze_arrow_batch`), then one numpy lexsort forms the runs
    in the same Python pass — tf is a lemma's occurrence count per doc,
    dl the doc's occurrence total (multi-lemma expansions count once per
    form) — with each run's occurrence positions, so ONE scan feeds the
    postings and their positional streams.  Each batch also emits one
    norms run per segment (its docs' lengths, ``runs.form_runs``).

    ``stats`` (an accumulator over :class:`session.MergeDicts` with
    ``xor=("sha_xor",)``) also receives every batch's per-segment doc
    statistics (``runs.doc_stats``: docs, sha256 lineage XOR, Σ dl, repo
    id runs — zero-lemma docs included); ``docs`` then needs ``repo``
    and ``sha256`` too.  Read it after an action that consumes the runs
    in its result stage (``localCheckpoint``)."""
    from .index.runs import RUN_DDL, SHA_PREFIX, doc_stats, form_runs

    table, stem_fn = _normalizer_fns(normalizer, forms)
    cols = ["doc_id", text_col]
    if stats is not None:
        from pyspark.sql import functions as F

        cols += ["repo", F.expr(SHA_PREFIX)]
    narrowed = docs.select(*cols)

    def _batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        stop_set = pa.array(sorted(STOP_WORDS))
        exc_set = pa.array(list(table), type=pa.string())
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            got = _analyze_arrow_batch(batch.column(1), table, stem_fn,
                                       stop_set, exc_set, pa, pc)
            par = got[0] if got is not None else np.empty(0, dtype=np.int64)
            dl = np.bincount(par, minlength=batch.num_rows)
            if stats is not None:
                stats.add(doc_stats(ids, dl, batch.column(2), batch.column(3),
                                    seg_size))
            if got is None:
                continue
            _, lemmas, pos = got
            yield from form_runs(ids, dl, par, lemmas, pos, seg_size,
                                 n_buckets)

    return narrowed.mapInArrow(_batches, schema=RUN_DDL)
