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

Two executions of the SAME pinned definition:

- ``tokenize_jvm``    pure Catalyst expressions (regexp_replace / split /
  explode / broadcast-join for the exception table).  Whole-stage codegen,
  zero Python in the hot path.  The logical index (``operators/tf_df``)
  and the gate's logical path run on it; the physical build runs the
  Arrow run kernel ``doc_term_runs_arrow``.
- ``tokenize_arrow``  ``mapInPandas`` over Arrow batches, vectorized pandas
  string ops (no per-row Python).  The shape mandated by BASELINE.json
  ``input_hint``; also the extension point where a real morphology /
  tree-sitter analyzer would plug in.

``tests/test_analyzer.py`` asserts the two agree row-for-row.

MAINTENANCE: the per-batch tokenize preamble (steps 1-5 + expansion) is
additionally materialized once as pyarrow kernels (``_analyze_arrow_batch``,
behind ``doc_term_stats_arrow`` and the build's run kernel
``doc_term_runs_arrow``).  A change to the pinned shape must land there
and in the pure-Python oracle :func:`analyze`; the agreement tests
(test_analyzer.py, test_phrase_positions.py, test_fused_build.py) fail on
any drift.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

# --- pinned definition ------------------------------------------------------

# camelCase boundaries (applied before lowercasing)
_CAMEL_1 = ("([a-z0-9])([A-Z])", "$1 $2")  # fooBar -> foo Bar
_CAMEL_2 = ("([A-Z]+)([A-Z][a-z])", "$1 $2")  # HTTPServer -> HTTP Server

# The reference's strip class (LemmaFinderImpl.java:21) verbatim.  Java regex
# (JVM path) can use \p{Punct}; the Python mirror expands it to the ASCII
# punctuation block explicitly so both engines strip identical characters.
_STRIP_JAVA = r"[\p{Punct}0-9№©◄«»—…]"
_STRIP_PY = r"[!-/:-@\[-`{-~0-9№©◄«»—…]"

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

# --- optional normalizer: 'stem' (suffix stemmer) ---------------------------
# A REAL normalizer exercising the pluggable analyzer slot (the slot the
# reference fills with RussianLuceneMorphology, LemmaFinderImpl.java:49-60)
# WITHOUT touching the pinned default — golden fixtures stay valid.  With
# ``normalizer='stem'`` the exception-table stage is replaced by a
# deterministic porter-lite suffix stripper; the pure-Python, Catalyst and
# pandas executions below are asserted equal in tests/test_analyzer.py.
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


def stem_col(tok_col):
    """Catalyst twin of :func:`stem_token` (whole-stage codegen, first
    match wins via the when-chain)."""
    from pyspark.sql import functions as F

    c = tok_col
    drop = lambda n: c.substr(F.lit(1), F.length(c) - n)  # noqa: E731
    return (
        F.when(c.endswith("sses"), F.concat(drop(4), F.lit("ss")))
        .when(c.endswith("ies"), F.concat(drop(3), F.lit("y")))
        .when(c.endswith("ing") & (F.length(c) >= 6), drop(3))
        .when(c.endswith("ed") & (F.length(c) >= 5), drop(2))
        .when(c.endswith("s") & ~c.endswith("ss") & ~c.endswith("us"), drop(1))
        .otherwise(c)
    )


def stem_series(s):
    """Vectorized pandas twin of :func:`stem_token`."""
    import numpy as np

    ln = s.str.len()
    conds = [
        s.str.endswith("sses"),
        s.str.endswith("ies"),
        s.str.endswith("ing") & (ln >= 6),
        s.str.endswith("ed") & (ln >= 5),
        s.str.endswith("s") & ~s.str.endswith("ss") & ~s.str.endswith("us"),
    ]
    outs = [
        s.str[:-2],
        s.str[:-3] + "y",
        s.str[:-3],
        s.str[:-2],
        s.str[:-1],
    ]
    return s.where(~np.logical_or.reduce(conds), np.select(conds, outs, default=s))

# --- pure-Python core (shared with tests/oracle.py) -------------------------

_camel1_re = re.compile(_CAMEL_1[0])
_camel2_re = re.compile(_CAMEL_2[0])
_strip_re = re.compile(_STRIP_PY)


def analyze(text: str, normalizer: str = "pinned",
            forms: dict[str, tuple[str, ...]] | None = None) -> list[str]:
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
    one without touching the golden fixtures."""
    return [f for fs in analyze_positions(text, normalizer, forms)
            for f in fs]


def analyze_positions(text: str, normalizer: str = "pinned",
                      forms: dict[str, tuple[str, ...]] | None = None,
                      ) -> list[tuple[str, ...]]:
    """Positional variant of :func:`analyze`: one entry per SURVIVING source
    token, holding the tuple of its normal forms.  Where :func:`analyze`
    flattens a multi-lemma token into several stream entries (each counted
    for tf — the indexing contract), phrase matching needs them at ONE
    position: "норма tamok" must match the source "норма tamok" even though
    the flat stream is [норма, нормаль, tamok].  This function IS the single
    pinned pipeline — :func:`analyze` is exactly its flattening, so the two
    views cannot drift apart (the parity contract has one implementation)."""
    if not text:
        return []
    s = _camel1_re.sub(r"\1 \2", text)
    s = _camel2_re.sub(r"\1 \2", s)
    s = _strip_re.sub(" ", s.lower())
    norm = None
    fallback = None
    table = NORMAL_FORMS
    if normalizer == "porter":
        from .functions.porter import porter_stem

        norm = porter_stem
    elif normalizer == "stem":
        norm = stem_token
    elif normalizer == "dict":
        if forms is None:
            raise ValueError("normalizer='dict' needs a forms mapping")
        table = forms
    elif normalizer == "dict_porter":
        # the LAYERED full English normalizer (the reference's own shape:
        # a dictionary morphology layered over the tokenizer) — the
        # dictionary answers irregular/ambiguous forms with ALL their
        # lemmas, and every token it does not know falls through to the
        # Porter stemmer for the regular -s/-ed/-ing inflections
        from .functions.porter import porter_stem

        table = dict_porter_table(forms)
        fallback = porter_stem
    out: list[tuple[str, ...]] = []
    for tok in s.split():
        if len(tok) < MIN_TOKEN_LEN or tok in STOP_WORDS:
            continue
        if norm is not None:
            out.append((norm(tok),))
        elif fallback is not None:
            hit = table.get(tok)
            out.append(hit if hit is not None else (fallback(tok),))
        else:
            out.append(tuple(table.get(tok, (tok,))))
    return out


def collect_lemmas(text: str) -> dict[str, int]:
    """Per-document lemma -> count map (LemmaFinderImpl.collectLemmas analog,
    LemmaFinderImpl.java:34-47)."""
    return dict(Counter(analyze(text)))


def dict_porter_table(forms: dict[str, tuple[str, ...]] | None,
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

    if forms is None:
        raise ValueError("normalizer='dict_porter' needs a forms mapping")
    return {k: tuple(sorted({porter_stem(f) for f in v}))
            for k, v in forms.items()}


def stem_vocab_map(tokens_df: DataFrame, series) -> DataFrame:
    """(token) DF -> (token, lemma) mapping via ONE vectorized pass over
    the DISTINCT vocabulary (mapInPandas) — the shared O(vocabulary)
    normalization-join building block for every stemmer execution path."""

    def _stem_vocab(it):
        for pdf in it:
            pdf["lemma"] = series(pdf["token"])
            yield pdf

    return tokens_df.select("token").distinct().mapInPandas(
        _stem_vocab, schema="token string, lemma string")


def _forms_table(normalizer: str,
                 forms: dict[str, tuple[str, ...]] | None,
                 ) -> dict[str, tuple[str, ...]]:
    """Resolve the normal-forms table for a TABLE-DRIVEN normalizer:
    'pinned' -> the fixture exception table, 'dict' -> the caller's
    dictionary.  The stemmer normalizers ('stem'/'porter') are not
    table-driven and are rejected here — the fused map-side analyzer
    stages support exactly the table mechanism (the reference's
    LemmaFinderImpl shape)."""
    if normalizer == "pinned":
        return NORMAL_FORMS
    if normalizer == "dict":
        if forms is None:
            raise ValueError("normalizer='dict' needs a forms mapping")
        return forms
    raise ValueError(
        f"table-driven analyzer stage supports normalizer in "
        f"('pinned', 'dict'), got {normalizer!r}")


# --- JVM path (default): pure Catalyst expressions --------------------------


def _jvm_token_col(text_col):
    """Column expr: text -> array<string> of raw tokens (pre normal-forms)."""
    from pyspark.sql import functions as F

    c = F.regexp_replace(text_col, _CAMEL_1[0], _CAMEL_1[1])
    c = F.regexp_replace(c, _CAMEL_2[0], _CAMEL_2[1])
    c = F.regexp_replace(F.lower(c), _STRIP_JAVA, " ")
    return F.split(F.trim(c), r"\s+")


def tokenize_jvm(docs: DataFrame, text_col: str = "content",
                 id_cols: str | list[str] = "doc_id",
                 normalizer: str = "pinned",
                 forms: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """(ids..., text) -> (ids..., lemma) one row per lemma occurrence.

    Entirely whole-stage-codegen: regexp_replace/lower/split/explode, a
    length/stop filter, and a broadcast left join against the (tiny) pinned
    exception table for multi-lemma expansion.  At 100 TB this is the path
    that matters: no Python, no Arrow transfer, content column never
    shuffled (explode happens map-side before any exchange).
    """
    from pyspark.sql import functions as F

    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    spark = docs.sparkSession
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])

    toks = (
        docs.select(*ids, F.explode(_jvm_token_col(F.col(text_col))).alias("token"))
        .filter(F.length("token") >= MIN_TOKEN_LEN)
        .filter(~F.array_contains(stop_arr, F.col("token")))
    )
    if normalizer == "stem":
        return toks.select(*ids, stem_col(F.col("token")).alias("lemma"))
    if normalizer == "dict_porter":
        # layered: ONE combined vocabulary mapping — the broadcast
        # dictionary answers its tokens with ALL forms (projected into
        # porter space, one lemma space for both layers), and every
        # DISTINCT token the dictionary does not know is porter-stemmed
        # once (anti-join against the dict keys, then the shared
        # O(vocabulary) mapInPandas) and unioned in as a 1-form entry.
        # The token stream then takes a SINGLE FORCED-BROADCAST join +
        # explode against that mapping — O(dictionary) broadcast +
        # O(unknown vocabulary) python, never O(corpus) python, and
        # (unlike the first cut of this path) no O(corpus tokens)
        # localCheckpoint of the joined stream: the only re-run of the
        # tokenizer is the narrow distinct pass, the same cost the plain
        # 'porter' path accepts.  The broadcast is forced (not left to
        # AQE) so the token stream NEVER takes an exchange — an unhinted
        # join materializes the whole (ids, token) stream as shuffle
        # files before AQE's runtime conversion, an O(corpus tokens)
        # write this path exists to avoid.  The mapping side is the
        # bounded dictionary artifact plus the corpus's DISTINCT unknown
        # vocabulary (MBs–low GBs at any realistic corpus; the same
        # object the 'porter' path joins); a corpus with a pathological
        # vocabulary should use the (default) arrow build path.
        from .functions.porter import porter_series

        exc = spark.createDataFrame(
            [(k, list(v)) for k, v in dict_porter_table(forms).items()],
            "token string, forms array<string>")
        miss_vocab = stem_vocab_map(
            toks.join(F.broadcast(exc.select("token")), "token", "left_anti"),
            porter_series)
        vocab = exc.unionByName(
            miss_vocab.select("token", F.array("lemma").alias("forms")))
        return (toks.join(F.broadcast(vocab), "token")
                .select(*ids, F.explode("forms").alias("lemma")))
    if normalizer == "porter":
        # vocabulary normalization: stem each DISTINCT token once (a tiny
        # mapInPandas over the deduped vocabulary), join the mapping back to
        # the token stream.  O(vocabulary) normalizer work regardless of
        # corpus size; the mapping side is small, AQE broadcasts it.
        from .functions.porter import porter_series

        vocab = stem_vocab_map(toks, porter_series)
        return toks.join(vocab, "token").select(*ids, "lemma")
    # dictionary morphology: surface token -> ALL normal forms, every form
    # counted (LemmaFinderImpl.java:40-44).  The pinned path is this exact
    # mechanism with the 2-entry fixture table; 'dict' takes an arbitrary
    # dictionary.  Broadcast left join + explode: the dictionary is a
    # bounded vocabulary artifact (MBs at any corpus size — the reference
    # holds its whole morphology in one singleton,
    # LemmaFinderImpl.java:25-31), so broadcasting is the right call even
    # where forced broadcasts are otherwise banned.
    if normalizer == "dict":
        if forms is None:
            raise ValueError("normalizer='dict' needs a forms mapping")
        table = forms
    else:
        table = NORMAL_FORMS
    if table:
        exc = spark.createDataFrame(
            [(k, list(v)) for k, v in table.items()], "token string, forms array<string>"
        )
        toks = (
            toks.join(F.broadcast(exc), "token", "left")
            .select(
                *ids,
                F.explode(
                    F.coalesce(F.col("forms"), F.array(F.col("token")))
                ).alias("lemma"),
            )
        )
    else:
        toks = toks.select(*ids, F.col("token").alias("lemma"))
    return toks


# --- Arrow path: mapInPandas, vectorized pandas string ops ------------------


def tokenize_arrow(docs: DataFrame, text_col: str = "content",
                   id_cols: str | list[str] = "doc_id",
                   normalizer: str = "pinned",
                   forms: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """Same contract as :func:`tokenize_jvm`, executed as a vectorized
    pandas/Arrow UDF (``mapInPandas``) — the BASELINE.json ``input_hint``
    shape, and the hook where a real (non-regex) analyzer would live.

    All operations are pandas-vectorized over each Arrow batch: no per-row
    Python function calls.
    """
    import pandas as pd  # noqa: F401 (runtime import keeps module import light)

    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    id_fields = ", ".join(
        f"{c} {docs.schema[c].dataType.simpleString()}" for c in ids
    )
    out_schema = f"{id_fields}, lemma string"
    narrowed = docs.select(*ids, text_col)
    if normalizer == "dict_porter":
        table = {k: list(v) for k, v in dict_porter_table(forms).items()}
    elif normalizer == "dict":
        if forms is None:
            raise ValueError("normalizer='dict' needs a forms mapping")
        table = {k: list(v) for k, v in forms.items()}
    else:
        table = {k: list(v) for k, v in NORMAL_FORMS.items()}

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        forms = table  # closure: pinned fixture table or the user dictionary
        for pdf in it:
            if pdf.empty:
                continue
            s = pdf[text_col].fillna("")
            s = s.str.replace(_CAMEL_1[0], r"\1 \2", regex=True)
            s = s.str.replace(_CAMEL_2[0], r"\1 \2", regex=True)
            s = s.str.lower().str.replace(_STRIP_PY, " ", regex=True)
            tokens = s.str.split()
            flat = tokens.explode().dropna()
            keep = (flat.str.len() >= MIN_TOKEN_LEN) & ~flat.isin(STOP_WORDS)
            flat = flat[keep]
            if normalizer in ("stem", "porter"):
                if normalizer == "porter":
                    from .functions.porter import porter_series as _norm
                else:
                    _norm = stem_series
                yield (
                    pdf[ids].reindex(flat.index)
                    .assign(lemma=_norm(flat).values)
                    .reset_index(drop=True)
                )
                continue
            base = pdf[ids].reindex(flat.index)
            base = base.assign(lemma=flat.values)
            # multi-lemma expansion: exception tokens -> list of forms, explode
            has_exc = base["lemma"].isin(forms.keys())
            exc_rows = None
            if has_exc.any():
                exc_rows = base[has_exc].copy()
                exc_rows["lemma"] = exc_rows["lemma"].map(forms)
                exc_rows = exc_rows.explode("lemma")
                base = base[~has_exc]
            if normalizer == "dict_porter" and len(base):
                # layered fallback: tokens the dictionary does not know go
                # through the porter stemmer (vectorized over the batch)
                from .functions.porter import porter_series

                base = base.assign(lemma=porter_series(base["lemma"]).values)
            if exc_rows is not None:
                base = pd.concat([base, exc_rows], ignore_index=True)
            yield base.reset_index(drop=True)

    return narrowed.mapInPandas(_batches, schema=out_schema)


def tokenize(docs: DataFrame, text_col: str = "content",
             id_cols: str | list[str] = "doc_id", impl: str = "jvm") -> DataFrame:
    """Dispatch: impl in {'jvm', 'arrow'}."""
    if impl == "jvm":
        return tokenize_jvm(docs, text_col, id_cols)
    if impl == "arrow":
        return tokenize_arrow(docs, text_col, id_cols)
    raise ValueError(f"unknown analyzer impl: {impl!r}")


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


def _normalizer_fns(normalizer: str,
                    forms: dict[str, tuple[str, ...]] | None):
    """(exception table, stemmer or None) for the Arrow kernels.  EVERY
    normalizer runs in them: table-driven ones ('pinned'/'dict') as pure
    arrow-kernel work; the stemmer family ('porter'/'stem', and
    'dict_porter' for its dictionary MISSES) adds one dictionary-encode
    per batch (:func:`_stem_arrow`) — Python touches only the batch's
    UNIQUE tokens, and the O(corpus tokens) stream never leaves its
    partition."""
    if normalizer in ("porter", "dict_porter"):
        from .functions.porter import porter_stem

        table = dict_porter_table(forms) if normalizer == "dict_porter" else {}
        return table, porter_stem
    if normalizer == "stem":
        return {}, stem_token
    return _forms_table(normalizer, forms), None


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
    x = pc.replace_substring_regex(x, pattern=_CAMEL_1[0], replacement=r"\1 \2")
    x = pc.replace_substring_regex(x, pattern=_CAMEL_2[0], replacement=r"\1 \2")
    x = pc.utf8_lower(x)
    x = pc.replace_substring_regex(x, pattern=_STRIP_PY, replacement=" ")
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


def doc_term_stats_arrow(docs: DataFrame, text_col: str = "content",
                         normalizer: str = "pinned",
                         forms: dict[str, tuple[str, ...]] | None = None,
                         ) -> DataFrame:
    """(repo, doc_id, text) -> FLAT (repo, doc_id, lemma, tf, dl) with
    ZERO shuffle: a document's tokens all live in its own input row, so
    per-doc term frequencies and the doc length are computable entirely
    map-side inside one Arrow batch.  The index build consumes the same
    analysis as sorted runs (:func:`doc_term_runs_arrow`); this flat view
    is the equivalence-test contract.

    Executed via ``mapInArrow`` + pyarrow compute kernels (C++ hash
    aggregation), measured ~2.4x a pandas-object execution per core.
    """
    schema = "repo string, doc_id long, lemma string, tf int, dl long"
    narrowed = docs.select("repo", "doc_id", text_col)
    table, stem_fn = _normalizer_fns(normalizer, forms)

    def _batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        stop_set = pa.array(sorted(STOP_WORDS))
        exc_set = pa.array(list(table), type=pa.string())
        for batch in it:
            if batch.num_rows == 0:
                continue
            got = _analyze_arrow_batch(batch.column(2), table, stem_fn,
                                       stop_set, exc_set, pa, pc)
            if got is None:
                continue
            par, toks, _ = got
            tf_t = (
                pa.table({"i": par, "lemma": toks})
                .group_by(["i", "lemma"], use_threads=False)
                .aggregate([([], "count_all")])
            )
            dl_t = (
                tf_t.group_by(["i"], use_threads=False)
                .aggregate([("count_all", "sum")])
            )
            out = tf_t.join(dl_t, keys="i", use_threads=False)
            i = out["i"].combine_chunks()
            yield pa.record_batch(
                [
                    pc.cast(pc.take(batch.column(0), i), pa.string()),
                    pc.cast(pc.take(batch.column(1), i), pa.int64()),
                    pc.cast(out["lemma"].combine_chunks(), pa.string()),
                    pc.cast(out["count_all"].combine_chunks(), pa.int32()),
                    pc.cast(out["count_all_sum"].combine_chunks(), pa.int64()),
                ],
                names=["repo", "doc_id", "lemma", "tf", "dl"],
            )

    return narrowed.mapInArrow(_batches, schema=schema)


def doc_term_runs_arrow(docs: DataFrame, seg_size: int, n_buckets: int,
                        text_col: str = "content",
                        normalizer: str = "pinned",
                        forms: dict[str, tuple[str, ...]] | None = None,
                        positions: bool = False, stats=None) -> DataFrame:
    """THE build's analysis kernel: (doc_id, text) -> sorted posting runs,
    one row per (segment, lemma) per Arrow batch (``index/runs.py``
    schema), with ZERO shuffle.  The batch is analyzed once
    (:func:`_analyze_arrow_batch`), then one numpy lexsort forms the runs
    in the same Python pass — tf is a lemma's occurrence count per doc,
    dl the doc's occurrence total (multi-lemma expansions count once per
    form).  ``positions=True`` adds each run's occurrence positions, so
    ONE scan feeds both the posting and the positional merge (the fused
    single-scan build).

    ``stats`` (an accumulator over :class:`session.MergeDicts` with
    ``xor=("sha_xor",)``) also receives every batch's per-segment doc
    statistics (``runs.doc_stats``: docs, sha256 lineage XOR, Σ dl, repo
    id runs — zero-lemma docs included); ``docs`` then needs ``repo``
    and ``sha256`` too.  Read it after an action that consumes the runs
    in its result stage (``localCheckpoint``)."""
    from .index.runs import (POS_RUN_DDL, SHA_PREFIX, STAT_RUN_DDL,
                             doc_stats, form_runs)

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
            yield form_runs(ids[par], lemmas, dl[par], seg_size, n_buckets,
                            pos=pos if positions else None)

    return narrowed.mapInArrow(
        _batches, schema=POS_RUN_DDL if positions else STAT_RUN_DDL)
