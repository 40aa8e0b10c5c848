"""Analyzer unit tests + agreement of its two executions (SURVEY.md §5.2):
the Arrow kernel, run through the logical index's ``term_frequencies``,
against the pure-Python oracle ``analyze``."""

from __future__ import annotations

from collections import Counter

import pytest

from searchengine_spark.analyzer import (
    MIN_TOKEN_LEN,
    analyze,
    collect_lemmas,
)
from searchengine_spark.operators.tf_df import doc_lengths, term_frequencies


def _tf_agrees(spark, sample, normalizer="pinned", forms=None):
    """``term_frequencies`` over ``sample`` (DOCS_SCHEMA rows, doc_id = the
    row's index) must equal the oracle's per-doc lemma counts exactly;
    returns the oracle's {(repo, doc_id, lemma): tf}."""
    rows = [(r[0], i, r[4]) for i, r in enumerate(sample)]
    df = spark.createDataFrame(rows,
                               "repo string, doc_id long, content string")
    got = {(r["repo"], r["doc_id"], r["lemma"]): r["tf"]
           for r in term_frequencies(df, normalizer=normalizer,
                                     forms=forms).collect()}
    want = {(repo, i, lemma): n for repo, i, content in rows
            for lemma, n in Counter(
                analyze(content, normalizer, forms)).items()}
    assert got == want, normalizer
    return want


def test_lowercase_and_strip():
    assert analyze("Hello, WORLD!!! value") == ["hello", "world", "value"]


def test_camel_and_snake_split():
    # camelCase boundary split; snake_case splits on the punct class (_)
    assert analyze("parseHtmlPage snake_case_name") == [
        "parse", "html", "page", "snake", "case", "name"
    ]
    assert analyze("HTTPServerConfig") == ["http", "server", "config"]


def test_digits_and_operators_stripped():
    assert analyze("foo123bar x = y + 42; value(7)") == ["value"]
    # foo123bar -> 'foo' 'bar' both len 3 -> dropped


def test_short_and_stop_dropped():
    assert analyze("the import class of big table") == ["table"]
    assert "return" not in analyze("return tableValue")


def test_multi_lemma_expansion():
    assert analyze("норма") == ["норма", "нормаль"]
    assert collect_lemmas("geese geese") == {"goose": 2, "geese": 2}


def test_empty_and_punct_only():
    assert analyze("") == []
    assert analyze("!!! ;;; 123 @@@") == []


def test_collect_lemmas_counts():
    got = collect_lemmas("value value tableScan value")
    assert got == {"value": 3, "table": 1, "scan": 1}


def test_term_frequencies_match_oracle(spark, corpus_rows):
    """The Arrow kernel and the pure-Python oracle must agree exactly."""
    _tf_agrees(spark, corpus_rows[:60])


def test_min_len_boundary():
    assert analyze("abcd abc") == ["abcd"]
    assert MIN_TOKEN_LEN == 4


def test_stemmer_rules():
    from searchengine_spark.analyzer import stem_token

    assert stem_token("classes") == "class"   # -sses -> -ss
    assert stem_token("addresses") == "address"
    assert stem_token("queries") == "query"   # -ies -> -y
    assert stem_token("parsing") == "pars"    # -ing
    assert stem_token("sing") == "sing"       # -ing len guard
    assert stem_token("parsed") == "pars"     # -ed
    assert stem_token("used") == "used"       # -ed len guard
    assert stem_token("tables") == "table"    # -s
    assert stem_token("class") == "class"     # -ss protected
    assert stem_token("status") == "status"   # -us protected
    assert stem_token("value") == "value"


def test_stem_analyzer_three_way_agree(spark, corpus_rows):
    """The pluggable-normalizer slot, exercised with a REAL stemmer: the
    Arrow kernel and the pure-Python oracle must agree exactly under
    normalizer='stem' (its own fixture set — the pinned golden fixtures are
    untouched)."""
    sample = corpus_rows[:60] + [
        ("r", "p1", "c", "py", "parsing parsed queries addresses tables Sing"),
        ("r", "p2", "c", "py", "classes class status buses using used"),
    ]
    want = _tf_agrees(spark, sample, "stem")
    assert any(k[2] == "pars" for k in want)  # the stemmer actually fired


def test_porter_canonical_vectors():
    """Full Porter stemmer against canonical pairs from the published
    algorithm (Porter 1980) — every step exercised."""
    from searchengine_spark.functions.porter import porter_stem

    vectors = {
        # step 1a
        "caresses": "caress", "ponies": "poni", "ties": "ti",
        "caress": "caress", "cats": "cat",
        # step 1b (+1b')
        "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "bled": "bled", "motoring": "motor", "sing": "sing",
        "conflated": "conflat", "troubled": "troubl", "sized": "size",
        "hopping": "hop", "tanned": "tan", "falling": "fall",
        "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
        "filing": "file",
        # step 1c
        "happy": "happi", "sky": "sky",
        # step 2 (through the full pipeline)
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
        "radicalli": "radic", "differentli": "differ", "vileli": "vile",
        "analogousli": "analog", "vietnamization": "vietnam",
        "predication": "predic", "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope",
        "callousness": "callous", "formaliti": "formal",
        "sensitiviti": "sensit", "sensibiliti": "sensibl",
        # step 3
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
        "goodness": "good",
        # step 4
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "gyroscopic": "gyroscop",
        "adjustable": "adjust", "defensible": "defens", "irritant": "irrit",
        "replacement": "replac", "adjustment": "adjust",
        "dependent": "depend", "adoption": "adopt", "communism": "commun",
        "activate": "activ", "angulariti": "angular",
        "homologous": "homolog", "effective": "effect",
        "bowdlerize": "bowdler",
        # step 5
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
        # guards
        "as": "as", "is": "is",
        # non-English passes through (non-ASCII letters are consonants)
        "норма": "норма",
    }
    bad = {w: (porter_stem(w), want) for w, want in vectors.items()
           if porter_stem(w) != want}
    assert not bad, bad


def test_porter_analyzer_three_way_agree(spark, corpus_rows):
    """normalizer='porter': the Arrow kernel and the pure-Python oracle
    must agree exactly — same structure as the 'stem' slot test; the
    pinned golden fixtures are untouched."""
    sample = corpus_rows[:60] + [
        ("r", "p1", "c", "py", "relational conditioners digitizer hopping"),
        ("r", "p2", "c", "py", "effective replacement adoption agreed ties"),
    ]
    want = _tf_agrees(spark, sample, "porter")
    assert any(k[2] == "relat" for k in want)  # porter actually fired


def _tf_dl(df, normalizer="pinned", forms=None):
    """(tf by (repo, doc_id, lemma), dl by (repo, doc_id)) of ``df``
    through the logical index."""
    tf = term_frequencies(df, normalizer=normalizer, forms=forms)
    return ({(r["repo"], r["doc_id"], r["lemma"]): r["tf"]
             for r in tf.collect()},
            {(r["repo"], r["doc_id"]): r["dl"]
             for r in doc_lengths(tf).collect()})


def _oracle_tf_dl(df, normalizer="pinned", forms=None):
    tf, dl = {}, {}
    for r in df.collect():
        c = Counter(analyze(r["content"], normalizer, forms))
        for lemma, n in c.items():
            tf[(r["repo"], r["doc_id"], lemma)] = n
        if c:
            dl[(r["repo"], r["doc_id"])] = sum(c.values())
    return tf, dl


def test_kernel_tf_and_dl_equal_oracle(spark, corpus_rows):
    """tf (the kernel) and dl (Σ tf per doc) must equal the pure-Python
    analyze() oracle exactly — including multi-lemma expansion and
    zero-lemma docs (which emit no rows)."""
    from searchengine_spark.schema import DOCS_SCHEMA

    extra = [("r/x", f"x{i}.py", "c", "py", t) for i, t in enumerate(
        ["", "   ", "the and for", "норма geese норма tamok"])]
    df = spark.createDataFrame(corpus_rows[:80] + extra,
                               DOCS_SCHEMA).selectExpr(
        "repo", "abs(hash(path)) as doc_id", "content"
    )
    tf, dl = _tf_dl(df)
    assert (tf, dl) == _oracle_tf_dl(df) and len(tf) > 1000
    lemmas = {lm for _, _, lm in tf}
    assert {"нормаль", "goose"} <= lemmas  # multi-lemma expansion fired
    docs = {d for _, d, _ in tf}
    zero = [r["doc_id"] for r in df.collect() if not analyze(r["content"])]
    assert len(zero) >= 3 and not docs & set(zero)


def test_kernel_tf_and_dl_stemmer_normalizers(spark, corpus_rows):
    """The kernel runs the STEMMER family too (dictionary-encode per
    batch — Python only on unique tokens).  Its tf and dl must equal the
    pure-Python analyze() oracle under 'porter', 'stem' and the layered
    'dict_porter'."""
    from searchengine_spark.functions.english import ENGLISH_FORMS
    from searchengine_spark.schema import DOCS_SCHEMA

    sample = corpus_rows[:60] + [
        ("org/x", "s/a.py", "c1", "py",
         "yesterday people went running and the children left quietly"),
        ("org/x", "s/b.py", "c1", "py",
         "connection connected connecting relations relating related"),
    ]
    df = spark.createDataFrame(sample, DOCS_SCHEMA).selectExpr(
        "repo", "abs(hash(path)) as doc_id", "content")
    for norm, forms in (("porter", None), ("stem", None),
                        ("dict_porter", ENGLISH_FORMS)):
        assert _tf_dl(df, norm, forms) == _oracle_tf_dl(
            df, norm, forms), norm


def _inflection_dict(rows) -> dict[str, tuple[str, ...]]:
    """Dictionary-morphology fixture: a few hundred surface forms derived
    from the corpus vocabulary, several mapping to MULTIPLE normal forms —
    the reference's RussianLuceneMorphology shape (one inflected token may
    emit several lemmas, LemmaFinderImpl.java:40-44)."""
    from searchengine_spark.analyzer import MIN_TOKEN_LEN, STOP_WORDS

    vocab = sorted({
        t for _, _, _, _, content in rows
        for t in analyze(content)
    })
    table: dict[str, tuple[str, ...]] = {}
    for i, t in enumerate(vocab[:300]):
        if len(t) < MIN_TOKEN_LEN or t in STOP_WORDS:
            continue
        if i % 3 == 0:
            table[t] = (t[:4] + "_base",)                  # single lemma
        elif i % 3 == 1:
            table[t] = (t[:4] + "_verb", t[:4] + "_noun")  # ambiguous: TWO
        # i % 3 == 2: not in the dictionary -> identity
    return table


def test_dict_normalizer_three_way_agree(spark, corpus_rows):
    """normalizer='dict' (dictionary-grade morphology in the pluggable
    slot): the Arrow kernel and the pure-Python oracle must agree exactly
    under a ~200-entry multi-form dictionary; the pinned golden fixtures
    are untouched (separate normalizer value)."""
    sample = corpus_rows[:60]
    table = _inflection_dict(sample)
    assert sum(1 for v in table.values() if len(v) > 1) > 30  # real ambiguity
    want = _tf_agrees(spark, sample, "dict", table)
    assert any(k[2].endswith("_verb") for k in want)  # expansion fired


def test_dict_normalizer_counts_every_form():
    """LemmaFinderImpl.java:40-44 semantics: a surface token contributes
    one count to EVERY of its normal forms, and phrase positions hold all
    forms at ONE slot."""
    from collections import Counter as C

    from searchengine_spark.analyzer import analyze_positions

    table = {"leaves": ("leaf", "leave"), "left": ("leave",)}
    text = "leaves left leaves behind"
    got = C(analyze(text, normalizer="dict", forms=table))
    assert got == C({"leaf": 2, "leave": 3, "behind": 1})
    stream = analyze_positions(text, normalizer="dict", forms=table)
    assert stream == [("leaf", "leave"), ("leave",), ("leaf", "leave"),
                      ("behind",)]


def test_dict_normalizer_requires_forms():
    with pytest.raises(ValueError):
        analyze("whatever", normalizer="dict")


def test_unknown_normalizer_raises_everywhere(spark, tmp_path):
    """A misspelled normalizer is an error on the query side, in the
    logical index (before any Spark job) and in the build — never a silent
    'pinned'."""
    from searchengine_spark.index.builder import build_index

    msg = "normalizer must be one of"
    with pytest.raises(ValueError, match=msg):
        analyze("parsing tables", normalizer="Porter")
    with pytest.raises(ValueError, match=msg):
        analyze("", normalizer="Porter")
    docs = spark.createDataFrame(
        [("r", 0, "parsing tables", "00")],
        "repo string, doc_id long, content string, sha256 string")
    sc = spark.sparkContext
    sc.setJobGroup("unknown_normalizer", "unknown_normalizer")
    try:
        with pytest.raises(ValueError, match=msg):
            term_frequencies(docs, normalizer="Porter")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup("unknown_normalizer")
    with pytest.raises(ValueError, match=msg):
        build_index(docs, str(tmp_path / "idx"), resume=False,
                    normalizer="Porter")
