"""Phrase search (index/phrase.py): candidates from the index, positional
verify against the kb store; brute-force oracle over the pinned analyzer."""

from __future__ import annotations

import pytest

from searchengine_spark.analyzer import analyze, analyze_positions
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.phrase import count_phrase, phrase_topk
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store


@pytest.fixture(scope="module")
def phrase_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("phrase")
    rows = gen_corpus_local(200)
    store = str(root / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(root / "idx")
    build_index(read_store(spark, store), idx, n_segments=3,
                salt=4, n_buckets=8, resume=False)
    return store, idx


def _brute(spark, store, phrase, k=100):
    qforms = [frozenset(p) for p in analyze_positions(phrase)]
    if not qforms:
        return []
    want = []
    for r in read_store(spark, store).select("doc_id", "content").collect():
        tf = count_phrase(analyze_positions(r["content"]), qforms)
        if tf > 0:
            want.append((r["doc_id"], tf))
    want.sort(key=lambda t: (-t[1], t[0]))
    return want[:k]


@pytest.mark.parametrize("phrase", [
    "kw_pair_alpha kw_pair_beta",   # planted adjacent in i in (2,6); far
                                    # apart in (3,7,11,13) -> must NOT match
    "tamok velsor",                 # organic adjacency, if any
    "kw_pair_beta kw_pair_alpha",   # reversed order is a different phrase
])
def test_phrase_matches_brute_force(spark, phrase_env, phrase):
    store, idx = phrase_env
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk(spark, idx, store, phrase, k=100).collect()]
    assert got == _brute(spark, store, phrase, k=100)


def test_phrase_planted_markers_separate_adjacent_from_far(spark, phrase_env):
    """The fixture plants the pair ADJACENT in docs i in {2,6} and far apart
    in {3,7,11,13}: phrase search must keep exactly the adjacent ones
    (the proximity heuristic, by contrast, passes near-misses)."""
    store, idx = phrase_env
    got = {r["doc_id"] for r in
           phrase_topk(spark, idx, store, "kw_pair_alpha kw_pair_beta",
                       k=100).collect()}
    rows = {(r["path"]): r["doc_id"] for r in
            read_store(spark, store).select("path", "doc_id").collect()}
    gen = gen_corpus_local(200)
    adj = {rows[gen[i][1]] for i in (2, 6)}
    far = {rows[gen[i][1]] for i in (3, 7, 11, 13)}
    assert got == adj
    assert not (got & far)


def test_phrase_multiform_occupies_one_position():
    """A NORMAL_FORMS token holds ONE position with several forms: both the
    surface form and its alternate lemma match there, and the flat analyze()
    stream (which would shift positions) is NOT what phrase matching sees."""
    stream = analyze_positions("grault kw_multi_норма tamok")
    # kw_multi_норма -> strip '_' -> kw (dropped, short) multi норма
    assert stream == [("grault",), ("multi",), ("норма", "нормаль"), ("tamok",)]
    for q in ("multi норма", "multi нормаль", "нормаль tamok"):
        qforms = [frozenset(p) for p in analyze_positions(q)]
        assert count_phrase(stream, qforms) == 1, q
    # the flat stream puts нормаль between норма and tamok — the positional
    # contract (one position, two forms) deliberately differs from it
    assert analyze("kw_multi_норма tamok") == ["multi", "норма", "нормаль",
                                               "tamok"]


def test_phrase_high_df_guard_fails_loudly(spark, phrase_env):
    """r4 VERDICT minor #2: on a POSITIONLESS index, a phrase whose
    dictionary-df estimate exceeds max_candidate_df must fail loudly with
    the build-with-positions hint (not silently run the O(corpus) verify);
    force=True downgrades to a warning and returns the same rows."""
    store, idx = phrase_env
    phrase = "kw_pair_alpha kw_pair_beta"
    with pytest.raises(ValueError, match="Build the index with positions"):
        phrase_topk(spark, idx, store, phrase, k=10, max_candidate_df=1)
    with pytest.warns(UserWarning, match="Build the index with positions"):
        forced = [(r["doc_id"], r["phrase_tf"]) for r in
                  phrase_topk(spark, idx, store, phrase, k=10,
                              max_candidate_df=1, force=True).collect()]
    assert forced == _brute(spark, store, phrase, k=10)
    # under the default threshold the estimate passes silently
    ok = [(r["doc_id"], r["phrase_tf"]) for r in
          phrase_topk(spark, idx, store, phrase, k=10).collect()]
    assert ok == forced


def test_phrase_degenerate_queries(spark, phrase_env):
    store, idx = phrase_env
    # a stopword vanishes from the pattern exactly as it vanished from every
    # doc stream (symmetric analysis): "the tamok" == phrase "tamok"
    a = [(r["doc_id"], r["phrase_tf"]) for r in
         phrase_topk(spark, idx, store, "the tamok", k=10).collect()]
    b = [(r["doc_id"], r["phrase_tf"]) for r in
         phrase_topk(spark, idx, store, "tamok", k=10).collect()]
    assert a == b and a
    # word with no postings anywhere
    assert phrase_topk(spark, idx, store, "tamok zz_nope_zz", k=10).count() == 0
    # phrase whose every word vanishes
    assert phrase_topk(spark, idx, store, "the and for", k=10).count() == 0
    assert phrase_topk(spark, idx, store, "   ", k=10).count() == 0
