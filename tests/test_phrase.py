"""Phrase search (positions.phrase_topk_positions) against a brute-force
oracle that re-analyzes every doc of the kb store with the pinned
analyzer."""

from __future__ import annotations

import pytest

from searchengine_spark.analyzer import analyze, analyze_positions
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.positions import phrase_topk_positions
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store
from tests.oracle import count_phrase, store_phrase_topk


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


def _rows(spark, idx, phrase, k):
    return [(r["doc_id"], r["phrase_tf"]) for r in
            phrase_topk_positions(spark, idx, phrase, k=k).collect()]


@pytest.mark.parametrize("phrase", [
    "kw_pair_alpha kw_pair_beta",   # planted adjacent in i in (2,6); far
                                    # apart in (3,7,11,13) -> must NOT match
    "tamok velsor",                 # organic adjacency, if any
    "kw_pair_beta kw_pair_alpha",   # reversed order is a different phrase
])
def test_phrase_matches_brute_force(spark, phrase_env, phrase):
    store, idx = phrase_env
    assert _rows(spark, idx, phrase, 100) == store_phrase_topk(
        spark, store, phrase, 100)


def test_phrase_planted_markers_separate_adjacent_from_far(spark, phrase_env):
    """The fixture plants the pair ADJACENT in docs i in {2,6} and far apart
    in {3,7,11,13}: phrase search must keep exactly the adjacent ones
    (the proximity heuristic, by contrast, passes near-misses)."""
    store, idx = phrase_env
    got = {d for d, _ in _rows(spark, idx, "kw_pair_alpha kw_pair_beta",
                               100)}
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


def test_phrase_degenerate_queries(spark, phrase_env):
    store, idx = phrase_env
    # a stopword vanishes from the pattern exactly as it vanished from every
    # doc stream (symmetric analysis): "the tamok" == phrase "tamok"
    a = _rows(spark, idx, "the tamok", 10)
    assert a == _rows(spark, idx, "tamok", 10) and a
    assert a == store_phrase_topk(spark, store, "the tamok", 10)
    # word with no postings anywhere
    assert _rows(spark, idx, "tamok zz_nope_zz", 10) == []
    # phrase whose every word vanishes
    assert _rows(spark, idx, "the and for", 10) == []
    assert _rows(spark, idx, "   ", 10) == []
