"""Warm phrase serving (QueryEngine.phrase_rows): row-identity with the
distributed positional path, the estimate-before-fetch byte guard, LRU
bounds, prefetch warm-up, and rebuild freshness — the phrase twin of
tests/test_serving_guard.py."""

from __future__ import annotations

import pytest

from searchengine_spark.corpus import gen_corpus_local, ingest
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.positions import build_positions, phrase_topk_positions
from searchengine_spark.index.wand import QueryEngine
from searchengine_spark.schema import DOCS_SCHEMA

PHRASES = [
    "kw_pair_alpha kw_pair_beta",   # planted adjacent markers
    "tamok velsor",                 # common terms, no adjacency: empty
    "veltadrolix",                  # single-slot pattern (== term tf)
    "multi норма",                  # multi-lemma token at one position
    "нормаль tamok",                # alternate form must match the SAME slot
    "zz_nope_zz tamok",             # absent form: empty
    "the and",                      # analyzer drops everything: empty
]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("phrase_warm")
    rows = gen_corpus_local(200)
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(root / "idx")
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=8, resume=False)
    build_positions(docs, idx)
    return idx, docs


def _distributed(spark, idx, phrase, k=100, site=None):
    return [(r["doc_id"], r["phrase_tf"]) for r in
            phrase_topk_positions(spark, idx, phrase, k, site=site).collect()]


@pytest.mark.parametrize("phrase", PHRASES)
def test_warm_rows_identical_to_distributed(spark, env, phrase):
    idx, _ = env
    eng = QueryEngine(spark, idx)
    want = _distributed(spark, idx, phrase)
    assert eng.phrase_rows(phrase, k=100) == want       # cold (fetch)
    assert eng.phrase_rows(phrase, k=100) == want       # warm (LRU)


def test_warm_repeat_runs_no_spark_job(spark, env):
    """A repeated phrase must not touch Spark at all: poison the fetch and
    the distributed fallback after the first call."""
    idx, _ = env
    eng = QueryEngine(spark, idx)
    phrase = "sorvel tamok"
    want = eng.phrase_rows(phrase, k=10)
    assert want
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("re-fetched warm positional postings"))
    assert eng.phrase_rows(phrase, k=10) == want


def test_shared_forms_warm_across_phrases(spark, env):
    """A phrase whose forms an earlier phrase fetched is already warm."""
    idx, _ = env
    eng = QueryEngine(spark, idx)
    eng.phrase_rows("sorvel tamok", k=5)
    eng.phrase_rows("veltadrolix", k=5)
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched forms an earlier phrase already warmed"))
    want = _distributed(spark, idx, "tamok veltadrolix", k=10)
    assert eng.phrase_rows("tamok veltadrolix", k=10) == want


def test_oversized_estimate_routes_distributed_without_fetch(spark, env):
    """The byte guard must fire BEFORE any positional bytes reach the
    driver: with a tiny threshold the result still matches, the positional
    cache stays empty, and _fetch is never called."""
    idx, _ = env
    eng = QueryEngine(spark, idx)
    assert eng._pos_bpp is not None          # sidecar stats present
    assert eng._pos_bytes is not None
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched despite over-threshold estimate"))
    phrase = "sorvel tamok"
    got = eng.phrase_rows(phrase, k=10, local_threshold_bytes=1)
    assert got == _distributed(spark, idx, phrase, k=10)
    assert not eng._pos_cache


def test_site_scope_matches_distributed(spark, env):
    idx, docs = env
    repo = docs.select("repo").distinct().orderBy("repo").collect()[0]["repo"]
    eng = QueryEngine(spark, idx)
    phrase = "sorvel tamok"
    want = _distributed(spark, idx, phrase, k=50, site=repo)
    assert eng.phrase_rows(phrase, k=50, site=repo) == want
    assert eng.phrase_rows(phrase, k=50, site="org9/nope") == []


def test_pos_cache_byte_bound_evicts(spark, env):
    idx, _ = env
    eng = QueryEngine(spark, idx, pos_cache_bytes=1)  # evict all but floor
    eng.phrase_rows("sorvel tamok", k=5)
    # working set survived its own fetch (floor), nothing else kept
    assert set(eng._pos_cache) <= {"sorvel", "tamok"}
    eng.phrase_rows("veltadrolix", k=5)
    assert "tamok" not in eng._pos_cache  # prior set evicted past the bound
    assert eng._pos_cache.total == sum(
        eng._pos_cache.nbytes(t) for t in eng._pos_cache)


def test_prefetch_phrases_warms_cache(spark, env):
    idx, _ = env
    eng = QueryEngine(spark, idx)
    n = eng.prefetch([], phrases=["sorvel tamok", "veltadrolix"])
    assert n == 3  # sorvel, tamok, veltadrolix
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("prefetch left the suite cold"))
    assert eng.phrase_rows("sorvel tamok", k=10) == _distributed(
        spark, idx, "sorvel tamok", k=10)


def test_phrase_rows_batch_matches_single_path(spark, env):
    """r4 VERDICT item 3: phrase_rows_batch = ONE guarded fetch + a
    driver-side loop.  Per qid row-identical to phrase_rows (including
    empty/degenerate phrases and per-qid site scopes), and after its one
    prefetch NO further positional fetch or distributed fallback runs."""
    idx, docs = env
    repo = docs.select("repo").distinct().orderBy("repo").collect()[0]["repo"]
    workload = {f"p{i}": ph for i, ph in enumerate(PHRASES)}
    sites = {"p0": repo, "p1": "org9/nope"}  # scoped, unknown, rest global

    single = QueryEngine(spark, idx)
    want = {qid: single.phrase_rows(ph, k=50, site=sites.get(qid))
            for qid, ph in workload.items()}

    eng = QueryEngine(spark, idx)
    got = eng.phrase_rows_batch(workload, k=50, sites=sites)
    assert got == want

    # the batch's serving loop must be fully warm: poison every Spark path
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("batch left a form cold"))
    again = eng.phrase_rows_batch(workload, k=50, sites=sites)
    assert again == want


def test_rebuild_invalidates_warm_phrase_cache(spark, tmp_path):
    """An incremental rebuild under a live engine must drop warm positional
    state (fingerprint) and refuse a stale sidecar (has_positions)."""
    rows = gen_corpus_local(120)
    spark_docs = ingest(
        spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(spark_docs, idx, n_segments=2, salt=4, n_buckets=4,
                resume=False)
    build_positions(spark_docs, idx)
    eng = QueryEngine(spark, idx)
    assert eng.phrase_rows("sorvel tamok", k=5) is not None
    assert eng._pos_cache
    # full data rebuild clears has_positions: engine must refuse, not serve
    build_index(spark_docs, idx, n_segments=2, salt=4, n_buckets=4,
                resume=False)
    with pytest.raises(ValueError):
        eng.phrase_rows("sorvel tamok", k=5)
    assert not eng._pos_cache  # reload dropped the warm state
    build_positions(spark_docs, idx)
    assert eng.phrase_rows("sorvel tamok", k=5) == _distributed(
        spark, idx, "sorvel tamok", k=5)


def test_sidecar_stats_in_manifests_and_meta(spark, tmp_path):
    """build_positions writes per-segment positional stats into the index
    manifests and the meta ratio/total (the serving estimate's inputs);
    a partial refresh keeps totals complete."""
    import json

    from searchengine_spark.index.checkpoint import all_manifests
    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = gen_corpus_local(120)
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=4, resume=False)
    build_positions(docs, idx)
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["pos_bytes_per_posting"] > 0
    manifests = all_manifests(idx)
    assert all("pos_posting_bytes" in m for m in manifests)
    assert meta["pos_posting_bytes"] == sum(
        m["pos_posting_bytes"] for m in manifests)
    # partial refresh through the incremental path: totals stay complete
    rebuild_segments(docs, idx, [1])
    with open(f"{idx}/meta.json") as fh:
        meta2 = json.load(fh)
    manifests2 = all_manifests(idx)
    assert all("pos_posting_bytes" in m for m in manifests2)
    assert meta2["pos_posting_bytes"] == sum(
        m["pos_posting_bytes"] for m in manifests2)
    assert meta2["pos_posting_bytes"] == meta["pos_posting_bytes"]


def test_engine_pins_no_spark_storage(spark, env):
    """The engine pins no Spark cache: term, phrase, prefetch and batch
    serving on a fresh engine store no RDD on the executors, and the index
    frame's plan reads from disk, not from an in-memory relation — so
    neither positions nor postings sit in executor memory."""
    idx, _ = env

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc()
                .getRDDStorageInfo()}

    before = stored()  # what other tests' fixtures cached
    eng = QueryEngine(spark, idx)
    assert eng.topk_rows("tamok velsor", k=5)
    assert eng.phrase_rows("sorvel tamok", k=5)
    assert eng.prefetch(["lixpex"], phrases=["veltadrolix tamok"])
    assert eng.topk_batch({"a": "tamok velsor", "b": "sorvel"}, k=5).collect()
    assert not stored() - before
    plan = eng.index_df._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan, plan


def test_distributed_phrase_route_reads_engine_frame(spark, env, monkeypatch):
    """The over-threshold phrase route reads the engine's own ``index_df``
    (and site cache): once that frame exists, no read of the index is
    planned again."""
    import searchengine_spark.index.builder as builder

    idx, docs = env
    site = sorted(r["repo"] for r in docs.select("repo").distinct().collect())[0]
    want = _distributed(spark, idx, "sorvel tamok", 10)
    want_site = _distributed(spark, idx, "sorvel tamok", 10, site=site)
    assert want
    eng = QueryEngine(spark, idx)
    assert eng.index_df is not None

    def _no_read(*a, **k):
        raise AssertionError("the phrase route read the index again")

    monkeypatch.setattr(builder, "read_index", _no_read)
    assert eng.phrase_rows("sorvel tamok", 10, local_threshold_bytes=1) == want
    assert eng.phrase_rows("sorvel tamok", 10, site=site,
                           local_threshold_bytes=1) == want_site
