"""r3 VERDICT items 1 + 8: the warm-serving broker must never collect a
term's posting bytes to the driver when the dictionary-estimated size
exceeds the local threshold (route to the distributed path FIRST), and the
term LRU is bounded by bytes, not just entries.  Prefetch honors the same
byte guard and warms site scopes."""

from __future__ import annotations

import pytest

from searchengine_spark.analyzer import analyze
from searchengine_spark.corpus import gen_corpus_local, ingest
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.wand import QueryEngine, bm25_topk, gdf_lookup
from searchengine_spark.schema import DOCS_SCHEMA

QUERY = "tamok sorvel"  # both df>0 at 60 docs (velsor is not)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("guard") / "idx")
    docs = ingest(spark.createDataFrame(gen_corpus_local(60), DOCS_SCHEMA))
    build_index(docs, out, n_segments=2, salt=4, n_buckets=4, resume=False)
    return out


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("guard_pos") / "idx")
    docs = ingest(spark.createDataFrame(gen_corpus_local(60), DOCS_SCHEMA))
    build_index(docs, out, n_segments=2, salt=4, n_buckets=4, resume=False,
                positions=True)
    return out


def _jobs(spark, group, fn):
    """(fn(), the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hits_distributed(spark, idx, query, k, **kw):
    return [(r["doc_id"], r["score"])
            for r in bm25_topk(spark, idx, query, k, **kw).collect()]


def test_meta_carries_bytes_per_posting(idx):
    import json

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta.get("bytes_per_posting", 0) > 0
    # every manifest carries its byte share
    from searchengine_spark.index.checkpoint import all_manifests

    ms = all_manifests(idx)
    assert ms and all(m["posting_bytes"] > 0 for m in ms)


def test_over_threshold_term_never_fetched(spark, idx):
    """A term whose ESTIMATED postings exceed the threshold must route to
    the distributed path without any posting-bytes collect: _fetch is
    never called and the term never enters the cache."""
    eng = QueryEngine(spark, idx)

    def _boom(*a, **kw):  # any fetch attempt is the r3 hole reopening
        raise AssertionError("posting bytes were collected before the guard")

    eng._fetch = _boom
    hits = eng.topk_rows(QUERY, 5, local_threshold_bytes=1)
    assert hits == _hits_distributed(spark, idx, QUERY, 5)
    assert not eng._term_cache and eng._term_cache.total == 0


def test_over_threshold_routing_respects_site_and_offset(spark, idx):
    eng = QueryEngine(spark, idx)
    from searchengine_spark.streaming.store import read_store  # noqa: F401

    site = "org0/proj0"
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched despite over-threshold estimate"))
    got = eng.topk_rows(QUERY, 3, local_threshold_bytes=1, site=site, offset=1)
    want = _hits_distributed(spark, idx, QUERY, 3, site=site, offset=1)
    assert got == want


def test_under_threshold_path_unchanged_and_exact(spark, idx):
    eng = QueryEngine(spark, idx)
    hits = eng.topk_rows(QUERY, 5)  # default 64 MiB threshold: local path
    assert hits == _hits_distributed(spark, idx, QUERY, 5)
    assert "tamok" in eng._term_cache and eng._term_cache.total > 0
    assert eng._term_cache.total == sum(
        eng._term_cache.nbytes(t) for t in eng._term_cache)


def test_term_cache_is_byte_bounded_with_working_set_floor(spark, idx):
    eng = QueryEngine(spark, idx, term_cache_bytes=1)
    # estimates exceed no per-query threshold here (default 64 MiB), so the
    # terms ARE fetched; the 1-byte LRU budget then applies across queries
    eng.topk_rows("tamok", 5)
    assert list(eng._term_cache) == ["tamok"]  # own working set survives
    eng.topk_rows("lixpex", 5)
    assert "tamok" not in eng._term_cache  # evicted by the byte bound
    assert list(eng._term_cache) == ["lixpex"]
    assert eng._term_cache.total == eng._term_cache.nbytes("lixpex")


def test_prefetch_skips_over_threshold_terms_and_warms_sites(spark, idx):
    eng = QueryEngine(spark, idx)
    n = eng.prefetch([QUERY], sites=["org0/proj0"], local_threshold_bytes=1)
    assert n == 0 and not eng._term_cache  # every term over the 1-byte bar
    assert "org0/proj0" in eng._site_cache  # site intervals warmed anyway

    # restart shape: a sane threshold warms the suite in one job, and the
    # subsequent queries are exact with zero further fetches
    n2 = eng.prefetch([QUERY, "lixpex"], local_threshold_bytes=64 << 20)
    assert n2 == 3  # tamok, sorvel, lixpex
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("prefetch should have warmed the whole suite"))
    assert eng.topk_rows(QUERY, 5) == _hits_distributed(spark, idx, QUERY, 5)
    assert eng.topk_rows("lixpex", 5) == _hits_distributed(
        spark, idx, "lixpex", 5)


def test_gdf_cache_avoids_repeat_dict_jobs(spark, idx):
    eng = QueryEngine(spark, idx)
    eng.topk_rows(QUERY, 5, local_threshold_bytes=1)  # distributed route
    assert eng._gdf_cache.get("tamok", 0) > 0
    # a second query over the same terms prices itself from the gdf cache:
    # the estimate runs no Spark job
    lemmas = sorted(set(analyze(QUERY, *eng._ana)))
    assert _jobs(spark, "gdf-warm", lambda: eng._gdf_for(lemmas))[1] == 0
    hits = eng.topk_rows(QUERY, 5, local_threshold_bytes=1)
    assert hits == _hits_distributed(spark, idx, QUERY, 5)


def test_prefetch_is_one_lookup_and_one_fetch(spark, pidx):
    """prefetch warms both LRUs with one bucket-pruned collect, preceded by
    one df lookup only when an index is over the threshold, whatever the
    mix of terms and phrase forms; lemmas over the threshold are still
    skipped before any posting bytes move."""
    queries, phrases = ["sorvel jordro", "lixpex"], ["veltadrolix hazlixsor"]
    gdf = gdf_lookup(spark, pidx, ["sorvel", "jordro", "lixpex",
                                   "veltadrolix", "hazlixsor"])
    assert len(gdf) == 5

    eng = QueryEngine(spark, pidx)  # whole index under 64 MiB: no lookup
    assert _jobs(spark, "prefetch-fits", lambda: eng.prefetch(
        queries, phrases=phrases)) == (5, 1)

    # under both index totals, over every lemma: the guard needs df
    thr = int(max(gdf.values()) * eng._pos_bpp) + 1
    assert thr < min(eng._index_bytes, eng._pos_bytes)
    eng = QueryEngine(spark, pidx)
    assert _jobs(spark, "prefetch-guarded", lambda: eng.prefetch(
        queries, phrases=phrases, local_threshold_bytes=thr)) == (5, 2)

    # one term and one form over the threshold are skipped
    thr = int(min(gdf["sorvel"] * eng._bpp,
                  gdf["veltadrolix"] * eng._pos_bpp)) - 1
    assert max(gdf["jordro"], gdf["lixpex"]) * eng._bpp <= thr
    assert gdf["hazlixsor"] * eng._pos_bpp <= thr
    eng = QueryEngine(spark, pidx)
    assert _jobs(spark, "prefetch-skips", lambda: eng.prefetch(
        queries, phrases=phrases, local_threshold_bytes=thr)) == (3, 2)
    assert sorted(eng._term_cache) == ["jordro", "lixpex"]
    assert list(eng._pos_cache) == ["hazlixsor"]
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched a term prefetch skipped"))
    assert eng.topk_rows(queries[0], 5, local_threshold_bytes=thr) == (
        _hits_distributed(spark, pidx, queries[0], 5))


def test_mixed_generation_manifests_disable_bytes_shortcut(spark, tmp_path):
    """Review fix: meta.posting_bytes (the skip-the-guard short-circuit) is
    only written when EVERY done manifest contributed byte stats — a
    pre-r4 manifest without them must disable the short-circuit, keeping
    the dict-estimate guard active (else a mixed-generation big index
    would collect oversized postings before any check)."""
    import json

    from searchengine_spark.index.checkpoint import read_manifest, write_manifest
    from searchengine_spark.streaming.incremental import rebuild_segments

    out = str(tmp_path / "idx")
    docs = ingest(spark.createDataFrame(gen_corpus_local(60), DOCS_SCHEMA))
    build_index(docs, out, n_segments=2, salt=4, n_buckets=4, resume=False)
    # simulate a pre-r4 manifest on segment 0
    m = read_manifest(out, 0)
    del m["posting_bytes"]
    write_manifest(out, 0, m)
    # rebuild segment 1: its manifest regains bytes, segment 0's stays old
    rebuild_segments(docs, out, [1])
    with open(f"{out}/meta.json") as fh:
        meta = json.load(fh)
    assert "bytes_per_posting" in meta      # ratio: sound from a subset
    assert "posting_bytes" not in meta      # total: NOT sound -> absent
    # the engine then has no short-circuit: the estimate guard fires and a
    # tiny threshold routes distributed WITHOUT fetching
    eng = QueryEngine(spark, out)
    assert eng._index_bytes is None
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched despite over-threshold estimate"))
    hits = eng.topk_rows(QUERY, 5, local_threshold_bytes=1)
    assert hits == _hits_distributed(spark, out, QUERY, 5)


def test_negative_offsets_rejected(spark, idx):
    """Review fix: negative offsets raise on every path instead of
    silently diverging between batch and single serving."""
    from searchengine_spark.index.wand import bm25_topk_batch

    eng = QueryEngine(spark, idx)
    with pytest.raises(ValueError):
        eng.topk_rows(QUERY, 5, offset=-1)
    with pytest.raises(ValueError):
        bm25_topk(spark, idx, QUERY, 5, offset=-1)
    with pytest.raises(ValueError):
        bm25_topk_batch(spark, idx, {"a": QUERY}, 5, offsets={"a": -2})
