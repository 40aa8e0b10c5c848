"""r3 VERDICT items 1 + 8: the warm-serving broker must never collect a
term's posting bytes to the driver when the dictionary-estimated size
exceeds the local threshold (route to the distributed path FIRST), and the
term LRU is bounded by bytes, not just entries.  Prefetch honors the same
byte guard and warms site scopes."""

from __future__ import annotations

import os

import numpy as np
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
    build_index(docs, out, n_segments=2, salt=4, n_buckets=4, resume=False)
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


POSTING_READ = ("segment", "lemma", "df", "postings", "tfs", "pstream")


def test_prefetch_launches_no_spark_job(spark, pidx, monkeypatch):
    """An engine set-up (QueryEngine + prefetch) launches no Spark job,
    whatever the mix of terms, phrase forms and sites: its reads are
    driver-side Arrow reads.  The guard's order holds: a lemma/df read
    comes first, and only when an index is over the threshold; then ONE
    posting read, which never names a term or form the guard skipped."""
    from searchengine_spark.index import builder

    queries, phrases = ["sorvel jordro", "lixpex"], ["veltadrolix hazmok"]
    lemmas = ["hazmok", "jordro", "lixpex", "sorvel", "veltadrolix"]
    gdf = gdf_lookup(spark, pidx, lemmas)
    assert len(gdf) == 5
    reads = []
    scan = builder.scan_index

    def recorded(out_dir, files, want, n_buckets, columns):
        reads.append((sorted(want), tuple(columns)))
        return scan(out_dir, files, want, n_buckets, columns)

    monkeypatch.setattr(builder, "scan_index", recorded)

    def setup(group, **kw):
        def run():
            eng = QueryEngine(spark, pidx)
            return eng, eng.prefetch(queries, phrases=phrases, **kw)

        reads.clear()
        (eng, n), jobs = _jobs(spark, group, run)
        assert jobs == 0
        return eng, n, list(reads)

    # whole index under 64 MiB: no df read; the site interval lookup is
    # a driver-side read too
    eng, n, got = setup("prefetch-fits", sites=["org0/proj0"])
    assert n == 5 and got == [(lemmas, POSTING_READ)]
    assert eng._site_cache["org0/proj0"]

    # under both index totals, over every lemma: the guard reads df first
    thr = int(max(gdf.values()) * eng._pos_bpp) + 1
    assert thr < min(eng._index_bytes, eng._pos_bytes)
    eng, n, got = setup("prefetch-guarded", local_threshold_bytes=thr)
    assert n == 5 and got == [(lemmas, ("lemma", "df")),
                              (lemmas, POSTING_READ)]

    # one term and one form over the threshold are skipped: neither ever
    # appears in a posting read
    thr = int(min(gdf["sorvel"] * eng._bpp,
                  gdf["veltadrolix"] * eng._pos_bpp)) - 1
    assert max(gdf["jordro"], gdf["lixpex"]) * eng._bpp <= thr
    assert gdf["hazmok"] * eng._pos_bpp <= thr
    eng, n, got = setup("prefetch-skips", local_threshold_bytes=thr)
    assert n == 3 and got == [(lemmas, ("lemma", "df")),
                              (["hazmok", "jordro", "lixpex"],
                               POSTING_READ)]
    assert sorted(eng._term_cache) == ["jordro", "lixpex"]
    assert list(eng._pos_cache) == ["hazmok"]
    eng._fetch = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("fetched a term prefetch skipped"))
    assert eng.topk_rows(queries[0], 5, local_threshold_bytes=thr) == (
        _hits_distributed(spark, pidx, queries[0], 5))


def _term_entry(lemma, seg, tp, nb):
    return (lemma, seg, bytes(tp.docs_b), bytes(tp.tfs_b), tp.block_size,
            tp.df, nb)


def _pos_entry(lemma, seg, occ, flat, mx, nb):
    return (lemma, seg, occ.tolist(), flat.tolist(), mx, nb)


def _spark_entries(spark, index_dir, terms, forms):
    """What the engine's caches should hold for ``terms``/``forms``,
    collected through Spark (read_index/read_positions) and decoded."""
    import json

    from searchengine_spark.index.builder import read_index
    from searchengine_spark.index.positions import (
        decode_term_positions,
        read_positions,
    )
    from searchengine_spark.index.wand import TermPostings

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    gdf = gdf_lookup(spark, index_dir, terms + forms)
    want_t = [
        _term_entry(r["lemma"], r["segment"],
                    TermPostings(r["postings"], r["tfs"], gdf[r["lemma"]],
                                 meta["block_size"]),
                    len(r["postings"]) + len(r["tfs"]))
        for r in read_index(spark, index_dir, terms).collect()]
    want_p = []
    for r in read_positions(spark, index_dir, forms).collect():
        docs, counts, flat = decode_term_positions(
            r["postings"], r["tfs"], r["pstream"], meta["block_size"])
        occ = np.repeat(docs - r["segment"] * meta["seg_size"], counts)
        want_p.append(_pos_entry(
            r["lemma"], r["segment"], occ, flat,
            int(flat.max()) if flat.size else 0,
            len(r["postings"]) + len(r["tfs"]) + len(r["pstream"])))
    return sorted(want_t), sorted(want_p)


def _engine_entries(eng, terms, forms):
    return (sorted(_term_entry(*e) for t in terms
                   for e in eng._term_cache.get(t)),
            sorted(_pos_entry(t, *e) for t in forms
                   for e in eng._pos_cache.get(t)))


def test_engine_cache_entries_match_spark_reads(spark, pidx, tmp_path):
    """The engine's Arrow reads fill its term and positional caches with
    exactly what read_index/read_positions collect through Spark, decoded,
    up to segment order: a lemma in both caches, a term only, a form only
    and a lemma absent from the index (cached as no entries).  An emptied
    index lists no files and caches no entries."""
    from searchengine_spark.streaming.incremental import rebuild_segments
    from searchengine_spark.streaming.store import (
        delete_keys,
        init_store,
        read_store,
    )

    terms, forms = ["sorvel", "jordro", "zz_absent"], ["sorvel", "veltadrolix",
                                                      "zz_absent"]
    eng = QueryEngine(spark, pidx)
    assert _jobs(spark, "arrow-fetch", lambda: eng._fetch(terms, forms))[1] == 0
    want = _spark_entries(spark, pidx, terms, forms)
    assert want[0] and want[1]
    assert _engine_entries(eng, terms, forms) == want
    assert "zz_absent" in eng._term_cache and "zz_absent" in eng._pos_cache
    assert eng._gdf_for(["zz_absent"]) == {}

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    init_store(spark.createDataFrame(gen_corpus_local(20), DOCS_SCHEMA), store)
    build_index(read_store(spark, store), idx, n_segments=2, resume=False)
    eng = QueryEngine(spark, idx)
    summary = delete_keys(read_store(spark, store).select("repo", "path"),
                          store, seg_size=eng.meta["seg_size"])
    rebuild_segments(read_store(spark, store), idx, summary["dirty_segments"])
    assert eng.topk_rows("sorvel tamok", 5) == []  # reloads: emptied index
    assert eng._files == {}
    eng._fetch(terms, forms)
    assert _engine_entries(eng, terms, forms) == ([], [])
    assert _spark_entries(spark, idx, terms, forms) == ([], [])


def test_engine_read_of_a_removed_file_fails_loudly(spark, idx, tmp_path):
    """The engine reads the files it listed at load: one removed under it
    (here without touching meta or the manifests, so no reload) fails the
    read with FileNotFoundError instead of serving fewer postings."""
    import shutil

    from searchengine_spark.index.builder import hash_bucket

    out = str(tmp_path / "idx")
    shutil.copytree(idx, out)
    eng = QueryEngine(spark, out)
    for f in eng._files[hash_bucket("tamok", eng.meta["n_buckets"])][:1]:
        os.remove(f)
    with pytest.raises(FileNotFoundError):
        eng.topk_rows("tamok", 5)


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
