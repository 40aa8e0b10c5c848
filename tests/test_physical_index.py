"""Physical index: build, MaxScore/WAND self-oracle, resume (SURVEY.md §5.4-5)."""

from __future__ import annotations

import numpy as np
import pytest

from searchengine_spark.index.builder import build_index, read_index
from searchengine_spark.index.wand import (
    TermPostings,
    _maxscore,
    bm25_topk,
    segment_topk_terms,
)


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, docs):
    out = str(tmp_path_factory.mktemp("idx"))
    build_index(docs, out, n_segments=3, salt=4, n_buckets=8, block_size=32)
    return out


def test_build_writes_manifests_and_meta(index_dir, docs):
    import json

    from searchengine_spark.index.checkpoint import all_manifests

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["n_docs"] == docs.count()
    ms = all_manifests(index_dir)
    assert len(ms) == 3 and all(m["status"] == "done" for m in ms)
    assert sum(m["doc_count"] for m in ms) == meta["n_docs"]


def test_index_df_matches_logical(spark, index_dir, logical_index):
    """Σ df over segments per lemma == logical postings count (global)."""
    from pyspark.sql import functions as F

    tf, _ = logical_index
    idx = read_index(spark, index_dir)
    got = {r["lemma"]: r["s"] for r in
           idx.groupBy("lemma").agg(F.sum("df").alias("s")).collect()}
    want = {r["lemma"]: r["n"] for r in
            tf.groupBy("lemma").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_postings_roundtrip_vs_tf(spark, index_dir, logical_index, oracle):
    """Decoded postings of a hot and a rare term == the tf table."""
    from searchengine_spark.index.wand import TermPostings

    tf, _ = logical_index
    for lemma in ["veltadrolix", "xyzzy"]:
        rows = read_index(spark, index_dir, [lemma]).collect()
        got = {}
        for r in rows:
            tp = TermPostings(r["postings"], r["tfs"], r["df"], 32)
            ids, tfs = tp.decode_all()
            got.update(dict(zip(ids.tolist(), tfs.tolist())))
        want = {d: c[lemma] for d, c in oracle.tf.items() if lemma in c}
        assert got == want


@pytest.mark.parametrize("query,k", [
    ("tamok", 10),
    ("tamok velsor", 1),
    ("tamok velsor", 10),
    ("tamok velsor", 100),
    ("tamok velsor binqua sorbin kw_rare_xyzzy", 10),
    ("veltadrolix sorvel", 10),     # two hottest terms
    ("kw_rare_xyzzy", 10),
    ("норма tamok", 10),
])
def test_maxscore_equals_exhaustive(spark, index_dir, oracle, query, k):
    """SURVEY.md §5.4: both kernels return the exhaustive top-k of an
    independent BM25.  The distributed route scores fresh postings
    (exhaustive); the engine's first call does too, and its repeat finds
    every term decoded (MaxScore wherever the lists are skewed)."""
    from searchengine_spark.index.wand import QueryEngine

    want = oracle.bm25_topk(query, k)
    got = bm25_topk(spark, index_dir, query, k).collect()
    _assert_matches_reference([(r["doc_id"], r["score"]) for r in got], want)
    eng = QueryEngine(spark, index_dir)
    cold = eng.topk_rows(query, k)
    assert all(tp.decoded for t in eng._term_cache
               for _, _, tp, _ in eng._term_cache.get(t))
    assert eng.topk_rows(query, k) == cold
    _assert_matches_reference(cold, want)


def test_no_hit_and_stop_only(spark, index_dir):
    assert bm25_topk(spark, index_dir, "zz_nope_zz", 10).count() == 0
    assert bm25_topk(spark, index_dir, "the and for", 10).count() == 0


def test_conjunctive_matches_strict_and_oracle(spark, index_dir, oracle):
    """Physical conjunctive top-k == strict global AND (every doc carries
    every query term) ranked by BM25.  NOTE: deliberately different from
    operators.search(), which implements the reference's PER-REPO lemma
    filtering (filterLemmasForSite, SearchServiceImpl.java:145-149) — a repo
    lacking one term only requires the others there."""
    import math

    q = ["tamok", "velsor"]
    n = len(oracle.docs)
    dls = {d: sum(c.values()) for d, c in oracle.tf.items()}
    avgdl = sum(dls.values()) / n
    gdf = {t: sum(1 for c in oracle.tf.values() if t in c) for t in q}
    want = {}
    for d, c in oracle.tf.items():
        if not all(t in c for t in q):
            continue
        s = 0.0
        for t in q:
            idf = math.log(1.0 + (n - gdf[t] + 0.5) / (gdf[t] + 0.5))
            s += idf * c[t] * 2.2 / (c[t] + 1.2 * (0.25 + 0.75 * dls[d] / avgdl))
        want[d] = s
    want_top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    phys = bm25_topk(spark, index_dir, "tamok velsor", k=50, conjunctive=True).collect()
    assert [r["doc_id"] for r in phys] == [d for d, _ in want_top]
    for r, (_, s) in zip(phys, want_top):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def _assert_matches_reference(got, want):
    """(doc_id, score) rows == the oracle's: ids exactly, scores to 1e-9."""
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want],
                                                rel=1e-9)


def test_exhaustive_matches_numpy_reference(spark, index_dir, oracle):
    """Segment math cross-check: full-index disjunctive scores vs a direct
    BM25 over the oracle's tf table."""
    got = bm25_topk(spark, index_dir, "tamok velsor", k=10).collect()
    _assert_matches_reference([(r["doc_id"], r["score"]) for r in got],
                              oracle.bm25_topk("tamok velsor", 10))


def test_resume_skips_done_segments_and_is_identical(spark, docs, tmp_path):
    """Kill-after-partial + resume => byte-identical index (SURVEY.md §5.5):
    every parquet file of data/ (norms rows included) and sites/."""
    import pathlib

    from tests.artifacts import assert_same_artifact

    out1 = str(tmp_path / "full")
    build_index(docs, out1, n_segments=3, salt=4, n_buckets=4, block_size=32)

    out2 = str(tmp_path / "resumed")
    build_index(docs, out2, n_segments=3, salt=4, n_buckets=4, block_size=32)
    # simulate a crash: wipe segment 1's data + manifest, then resume
    import shutil

    shutil.rmtree(f"{out2}/data/segment=1")
    pathlib.Path(f"{out2}/manifests/segment=1.json").unlink()
    build_index(docs, out2, n_segments=3, salt=4, n_buckets=4, block_size=32, resume=True)

    assert_same_artifact(out1, out2)


def test_query_engine_fast_path_equals_distributed(spark, index_dir):
    """QueryEngine.topk_rows (driver-side scoring of the pruned term set)
    must equal the distributed applyInPandas path exactly, incl. ties."""
    from searchengine_spark.index.wand import QueryEngine

    eng = QueryEngine(spark, index_dir)
    for q, conj in [("tamok velsor", False), ("tamok velsor", True),
                    ("kw_rare_xyzzy", False), ("норма tamok", False)]:
        fast = eng.topk_rows(q, 10, conjunctive=conj)
        dist = [(r["doc_id"], r["score"])
                for r in eng.topk(q, 10, conjunctive=conj).collect()]
        assert fast == dist, (q, conj)
    assert eng.topk_rows("the and for", 10) == []


def test_dictionary_artifact(spark, index_dir, logical_index):
    """The index's lemma/df columns (per-segment rows, read alone by
    column projection) sum to global df per lemma."""
    from pyspark.sql import functions as F

    from searchengine_spark.index.builder import read_index

    tf, _ = logical_index
    d = read_index(spark, index_dir, columns=("lemma", "df"))
    got = {r["lemma"]: r["gdf"] for r in
           d.groupBy("lemma").agg(F.sum("df").alias("gdf")).collect()}
    want = {r["lemma"]: r["n"] for r in
            tf.groupBy("lemma").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_segment_topk_unit():
    """Pure-numpy unit: two tiny terms, hand-checkable, through the
    serving kernel (cold and pre-decoded) and MaxScore alike."""
    import math

    from searchengine_spark.index.codec import encode_postings
    from searchengine_spark.index.wand import SegmentNorms

    avgdl = 10.0
    e1 = encode_postings(np.array([1, 5, 9]), np.array([2, 1, 4]))
    e2 = encode_postings(np.array([5, 9, 20]), np.array([1, 1, 1]))
    ids = np.arange(21)
    en = encode_postings(ids, np.full(21, 10))
    norms = SegmentNorms(en.docs, en.tfs, 128)
    # dl == avgdl, so each term scores idf·tf·2.2/(tf + 1.2)
    idf = math.log(1.0 + (30 - 3 + 0.5) / (3 + 0.5))
    want = {9: idf * (4 * 2.2 / 5.2 + 2.2 / 2.2),
            5: idf * (2.2 / 2.2 + 2.2 / 2.2)}

    for kernel in ("cold", "decoded", "maxscore"):
        # fresh TermPostings per run, as each segment builds
        terms = [TermPostings(e.docs, e.tfs, 3, 128) for e in (e1, e2)]
        if kernel == "decoded":
            for t in terms:
                t.decode_all()
        ids, sc = (_maxscore(terms, norms, 30, avgdl, 2, 1.2, 0.75, None)
                   if kernel == "maxscore" else
                   segment_topk_terms(terms, norms, n_docs=30, avgdl=avgdl,
                                      k=2))
        # doc 9 (tf 4 + both terms) must beat doc 5 (1+1) and doc 1 (2)
        assert ids.tolist() == [9, 5], kernel
        assert sc.tolist() == pytest.approx([want[9], want[5]], rel=1e-12)


def test_query_engine_invalidates_on_rebuild(spark, docs, tmp_path):
    """A live QueryEngine must not serve stale postings after an
    incremental rebuild (index_fingerprint-driven cache invalidation)."""
    from searchengine_spark.corpus import gen_corpus_local, ingest
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.wand import QueryEngine
    from searchengine_spark.schema import DOCS_SCHEMA
    from searchengine_spark.streaming.incremental import incremental_reindex

    rows = gen_corpus_local(120)
    ing = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    out = str(tmp_path / "idx")
    build_index(ing, out, n_segments=3, salt=2, n_buckets=4)

    eng = QueryEngine(spark, out)
    assert eng.topk_rows("zz_stale_marker", 5) == []

    target = ing.filter("doc_id = 5").collect()[0]
    rows2 = [
        (r[0], r[1], r[2], r[3], r[4] + " zz_stale_marker")
        if (r[0], r[1]) == (target["repo"], target["path"]) else r
        for r in rows
    ]
    ing2 = ingest(spark.createDataFrame(rows2, DOCS_SCHEMA))
    incremental_reindex(ing2, out, [5])

    hits = eng.topk_rows("zz_stale_marker", 5)  # same engine instance
    assert [d for d, _ in hits] == [5]


def test_query_engine_prefetch_single_job_warms_suite(spark, index_dir):
    """prefetch() warms a whole suite's terms in one driver-side read of
    their buckets; subsequent topk_rows hit only the driver cache (no
    Spark job) and return exactly what a non-prefetched engine returns."""
    from searchengine_spark.index.wand import QueryEngine

    queries = ["tamok velsor", "kw_rare_xyzzy tamok", "velsor"]
    base = QueryEngine(spark, index_dir)
    want = [base.topk_rows(q, 10) for q in queries]

    eng = QueryEngine(spark, index_dir)
    n = eng.prefetch(queries)
    assert n == 4  # tamok, velsor, rare, xyzzy — analyzed + deduped
    assert all(t in eng._term_cache for t in ("tamok", "velsor", "rare", "xyzzy"))

    tracker = spark.sparkContext.statusTracker()
    jobs_before = tracker.getJobIdsForGroup(None)
    got = [eng.topk_rows(q, 10) for q in queries]
    assert got == want
    # no new Spark job ran for the prefetched queries
    assert len(tracker.getJobIdsForGroup(None)) == len(jobs_before)
    # second prefetch of the same suite is a no-op
    assert eng.prefetch(queries) == 0


# ---- site scope + offset (reference GET /api/search?query&site&offset&limit)


def _site_topk(eng, q, k, repo, route):
    """One site-scoped top-k on ``route``: "auto" is the distributed route
    (each segment picks its own kernel), "exhaustive" the engine's cold
    call (nothing decoded yet), "maxscore" MaxScore forced on every
    segment of the engine's decoded postings under the repo's mask."""
    from searchengine_spark.analyzer import analyze

    if route == "auto":
        return [(r["doc_id"], r["score"]) for r in
                bm25_topk(eng.spark, eng.index_dir, q, k,
                          site=repo).collect()]
    if route == "exhaustive":
        return eng.topk_rows(q, k, site=repo)
    eng.topk_rows(q, k, site=repo)  # fetch the terms and the intervals
    by_seg: dict[int, list] = {}
    for t in sorted(set(analyze(q, *eng._ana))):
        for _, seg, tp, _ in eng._term_cache.get(t):
            tp.decode_all()
            by_seg.setdefault(seg, []).append(tp)
    m = eng.meta
    norms = eng._segment_norms(by_seg)
    merged = [(d, s) for seg, terms in by_seg.items()
              for ids, sc in [_maxscore(terms, norms[seg], m["n_docs"],
                                        m["avgdl"], k, m["k1"], m["b"],
                                        eng._site_cache[repo])]
              for d, s in zip(ids.tolist(), sc.tolist())]
    merged.sort(key=lambda t: (-t[1], t[0]))
    return merged[:k]


@pytest.mark.parametrize("route", ["maxscore", "exhaustive", "auto"])
def test_site_filter_matches_brute_force(spark, index_dir, docs, oracle,
                                         route):
    """site= must return EXACTLY the top-k among that repo's docs (the
    oracle's full-corpus ranking kept to the repo) on every route: the
    interval mask keeps MaxScore's bounds valid."""
    from searchengine_spark.index.wand import QueryEngine

    repos = [r["repo"] for r in
             docs.select("repo").distinct().limit(3).collect()]
    for repo in repos:
        for q in ("tamok velsor", "parse index config", "xyzzy"):
            eng = QueryEngine(spark, index_dir)  # cold per query
            want = oracle.bm25_topk(q, 5, site=repo)
            _assert_matches_reference(_site_topk(eng, q, 5, repo, route),
                                      want)
            # the warm repeat agrees (MaxScore on skewed decoded lists)
            _assert_matches_reference(eng.topk_rows(q, 5, site=repo), want)


def test_site_filter_conjunctive_and_engine_fast_path(spark, index_dir, docs,
                                                      oracle):
    from searchengine_spark.index.wand import QueryEngine

    repo = docs.select("repo").distinct().collect()[0]["repo"]
    eng = QueryEngine(spark, index_dir)
    for q, conj in (("tamok velsor", True), ("tamok velsor", False)):
        want = oracle.bm25_topk(q, 5, site=repo, conjunctive=conj)
        got = eng.topk_rows(q, 5, site=repo, conjunctive=conj)
        _assert_matches_reference(got, want)
    # unknown site owns no pages -> [] on both paths
    assert eng.topk_rows("tamok", 5, site="no/such-repo") == []
    assert bm25_topk(spark, index_dir, "tamok", 5,
                     site="no/such-repo").collect() == []


def test_offset_pagination_is_a_slice_of_the_full_ranking(spark, index_dir,
                                                          docs, oracle):
    from searchengine_spark.index.wand import QueryEngine

    q = "tamok velsor"
    full = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, index_dir, q, 20).collect()]
    eng = QueryEngine(spark, index_dir)
    for off, k in ((0, 5), (2, 3), (7, 10), (1000, 5)):
        want = full[off:off + k]
        got_d = [(r["doc_id"], r["score"]) for r in
                 bm25_topk(spark, index_dir, q, k, offset=off).collect()]
        got_w = eng.topk_rows(q, k, offset=off)
        assert got_d == want, ("distributed", off, k)
        assert got_w == want, ("warm", off, k)
    # site + offset compose
    repo = docs.select("repo").distinct().collect()[0]["repo"]
    _assert_matches_reference(eng.topk_rows(q, 3, site=repo, offset=2),
                              oracle.bm25_topk(q, 3, site=repo, offset=2))


def test_sites_sidecar_is_islands_of_the_ingest(spark, index_dir, docs):
    """The sidecar's intervals must cover exactly the ingested (repo ->
    doc_id) mapping — every repo, no overlaps, merged across segments."""
    from searchengine_spark.index.builder import read_site_ranges

    by_repo: dict[str, set] = {}
    for r in docs.select("repo", "doc_id").collect():
        by_repo.setdefault(r["repo"], set()).add(r["doc_id"])
    for repo, ids in by_repo.items():
        iv = read_site_ranges(index_dir, repo)
        covered = {i for lo, hi in iv for i in range(lo, hi + 1)}
        assert covered == ids, repo
        # fresh build: one contiguous run per repo once segments are merged
        assert len(iv) == 1, (repo, iv)


def test_build_rejects_sha_invariant_violation(spark, docs, tmp_path):
    """The per-row sha256 invariant (BASELINE.json input_hint) is enforced
    inside build_index's first aggregation — a single corrupted row aborts
    the build before anything is written."""
    from pyspark.sql import functions as F

    bad = docs.withColumn(
        "sha256",
        F.when(F.col("doc_id") == 0, F.lit("0" * 64)).otherwise(F.col("sha256")),
    )
    with pytest.raises(ValueError, match="sha256 per-row invariant"):
        build_index(bad, str(tmp_path / "badidx"), n_segments=2, resume=False)
    import os
    assert not os.path.isdir(str(tmp_path / "badidx") + "/data")


def test_site_scope_prunes_segment_partitions(spark, index_dir, docs,
                                              oracle):
    """A site-scoped distributed query must SCAN only the segment= dirs its
    intervals overlap (partition pruning), and still return exactly the
    brute-force page."""
    import json as _json

    from searchengine_spark.index.builder import read_site_ranges

    with open(f"{index_dir}/meta.json") as fh:
        seg_size = _json.load(fh)["seg_size"]
    repo = docs.select("repo").distinct().orderBy("repo").collect()[0]["repo"]
    iv = read_site_ranges(index_dir, repo)
    want_segs = {s for lo, hi in iv
                 for s in range(lo // seg_size, hi // seg_size + 1)}
    assert 0 < len(want_segs) < 3  # non-trivial pruning at 3 segments

    df = bm25_topk(spark, index_dir, "tamok velsor", 5, site=repo)
    got = [(r["doc_id"], r["score"]) for r in df.collect()]
    _assert_matches_reference(got,
                              oracle.bm25_topk("tamok velsor", 5, site=repo))
    # inputFiles() reports the pre-pruning listing; the proof of pruning is
    # the scan's PartitionFilters clause
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"segment#\d+L? IN \(([0-9,]+)\)", plan)
    assert m, plan[:500]
    assert {int(s) for s in m.group(1).split(",")} == want_segs


@pytest.mark.parametrize("conjunctive", [False, True])
def test_batch_topk_matches_single_query_path(spark, index_dir, oracle,
                                             conjunctive):
    """bm25_topk_batch must return, per qid, exactly the single-query
    path's rows (ids AND scores) — including the empty cases (no-hit term,
    stopword-only query) — while running the whole workload as one job.
    Both run one serving core, so every qid is also checked against the
    oracle's independent BM25."""
    from searchengine_spark.index.wand import bm25_topk_batch

    workload = {
        "q1": "tamok",
        "q2": "tamok velsor",
        "q3": "veltadrolix sorvel",
        "q4": "kw_rare_xyzzy",
        "q5": "норма tamok",
        "q6": "zz_nope_zz",        # no postings anywhere
        "q7": "the and for",       # analyzer drops everything
        "q8": "tamok zz_nope_zz",  # AND arity matches single path
    }
    batch = bm25_topk_batch(spark, index_dir, workload, k=10,
                            conjunctive=conjunctive)
    got: dict[str, list] = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, q in workload.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, index_dir, q, 10,
                          conjunctive=conjunctive).collect()]
        assert got.get(qid, []) == want, qid
        _assert_matches_reference(
            want, oracle.bm25_topk(q, 10, conjunctive=conjunctive))


@pytest.mark.parametrize("conjunctive", [False, True])
def test_batch_topk_site_offset_matches_single_path(spark, index_dir, oracle,
                                                    conjunctive):
    """r3 VERDICT item 4: the batch path accepts per-qid site/offset and
    must stay row-identical to the single-query path under every
    combination — scoped, paginated, scoped+paginated, unknown site — and
    every qid to the oracle's independent BM25."""
    from searchengine_spark.index.wand import bm25_topk_batch

    workload = {
        "plain": "tamok velsor",
        "scoped": "tamok velsor",
        "paged": "tamok velsor",
        "scoped_paged": "tamok velsor",
        "other_site": "tamok",
        "ghost_site": "tamok",     # unknown site: no pages, no hits
        "scoped_and": "tamok sorvel",
    }
    sites = {"scoped": "org0/proj0", "scoped_paged": "org0/proj0",
             "other_site": "org1/proj1", "ghost_site": "org9/nope",
             "scoped_and": "org0/proj0"}
    offsets = {"paged": 3, "scoped_paged": 2}
    batch = bm25_topk_batch(spark, index_dir, workload, k=5,
                            conjunctive=conjunctive,
                            sites=sites, offsets=offsets)
    got: dict[str, list] = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, q in workload.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, index_dir, q, 5, conjunctive=conjunctive,
                          site=sites.get(qid),
                          offset=offsets.get(qid, 0)).collect()]
        assert got.get(qid, []) == want, qid
        _assert_matches_reference(want, oracle.bm25_topk(
            q, 5, site=sites.get(qid), offset=offsets.get(qid, 0),
            conjunctive=conjunctive))
    assert "ghost_site" not in got


def test_engine_batch_site_offset_and_cached_intervals(spark, index_dir):
    """QueryEngine.topk_batch threads per-qid site/offset through its
    interval cache and agrees with its own single-query serving."""
    from searchengine_spark.index.wand import QueryEngine

    eng = QueryEngine(spark, index_dir)
    sites = {"a": "org0/proj0"}
    offsets = {"b": 2}
    batch = eng.topk_batch({"a": "tamok velsor", "b": "tamok"}, k=5,
                           sites=sites, offsets=offsets)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    assert by_q["a"] == eng.topk_rows("tamok velsor", 5, site="org0/proj0")
    assert by_q["b"] == eng.topk_rows("tamok", 5, offset=2)
    assert "org0/proj0" in eng._site_cache  # resolved once, cached


def test_engine_batch_uses_cached_index(spark, index_dir):
    """QueryEngine.topk_batch serves from the engine's cached index DF and
    agrees with its own single-query serving."""
    from searchengine_spark.index.wand import QueryEngine

    eng = QueryEngine(spark, index_dir)
    batch = eng.topk_batch({"a": "tamok velsor", "b": "kw_rare_xyzzy"}, k=5)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    assert by_q["a"] == eng.topk_rows("tamok velsor", 5)
    assert by_q["b"] == eng.topk_rows("kw_rare_xyzzy", 5)


def test_resumed_build_sha_check_scoped_to_rebuilt_ranges(spark, docs, tmp_path):
    """On a RESUMED build the sha2 invariant is verified only over the doc
    ranges being rebuilt (O(batch) hashing for micro-batches): a corrupted
    row inside a dirty segment still aborts; one inside a 'done' segment is
    out of scope (it was verified when its segment was built, and content
    changes always dirty their segment first)."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "idx")
    meta = build_index(docs, out, n_segments=3, salt=4, n_buckets=8,
                       resume=False)
    seg_size = meta["seg_size"]

    # corrupt one row in segment 1, mark ONLY segment 1 dirty -> caught
    os.unlink(f"{out}/manifests/segment=1.json")
    bad_id = seg_size  # first doc of segment 1
    bad = docs.withColumn(
        "sha256",
        F.when(F.col("doc_id") == bad_id,
               F.lit("0" * 64)).otherwise(F.col("sha256")),
    )
    with pytest.raises(ValueError, match="sha256 per-row invariant"):
        build_index(bad, out, resume=True)

    # same corruption with segment 1 already 'done' -> out of scope: the
    # resumed build (no dirty segments, same corpus) short-circuits clean
    meta2 = build_index(docs, out, resume=True)  # restore manifest 1
    assert meta2["n_docs"] == meta["n_docs"]
    os.unlink(f"{out}/manifests/segment=0.json")  # dirty OTHER segment
    meta3 = build_index(bad, out, resume=True)    # bad row is in seg 1: ok
    assert meta3["n_docs"] == meta["n_docs"]


def test_meta_write_is_atomic(index_dir, monkeypatch):
    """Every meta.json / manifest writer publishes through one tmp +
    os.replace helper: a dump that raises mid-write leaves the previous
    meta.json loadable and unchanged, with no tmp file behind."""
    import json
    import os

    from searchengine_spark.index import checkpoint

    with open(f"{index_dir}/meta.json") as fh:
        before = fh.read()
    real_dump = json.dump

    def _torn_dump(obj, fh, **kw):
        fh.write(json.dumps(obj, **kw)[:20])  # half a document, then die
        raise OSError("disk full")

    monkeypatch.setattr(checkpoint.json, "dump", _torn_dump)
    with pytest.raises(OSError, match="disk full"):
        checkpoint.write_json_atomic(f"{index_dir}/meta.json",
                                     json.loads(before), indent=1)
    monkeypatch.setattr(checkpoint.json, "dump", real_dump)

    with open(f"{index_dir}/meta.json") as fh:
        assert fh.read() == before
    assert json.loads(before)["n_docs"] > 0
    assert not os.path.exists(f"{index_dir}/meta.json.tmp")
