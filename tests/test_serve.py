"""Physical-path response DTOs: serve_page == rank + store-backed enrich
(reference SearchServiceImpl.java:150-229 response assembly)."""

from __future__ import annotations

import pandas as pd

from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.serve import enrich_hits, serve_page
from searchengine_spark.index.wand import QueryEngine
from searchengine_spark.operators.snippet import snippet_series
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store

QUERY = "tamok velsor"


def _setup(spark, tmp_path):
    rows = gen_corpus_local(40)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=2,
                salt=4, n_buckets=4, resume=False)
    return store, idx


def test_serve_page_matches_rank_and_materializes_dto(spark, tmp_path):
    store, idx = _setup(spark, tmp_path)
    eng = QueryEngine(spark, idx)
    hits = eng.topk_rows(QUERY, 5)
    assert hits
    dto = serve_page(eng, store, QUERY, 5).collect()

    # ranking surface identical to the physical top-k, order preserved
    assert [(r["doc_id"], r["relevance"]) for r in dto] == hits

    by_id = {r["doc_id"]: r for r in
             read_store(spark, store)
             .select("doc_id", "repo", "path", "content").collect()}
    for r in dto:
        src = by_id[r["doc_id"]]
        assert r["site"] == src["repo"]
        assert r["uri"] == f"{src['repo']}/{src['path']}"
        assert r["title"] == src["path"].rsplit("/", 1)[-1]
        # snippet == the pure vectorized generator applied to this content
        want = snippet_series(pd.Series([src["content"]]), QUERY).iloc[0]
        assert r["snippet"] == want
        assert "<b>" in r["snippet"]  # a hit page highlights the match


def test_serve_page_site_scope_and_empty(spark, tmp_path):
    store, idx = _setup(spark, tmp_path)
    eng = QueryEngine(spark, idx)
    repo = read_store(spark, store).select("repo").distinct().collect()[0]["repo"]
    dto = serve_page(eng, store, QUERY, 5, site=repo).collect()
    assert dto and all(r["site"] == repo for r in dto)
    assert [(r["doc_id"], r["relevance"]) for r in dto] == \
        eng.topk_rows(QUERY, 5, site=repo)
    # no hits -> empty DTO frame with the stable schema
    empty = serve_page(eng, store, "zzz_nothing_matches_zzz", 5)
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "doc_id", "site", "uri", "title", "snippet", "relevance"]
    # enrich_hits is usable standalone (single-query distributed path)
    assert enrich_hits(spark, store, QUERY, []).collect() == []


def test_statistics_job_totals_and_detailed(spark, tmp_path):
    """jobs/stats.py ≙ GET /api/statistics (TotalStatistics +
    DetailedStatisticsItem): totals from the artifacts only; --detailed
    per-site lemma counts equal a direct per-site distinct-token count."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import functions as F

    from searchengine_spark.analyzer import analyze

    spec = importlib.util.spec_from_file_location(
        "stats_job", Path(__file__).resolve().parents[1] / "jobs" / "stats.py")
    stats_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(stats_job)

    store, idx = _setup(spark, tmp_path)
    docs = read_store(spark, store)
    out = stats_job.statistics(spark, idx, detailed_lemmas=True)

    n_repos = docs.select("repo").distinct().count()
    assert out["total"]["sites"] == n_repos
    assert out["total"]["pages"] == 40
    assert out["total"]["indexing"] is False
    assert out["total"]["lemmas"] > 0
    assert len(out["detailed"]) == n_repos
    pages_by_site = {r["repo"]: r["n"] for r in
                     docs.groupBy("repo").agg(F.count("*").alias("n")).collect()}
    # oracle: distinct analyzed lemmas per site, straight off the corpus
    site_lemmas: dict[str, set] = {}
    for r in docs.select("repo", "content").collect():
        site_lemmas.setdefault(r["repo"], set()).update(analyze(r["content"]))
    want_lemmas = {repo: len(lm) for repo, lm in site_lemmas.items()}
    for item in out["detailed"]:
        assert item["status"] == "INDEXED" and item["statusTime"]
        assert item["pages"] == pages_by_site[item["url"]]
        assert item["lemmas"] == want_lemmas[item["url"]]
