"""Full search-response materialization over the PHYSICAL serving path.

The reference's response rows are (site, siteName, uri, title, snippet,
relevance) built from the page table after ranking
(SearchServiceImpl.java:150-171 data assembly, :190-229 snippet/title via
dto/SearchData).  The logical path already mirrors this
(operators/search.py:141); this module closes the loop for the
index-serving path: rank with the warm QueryEngine / distributed WAND,
then enrich ONLY the final <= k page with (repo, path, content) rows from
the kb-partitioned docs store and materialize title + highlighted snippet.

Scale shape: the enrich step filters the store scan by ``doc_id IN (ids)``
— store files are written doc_id-sorted within each kb= dir
(streaming/store.py), so the pushed IN-filter prunes at parquet row-group
granularity; the scan reads k rows' worth of row groups, never the corpus.
The snippet/title pandas UDF runs on <= k rows by construction.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

    from .wand import QueryEngine

DTO_SCHEMA = ("doc_id long, site string, uri string, title string, "
              "snippet string, relevance double")


def enrich_hits(spark: SparkSession, store_dir: str, query: str,
                hits: list[tuple[int, float]]) -> DataFrame:
    """(doc_id, score) page -> reference DTO rows, store-backed."""
    from ..operators.snippet import with_snippet_and_title
    from ..streaming.store import read_store
    from .builder import isin_expr

    if not hits:
        return spark.createDataFrame([], DTO_SCHEMA)
    ids = [int(d) for d, _ in hits]
    scores = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, relevance double")
    page = (
        read_store(spark, store_dir)
        .filter(isin_expr("doc_id", ids))  # pushed: row-group pruned scan
        .select("doc_id", "repo", "path", "content")
        .join(F.broadcast(scores), "doc_id")
    )
    return (
        with_snippet_and_title(page, query)
        .select(
            "doc_id", F.col("repo").alias("site"),
            F.concat_ws("/", "repo", "path").alias("uri"),
            "title", "snippet", "relevance",
        )
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
    )


def serve_page(engine: QueryEngine, store_dir: str, query: str, k: int = 10,
               site: str | None = None, offset: int = 0,
               conjunctive: bool = False) -> DataFrame:
    """One reference API call end-to-end on the physical path:
    GET /api/search?query&site&offset&limit -> DTO rows."""
    hits = engine.topk_rows(query, k, conjunctive=conjunctive,
                            site=site, offset=offset)
    return enrich_hits(engine.spark, store_dir, query, hits)
