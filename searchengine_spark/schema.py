"""Explicit StructTypes for every table the engine reads or writes.

The reference's schema is four JPA-mapped MySQL tables (SURVEY.md §1.1:
``site`` / ``page`` / ``lemma`` / ``index_table``, see model/*.java); here the
same logical star is declared as Spark StructTypes over columnar storage.
The physical index's schema of record is ``index.builder.INDEX_OUT_SCHEMA``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input corpus — the BASELINE.json input_hint shape.  ≙ reference `page`
# (model/PageTable.java:9-37) with site ≙ repo.
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Docs after ingest: deterministic doc_id + per-row sha256(content) invariant.
DOCS_INGESTED_SCHEMA = T.StructType(
    list(DOCS_SCHEMA.fields)
    + [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
    ]
)

# Flat postings (logical index) — ≙ reference `index_table`
# (model/IndexTable.java:7-30; rank=tf per IndexingServiceImpl.java:182-185).
TF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)

# Term dictionary with per-repo document frequency — ≙ reference `lemma`
# table (model/LemmaTable.java:9-34; df semantics IndexingServiceImpl.java:162-189).
LEMMA_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
    ]
)

# Search result — ≙ reference search DTO (dto/search/Data.java:4-11).
SEARCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("snippet", T.StringType(), True),
        T.StructField("score", T.DoubleType(), False),
    ]
)
