"""searchengine_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-creates the *capabilities* of the reference web search engine
(anton-podoinikov/SearchEngine: crawl -> lemmatize -> MySQL inverted index ->
relevance-ranked search) as an idiomatic Spark DataFrame/Arrow engine over a
table of source-code files ``(repo, path, commit, lang, content)``.

Layout
------
- ``session``    SparkSession factory tuned for the engine.
- ``schema``     explicit StructTypes for every table the engine reads/writes.
- ``corpus``     deterministic synthetic corpus generator (test/bench input).
- ``analyzer``   the pinned analyzer (tokenize -> normalize -> stop-filter),
                 vectorized via Arrow (mapInPandas); zero per-row Python.
- ``operators``  logical-plan operators: tf/df aggregation, conjunctive
                 search, scoring (Σtf parity + BM25), proximity, snippets,
                 statistics, dedup, ANN similarity.
- ``index``      physical index: delta+varbyte posting-list codec with
                 block-max directories, sorted-run merge builder,
                 block-max WAND top-k reader, checkpoint/resume manifests.
- ``functions``  scalar/text/similarity column functions (JVM-side where
                 possible, pandas UDFs elsewhere).
- ``streaming``  incremental (single-doc / partition) re-index upsert — the
                 analog of the reference's POST /api/indexPage.

The reference defines WHAT is computed (see SURVEY.md for file:line
citations); Spark defines HOW.
"""

__version__ = "0.1.0"
