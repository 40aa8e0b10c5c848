"""Driver correctness-gate queries: Spark DataFrame vs DuckDB oracle SQL.

One entry per implemented operator family from SURVEY.md §2 (IDs cited per
query), executed against the driver's parquet tables at ``sf_dir``
(``documents`` / ``embeddings`` / TPC-H).  The documents table has clean
single-space-separated text, so the gate uses plain whitespace tokenization
(the full pinned analyzer — camelCase/punct/stop/normal-forms — is parity-
tested against the pure-Python oracle in tests/; DuckDB can't rehost it 1:1).

Every computed column is aliased identically in both engines, aggregates are
cast (DuckDB sums are HUGEINT by default), and every ordered/limited query
carries a full deterministic tie-break so the result SET is well-defined.
Floating scores are rounded to 4 dp on both sides before ordering.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .functions.text import (
    EN_STOPWORDS,
    chars_per_token,
    fingerprint,
    lang_id_en,
    quality_score,
    stopword_ratio,
    token_count,
    token_count_bpe,
    tokens_col,
)
from .operators.ann import brute_force_topk, lsh_topk
from .operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

SEARCH_TERMS = ["spark", "table"]
DF_THRESHOLD = 400  # documents at sf0.01 = 500 docs; both terms common but < 400
DICT_TERMS = ["spark", "table", "merge", "kw_absent_zz"]
SNIPPET_WORD = "spark"
PROX_W1, PROX_W2 = "spark", "merge"
PROX_MAX = 5  # + len(PROX_W1), the reference quirk (SearchServiceImpl.java:257-261)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, source, token) one row per token occurrence."""
    return docs.select(
        "doc_id", "source", F.explode(tokens_col(F.col("text"))).alias("token")
    )


# SQL fragment: token stream of documents
_TOK_SQL = (
    "SELECT doc_id, source, unnest(string_split(text, ' ')) AS token "
    "FROM documents"
)


# --- A1 / A2: tf and df ------------------------------------------------------


def q_tf_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (LemmaFinderImpl.java:34-47): per-doc term frequency."""
    return (
        _tokens(_load(spark, sf_dir, "documents"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )


SQL_TF_PER_DOC = f"""
SELECT doc_id, token, count(*)::BIGINT AS tf
FROM ({_TOK_SQL}) WHERE token <> '' GROUP BY doc_id, token
"""


def q_df_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (IndexingServiceImpl.java:162-189): per-'site' document frequency."""
    return (
        _tokens(_load(spark, sf_dir, "documents"))
        .select("source", "doc_id", "token")
        .distinct()
        .groupBy("source", "token")
        .agg(F.count("*").alias("df"))
    )


SQL_DF_PER_SOURCE = f"""
SELECT source, token, count(*)::BIGINT AS df
FROM (SELECT DISTINCT source, doc_id, token FROM ({_TOK_SQL}) WHERE token <> '')
GROUP BY source, token
"""


# --- J1 + F6: dictionary lookup with df threshold ---------------------------


def q_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+F6 (LemmaRepository.java:17; SearchServiceImpl.java:34): query
    terms semi-joined against the global dictionary, stop-term df cutoff."""
    tf = (
        _tokens(_load(spark, sf_dir, "documents"))
        .filter(F.col("token").isin(DICT_TERMS))
        .select("doc_id", "token")
        .distinct()
    )
    return (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") < DF_THRESHOLD)
    )


_terms_sql = ", ".join(f"'{t}'" for t in DICT_TERMS)
SQL_DICT_LOOKUP = f"""
SELECT token, count(*)::BIGINT AS df
FROM (SELECT DISTINCT doc_id, token FROM ({_TOK_SQL}) WHERE token IN ({_terms_sql}))
GROUP BY token HAVING count(*) < {DF_THRESHOLD}
"""


# --- J4a + A3 + A4 + C10 + O2/O3: the flagship conjunctive search -----------


def _search_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, abs_score): docs containing ALL surviving query terms."""
    docs = _load(spark, sf_dir, "documents")
    tf = (
        _tokens(docs)
        .filter(F.col("token").isin(SEARCH_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    kept = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") < DF_THRESHOLD)
        .select("token")
    )
    n_kept = kept.agg(F.count("*").alias("_n"))
    return (
        tf.join(F.broadcast(kept), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_nm"), F.sum("tf").alias("abs_score"))
        .crossJoin(F.broadcast(n_kept))
        .filter((F.col("_nm") == F.col("_n")) & (F.col("_n") > 0))
        .select("doc_id", "abs_score")
    )


def q_search_sumtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: conjunctive AND (J4a) + Σtf score (A3) normalized by max
    (A4) rounded 4 dp HALF_UP (C10), desc order with doc_id tie-break (O2),
    top-20 (O3)."""
    cand = _search_candidates(spark, sf_dir)
    mx = cand.agg(F.max("abs_score").alias("_mx"))
    return (
        cand.crossJoin(F.broadcast(mx))
        .select("doc_id", F.round(F.col("abs_score") / F.col("_mx"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


_search_terms_sql = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
_SQL_CAND = f"""
WITH tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf
  FROM ({_TOK_SQL}) WHERE token IN ({_search_terms_sql})
  GROUP BY doc_id, token
), kept AS (
  SELECT token FROM (SELECT token, count(*) AS df FROM tf GROUP BY token)
  WHERE df < {DF_THRESHOLD}
), cand AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS abs_score
  FROM tf JOIN kept USING (token)
  GROUP BY tf.doc_id
  HAVING count(*) = (SELECT count(*) FROM kept)
)
"""

SQL_SEARCH_SUMTF = (
    _SQL_CAND
    + """
SELECT doc_id,
       round(abs_score::DOUBLE / (SELECT max(abs_score) FROM cand), 4) AS score
FROM cand ORDER BY score DESC, doc_id LIMIT 20
"""
)


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) over the same conjunctive candidates; global df
    scope, avgdl = Σdl/N over all docs.  All column math JVM-side."""
    docs = _load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    tf = (
        toks.filter(F.col("token").isin(SEARCH_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    kept_df = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") < DF_THRESHOLD)
    )
    n_kept = kept_df.agg(F.count("*").alias("_n"))
    dls = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.agg(F.count("*").alias("_nd"))
    avgdl = dls.crossJoin(F.broadcast(n_docs)).agg(
        (F.sum("dl") / F.first("_nd")).alias("_avgdl"), F.first("_nd").alias("_nd")
    )
    k1, b = 1.2, 0.75
    idf = F.log(F.lit(1.0) + (F.col("_nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    return (
        tf.join(F.broadcast(kept_df), "token")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .withColumn("_ts", term_score)
        .groupBy("doc_id")
        .agg(F.count("*").alias("_nm"), F.sum("_ts").alias("_s"))
        .crossJoin(F.broadcast(n_kept))
        .filter((F.col("_nm") == F.col("_n")) & (F.col("_n") > 0))
        .select("doc_id", F.round("_s", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


SQL_SEARCH_BM25 = f"""
WITH tok AS ({_TOK_SQL}),
tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf
  FROM tok WHERE token IN ({_search_terms_sql})
  GROUP BY doc_id, token
),
kept AS (
  SELECT token, df FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token)
  WHERE df < {DF_THRESHOLD}
),
dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok WHERE token <> '' GROUP BY doc_id),
consts AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS nd,
         (SELECT sum(dl) FROM dls)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
scored AS (
  SELECT tf.doc_id,
         count(*) AS nm,
         sum(
           ln(1.0 + (consts.nd - kept.df + 0.5) / (kept.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / consts.avgdl))
         ) AS s
  FROM tf
  JOIN kept USING (token)
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN consts
  GROUP BY tf.doc_id
  HAVING count(*) = (SELECT count(*) FROM kept)
)
SELECT doc_id, round(s, 4) AS bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def q_search_bm25_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISJUNCTIVE BM25 twin (beyond the reference's AND): any doc carrying
    at least one surviving query term scores over the terms it has — the
    semantics of the physical engine's default (non-conjunctive) serving
    path (index/wand.py exhaustive/MaxScore/BMW), here as the logical-plan
    gate twin so the driver's DuckDB oracle value-checks OR scoring too.
    Identical to q_search_bm25 minus the match-arity filter."""
    docs = _load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    tf = (
        toks.filter(F.col("token").isin(SEARCH_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    kept_df = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") < DF_THRESHOLD)
    )
    dls = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.agg(F.count("*").alias("_nd"))
    avgdl = dls.crossJoin(F.broadcast(n_docs)).agg(
        (F.sum("dl") / F.first("_nd")).alias("_avgdl"), F.first("_nd").alias("_nd")
    )
    k1, b = 1.2, 0.75
    idf = F.log(F.lit(1.0) + (F.col("_nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    return (
        tf.join(F.broadcast(kept_df), "token")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .withColumn("_ts", term_score)
        .groupBy("doc_id")
        .agg(F.sum("_ts").alias("_s"))
        .select("doc_id", F.round("_s", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


SQL_SEARCH_BM25_ANY = f"""
WITH tok AS ({_TOK_SQL}),
tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf
  FROM tok WHERE token IN ({_search_terms_sql})
  GROUP BY doc_id, token
),
kept AS (
  SELECT token, df FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token)
  WHERE df < {DF_THRESHOLD}
),
dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok WHERE token <> '' GROUP BY doc_id),
consts AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS nd,
         (SELECT sum(dl) FROM dls)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (consts.nd - kept.df + 0.5) / (kept.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / consts.avgdl))
         ) AS s
  FROM tf
  JOIN kept USING (token)
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN consts
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE search twin (beyond the reference): docs where the two query
    terms occur ADJACENTLY, ranked by occurrence count.  Logical-plan twin
    of the positional phrase search (index/positions.py): positional token
    stream (posexplode), self-equijoin on (doc_id, pos+1) — a declarative
    adjacency join Catalyst plans as one shuffle on doc_id, no per-row
    Python."""
    docs = _load(spark, sf_dir, "documents")
    w1, w2 = SEARCH_TERMS
    # literal-space split WITH empties kept: position-identical to DuckDB's
    # string_split(text, ' ') even on texts with doubled/leading spaces
    pos = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    t1 = pos.filter(F.col("token") == w1).select("doc_id", "pos")
    t2 = pos.filter(F.col("token") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos"))
    return (
        t1.join(t2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("phrase_tf"))
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(20)
    )


SQL_PHRASE_SEARCH = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
pos AS (
  SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos FROM tok
)
SELECT t1.doc_id AS doc_id, count(*)::BIGINT AS phrase_tf
FROM pos t1 JOIN pos t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
WHERE t1.token = '{SEARCH_TERMS[0]}' AND t2.token = '{SEARCH_TERMS[1]}'
GROUP BY t1.doc_id ORDER BY phrase_tf DESC, t1.doc_id LIMIT 20
"""


def q_phrase_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SITE-SCOPED phrase twin (`--phrase --site`, positions.py interval
    mask): the adjacency join runs over ONE source's docs only — the scope
    filter is pushed into the scan BEFORE the positional explode, the same
    prune-first discipline the physical path's doc_id intervals encode."""
    docs = _load(spark, sf_dir, "documents").filter(F.col("source") == "src3")
    w1, w2 = SEARCH_TERMS
    pos = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    t1 = pos.filter(F.col("token") == w1).select("doc_id", "pos")
    t2 = pos.filter(F.col("token") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos"))
    return (
        t1.join(t2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("phrase_tf"))
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(20)
    )


SQL_PHRASE_SITE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l
             FROM documents WHERE source = 'src3'),
pos AS (
  SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos FROM tok
)
SELECT t1.doc_id AS doc_id, count(*)::BIGINT AS phrase_tf
FROM pos t1 JOIN pos t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
WHERE t1.token = '{SEARCH_TERMS[0]}' AND t2.token = '{SEARCH_TERMS[1]}'
GROUP BY t1.doc_id ORDER BY phrase_tf DESC, t1.doc_id LIMIT 20
"""


def q_phrase_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch phrase workload twin (positions.phrase_topk_batch's logical
    shape): two phrases share ONE positional token scan, per-qid top-20 via
    a window rank — the offline many-phrases-one-scan serving shape."""
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents")
    w1, w2 = SEARCH_TERMS
    pos = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )

    def adj(a: str, b: str, qid: str) -> DataFrame:
        t1 = pos.filter(F.col("token") == a).select("doc_id", "pos")
        t2 = pos.filter(F.col("token") == b).select(
            "doc_id", (F.col("pos") - 1).alias("pos"))
        return (
            t1.join(t2, ["doc_id", "pos"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("phrase_tf"))
            .withColumn("qid", F.lit(qid))
        )

    un = adj(w1, w2, "q0").unionByName(adj(w2, w1, "q1"))
    w = Window.partitionBy("qid").orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
    return (
        un.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 20)
        .select("qid", "doc_id", "phrase_tf")
        .orderBy("qid", F.desc("phrase_tf"), F.asc("doc_id"))
    )


SQL_PHRASE_BATCH = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
pos AS (
  SELECT doc_id, unnest(l) AS token, generate_subscripts(l, 1) AS pos FROM tok
),
p0 AS (
  SELECT 'q0' AS qid, t1.doc_id AS doc_id, count(*)::BIGINT AS phrase_tf
  FROM pos t1 JOIN pos t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.token = '{SEARCH_TERMS[0]}' AND t2.token = '{SEARCH_TERMS[1]}'
  GROUP BY t1.doc_id ORDER BY phrase_tf DESC, t1.doc_id LIMIT 20
),
p1 AS (
  SELECT 'q1' AS qid, t1.doc_id AS doc_id, count(*)::BIGINT AS phrase_tf
  FROM pos t1 JOIN pos t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.token = '{SEARCH_TERMS[1]}' AND t2.token = '{SEARCH_TERMS[0]}'
  GROUP BY t1.doc_id ORDER BY phrase_tf DESC, t1.doc_id LIMIT 20
)
SELECT * FROM p0 UNION ALL SELECT * FROM p1
ORDER BY qid, phrase_tf DESC, doc_id
"""


# dictionary morphology (C4 at dictionary scale): surface token -> ALL
# normal forms, EVERY form counted (LemmaFinderImpl.java:40-44).  The gate
# twin uses a pinned 3-entry probe dictionary over the documents tokens;
# the engine side is the same broadcast-join + explode the analyzer's
# normalizer='dict' slot compiles to.
GATE_DICT_FORMS: dict[str, tuple[str, ...]] = {
    "spark": ("spark", "sparkle"),
    "table": ("table", "tabling"),
    "merge": ("merge",),
}


def q_dict_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token").isin(list(GATE_DICT_FORMS)))
    exc = spark.createDataFrame(
        [(k, list(v)) for k, v in GATE_DICT_FORMS.items()],
        "token string, forms array<string>",
    )
    return (
        toks.join(F.broadcast(exc), "token")
        .select("doc_id", F.explode("forms").alias("lemma"))
        .groupBy("doc_id", "lemma")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("doc_id", "lemma")
    )


SQL_DICT_MORPHOLOGY = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
x AS (
  SELECT doc_id, unnest(CASE token
           WHEN 'spark' THEN ['spark', 'sparkle']
           WHEN 'table' THEN ['table', 'tabling']
           WHEN 'merge' THEN ['merge'] END) AS lemma
  FROM tok WHERE token IN ('spark', 'table', 'merge')
)
SELECT doc_id, lemma, count(*)::BIGINT AS n
FROM x GROUP BY doc_id, lemma ORDER BY doc_id, lemma
"""


# --- site-scoped search page: the FULL reference API shape ------------------
# GET /api/search?query&site&offset&limit (ApiController.java:30-45): the
# reference scopes EVERYTHING to the site when one is given — its lemma
# table is per-site (J6), so df-threshold, candidates, and the max
# normalizer are all computed within the site's pages.  Scope = the largest
# source (deterministic tie-break by name) so the page is non-trivial at
# every sf.


def q_search_site_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    scope = (
        docs.groupBy("source").agg(F.count("*").alias("_nd"))
        .orderBy(F.desc("_nd"), F.asc("source")).limit(1)
        .select(F.col("source").alias("_site"))
    )
    sdocs = (
        docs.join(F.broadcast(scope), docs.source == F.col("_site"))
        .drop("_site")
    )
    tf = (
        _tokens(sdocs)
        .filter(F.col("token").isin(SEARCH_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    kept = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") < DF_THRESHOLD)
        .select("token")
    )
    n_kept = kept.agg(F.count("*").alias("_n"))
    cand = (
        tf.join(F.broadcast(kept), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_nm"), F.sum("tf").alias("abs_score"))
        .crossJoin(F.broadcast(n_kept))
        .filter((F.col("_nm") == F.col("_n")) & (F.col("_n") > 0))
        .select("doc_id", "abs_score")
    )
    mx = cand.agg(F.max("abs_score").alias("_mx"))
    return (
        cand.crossJoin(F.broadcast(mx))
        .select("doc_id", F.round(F.col("abs_score") / F.col("_mx"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .offset(2)
        .limit(10)
    )


SQL_SEARCH_SITE_PAGE = f"""
WITH site AS (
  SELECT source FROM documents
  GROUP BY source ORDER BY count(*) DESC, source LIMIT 1
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE source = (SELECT source FROM site)
),
tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf
  FROM tok WHERE token IN ({_search_terms_sql})
  GROUP BY doc_id, token
),
kept AS (
  SELECT token FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token)
  WHERE df < {DF_THRESHOLD}
),
cand AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS abs_score
  FROM tf JOIN kept USING (token)
  GROUP BY tf.doc_id
  HAVING count(*) = (SELECT count(*) FROM kept)
)
SELECT doc_id,
       round(abs_score::DOUBLE / (SELECT max(abs_score) FROM cand), 4) AS score
FROM cand ORDER BY score DESC, doc_id OFFSET 2 LIMIT 10
"""


# --- F11: proximity predicate (SQL-expressible two-word form) ---------------


def q_proximity_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (SearchServiceImpl.java:245-264): both words present and the
    sorted first-occurrence gap <= max_distance + len(words[0]) — the
    reference's sorted-position/original-word-length pairing replicated."""
    docs = _load(spark, sf_dir, "documents")
    p1 = F.instr(F.col("text"), PROX_W1)
    p2 = F.instr(F.col("text"), PROX_W2)
    gap = F.greatest(p1, p2) - F.least(p1, p2)
    return (
        docs.select("doc_id", p1.alias("pos1"), p2.alias("pos2"))
        .filter((F.col("pos1") > 0) & (F.col("pos2") > 0))
        .filter(
            (F.greatest("pos1", "pos2") - F.least("pos1", "pos2"))
            <= PROX_MAX + len(PROX_W1)
        )
    )


SQL_PROXIMITY_PAIR = f"""
SELECT doc_id,
       strpos(text, '{PROX_W1}')::INT AS pos1,
       strpos(text, '{PROX_W2}')::INT AS pos2
FROM documents
WHERE strpos(text, '{PROX_W1}') > 0 AND strpos(text, '{PROX_W2}') > 0
  AND greatest(strpos(text, '{PROX_W1}'), strpos(text, '{PROX_W2}'))
      - least(strpos(text, '{PROX_W1}'), strpos(text, '{PROX_W2}'))
      <= {PROX_MAX + len(PROX_W1)}
"""


# --- C8: snippet window + highlight -----------------------------------------


def q_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 (SearchServiceImpl.java:190-215): ±100-char window around the
    first match, '...' suffix, <b> highlight (single-term, SQL-expressible
    1-based form; the multi-word regex form is pytest-verified)."""
    docs = _load(spark, sf_dir, "documents")
    pos = F.instr(F.col("text"), SNIPPET_WORD)  # 1-based, 0 = absent
    snip = F.concat(F.expr(
        f"substring(text, greatest(instr(text, '{SNIPPET_WORD}') - 100, 1), "
        f"least(instr(text, '{SNIPPET_WORD}') + 100, length(text) + 1) "
        f"- greatest(instr(text, '{SNIPPET_WORD}') - 100, 1))"
    ), F.lit("..."))
    return (
        docs.filter(pos > 0)
        .select(
            "doc_id",
            F.regexp_replace(snip, SNIPPET_WORD, f"<b>{SNIPPET_WORD}</b>").alias(
                "snippet"
            ),
        )
    )


SQL_SNIPPET = f"""
SELECT doc_id,
       replace(
         substr(text,
                greatest(strpos(text, '{SNIPPET_WORD}') - 100, 1),
                least(strpos(text, '{SNIPPET_WORD}') + 100, length(text) + 1)
                - greatest(strpos(text, '{SNIPPET_WORD}') - 100, 1)) || '...',
         '{SNIPPET_WORD}', '<b>{SNIPPET_WORD}</b>') AS snippet
FROM documents WHERE strpos(text, '{SNIPPET_WORD}') > 0
"""


# --- A6-A8: statistics ------------------------------------------------------


def q_stats_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7 (StatisticsServiceImpl.java:39-40): pages and distinct lemmas
    per 'site'."""
    toks = _tokens(_load(spark, sf_dir, "documents"))
    return toks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("pages"),
        F.countDistinct("token").alias("lemmas"),
    )


SQL_STATS_PER_SOURCE = f"""
SELECT source,
       count(DISTINCT doc_id)::BIGINT AS pages,
       count(DISTINCT token)::BIGINT AS lemmas
FROM ({_TOK_SQL}) WHERE token <> '' GROUP BY source
"""


def q_stats_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (StatisticsServiceImpl.java:30-48): global totals."""
    per = q_stats_per_source(spark, sf_dir)
    return per.agg(
        F.count("*").alias("sites"),
        F.sum("pages").alias("pages"),
        F.sum("lemmas").alias("lemmas"),
    )


SQL_STATS_TOTALS = f"""
SELECT count(*)::BIGINT AS sites, sum(pages)::BIGINT AS pages, sum(lemmas)::BIGINT AS lemmas
FROM (
  SELECT source, count(DISTINCT doc_id) AS pages, count(DISTINCT token) AS lemmas
  FROM ({_TOK_SQL}) WHERE token <> '' GROUP BY source
)
"""


# --- O3 / S7 / F1-F7: pagination, point lookup, filters ---------------------


def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 (SearchServiceImpl.java:67-73): deterministic offset/limit slice."""
    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .offset(10)
        .limit(10)
    )


SQL_PAGINATION = """
SELECT doc_id, n_chars FROM documents
ORDER BY n_chars DESC, doc_id OFFSET 10 LIMIT 10
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (PageRepository.findByPath analog): predicate-pushdown point scan."""
    return (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "source", "lang", "n_chars")
    )


SQL_POINT_LOOKUP = """
SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id = 42
"""


def q_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 analog (IndexingServiceImpl.java:102-103): prefix filter + project."""
    return (
        _load(spark, sf_dir, "documents")
        .filter(F.col("text").startswith("key"))
        .select("doc_id", "source")
    )


SQL_PREFIX_FILTER = """
SELECT doc_id, source FROM documents WHERE text LIKE 'key%'
"""


# --- dedup family -----------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy, keep min doc_id."""
    return exact_dedup(_load(spark, sf_dir, "documents"), "text", "doc_id")


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fp, min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.2)."""
    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.2
    )


SQL_DEDUP_JACCARD = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM d
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2
"""


def q_near_dup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster collapse over the exact-Jaccard near-dup pairs: connected
    components close the pair evidence's transitivity (A~B, B~C ⇒ one
    cluster), component = min reachable id, kept = 1 for the
    representative.  The Spark side is iterative min-label propagation
    (operators/dedup.py dedup_components); the oracle re-derives the same
    fixpoint with a recursive CTE."""
    from .operators.dedup import dedup_components, ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    comp = dedup_components(pairs)
    return (
        comp.select(
            F.col("id").alias("doc_id"),
            F.col("component"),
            (F.col("id") == F.col("component")).cast("long").alias("kept"),
        )
        .orderBy("doc_id")
    )


SQL_NEAR_DUP_COLLAPSE = """
WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM d
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(id, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b
)
SELECT id AS doc_id, min(lab) AS component,
       (CASE WHEN min(lab) = id THEN 1 ELSE 0 END)::BIGINT AS kept
FROM reach GROUP BY id ORDER BY doc_id
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs verified by exact Jaccard.  The hash
    family is the PORTABLE md5-based universal family (operators/dedup.py
    module docstring), so the DuckDB oracle below runs the identical
    pipeline value-for-value — full rows/schema/hash check."""
    return minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, num_hashes=64, bands=16, threshold=0.2,
    )


from .operators.dedup import MERSENNE_P, MINHASH_A, MINHASH_B  # noqa: E402

_A_SQL = "[" + ", ".join(str(a) for a in MINHASH_A) + "]"
_B_SQL = "[" + ", ".join(str(b) for b in MINHASH_B) + "]"

SQL_DEDUP_MINHASH = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM d WHERE len(w) >= 3
),
sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
base AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MERSENNE_P} AS x
  FROM sh2
),
ab AS (SELECT {_A_SQL}::BIGINT[] AS a, {_B_SQL}::BIGINT[] AS b),
hs AS (
  SELECT doc_id, seed, min((a[seed + 1] * x + b[seed + 1]) % {MERSENNE_P}) AS h
  FROM base, ab, range(64) t(seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(h::VARCHAR, ',' ORDER BY seed) AS bucket
  FROM hs GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh2 GROUP BY doc_id),
scored AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.s, sb.s)) AS ni,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS nu
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, round(ni::DOUBLE / nu, 4) AS jaccard
FROM scored WHERE round(ni::DOUBLE / nu, 4) >= 0.2
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3 — portable 60-bit md5 hash, so
    the DuckDB oracle computes the identical fingerprints."""
    return simhash_near_pairs(_load(spark, sf_dir, "documents"), "text", "doc_id", 3)


_SIM_VOTES = ",\n         ".join(
    f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(60)
)
_SIM_PACK = "\n           + ".join(
    f"CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
    for i in range(60)
)

SQL_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS t
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM toks),
v AS (
  SELECT doc_id,
         {_SIM_VOTES}
  FROM h GROUP BY doc_id
),
f AS (
  SELECT doc_id,
         ({_SIM_PACK}) AS simhash
  FROM v
),
e AS (
  SELECT doc_id, simhash, i AS blk, (simhash >> (i * 15)::INT) & 32767 AS val
  FROM f, range(4) t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM e a JOIN e b ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


# --- similarity search ------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding."""
    return brute_force_topk(
        _load(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        k=10,
        exclude_id=0,
    )


SQL_ANN_COSINE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(
         list_dot_product(embedding::DOUBLE[], q.qe)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-10.  The hyperplanes are
    deterministic literals (seed 42), so the DuckDB oracle re-derives the
    same sign-pattern buckets from the same plane constants — full value
    check (the testdata embedding dim is pinned at 64)."""
    return lsh_topk(
        _load(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        k=10,
        n_planes=6,
        exclude_id=0,
    )


def _planes_sql(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """The exact hyperplane constants as a DuckDB DOUBLE[][] literal
    (repr round-trips every float to the identical IEEE double)."""
    from .operators.ann import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    return "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    ) + "]"


_PLANES6 = _planes_sql(6)
_BUCKET6 = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], pl[{i + 1}]) > 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(6)
)

SQL_ANN_LSH = f"""
WITH p AS (SELECT {_PLANES6}::DOUBLE[][] AS pl),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, ({_BUCKET6}) AS bucket
  FROM embeddings, p
),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(e, q.qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(q.qe, q.qe))),
             4) AS cos_sim
FROM b, q
WHERE b.bucket = q.qb AND vec_id <> 0
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-10: medoid quantizer = the 16 lowest-id
    vectors (operators/ann.py ivf_centroids — chosen deterministic so the
    oracle re-derives assignment from the table itself), probe the 2 lists
    nearest the query.  Full value check."""
    from .operators.ann import ivf_topk

    return ivf_topk(
        _load(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        k=10,
        n_lists=16,
        nprobe=2,
        exclude_id=0,
    )


# cosine(a, b) spelled once, exactly as the Spark side evaluates it
def _cos_sql(a: str, b: str) -> str:
    return (f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


SQL_ANN_IVF = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
         {_cos_sql('e.embedding::DOUBLE[]', 'c.cv')} AS sim
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, ev, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
  FROM sims
),
probes AS (
  SELECT c.cid FROM c, q
  ORDER BY {_cos_sql('c.cv', 'q.qe')} DESC, c.cid
  LIMIT 2
)
SELECT a.vec_id,
       round({_cos_sql('a.ev', 'q.qe')}, 4) AS cos_sim
FROM assign a, q
WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probes) AND a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id LIMIT 10
"""


def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-batch exact cosine top-5: the vec_id<3 embeddings as query
    vectors, each excluding its own row — one scan, per-Arrow-batch matmul
    + pre-cut (operators/ann.py brute_force_topk_batch).  Full value
    check: the oracle is the plain quadratic cross join."""
    from .operators.ann import brute_force_topk_batch

    emb = _load(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") < 3).collect()
    queries = {f"q{r['vec_id']}": [float(x) for x in r["embedding"]]
               for r in rows}
    exclude = {f"q{r['vec_id']}": int(r["vec_id"]) for r in rows}
    return brute_force_topk_batch(emb, queries, k=5, exclude=exclude)


SQL_ANN_BATCH = f"""
WITH q AS (
  SELECT 'q' || CAST(vec_id AS VARCHAR) AS qid, vec_id AS qv_id,
         embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.qid, e.vec_id,
         round({_cos_sql('e.embedding::DOUBLE[]', 'q.qe')}, 4) AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.qv_id
),
r AS (
  SELECT qid, vec_id, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, cos_sim FROM r WHERE rn <= 5
ORDER BY qid, cos_sim DESC, vec_id
"""


# --- text analysis ----------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        chars_per_token(F.col("text")).alias("chars_per_token"),
        stopword_ratio(F.col("text")).alias("stop_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


_stops_sql = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS nt,
         length(text) AS nc,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ({_stops_sql}))) AS ns,
         length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS np
  FROM documents
)
SELECT doc_id,
       nt::BIGINT AS n_tokens,
       round(nc::DOUBLE / greatest(nt, 1), 4) AS chars_per_token,
       round(ns::DOUBLE / greatest(nt, 1), 4) AS stop_ratio,
       round(0.4 * least(nc::DOUBLE / 200.0, 1.0)
             + 0.3 * (1.0 - least(round(np::DOUBLE / greatest(nc, 1), 4) * 5.0, 1.0))
             + 0.3 * (CASE WHEN nc::DOUBLE / greatest(nt, 1) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END),
             4) AS quality
FROM base
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budget estimators: whitespace count + BPE-ish
    pre-tokenizer piece count (functions/text.py BPE_SPLIT_RE — the regex
    subset Java and RE2 evaluate identically, so the DuckDB twin runs the
    same pattern)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws"),
        token_count_bpe(F.col("text")).alias("n_bpe"),
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS n_ws,
       len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
       ))::BIGINT AS n_bpe
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_en(F.col("text")).alias("pred_lang"))


SQL_LANG_ID = f"""
SELECT doc_id,
       CASE WHEN round(
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ({_stops_sql})))::DOUBLE
         / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')), 1), 4) >= 0.04
       THEN 'en' ELSE 'other' END AS pred_lang
FROM documents
"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline in ONE declarative plan
    (operators/pipeline.py): quality + lang-id + token-budget keep filter,
    then exact near-dup collapse on the normalized fingerprint.  Filters are
    map-side (fused into the scan); the only shuffle is the fingerprint
    hash-agg over the surviving fraction."""
    from .operators.pipeline import clean_corpus_summary

    return clean_corpus_summary(_load(spark, sf_dir, "documents"))


SQL_CLEAN_CORPUS = f"""
WITH scored AS (
  SELECT doc_id,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS nt,
         length(text) AS nc,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ({_stops_sql}))) AS ns,
         length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS np
  FROM documents
),
q AS (
  SELECT doc_id, fp, nt AS n_tokens,
         round(0.4 * least(nc::DOUBLE / 200.0, 1.0)
               + 0.3 * (1.0 - least(round(np::DOUBLE / greatest(nc, 1), 4) * 5.0, 1.0))
               + 0.3 * (CASE WHEN nc::DOUBLE / greatest(nt, 1) BETWEEN 3.0 AND 12.0
                        THEN 1.0 ELSE 0.5 END), 4) AS quality,
         CASE WHEN round(ns::DOUBLE / greatest(nt, 1), 4) >= 0.04
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM scored
),
kept AS (
  SELECT * FROM q
  WHERE pred_lang = 'en' AND quality >= 0.5 AND n_tokens >= 10
)
SELECT fp, min(doc_id)::BIGINT AS keep_id,
       arg_min(n_tokens, doc_id)::BIGINT AS n_tokens,
       arg_min(quality, doc_id) AS quality,
       count(*)::BIGINT AS n_dups
FROM kept GROUP BY fp
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens
FROM documents
"""


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling: 30% baseline, keep all of 'zh',
    5% of 'en' — md5-prefix-vs-hex-threshold predicate, so the exact same
    rows survive in Spark and DuckDB (reproducible subsampling is the
    pipeline contract)."""
    from .operators.pipeline import sample_corpus

    docs = _load(spark, sf_dir, "documents")
    return (
        sample_corpus(docs, 0.3, by="lang",
                      fractions={"zh": 1.0, "en": 0.05})
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _sample_sql() -> str:
    from .operators.pipeline import hex_threshold

    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('s42' || doc_id::VARCHAR), 1, 8) <
      CASE WHEN lang = 'zh' THEN '{hex_threshold(1.0)}'
           WHEN lang = 'en' THEN '{hex_threshold(0.05)}'
           ELSE '{hex_threshold(0.3)}' END
ORDER BY doc_id
"""


SQL_CORPUS_SAMPLE = _sample_sql()


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: contiguous 5000-token shards over the
    id order (the unit a trainer streams).  bucket_size=64 forces the
    TWO-LEVEL cumsum (per-bucket windows + broadcast prefix offsets)
    through many buckets even at gate scale, so the oracle's single
    global window certifies the parallel plan row-for-row."""
    from .operators.pipeline import pack_shards

    docs = _load(spark, sf_dir, "documents")
    return pack_shards(docs, budget_tokens=5000,
                       bucket_size=64).orderBy("doc_id")


SQL_PACK_SHARDS = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 5000.0) AS BIGINT) AS shard
FROM t ORDER BY doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs sharing ANY word 8-gram with the
    pinned benchmark slice (doc_id % 97 == 3) are dropped — benchmark
    grams broadcast, corpus grams explode map-side into a semi-join."""
    from .operators.pipeline import decontaminate

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3)
    return (decontaminate(docs, bench, n=8)
            .select("doc_id").orderBy("doc_id"))


SQL_DECONTAMINATE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 8 THEN
           list_transform(generate_series(1, len(tk) - 7),
                          i -> array_to_string(tk[i:i+7], ' '))
         ELSE []::VARCHAR[] END AS g8
  FROM tok
),
bg AS (
  SELECT DISTINCT unnest(g8) AS gram FROM g WHERE doc_id % 97 = 3
),
bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(g8) AS gram FROM g) x
  WHERE gram IN (SELECT gram FROM bg)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter: duplicated-3-gram fraction over
    the raw text AND over the text doubled with itself (planting a
    guaranteed-nonzero case so the oracle exercises the whole range)."""
    from .functions.text import repetition_ratio

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        repetition_ratio(F.col("text")).alias("rep3"),
        repetition_ratio(F.concat_ws(" ", "text", "text")).alias("rep3_doubled"),
    ).orderBy("doc_id")


def _rep_sql(tok_expr: str) -> str:
    """1 - distinct/total over word 3-grams of a token-list expression
    (0 when fewer than 3 tokens), mirroring functions.text.repetition_ratio."""
    grams = (f"CASE WHEN len({tok_expr}) >= 3 THEN "
             f"list_transform(generate_series(1, len({tok_expr}) - 2), "
             f"i -> array_to_string(({tok_expr})[i:i+2], ' ')) "
             f"ELSE []::VARCHAR[] END")
    return (f"CASE WHEN len({grams}) = 0 THEN 0.0 ELSE "
            f"round(1.0 - len(list_distinct({grams}))::DOUBLE / len({grams}), 4) END")


SQL_REPETITION = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk,
         list_filter(regexp_split_to_array(text || ' ' || text, '\\s+'), t -> t <> '') AS tk2
  FROM documents
)
SELECT doc_id, {_rep_sql('tk')} AS rep3, {_rep_sql('tk2')} AS rep3_doubled
FROM tok ORDER BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL detection + masking (the redaction step of a cleaning
    pipeline): a deterministic email + URL (with an embedded query-string
    email) is planted per doc so the counts and the mask actually fire.
    Counts run on the raw text; the mask applies URLs first (pinned
    order), so the query-string email disappears inside <URL>."""
    from .functions.text import email_count, mask_pii, url_count

    docs = _load(spark, sf_dir, "documents")
    planted = F.concat(
        F.lit("contact dev"), F.col("doc_id").cast("string"),
        F.lit("@example.com via https://repo.example/p/"),
        F.col("doc_id").cast("string"), F.lit("?u=x@y.io "),
        F.substring("text", 1, 200),
    )
    return docs.select(
        "doc_id",
        email_count(planted).alias("n_emails"),
        url_count(planted).alias("n_urls"),
        mask_pii(planted).alias("masked"),
    ).orderBy("doc_id")


_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_SQL = "https?://[^\\s]+"

SQL_PII_SCRUB = f"""
WITH p AS (
  SELECT doc_id,
         'contact dev' || doc_id::VARCHAR || '@example.com via ' ||
         'https://repo.example/p/' || doc_id::VARCHAR || '?u=x@y.io ' ||
         substr(text, 1, 200) AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_SQL}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t, '{_URL_SQL}'))::BIGINT AS n_urls,
       regexp_replace(regexp_replace(t, '{_URL_SQL}', '<URL>', 'g'),
                      '{_EMAIL_SQL}', '<EMAIL>', 'g') AS masked
FROM p ORDER BY doc_id
"""


# --- C6/C7 for HTML payloads: Jsoup .text()/.title() analog ------------------


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6+C7 for non-code corpora (SearchServiceImpl.java:191-192, 226-229 —
    Jsoup .text()/.title()): wrap each doc in a deterministic HTML scaffold
    (title, style, comment, script, entities) and extract text + title with
    the pure-Catalyst regexp chain; DuckDB applies the identical chain."""
    from .functions.html import html_text, html_title

    docs = _load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title> Doc &amp; "),
        F.col("doc_id").cast("string"),
        F.lit(" </title><style>p{color:red}</style></head><body><!-- note --><p>"),
        F.substring("text", 1, 150),
        F.lit("</p><script>var x = 1 < 2;</script></body></html>"),
    )
    return docs.select(
        "doc_id",
        html_title(html).alias("title"),
        html_text(html).alias("body_text"),
    )


def _entity_chain_sql(expr: str) -> str:
    from .functions.html import HTML_ENTITIES

    out = expr
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    return out


def _strip_chain_sql(expr: str) -> str:
    from .functions.html import HTML_STRIP_STEPS

    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


SQL_HTML_EXTRACT = f"""
WITH h AS (
  SELECT doc_id,
         '<html><head><title> Doc &amp; ' || doc_id::VARCHAR ||
         ' </title><style>p{{color:red}}</style></head><body><!-- note --><p>' ||
         substr(text, 1, 150) ||
         '</p><script>var x = 1 < 2;</script></body></html>' AS html
  FROM documents
),
s AS (
  SELECT doc_id,
         {_strip_chain_sql("html")} AS t,
         regexp_extract(html, '(?is)<title[^>]*>([^<]*)</title>', 1) AS ttl
  FROM h
)
SELECT doc_id,
       trim(regexp_replace({_entity_chain_sql("ttl")}, '\\s+', ' ', 'g')) AS title,
       trim(regexp_replace({_entity_chain_sql("t")}, '\\s+', ' ', 'g')) AS body_text
FROM s
"""


# --- U1-U3: set operations --------------------------------------------------


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (retainAll, SearchServiceImpl.java:135): docs containing 'spark'
    ∩ docs containing 'merge'."""
    docs = _load(spark, sf_dir, "documents")
    a = docs.filter(F.array_contains(tokens_col(F.col("text")), "spark")).select("doc_id")
    b = docs.filter(F.array_contains(tokens_col(F.col("text")), "merge")).select("doc_id")
    return a.intersect(b)


SQL_SET_INTERSECT = f"""
SELECT doc_id FROM ({_TOK_SQL}) WHERE token = 'spark'
INTERSECT
SELECT doc_id FROM ({_TOK_SQL}) WHERE token = 'merge'
"""


def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+U3 (addAll + HashSet semantics, SearchServiceImpl.java:109-119):
    union of two candidate sets, deduplicated."""
    docs = _load(spark, sf_dir, "documents")
    a = docs.filter(F.array_contains(tokens_col(F.col("text")), "vector")).select("doc_id")
    b = docs.filter(F.array_contains(tokens_col(F.col("text")), "stream")).select("doc_id")
    return a.union(b).distinct()


SQL_SET_UNION = f"""
SELECT DISTINCT doc_id FROM (
  SELECT doc_id FROM ({_TOK_SQL}) WHERE token = 'vector'
  UNION ALL
  SELECT doc_id FROM ({_TOK_SQL}) WHERE token = 'stream'
)
"""


# --- C-family scalar functions ----------------------------------------------


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C9/C10-family scalar projection: lower/upper, substring math,
    HALF_UP rounding, concat — one whole-stage-codegen projection."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("source").alias("src_upper"),
        F.substring("text", 1, 20).alias("head20"),
        F.round(F.col("n_chars") / 7.0, 2).alias("sevenths"),
        F.concat_ws(":", "lang", "source").alias("lang_src"),
        F.length("text").alias("text_len"),
    )


SQL_SCALAR_FUNCS = """
SELECT doc_id,
       upper(source) AS src_upper,
       substr(text, 1, 20) AS head20,
       round(n_chars / 7.0, 2) AS sevenths,
       lang || ':' || source AS lang_src,
       length(text)::INT AS text_len
FROM documents
"""


# --- embedding-cosine near-dup pairs ----------------------------------------


def q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact; the LSH twin is rows-only)."""
    from .operators.ann import cosine_pairs_exact

    return cosine_pairs_exact(_load(spark, sf_dir, "embeddings"), threshold=0.35)


SQL_EMBED_DEDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
         4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(
        list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
        4) >= 0.35
"""


def q_embed_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup.  Deterministic literal hyperplanes
    (seed 42) let the DuckDB oracle re-derive the same buckets — full value
    check; recall vs exact additionally tested in pytest."""
    from .operators.ann import cosine_pairs_lsh

    return cosine_pairs_lsh(_load(spark, sf_dir, "embeddings"), threshold=0.35,
                            n_planes=6)


SQL_EMBED_DEDUP_LSH = f"""
WITH p AS (SELECT {_PLANES6}::DOUBLE[][] AS pl),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, ({_BUCKET6}) AS bucket
  FROM embeddings, p
)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_dot_product(a.e, b2.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))),
             4) AS cos_sim
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_dot_product(a.e, b2.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))),
            4) >= 0.35
"""


# --- sessionization (window functions over event time) ----------------------

SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization: a new session starts after a >30-min gap.
    lag + conditional cumsum windows — the classic pattern (reference has no
    window functions, SURVEY §2.5; this is the scale extension)."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))  # exact; NTZ/TZ-session safe
    gap = ep - F.lag(ep).over(w_ord)
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_s)
        .withColumn("session_id", F.sum("_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.unix_micros(F.col("ts").cast("timestamp")))
             - F.min(F.unix_micros(F.col("ts").cast("timestamp")))).alias("duration_us"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful STREAMING sessionization (``applyInPandasWithState``): the
    events table is replayed as 3 time-ordered micro-batches and per-user
    state carries the open session across batch boundaries
    (streaming/sessionize.py).  Verified against the SAME DuckDB oracle as
    the batch sessionizer — stream == batch == SQL.  Genuinely stateful:
    cross-batch session stitching is additionally unit-tested with dense
    synthetic bursts cut mid-session (tests/test_streaming_sessionize.py)."""
    import tempfile

    from .streaming.sessionize import run_sessionize_stream, stage_time_ordered

    tmp = tempfile.mkdtemp(prefix="se_spark_sess_stream_")
    stage_time_ordered(f"{sf_dir}/events.parquet", f"{tmp}/src", n_slices=3)
    return run_sessionize_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with BOUNDED state
    (``dropDuplicatesWithinWatermark``): the events table is replayed as 3
    time-ordered micro-batches where every batch is prefixed with a
    redelivery of the previous slice's tail (the at-least-once failure
    mode), and the deduped stream must equal the duplicate-free base
    table exactly — stream == batch distinct == SQL."""
    import tempfile

    from .streaming.dedup import run_dedup_stream, stage_with_duplicates

    tmp = tempfile.mkdtemp(prefix="se_spark_dedup_stream_")
    stage_with_duplicates(f"{sf_dir}/events.parquet", f"{tmp}/src",
                          n_slices=3)
    out = run_dedup_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")
    return (
        out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
            F.round("value", 4).alias("value"),
        )
        .orderBy("event_id")
    )


SQL_STREAM_DEDUP = """
SELECT event_id, user_id, epoch_us(ts)::BIGINT AS ts_us, event_type,
       round(value, 4) AS value
FROM events ORDER BY event_id
"""


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*)::BIGINT AS n_events,
       (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT AS duration_us,
       round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, session_id
"""


# --- event-time tumbling window (streaming-adjacent; §2.9 extension) --------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation over the events table —
    the batch twin of the Structured Streaming windowed agg (the same
    ``window()`` expression runs under readStream + watermark; parity is
    tested in tests/test_streaming_window.py).  The window start is emitted
    as EPOCH MICROSECONDS (cast through timestamp like sessionize does) so
    the DuckDB comparison is timezone-free — full value check."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("hour_us"),
            "event_type", "n", "total",
        )
    )


SQL_EVENTS_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2
"""


# --- registry ---------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tf_per_doc": q_tf_per_doc,
    "df_per_source": q_df_per_source,
    "dict_lookup": q_dict_lookup,
    "search_sumtf": q_search_sumtf,
    "search_bm25": q_search_bm25,
    "search_bm25_any": q_search_bm25_any,
    "phrase_search": q_phrase_search,
    "phrase_site": q_phrase_site,
    "phrase_batch": q_phrase_batch,
    "dict_morphology": q_dict_morphology,
    "search_site_page": q_search_site_page,
    "proximity_pair": q_proximity_pair,
    "snippet": q_snippet,
    "stats_per_source": q_stats_per_source,
    "stats_totals": q_stats_totals,
    "pagination": q_pagination,
    "point_lookup": q_point_lookup,
    "prefix_filter": q_prefix_filter,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "near_dup_collapse": q_near_dup_collapse,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "ann_cosine_topk": q_ann_cosine,
    "ann_lsh_topk": q_ann_lsh,
    "ann_ivf_topk": q_ann_ivf,
    "ann_batch_topk": q_ann_batch,
    "text_quality": q_text_quality,
    "token_count": q_token_count,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "repetition_ratio": q_repetition,
    "pii_scrub": q_pii_scrub,
    "corpus_sample": q_corpus_sample,
    "pack_shards": q_pack_shards,
    "decontaminate": q_decontaminate,
    "clean_corpus": q_clean_corpus,
    "set_intersect": q_set_intersect,
    "set_union_distinct": q_set_union_distinct,
    "scalar_funcs": q_scalar_funcs,
    "html_extract": q_html_extract,
    "events_hourly_window": q_events_hourly,
    "embed_dedup_cosine": q_embed_dedup,
    "embed_dedup_lsh": q_embed_dedup_lsh,
    "sessionize_events": q_sessionize,
    "sessionize_stream": q_sessionize_stream,
    "stream_dedup": q_stream_dedup,
}

ORACLE: dict[str, str] = {
    "tf_per_doc": SQL_TF_PER_DOC,
    "df_per_source": SQL_DF_PER_SOURCE,
    "dict_lookup": SQL_DICT_LOOKUP,
    "search_sumtf": SQL_SEARCH_SUMTF,
    "search_bm25": SQL_SEARCH_BM25,
    "search_bm25_any": SQL_SEARCH_BM25_ANY,
    "phrase_search": SQL_PHRASE_SEARCH,
    "phrase_site": SQL_PHRASE_SITE,
    "search_site_page": SQL_SEARCH_SITE_PAGE,
    "proximity_pair": SQL_PROXIMITY_PAIR,
    "snippet": SQL_SNIPPET,
    "stats_per_source": SQL_STATS_PER_SOURCE,
    "stats_totals": SQL_STATS_TOTALS,
    "pagination": SQL_PAGINATION,
    "point_lookup": SQL_POINT_LOOKUP,
    "prefix_filter": SQL_PREFIX_FILTER,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "near_dup_collapse": SQL_NEAR_DUP_COLLAPSE,
    "ann_cosine_topk": SQL_ANN_COSINE,
    "text_quality": SQL_TEXT_QUALITY,
    "phrase_batch": SQL_PHRASE_BATCH,
    "dict_morphology": SQL_DICT_MORPHOLOGY,
    "token_count": SQL_TOKEN_COUNT,
    "lang_id": SQL_LANG_ID,
    "fingerprint": SQL_FINGERPRINT,
    "repetition_ratio": SQL_REPETITION,
    "pii_scrub": SQL_PII_SCRUB,
    "corpus_sample": SQL_CORPUS_SAMPLE,
    "pack_shards": SQL_PACK_SHARDS,
    "decontaminate": SQL_DECONTAMINATE,
    "clean_corpus": SQL_CLEAN_CORPUS,
    "set_intersect": SQL_SET_INTERSECT,
    "set_union_distinct": SQL_SET_UNION,
    "scalar_funcs": SQL_SCALAR_FUNCS,
    "html_extract": SQL_HTML_EXTRACT,
    "embed_dedup_cosine": SQL_EMBED_DEDUP,
    "sessionize_events": SQL_SESSIONIZE,
    # the streaming sessionizer must equal the batch result exactly, so it
    # shares the batch oracle verbatim (stream == batch == SQL):
    "sessionize_stream": SQL_SESSIONIZE,
    # r2: the five previously rows-only queries now have full value oracles —
    # the sketch hash family is portable (md5-based universal hashing), the
    # LSH hyperplanes are shared literals, and the hourly window is compared
    # in epoch microseconds (tz-free):
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "ann_lsh_topk": SQL_ANN_LSH,
    "ann_ivf_topk": SQL_ANN_IVF,
    "ann_batch_topk": SQL_ANN_BATCH,
    "embed_dedup_lsh": SQL_EMBED_DEDUP_LSH,
    "events_hourly_window": SQL_EVENTS_HOURLY,
    "stream_dedup": SQL_STREAM_DEDUP,
}
