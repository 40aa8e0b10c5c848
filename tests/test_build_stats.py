"""Build statistics collected in passing (analysis-kernel and merge-encoder
accumulators) against the queries they replaced.

``build_index`` derives avgdl, the manifests' lineage and written counts,
the sites sidecar and the positional stats from values the analysis kernel
and the merge encoder tally while they run, instead of querying the
corpus and the written files again.  The oracle here IS those queries: the
gaps-and-islands window for sites, the per-segment lineage aggregation
over the docs, the aggregation over the written postings and positions,
and Σ tf / n_docs for avgdl.  The corpus interleaves repos inside every
segment and spreads each island over several partitions, so sites must be
rejoined from per-batch fragments.  The job-count guard pins that these
statistics ride jobs that already run."""

from __future__ import annotations

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from searchengine_spark.analyzer import analyze
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import (
    INDEX_OUT_SCHEMA,
    NORMS_BUCKET,
    NORMS_LEMMA,
    SITES_SCHEMA,
    build_index,
)
from searchengine_spark.index.checkpoint import all_manifests
from searchengine_spark.streaming.incremental import rebuild_segments

N_DOCS = 180
N_SEGMENTS = 3


def _docs(spark, rows, drop=()):
    """Ingested-shape docs whose repos interleave in id space (repo of id i
    is a function of i, not a contiguous block) and whose rows are spread
    round-robin over partitions, so every island spans several batches."""
    data = [(f"org/r{(i * 7 // 3) % 4}", r[1], r[2], r[3], r[4], i)
            for i, r in enumerate(rows) if i not in drop]
    df = spark.createDataFrame(
        data, "repo string, path string, commit string, lang string, "
              "content string, doc_id long")
    return (df.withColumn("sha256", F.sha2("content", 256))
            .repartition(5).localCheckpoint())


def _oracle(spark, docs, idx):
    """Per-segment stats and sites rows from queries over the docs and the
    written artifacts."""
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]
    seg = (F.col("doc_id") / seg_size).cast("int").alias("segment")
    lineage = {
        r["segment"]: r for r in docs.groupBy(seg).agg(
            F.count("*").alias("docs"),
            F.expr("bit_xor(cast(conv(substring(sha256, 1, 15), 16, 10) "
                   "as bigint))").alias("sha_xor")).collect()}
    rows = (spark.read.schema(INDEX_OUT_SCHEMA).parquet(f"{idx}/data")
            if _has(idx, "data") else None)
    data = (rows.filter(F.col("bucket") != NORMS_BUCKET)
            if rows is not None else None)
    written = {
        r["segment"]: r for r in data.groupBy("segment").agg(
            F.count("*").alias("terms"), F.sum("df").alias("postings"),
            F.sum(F.length("postings")
                  + F.length("tfs")).alias("bytes")).collect()
    } if data is not None else {}
    # one norms row per segment, in its own bucket
    norms = {
        r["segment"]: r for r in rows.filter(F.col("bucket") == NORMS_BUCKET)
        .select("segment", "lemma", "df", "pstream",
                (F.length("postings") + F.length("tfs")).alias("bytes"))
        .collect()
    } if rows is not None else {}
    # a positional fetch moves postings + tfs + pstream
    pos = {
        r["segment"]: r for r in data.filter(F.col("pstream").isNotNull())
        .groupBy("segment").agg(
            F.sum("df").alias("p"),
            F.sum(F.length("postings") + F.length("tfs")
                  + F.length("pstream")).alias("b")).collect()
    } if data is not None else {}
    sites = sorted(
        tuple(r) for r in docs.select(seg, "repo", "doc_id")
        .withColumn("island", F.col("doc_id") - F.row_number().over(
            Window.partitionBy("segment", "repo").orderBy("doc_id")))
        .groupBy("segment", "repo", "island")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .select("segment", "repo", "lo", "hi").collect())
    return lineage, written, pos, sites, norms


def _has(idx, sub):
    import glob

    return bool(glob.glob(f"{idx}/{sub}/segment=*"))


def _check(spark, docs, idx):
    """Every manifest field, the meta stats and the sites rows equal the
    oracle queries.  Returns meta."""
    lineage, written, pos, sites, norms = _oracle(spark, docs, idx)
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    manifests = all_manifests(idx)
    assert [m["segment"] for m in manifests] == list(range(meta["n_segments"]))
    for m in manifests:
        s = m["segment"]
        lin, wrt, p, nr = (lineage.get(s), written.get(s), pos.get(s),
                           norms.get(s))
        want = {
            "segment": s,
            "doc_count": lin["docs"] if lin else 0,
            "term_count": wrt["terms"] if wrt else 0,
            "posting_count": wrt["postings"] if wrt else 0,
            "posting_bytes": wrt["bytes"] if wrt else 0,
            "input_sha_xor": (lin["sha_xor"] or 0) if lin else 0,
            "pos_posting_bytes": p["b"] if p else 0,
            "norm_bytes": nr["bytes"] if nr else 0,
            "status": "done",
        }
        # a segment with postings has its norms row, keyed by the
        # reserved lemma, without positions; its df counts the docs
        # with dl > 0
        assert (nr is not None) == (wrt is not None), s
        if nr is not None:
            assert nr["lemma"] == NORMS_LEMMA and nr["pstream"] is None
            assert nr["df"] == sum(
                1 for r in docs.filter(F.floor(F.col("doc_id")
                                               / meta["seg_size"]) == s)
                .select("content").collect() if analyze(r["content"]))
        # every written row carries positions
        assert (p["p"] if p else 0) == want["posting_count"], s
        assert m == want, s
    assert meta["n_docs"] == docs.count()
    tot_p = sum(r["postings"] for r in written.values())
    tot_b = sum(r["bytes"] for r in written.values())
    pos_p = sum(r["p"] for r in pos.values())
    pos_b = sum(r["b"] for r in pos.values())
    if tot_p:
        assert meta["bytes_per_posting"] == round(tot_b / tot_p, 3)
        assert meta["posting_bytes"] == tot_b
        assert meta["pos_bytes_per_posting"] == round(pos_b / pos_p, 3)
        assert meta["pos_posting_bytes"] == pos_b
    assert meta["has_positions"] is True
    assert meta["norm_bytes"] == sum(r["bytes"] for r in norms.values())
    got_sites = sorted(tuple(r) for r in spark.read.schema(SITES_SCHEMA)
                       .parquet(f"{idx}/sites")
                       .select("segment", "repo", "lo", "hi").collect()
                       ) if _has(idx, "sites") else []
    assert got_sites == sites
    return meta


def _avgdl(docs, n_docs):
    """Σ dl / n_docs, each doc's dl its lemma-stream length under the
    pure-Python analyzer."""
    total = sum(len(analyze(r["content"]))
                for r in docs.select("content").collect())
    return float(total) / n_docs if n_docs else 1.0


def test_stats_match_the_queries_they_replace(spark, tmp_path):
    rows = gen_corpus_local(N_DOCS)
    docs = _docs(spark, rows)
    idx = str(tmp_path / "idx")

    # fresh positional build
    meta = build_index(docs, idx, n_segments=N_SEGMENTS, salt=4,
                       n_buckets=8, resume=False)
    assert meta["timings"]["scan_s"] >= 0
    meta = _check(spark, docs, idx)
    assert meta["avgdl"] == _avgdl(docs, N_DOCS)
    sites = _oracle(spark, docs, idx)[3]
    islands = {}
    for s, repo, _, _ in sites:
        islands[(s, repo)] = islands.get((s, repo), 0) + 1
    assert max(islands.values()) > 1  # islands split by other repos' ids
    avgdl = meta["avgdl"]

    # one-segment rebuild over changed content: the fixed-avgdl route
    lo, hi = meta["seg_size"], 2 * meta["seg_size"]  # segment 1
    changed = [(r[0], r[1], r[2], r[3],
                r[4] + " zz_stats_marker" if lo <= i < hi and i % 9 == 4
                else r[4])
               for i, r in enumerate(rows)]
    docs = _docs(spark, changed)
    rebuild_segments(docs, idx, [1])
    meta = _check(spark, docs, idx)
    assert meta["avgdl"] == avgdl

    # deleted ids leave holes that split islands further
    holes = {i for i in range(N_DOCS) if i % 5 == 2 or 70 <= i < 75}
    docs = _docs(spark, changed, drop=holes)
    rebuild_segments(docs, idx, list(range(N_SEGMENTS)))
    _check(spark, docs, idx)
    fresh = str(tmp_path / "fresh_holes")
    meta = build_index(docs, fresh, n_segments=N_SEGMENTS, salt=4,
                       n_buckets=8, resume=False)
    meta = _check(spark, docs, fresh)
    assert meta["avgdl"] == _avgdl(docs, N_DOCS - len(holes))

    # emptied corpus
    docs = docs.limit(0)
    rebuild_segments(docs, idx, list(range(N_SEGMENTS)))
    meta = _check(spark, docs, idx)
    assert meta["n_docs"] == 0


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_job_count(spark, tmp_path):
    """A fresh positional build launches at most 6 Spark jobs: the
    count/max/sha scan (a map stage and its result), the runs checkpoint,
    the one merge-write of postings and positions (two) and the sites
    write.  A one-segment rebuild runs the same jobs.  Statistics
    re-derived by queries, or a second dataset written beside data/, would
    each add jobs here."""
    docs = _docs(spark, gen_corpus_local(120))
    idx = str(tmp_path / "idx")
    fresh = _jobs(spark, "stats-fresh", lambda: build_index(
        docs, idx, n_segments=N_SEGMENTS, salt=4, n_buckets=8,
        resume=False))
    assert fresh <= 6
    rebuild = _jobs(spark, "stats-rebuild",
                    lambda: rebuild_segments(docs, idx, [1]))
    assert rebuild <= 6
