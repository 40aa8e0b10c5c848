"""Physical-plan quality regressions: the plans we designed for must be the
plans Catalyst actually picks (broadcasts, pushdown, codegen, no stray
Python/shuffles).  Guard rails for the 100 TB story."""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dictionary_join_is_broadcast(spark, docs, logical_index):
    from searchengine_spark.operators.search import conjunctive_candidates, matched_lemmas

    tf, lemmas = logical_index
    m = matched_lemmas(spark, lemmas, ["tamok", "velsor"], threshold=50)
    plan = _plan(conjunctive_candidates(tf, m))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # query side must never sort-merge


def test_point_lookup_pushes_filters(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "source")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull(doc_id)" in plan
    # column pruning: text column not read
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("text" not in ln for ln in scan)


def test_arrow_analyzer_uses_arrow_not_pickle(spark, corpus_rows):
    """The logical index's tf is ONE Arrow map over the build's analysis
    kernel: no shuffle (a doc's tokens sit in its own row) and never
    row-pickled Python."""
    from searchengine_spark.operators.tf_df import term_frequencies

    # plain input so the plan shows only the operator's own nodes
    docs = spark.createDataFrame(
        [(r[0], i, r[4]) for i, r in enumerate(corpus_rows[:20])],
        "repo string, doc_id long, content string")
    plan = _plan(term_frequencies(docs))
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_exact_dedup_single_shuffle(spark):
    from searchengine_spark.operators.dedup import exact_dedup

    # plain scan input so the plan shows only the operator's own exchanges
    # (the ingest lineage adds its own); dedup itself must be exactly one
    # partial+final hash-agg shuffle
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup(raw, "text", "doc_id"))
    assert plan.count("Exchange") == 1


def test_topk_compiles_to_take_ordered(spark, docs):
    df = docs.select("doc_id", "repo").orderBy(F.desc("doc_id")).limit(5)
    assert "TakeOrderedAndProject" in _plan(df)


def test_index_read_prunes_buckets(spark, tmp_path, docs):
    from searchengine_spark.index.builder import build_index, hash_bucket, read_index

    out = str(tmp_path / "idx")
    build_index(docs, out, n_segments=2, salt=2, n_buckets=8)
    pruned = read_index(spark, out, ["tamok"])
    plan = _plan(pruned)
    bucket = hash_bucket("tamok", 8)
    # partition pruning on the bucket= dir must reach the scan
    assert f"bucket#" in plan or "PartitionFilters" in plan
    rows = pruned.select("bucket").distinct().collect()
    assert [r["bucket"] for r in rows] == [bucket]


def test_engine_distributed_reads_prune_buckets_uncached(spark, tmp_path, docs):
    """The engine's distributed top-k and batch plans read only the query
    terms' bucket= dirs and never an in-memory (Spark-cached) relation."""
    from searchengine_spark.index.builder import build_index, hash_bucket
    from searchengine_spark.index.wand import QueryEngine

    out = str(tmp_path / "idx")
    build_index(docs, out, n_segments=2, salt=2, n_buckets=8)
    assert hash_bucket("tamok", 8) != hash_bucket("velsor", 8)
    eng = QueryEngine(spark, out)
    for df in (eng.topk("tamok velsor", 5),
               eng.topk_batch({"a": "tamok velsor", "b": "velsor"}, 5)):
        plan = _plan(df)
        scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert scans and all(re.search(r"PartitionFilters: \[.*bucket#\d+ IN \(", ln)
                             for ln in scans), plan
        assert "InMemoryTableScan" not in plan, plan


def test_isin_expr_selects_as_isin(spark):
    """The one-call IN predicate the index reads use selects exactly what
    Column.isin selects, for strings (quotes and backslashes included) and
    for int and long columns, and plans as the same INSET."""
    from searchengine_spark.index.builder import isin_expr

    vals = ["it's", "a\\b", "x\\'y", "квант", "uni\\u0041", "tab\there"]
    vals += [f"w{i}" for i in range(12)]
    df = spark.createDataFrame(
        [(v,) for v in vals + ["other", "A", "unia", "x'y", "ab"]],
        "lemma string")
    got = df.filter(isin_expr("lemma", vals))
    assert sorted(r[0] for r in got.collect()) == sorted(vals)
    assert "INSET" in got._jdf.queryExecution().optimizedPlan().toString()
    assert df.filter(isin_expr("lemma", [])).count() == 0
    assert df.filter(isin_expr("lemma", ["A"])).count() == 1
    ids = spark.range(40).withColumn("seg", F.col("id").cast("int") % 7)
    for vals in ([3, 11, 39], list(range(0, 40, 3)), [2, 5]):
        for col in ("id", "seg"):
            got = ids.filter(isin_expr(col, vals))
            assert (sorted(r[0] for r in got.collect())
                    == sorted(r[0] for r in ids.filter(
                        F.col(col).isin(vals)).collect()))
    assert "INSET" in ids.filter(isin_expr("id", list(range(12)))
                                 )._jdf.queryExecution().optimizedPlan().toString()


def test_proximity_candidate_join_not_forced_broadcast(spark, docs):
    """The pre-top-k candidate set is unbounded for common terms, so the
    content join must leave strategy choice to AQE — no broadcast hint
    (the <=limit final-page join in search() is the only forced one)."""
    from searchengine_spark.operators.proximity import proximity_filter

    # plain scans so the only hints in the plan would be the operator's own
    # (the ingest lineage carries a legitimate tiny-offsets broadcast)
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("source").alias("repo"), "doc_id", F.col("text").alias("content")
    )
    cand = raw.select("repo", "doc_id")  # stand-in unbounded candidate set
    out = proximity_filter(cand, raw, "tamok velsor")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_bucketed_embeddings_probe_prunes_partitions(spark, tmp_path):
    """A probe against the persisted bucketed embedding table must read ONLY
    the probed bucket= directories (partition pruning at the file listing)
    and return exactly what the ad-hoc recompute-everything path returns."""
    from searchengine_spark.operators.ann import (
        hyperplanes, lsh_topk, lsh_topk_bucketed, probe_buckets,
        read_embeddings_probed, write_embeddings_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "emb_lsh")
    write_embeddings_bucketed(emb, path, n_planes=6, seed=42)

    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    probes = probe_buckets(q, hyperplanes(64, 6, 42), 4)

    pruned = read_embeddings_probed(spark, path, probes)
    # 1. the scan's partition filter prunes: every input file lives under a
    #    probed bucket= dir
    files = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    assert files and all(
        any(f"bucket={p}/" in f for p in probes) for f in files
    )
    assert "PartitionFilters" in _plan(pruned)
    # 2. result parity with the ad-hoc path (same planes/probes)
    got = [(r["vec_id"], r["cos_sim"]) for r in
           lsh_topk_bucketed(spark, path, q, 10, exclude_id=3, n_probes=4).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in
            lsh_topk(emb, q, 10, n_planes=6, exclude_id=3, n_probes=4).collect()]
    assert got == want and got


def test_multiprobe_lsh_recall(spark):
    """Multi-probe LSH: strictly better recall than single-probe at a
    bounded scan fraction, and >=0.9 recall in the near-dup regime the
    sketch is designed for."""
    from searchengine_spark.operators.ann import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in
             brute_force_topk(emb, q, 10, exclude_id=0).collect()]
    multi = {r["vec_id"] for r in
             lsh_topk(emb, q, 10, n_planes=6, exclude_id=0, n_probes=16).collect()}
    single = {r["vec_id"] for r in
              lsh_topk(emb, q, 10, n_planes=6, exclude_id=0, n_probes=1).collect()}
    assert len(multi & set(exact)) > len(single & set(exact))
    from searchengine_spark.operators.ann import (
        hyperplanes, lsh_bucket_col, probe_buckets,
    )

    n = emb.count()
    planes = hyperplanes(64, 6, 42)
    probes = probe_buckets(q, planes, 16)
    frac = (
        emb.withColumn("_b", lsh_bucket_col(F.col("embedding"), planes))
        .filter(F.col("_b").isin(probes)).count() / n
    )
    assert frac <= 0.35  # bounded scan: 16 of 64 buckets, not the table

    # design regime: query = planted near-dup (source vector + small noise,
    # cos ~0.99); the source must be retrieved with few probes >=9/10 times.
    # (sf0.01's max pairwise cos is ~0.51 — weak-similarity top-k recall is
    # information-theoretically poor for ANY sublinear sign-LSH there.)
    import numpy as np

    rng = np.random.default_rng(7)
    base = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
            for r in emb.filter(F.col("vec_id") < 10).collect()}
    hits = 0
    for vid, v in base.items():
        noisy = (v + 0.1 * np.linalg.norm(v) / 8 * rng.standard_normal(64)).tolist()
        got = {r["vec_id"] for r in
               lsh_topk(emb, noisy, 3, n_planes=6, n_probes=4).collect()}
        hits += vid in got
    assert hits >= 9


def test_ivf_partitioned_probe_prunes_and_matches_adhoc(spark, tmp_path):
    """An IVF probe against the persisted inverted-file table must read
    ONLY the probed list_id= directories, and return exactly what the
    ad-hoc assign-everything path returns."""
    from searchengine_spark.operators.ann import (
        _ivf_probes, ivf_centroids, ivf_topk, ivf_topk_partitioned,
        read_embeddings_ivf_probed, write_embeddings_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "emb_ivf")
    # medoid pinned EXPLICITLY: this test derives probes from the seed
    # centroids out-of-band, which only matches a medoid-pinned table
    # (kmeans became the persisted-layout default in round 5)
    write_embeddings_ivf(emb, path, n_lists=16, quantizer="medoid")

    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    probes = _ivf_probes(q, ivf_centroids(emb, 16), 2)

    scan = read_embeddings_ivf_probed(spark, path, probes)
    files = [r[0] for r in scan.select(F.input_file_name()).distinct().collect()]
    assert files and all(
        any(f"list_id={p}/" in f for p in probes) for f in files
    )
    assert "PartitionFilters" in _plan(scan)
    got = [(r["vec_id"], r["cos_sim"]) for r in
           ivf_topk_partitioned(spark, path, q, 10, nprobe=2, exclude_id=3).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in
            ivf_topk(emb, q, 10, n_lists=16, nprobe=2, exclude_id=3).collect()]
    assert got == want and got


def test_ivf_kmeans_quantizer_balances_and_serves(spark, tmp_path):
    """Spherical-k-means refinement (round-4 backlog item): same sidecar
    contract as the medoid quantizer — the probe path is agnostic to which
    quantizer pinned the centroids — with better list balance on the same
    data and no loss of aggregate recall."""
    import statistics

    from searchengine_spark.operators.ann import (
        brute_force_topk, ivf_assign_col, ivf_centroids,
        ivf_centroids_kmeans, ivf_topk, ivf_topk_partitioned,
        write_embeddings_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    med = ivf_centroids(emb, 16)
    km = ivf_centroids_kmeans(emb, 16, n_iter=3)

    # shape contract: one unit-norm vector per list id, ids preserved
    assert [c for c, _ in km] == [c for c, _ in med]
    for _, v in km:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9

    def sizes(cents):
        return sorted(
            r["n"]
            for r in emb.withColumn("_l", ivf_assign_col(F.col("embedding"), cents))
            .groupBy("_l").agg(F.count("*").alias("n")).collect()
        )

    s_med, s_km = sizes(med), sizes(km)
    assert sum(s_km) == emb.count()          # every vector still assigned
    assert s_km[-1] <= s_med[-1]             # hottest list no hotter
    assert statistics.pstdev(s_km) <= statistics.pstdev(s_med)

    # aggregate recall over non-medoid queries at nprobe=4 stays healthy
    # (uniform synthetic 64-d data is IVF-hostile; measured 26/50 kmeans
    # vs 23/50 medoid — floor leaves noise margin)
    hits = 0
    for qid in (100, 201, 333, 407, 55):
        q = [float(x) for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]]
        exact = {r["vec_id"] for r in brute_force_topk(emb, q, 10, exclude_id=qid).collect()}
        got = {r["vec_id"] for r in
               ivf_topk(emb, q, 10, nprobe=4, exclude_id=qid, centroids=km).collect()}
        hits += len(got & exact)
    assert hits >= 18

    # persisted layout round-trips through the SAME probe path — and the
    # DEFAULT write path pins the kmeans quantizer (r4 VERDICT item 7)
    import json as _json

    path = str(tmp_path / "emb_ivf_km")
    write_embeddings_ivf(emb, path, n_lists=16, kmeans_iter=3)
    with open(f"{path}/_ivf_meta.json") as fh:
        meta = _json.load(fh)
    assert meta["quantizer"] == "kmeans"
    pinned = [(int(c), v) for c, v in meta["centroids"]]
    s_pinned = sizes(pinned)
    assert s_pinned[-1] <= s_med[-1]  # balanced-lists on the default path
    q = [float(x) for x in emb.filter(F.col("vec_id") == 100).first()["embedding"]]
    got = [(r["vec_id"], r["cos_sim"]) for r in
           ivf_topk_partitioned(spark, path, q, 10, nprobe=4, exclude_id=100).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in
            ivf_topk(emb, q, 10, nprobe=4, exclude_id=100, centroids=km).collect()]
    assert got == want and got
    emb.unpersist()


def test_enrich_hits_scan_is_pushed_and_broadcast(spark, tmp_path):
    """The DTO enrich step must (a) push the doc_id IN filter into the
    store's parquet scan (row-group pruning over doc_id-sorted files — the
    corpus is never read at query time) and (b) broadcast the <=k score
    rows, never sort-merge."""
    from searchengine_spark.corpus import gen_corpus_local
    from searchengine_spark.index.serve import enrich_hits
    from searchengine_spark.schema import DOCS_SCHEMA
    from searchengine_spark.streaming.store import init_store

    rows = gen_corpus_local(30)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    dto = enrich_hits(spark, store, "tamok", [(3, 1.5), (11, 1.0)])
    plan = _plan(dto)
    assert "PushedFilters: [In(doc_id" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("sha256" not in ln for ln in scan)  # pruned columns


def test_ann_batch_matches_single_path_and_plan(spark):
    """brute_force_topk_batch must be row-identical to a per-query
    brute_force_topk loop, and its plan must be a single scan + MapInArrow
    pre-cut + one window merge — no join of any kind (the N x Q explosion
    never exists as rows)."""
    from searchengine_spark.operators.ann import (
        brute_force_topk,
        brute_force_topk_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    seeds = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id") < 4).collect()}
    queries = {f"q{i}": v for i, v in seeds.items()}
    exclude = {f"q{i}": i for i in seeds}

    batch = brute_force_topk_batch(emb, queries, k=7, exclude=exclude)
    got = [(r["qid"], r["vec_id"], r["cos_sim"]) for r in batch.collect()]
    want = []
    for i, v in sorted(seeds.items()):
        for r in brute_force_topk(emb, v, k=7, exclude_id=i).collect():
            want.append((f"q{i}", r["vec_id"], r["cos_sim"]))
    assert got == want and len(got) == 4 * 7

    plan = _plan(batch)
    assert "MapInArrow" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan

    # empty query set: empty result, stable schema
    assert brute_force_topk_batch(emb, {}, k=5).count() == 0


def test_ivf_batch_matches_single_probe_path(spark, tmp_path):
    """ivf_topk_batch_partitioned: per-qid row identity with the
    single-query probed path, scan pruned to the UNION of probed lists."""
    from searchengine_spark.operators.ann import (
        ivf_topk_batch_partitioned,
        ivf_topk_partitioned,
        write_embeddings_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_embeddings_ivf(emb, path, n_lists=8)

    seeds = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id") < 3).collect()}
    queries = {f"q{i}": v for i, v in seeds.items()}
    exclude = {f"q{i}": i for i in seeds}

    batch = ivf_topk_batch_partitioned(spark, path, queries, k=6, nprobe=2,
                                       exclude=exclude)
    got = [(r["qid"], r["vec_id"], r["cos_sim"]) for r in batch.collect()]
    want = []
    for i, v in sorted(seeds.items()):
        for r in ivf_topk_partitioned(spark, path, v, k=6, nprobe=2,
                                      exclude_id=i).collect():
            want.append((f"q{i}", r["vec_id"], r["cos_sim"]))
    assert got == want and got

    # the scan is partition-pruned: only the union of probed list_id= dirs
    plan = _plan(batch)
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and "list_id" in scans[0]
    assert "Join" not in plan


def test_lsh_batch_matches_single_probe_path(spark, tmp_path):
    """lsh_topk_batch_bucketed: per-qid row identity with the single-query
    bucketed probe, scan pruned to the union of probe buckets."""
    from searchengine_spark.operators.ann import (
        lsh_topk_batch_bucketed,
        lsh_topk_bucketed,
        write_embeddings_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "lsh")
    write_embeddings_bucketed(emb, path, n_planes=5)

    seeds = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id") < 3).collect()}
    queries = {f"q{i}": v for i, v in seeds.items()}
    exclude = {f"q{i}": i for i in seeds}

    batch = lsh_topk_batch_bucketed(spark, path, queries, k=5, n_probes=2,
                                    exclude=exclude)
    got = [(r["qid"], r["vec_id"], r["cos_sim"]) for r in batch.collect()]
    want = []
    for i, v in sorted(seeds.items()):
        for r in lsh_topk_bucketed(spark, path, v, k=5, n_probes=2,
                                   exclude_id=i).collect():
            want.append((f"q{i}", r["vec_id"], r["cos_sim"]))
    assert got == want and got

    plan = _plan(batch)
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and "bucket" in scans[0]
    assert "Join" not in plan


def test_single_query_merges_without_window(spark, tmp_path, docs):
    """A single query runs the batch's front end as a batch of one, but
    merges as one query: a global TakeOrderedAndProject, never the batch's
    per-qid Window exchange."""
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.wand import QueryEngine, bm25_topk

    out = str(tmp_path / "idx")
    build_index(docs, out, n_segments=2, salt=2, n_buckets=8)
    eng = QueryEngine(spark, out)
    for df in (eng.topk("tamok velsor", 5),
               eng.topk("tamok velsor", 5, site="org0/proj0"),
               bm25_topk(spark, out, "tamok velsor", 5),
               bm25_topk(spark, out, "tamok", 5, conjunctive=True)):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert "Window" not in plan, plan
