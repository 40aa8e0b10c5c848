#!/usr/bin/env python
"""Benchmark harness (driver-run per round; see BASELINE.md).

Measures, on ``local[$SPARK_GRAFT_CPUS]`` against ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1):

1. headline gate queries over the driver's ``documents``/``embeddings``
   parquet (per-query wall seconds),
2. index-build throughput (files/sec) on the deterministic synthetic
   source-code corpus (BENCH_DOCS docs, seed 42) — the BASELINE.json
   headline metric,
3. BM25 top-10 latency (p50/p95 over BENCH_QUERIES warm queries) on the
   physical index just built.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "index_build": {...}, "bm25_latency_ms": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_DOCS = int(os.environ.get("BENCH_DOCS", "40000"))
# Host-noise interpretability (r4 VERDICT item 4): the sandbox host is
# shared — /proc/loadavg is HOST-wide and bench numbers at a loud window
# are neighbor steal, not engine measurements.  Bench records the load
# average and a pinned pure-JVM kernel-control probe into the JSON; if
# the 1-min load exceeds BENCH_LOAD_MAX at probe time it waits once
# (BENCH_LOAD_WAIT seconds) and re-probes, so the file of record shows
# whether the window was quiet — and the retry gives it one chance to be.
BENCH_LOAD_MAX = float(os.environ.get("BENCH_LOAD_MAX", "24"))
BENCH_LOAD_WAIT = float(os.environ.get("BENCH_LOAD_WAIT", "60"))
BENCH_QUERY_SET = [
    "tamok", "velsor", "tamok velsor", "sorvel lixpex", "renta drosorqua",
    "tamok velsor binqua", "veltadrolix", "kw_rare_xyzzy", "норма tamok",
    "rudmoksilkip sorvel tamok",
]
HEADLINE = [
    "search_sumtf", "search_bm25", "tf_per_doc", "df_per_source",
    "dedup_exact", "dedup_minhash_lsh", "ann_cosine_topk", "text_quality",
]


def _host_load() -> float:
    """1-minute host-wide load average (-1.0 where /proc is unavailable)."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def _kernel_control(spark) -> float:
    """PINNED pure-JVM probe (the tokenize-shaped dataflow of
    BENCH/scaling.py's kernel at 1/4 size, in-session): its time measures
    what the host is actually giving this JVM, independent of any engine
    code — round-over-round, a slower control with unchanged plans means
    neighbor steal, not regression.  Do not change the probe's shape or
    size; its only value is comparability across rounds."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, numPartitions=64).select(
        F.col("id"),
        F.concat_ws(" ", F.array_repeat(F.concat(
            F.lit("tokVal"), (F.col("id") % 977).cast("string"),
            F.lit("_suffix kw")), 200)).alias("c"))
    df = df.cache()
    df.count()
    t0 = time.perf_counter()
    (df.select(F.explode(F.split(F.regexp_replace(F.lower(F.regexp_replace(
        F.col("c"), "([a-z0-9])([A-Z])", "$1 $2")), "[0-9_]", " "), " "))
       .alias("t"))
       .filter("t <> ''").groupBy("t").count().count())
    dt = time.perf_counter() - t0
    df.unpersist()
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from searchengine_spark.corpus import corpus_df, ingest
    from searchengine_spark.gate import QUERIES
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.wand import bm25_topk
    from searchengine_spark.session import get_spark

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)

    # session + codegen warmup: run every headline query once at sf0.001
    # (500 docs — sub-second data) so the one-time whole-stage-codegen
    # compile of the wide expressions (e.g. the 64 MinHash aggregates,
    # ~8 s of JIT) isn't charged to the sf0.1 measurement — per-query
    # numbers then reflect data processing, as they would in a long-lived
    # session.  The warmup is timed SEPARATELY ("warmup_s") and excluded
    # from the headline "value" so round-over-round totals compare
    # measured work like for like (r2 VERDICT "what's wrong" #3).
    t_warm = time.perf_counter()
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10).collect()
    for name in HEADLINE:
        QUERIES[name](spark, "/root/testdata/sf0.001").collect()
    warmup_s = time.perf_counter() - t_warm

    # host-noise probes (excluded from value/warmup_s): loadavg + pinned
    # JVM kernel control; one bounded wait-and-reprobe if the window is loud
    loads = [_host_load()]
    kernels = [round(_kernel_control(spark), 2)]
    if loads[0] > BENCH_LOAD_MAX:
        time.sleep(BENCH_LOAD_WAIT)
        loads.append(_host_load())
        kernels.append(round(_kernel_control(spark), 2))

    t_all = time.perf_counter()

    # 1 — headline gate queries on the driver's parquet tables
    q_times: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        q_times[name] = round(time.perf_counter() - t0, 3)

    # 2 — index build throughput on the synthetic source-code corpus
    out = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        t0 = time.perf_counter()
        docs = ingest(corpus_df(spark, BENCH_DOCS, partitions=cpus * 2))
        n = docs.count()
        build_index(docs, out, n_segments=4, salt=8, n_buckets=16,
                    block_size=128, resume=False)
        build_s = time.perf_counter() - t0
        files_per_sec = n / build_s
        q_times["index_build"] = round(build_s, 3)

        # 2c — dictionary-morphology build delta (r5): the SAME corpus
        # built with the layered dict+porter normalizer and a
        # full-dictionary-size table (built-in irregulars + 20k synthetic
        # letter-only entries) — its own line, excluded from the headline,
        # so rounds can watch the dictionary mechanism's build overhead
        from searchengine_spark.functions.english import ENGLISH_FORMS

        big_forms = dict(ENGLISH_FORMS)
        for i in range(5000):
            j, s = i, ""
            for _ in range(3):
                s += chr(97 + j % 26)
                j //= 26
            for suf in ("ed", "ing", "est", "en"):
                big_forms[f"qlem{s}{suf}"] = (f"qlem{s}",)
        t_add0 = time.perf_counter()
        out_dict = tempfile.mkdtemp(prefix="bench_idx_dict_")
        try:
            t0 = time.perf_counter()
            build_index(docs, out_dict, n_segments=4, salt=8, n_buckets=16,
                        block_size=128, resume=False,
                        normalizer="dict_porter", forms=big_forms)
            q_times["dict_index_build"] = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(out_dict, ignore_errors=True)
        t_additions = time.perf_counter() - t_add0

        # 2b — the high-df phrase probe: a bigram of two COMMON terms,
        # served from the index's positions (every build writes them, so
        # index_build above includes them); the positional path must stay
        # in the conjunctive-search cost class (r3 VERDICT item 2 target:
        # within ~3x of search_sumtf).  Excluded from the headline total
        # (like every r3+ addition) so round-over-round "value" stays
        # like-for-like.
        from searchengine_spark.index.positions import phrase_topk_positions

        t_add0 = time.perf_counter()
        phrase_topk_positions(spark, out, "sorvel veltadrolix", 10).collect()
        t0 = time.perf_counter()
        phrase_topk_positions(spark, out, "sorvel veltadrolix", 10).collect()
        q_times["phrase_common_bigram"] = round(time.perf_counter() - t0, 3)
        t_additions += time.perf_counter() - t_add0

        # 3 — BM25 top-10 latency on the physical index, three serving
        # shapes (r3 VERDICT item 3): TRUE COLD (lazy engine, each query
        # pays its own pruned fetch), COLD-WITH-PREFETCH (broker restart:
        # one bucket-pruned collect warms the expected workload), WARM
        # (steady-state LRU).
        from searchengine_spark.index.wand import QueryEngine

        engine = QueryEngine(spark, out)
        engine.topk_rows("jorta", 10)  # session warmup OUTSIDE the suite's
        #                                terms: true-cold stays true

        def run_suite(eng) -> list[float]:
            out_l: list[float] = []
            for q in BENCH_QUERY_SET:
                t0 = time.perf_counter()
                eng.topk_rows(q, 10)
                out_l.append(time.perf_counter() - t0)
            return out_l

        cold = run_suite(engine)
        warm = run_suite(engine)

        # broker-restart shape: fresh engine, prefetch the suite, serve
        # (an r4 addition — excluded from the headline total)
        t_add0 = time.perf_counter()
        engine2 = QueryEngine(spark, out)
        t0 = time.perf_counter()
        engine2.prefetch(BENCH_QUERY_SET)
        prefetch_ms = (time.perf_counter() - t0) * 1000
        prefetched = run_suite(engine2)
        t_additions += time.perf_counter() - t_add0

        # warm PHRASE serving (late r4 — excluded from the headline total):
        # engine-cached positional postings; a repeated phrase costs no
        # Spark job, so warm latency is pure driver-side numpy
        t_add0 = time.perf_counter()
        PHRASE_SET = ["sorvel tamok", "tamok velsor", "sorvel veltadrolix",
                      "renta drosorqua", "veltadrolix"]
        engine2.prefetch([], phrases=PHRASE_SET)
        pcold = []
        for ph in PHRASE_SET:  # post-prefetch first touch (restart shape)
            t0 = time.perf_counter()
            engine2.phrase_rows(ph, 10)
            pcold.append(time.perf_counter() - t0)
        pwarm = []
        for ph in PHRASE_SET:
            t0 = time.perf_counter()
            engine2.phrase_rows(ph, 10)
            pwarm.append(time.perf_counter() - t0)

        # whole-phrase-suite batch path (r5): a FRESH engine serves the
        # suite as ONE guarded fetch + driver-side numpy loop — the
        # offline-eval shape, symmetric with bm25_batch10_1job
        engine3 = QueryEngine(spark, out)
        t0 = time.perf_counter()
        engine3.phrase_rows_batch(
            {f"p{i}": ph for i, ph in enumerate(PHRASE_SET)}, 10)
        q_times["phrase_suite"] = round(time.perf_counter() - t0, 3)
        t_additions += time.perf_counter() - t_add0

        # whole-suite batch path: ONE distributed job scores all 10 queries
        # (offline-workload shape; contrast with 10 cold per-query jobs)
        t0 = time.perf_counter()
        engine.topk_batch(
            {f"q{i}": q for i, q in enumerate(BENCH_QUERY_SET)}, 10
        ).collect()
        q_times["bm25_batch10_1job"] = round(time.perf_counter() - t0, 3)

        def pct(lat: list[float]) -> tuple[float, float]:
            s = sorted(lat)
            return (s[len(s) // 2] * 1000,
                    s[min(len(s) - 1, int(len(s) * 0.95))] * 1000)

        cold_p50, cold_p95 = pct(cold)
        pf_p50, pf_p95 = pct(prefetched)
        p50, p95 = pct(warm)
        q_times["bm25_top10_suite"] = round(sum(warm), 3)
        docs.unpersist()
    finally:
        shutil.rmtree(out, ignore_errors=True)

    # batch-suite (r3) and positions/phrase/prefetch (r4) metrics are
    # additions — keep the headline total comparable with earlier rounds by
    # reporting them per-query only
    total = (time.perf_counter() - t_all) - t_additions - q_times.get(
        "bm25_batch10_1job", 0.0)
    print(json.dumps({
        "metric": "index-build files/sec + BM25 top-10 p95 latency",
        "value": round(total, 3),  # measured work only; warmup_s is separate
        "warmup_s": round(warmup_s, 3),
        "host_load": loads[-1],          # 1-min loadavg at measurement start
        "kernel_control_s": kernels[-1],  # pinned JVM probe (see docstring)
        "host_probes": {"loadavg": loads, "kernel_s": kernels},
        "unit": "sec",
        "queries": q_times,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "index_build": {
            "n_docs": n,
            "seconds": round(build_s, 3),
            "files_per_sec": round(files_per_sec, 1),
        },
        "bm25_latency_ms": {"p50": round(p50, 1), "p95": round(p95, 1),
                            "cold_p50": round(cold_p50, 1),
                            "cold_p95": round(cold_p95, 1),
                            "prefetch_p50": round(pf_p50, 1),
                            "prefetch_p95": round(pf_p95, 1),
                            "prefetch_ms": round(prefetch_ms, 1),
                            "n_queries": len(BENCH_QUERY_SET)},
        "phrase_latency_ms": {"p50": round(pct(pwarm)[0], 1),
                              "p95": round(pct(pwarm)[1], 1),
                              "prefetched_p50": round(pct(pcold)[0], 1),
                              "prefetched_p95": round(pct(pcold)[1], 1),
                              "n_phrases": len(PHRASE_SET)},
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
