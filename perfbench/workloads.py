"""The two workloads.  Each drives the engine's public functions from one
closed-loop client in one process and checks the results against the
bench's own oracle.

``build``   fresh positional build of a corpus read from parquet, then a
            query stream and the batch kernel on an engine whose caches hold
            the whole index.
``update``  docs store + fresh index, then a query stream and the batch
            kernel on an engine whose caches hold a tenth of the index, then
            a localized commit made visible under the live engine.
"""

from __future__ import annotations

import gc
import glob
import json
import math
import statistics
import time
from collections import defaultdict

from perfbench.inputs import checked, commit_batch, query_stream
from perfbench.oracle import Oracle, same_topk
from perfbench.tracing import dir_bytes, tree_cpu_s

# Inputs are sized so that a campaign of 48 runs of both workloads fits in
# under an hour on a 4-core host (see README.md).
WORKLOADS = {
    "build": {"n_docs": 4000, "n_segments": 4, "salt": 8, "n_buckets": 16,
              "store": False, "spill": False, "warm_all": True, "commits": 0},
    "update": {"n_docs": 1000, "n_segments": 4, "salt": 4, "n_buckets": 8,
               "store": True, "spill": True, "warm_all": False, "commits": 1},
}
K = 10
BLOCKS = 200            # stream blocks of ten operations (served cyclically)
SETUP_REPS = 3          # engine set-ups per run; setup_s is their median
HEAD = 50               # stream operations each set-up prefetches
CHECK_SHARE = 0.25      # share of stream operations checked by the oracle
MAX_CHECKS = 200        # per closed loop
BATCH = 200             # stream operations whose queries form the batch
SPILL_SHARE = 0.1       # update: cache bytes / the index's own bytes
N_EDIT, N_NEW = 50, 10   # files one commit edits / adds
POST_COMMIT = 5         # stream operations after each commit


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (failures enter as +inf)."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def load_meta(idx: str) -> dict:
    return load_json(f"{idx}/meta.json")


class Run:
    """State of one benchmark run: counters, samples and measured values."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int,
                 name: str):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds, self.name = seed, seconds, name
        self.cfg = WORKLOADS[name]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []       # one record per stream operation
        self.values: dict[str, float] = {}
        self.lists: dict[str, list[float]] = defaultdict(list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """One public call inside a span: (result, seconds, span record)."""
        t0 = time.perf_counter()
        with self.tr.span(name, layer) as rec:
            out = fn(*args, **kwargs)
        return out, time.perf_counter() - t0, rec

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


# --- phases shared by both workloads ---------------------------------------


def fresh_build(run: Run, rows: list[tuple], oracle: Oracle,
                corpus_dir: str, idx: str, store_dir: str | None) -> dict:
    """Ingest the corpus (through the docs store for ``update``) and build
    a fresh positional index; record the build and its artifact counts."""
    from searchengine_spark.corpus import ingest
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.streaming.store import init_store, read_store

    spark = run.spark
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    if store_dir is None:
        docs, dt, _ = run.call("ingest", "corpus", ingest,
                               spark.read.parquet(corpus_dir))
        run.values["corpus.ingest_s"] = dt
    else:
        _, dt, _ = run.call("init_store", "streaming.store", init_store,
                            spark.read.parquet(corpus_dir), store_dir,
                            n_kb=8)
        run.values["store.init_s"] = dt
        docs = read_store(spark, store_dir)
    cfg = run.cfg
    meta, _, _ = run.call("build_index", "index.builder", build_index, docs,
                           idx, n_segments=cfg["n_segments"], salt=cfg["salt"],
                           n_buckets=cfg["n_buckets"], block_size=128,
                           resume=False, positions=True)
    build_s = time.perf_counter() - t0
    run.values["build_s"] = build_s
    run.values["build_files_per_s"] = len(rows) / build_s
    run.values["build_cpu_ms_per_file"] = (
        (tree_cpu_s() - cpu0) / len(rows) * 1e3)
    for phase, s in meta.get("timings", {}).items():
        run.values[f"builder.{phase}"] = s

    meta = load_meta(idx)
    manifests = [load_json(p) for p in glob.glob(f"{idx}/manifests/*.json")]
    postings = sum(int(m["posting_count"]) for m in manifests)
    run.check(int(meta["n_docs"]) == len(oracle)
              and postings == oracle.total_postings()
              and bool(meta.get("has_positions")),
              f"index counts: n_docs={meta['n_docs']} postings={postings} "
              f"want {len(oracle)}/{oracle.total_postings()}")
    content_bytes = sum(len(r[4].encode()) for r in rows)
    run.values["index_bytes_per_doc_byte"] = (
        sum(dir_bytes(f"{idx}/{d}")
            for d in ("data", "dict", "sites", "positions")) / content_bytes)
    run.values["codec.data_bytes"] = int(meta["posting_bytes"])
    run.values["codec.dict_bytes"] = dir_bytes(f"{idx}/dict")
    run.values["positions.bytes"] = int(meta["pos_posting_bytes"])
    run.values["codec.bytes_per_posting"] = meta["posting_bytes"] / postings
    return meta


def open_engine(run: Run, idx: str, caches: dict, ops: list, thr: int):
    """Set the engine up SETUP_REPS times (fresh QueryEngine, then prefetch
    of the stream head); each repetition first drops the previous engine's
    Spark-cached index so it starts as cold as the first.  With
    ``warm_all`` the last engine then prefetches the whole stream."""
    from searchengine_spark.index.wand import QueryEngine

    def warm(part: list) -> float:
        _, dt, _ = run.call(
            "prefetch", "index.wand", engine.prefetch,
            [t for k, t in part if k == "topk"], local_threshold_bytes=thr,
            phrases=[t for k, t in part if k == "phrase"])
        return dt

    engine = None
    for _ in range(SETUP_REPS):
        if engine is not None:
            engine.index_df.unpersist(blocking=True)
        run.attempted += 1
        t0 = time.perf_counter()
        engine, _, _ = run.call("QueryEngine", "index.wand", QueryEngine,
                                run.spark, idx, **caches)
        run.lists["wand.prefetch_s"].append(warm(ops[:HEAD]))
        run.lists["setup_s"].append(time.perf_counter() - t0)
    if run.cfg["warm_all"]:
        run.values["wand.warm_all_s"] = warm(ops)
    return engine


def serve(run: Run, engine, oracle: Oracle, meta: dict, ops: list,
          checks: list[bool], start: int, thr: int, phase: str,
          seconds: float | None = None, count: int | None = None) -> int:
    """Closed loop over ``ops`` (cyclically) from ``start`` for ``seconds``
    (then to the end of the current block of ten) or ``count`` operations;
    returns the index of the next unserved operation.  Results are checked
    after the loop, so the oracle's work never sits between two timed
    operations."""
    cpu0 = tree_cpu_s()
    t_end = time.perf_counter() + (seconds if seconds is not None else 1e9)
    served = []   # (op index, result, sample list, sample position)
    i = start
    while (time.perf_counter() < t_end or i % 10) and (
            count is None or i < start + count):
        kind, text = ops[i % len(ops)]
        run.attempted += 1
        rec = got = None
        t0 = time.perf_counter()
        try:
            with run.tr.span(kind, "index.wand", op=i) as rec:
                if kind == "topk":
                    got = engine.topk_rows(text, K,
                                           local_threshold_bytes=thr)
                else:
                    got = engine.phrase_rows(text, K,
                                             local_threshold_bytes=thr)
            dt = time.perf_counter() - t0
        except Exception as exc:  # counted, never dropped from the sample
            dt = math.inf
            run.fail(f"{phase} {kind} {text!r}: {exc!r}")
        sample = run.samples[f"{phase}.{kind}"]
        sample.append(dt)
        served.append((i % len(ops), got, sample, len(sample) - 1))
        run.ops.append({"phase": phase, "kind": kind, "slot": i % 10,
                        "s": dt, "span": rec["id"] if rec else None})
        i += 1
    run.values[f"{phase}.cpu_ms_per_op"] = (
        (tree_cpu_s() - cpu0) / max(1, i - start) * 1e3)
    served = [x for x in served if x[1] is not None and checks[x[0]]]
    for j, got, sample, pos in served[:MAX_CHECKS]:
        kind, text = ops[j]
        if not (same_topk(got, oracle.topk(text, K, meta)) if kind == "topk"
                else got == oracle.phrase(text, K)):
            run.fail(f"{phase} {kind} {text!r}: wrong result")
            sample[pos] = math.inf
    return i


def batch(run: Run, engine, oracle: Oracle, meta: dict, ops: list,
          start: int) -> None:
    """One topk_batch over the next BATCH stream queries."""
    qs = {f"q{j}": ops[j % len(ops)][1] for j in range(start, start + BATCH)
          if ops[j % len(ops)][0] == "topk"}
    run.attempted += 1
    cpu0 = tree_cpu_s()
    try:
        rows, dt, rec = run.call("topk_batch", "index.wand",
                                 lambda: engine.topk_batch(qs, K).collect())
    except Exception as exc:
        run.fail(f"topk_batch: {exc!r}")
        return
    run.values["batch_cpu_ms_per_query"] = (
        (tree_cpu_s() - cpu0) / len(qs) * 1e3)
    run.values["batch_queries_per_s"] = len(qs) / dt
    run.values["batch_s"] = dt
    run.values["batch_span"] = rec["id"] if rec else -1
    got: dict[str, list] = defaultdict(list)
    for r in rows:
        got[r["qid"]].append((r["doc_id"], r["score"]))
    ok = all(same_topk(sorted(got[q], key=lambda x: (-x[1], x[0])),
                       oracle.topk(text, K, meta))
             for n, (q, text) in enumerate(sorted(qs.items())) if n % 4 == 0)
    if not ok:
        run.fail("topk_batch: wrong result")


def commit(run: Run, c: int, engine, oracle: Oracle, rows: list[tuple],
           store_dir: str, idx: str, thr: int) -> dict:
    """One commit: merge_batch, rebuild the dirty segments, then the
    marker query through the live engine, which must return exactly the
    commit's new files.  ``rows`` and ``oracle`` follow the commit."""
    from searchengine_spark.schema import DOCS_SCHEMA
    from searchengine_spark.streaming.incremental import rebuild_segments
    from searchengine_spark.streaming.store import merge_batch, read_store

    spark = run.spark
    meta = load_meta(idx)
    change, marker = commit_batch(run.seed, c, rows, N_EDIT, N_NEW)
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    summary, merge_s, _ = run.call(
        "merge_batch", "streaming.store", merge_batch,
        spark.createDataFrame(change, DOCS_SCHEMA), store_dir,
        seg_size=int(meta["seg_size"]))
    _, rebuild_s, _ = run.call(
        "rebuild_segments", "streaming.incremental", rebuild_segments,
        read_store(spark, store_dir), idx, summary["dirty_segments"])
    got, reload_s, _ = run.call("topk", "index.wand", engine.topk_rows,
                                marker, 2 * N_NEW, local_threshold_bytes=thr)
    visible_s = time.perf_counter() - t0
    run.lists["commit_cpu_s"].append(tree_cpu_s() - cpu0)

    # the oracle applies the same commit: edited keys keep their doc id,
    # new keys are appended in (repo, path, commit) order
    by_key = {(r[0], r[1]): i for i, r in enumerate(rows)}
    new_ids = []
    for r in sorted(change, key=lambda r: (r[0], r[1], r[2])):
        i = by_key.get((r[0], r[1]))
        if i is None:
            i = len(rows)
            rows.append(r)
            new_ids.append(i)
        else:
            rows[i] = r
        oracle.put(i, r[4])
    meta = load_meta(idx)
    run.check(sorted(d for d, _ in got) == new_ids
              and same_topk(got, oracle.topk(marker, 2 * N_NEW, meta))
              and int(meta["n_docs"]) == len(oracle),
              f"commit {c}: marker {marker!r} returned "
              f"{sorted(d for d, _ in got)}, want {new_ids}")
    run.lists["commit_visible_s"].append(visible_s)
    run.lists["store.merge_batch_s"].append(merge_s)
    run.lists["incremental.rebuild_s"].append(rebuild_s)
    run.lists["wand.reload_ms"].append(reload_s * 1000)
    run.lists["store.affected_kbs"].append(len(summary["affected_kbs"]))
    run.lists["incremental.dirty_segments"].append(
        len(summary["dirty_segments"]))
    return meta


# --- one run ----------------------------------------------------------------


def prepare(name: str, seed: int, work: str) -> tuple[list[tuple], Oracle]:
    """Pure-Python input preparation (no Spark), run while the JVM starts:
    the generated rows in doc-id order (the rank of (repo, path, commit)),
    written as the parquet file the engine reads, and their oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.corpus import gen_corpus_local

    # corpus.gen_doc is the generator behind corpus_df
    rows = sorted(gen_corpus_local(WORKLOADS[name]["n_docs"], seed),
                  key=lambda r: (r[0], r[1], r[2]))
    names = ["repo", "path", "commit", "lang", "content"]
    pq.write_table(pa.table({n: list(c) for n, c in zip(names, zip(*rows))}),
                   f"{work}/corpus.parquet")
    return rows, Oracle({i: r[4] for i, r in enumerate(rows)})


def run_workload(run: Run, rows: list[tuple], oracle: Oracle) -> None:
    from searchengine_spark.analyzer import analyze

    cfg, work, seed = run.cfg, run.work, run.seed
    idx = f"{work}/index"
    store_dir = f"{work}/store" if cfg["store"] else None
    t_run = time.perf_counter()
    meta = fresh_build(run, rows, oracle, f"{work}/corpus.parquet", idx,
                       store_dir)
    run.values["t.built"] = time.perf_counter() - t_run

    bpp = float(meta["bytes_per_posting"])
    ops, heavy = query_stream(
        seed, BLOCKS,
        lambda q: sum(oracle.df(t) for t in set(analyze(q))) * bpp)
    checks = checked(seed, len(ops), CHECK_SHARE)
    if cfg["spill"]:
        # caches hold a tenth of the index; the heavy query of each block
        # is over the local threshold and routes to the distributed path
        caches = {
            "term_cache_bytes": int(meta["posting_bytes"] * SPILL_SHARE),
            "pos_cache_bytes": int(meta["pos_posting_bytes"] * SPILL_SHARE),
        }
        thr = int(heavy)
    else:
        caches, thr = {}, 64 << 20   # engine defaults
    run.values["cache_share"] = (
        caches.get("term_cache_bytes", 256 << 20) / meta["posting_bytes"])
    run.values["threshold_share"] = thr / meta["posting_bytes"]
    engine = open_engine(run, idx, caches, ops, thr)
    run.values["t.engine"] = time.perf_counter() - t_run

    # the bench's own objects (oracle, stream) stay out of the collector's
    # full passes, which would otherwise land inside timed operations
    gc.collect()
    gc.freeze()
    nxt = serve(run, engine, oracle, meta, ops, checks, 0, thr, "stream",
                seconds=run.seconds)
    run.values["stream_s"] = sum(o["s"] for o in run.ops)
    batch(run, engine, oracle, meta, ops, nxt)
    nxt += BATCH
    run.values["t.batch"] = time.perf_counter() - t_run
    for c in range(cfg["commits"]):
        meta = commit(run, c, engine, oracle, rows, store_dir, idx, thr)
        nxt = serve(run, engine, oracle, meta, ops, checks, nxt, thr,
                    "post", count=POST_COMMIT)
    run.values["t.end"] = time.perf_counter() - t_run


def end_to_end(run: Run) -> dict[str, float]:
    """The end-to-end metrics both workloads report."""
    return {
        "setup_s": statistics.median(run.lists["setup_s"]),
        "build_files_per_s": run.values["build_files_per_s"],
        "build_cpu_ms_per_file": run.values["build_cpu_ms_per_file"],
        "index_bytes_per_doc_byte": run.values["index_bytes_per_doc_byte"],
    }


def serving(run: Run) -> dict[str, float]:
    """The stream's and the batch's figures (per-layer: see README.md)."""
    stream = [o for o in run.ops if o["phase"] == "stream"]

    def med(slots: tuple[int, ...]) -> float:
        return statistics.median(o["s"] for o in stream if o["slot"] in slots)

    # a block's expected time from per-position medians: one slow
    # operation moves it as little as it moves a median
    block_s = 8 * med((0, 1, 2, 3, 5, 6, 7, 8)) + med((4,)) + med((9,))
    lat = run.samples["stream.topk"]
    post = run.samples["post.topk"] + run.samples["post.phrase"]
    return {
        "serve.query_p50_ms": pct(lat, 0.5) * 1000,
        "serve.query_p95_ms": pct(lat, 0.95) * 1000,
        "serve.queries_per_s": 10 / block_s,
        "serve.query_cpu_ms": run.values["stream.cpu_ms_per_op"],
        "serve.post_commit_p50_ms": pct(post, 0.5) * 1000 if post else 0.0,
        # 0 when the batch failed (counted in ``failed``)
        "serve.batch_queries_per_s": run.values.get("batch_queries_per_s", 0),
        "serve.batch_cpu_ms_per_query": run.values.get(
            "batch_cpu_ms_per_query", 0),
    }


def report(run: Run) -> dict:
    """Every figure the run measured, under the names of README.md's
    metric tables, plus tail percentiles with their sample counts."""
    out = {**end_to_end(run), **serving(run)}
    for phase_kind, lat in run.samples.items():
        out[f"{phase_kind}_samples"] = len(lat)
        if not lat:
            continue
        for q in (0.5, 0.9, 0.95, 0.99):
            out[f"{phase_kind}_p{round(q * 100)}_ms"] = pct(lat, q) * 1000
    for name, xs in run.lists.items():
        out[name] = statistics.median(xs)
    out.update(run.values)
    out["ops_attempted"] = run.attempted
    out["ops_failed"] = run.failed
    return out
