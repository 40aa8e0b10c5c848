#!/usr/bin/env python
"""spark-submit job: BM25 top-k query against a built index.

    spark-submit --py-files dist/searchengine_spark.zip jobs/query.py \
        --index /path/to/index --query "spark shuffle merge" -k 10

``--query`` is repeatable: with several queries the job serves them through
QueryEngine — one prefetch warms every term with driver-side Arrow reads of
the index files (no Spark job), then each query scores driver-side too
(broker serving shape).  A single query keeps the one-shot distributed
path.

``--batch FILE`` (one query per line) instead scores the whole workload
distributed in ONE Spark job (wand.bm25_topk_batch): the offline shape for
relevance sweeps / eval suites, where per-query job scheduling would
dominate — terms decode once per (segment, lemma) and are shared across
every query in the file.

``--phrase`` treats each query (or line) as an exact phrase, served from
the index's positions (index/positions.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", default=None,
                    help="repeatable; >1 query serves via prefetch+QueryEngine")
    ap.add_argument("--batch", default=None,
                    help="file of queries (one per line): score the whole "
                         "workload in ONE distributed job")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--store", default=None,
                    help="docs-store dir: emit full reference DTO rows "
                         "(site, uri, title, snippet, relevance)")
    ap.add_argument("--site", default=None,
                    help="scope to one repo (the reference's site= filter)")
    ap.add_argument("--offset", type=int, default=0,
                    help="pagination offset (the reference's offset=)")
    ap.add_argument("--phrase", action="store_true",
                    help="treat --query / --batch lines as exact phrases, "
                         "served from the index's positions")
    ap.add_argument("--conjunctive", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from searchengine_spark.index.serve import enrich_hits
    from searchengine_spark.index.wand import QueryEngine, bm25_topk
    from searchengine_spark.session import get_spark

    def _payload(q, hits):
        if args.store is None:
            return [{"doc_id": d, "score": round(s, 4)} for d, s in hits]
        return [r.asDict() for r in
                enrich_hits(spark, args.store, q, hits).collect()]

    if (args.query is None) == (args.batch is None):
        ap.error("exactly one of --query / --batch is required")
    if args.k < 1:
        ap.error("-k must be >= 1")
    if args.offset < 0:
        ap.error("--offset must be >= 0")
    # reject silently-unsupported combinations instead of dropping flags
    if args.phrase and (args.offset or args.conjunctive):
        ap.error("--phrase does not support --offset/--conjunctive")
    if args.phrase and args.store is not None:
        ap.error("--phrase serves from the index's positions and prints "
                 "(doc_id, phrase_tf) only; it takes no --store")

    spark = get_spark("query", cores=args.cores)

    if args.batch is not None and args.phrase:
        # whole phrase workload in ONE job over the index's positions
        from searchengine_spark.index.positions import phrase_topk_batch

        lines = [ln.strip() for ln in Path(args.batch).read_text().splitlines()]
        workload = {f"q{i}": q for i, q in enumerate(ln for ln in lines if ln)}
        p_sites = ({qid: args.site for qid in workload} if args.site else None)
        t0 = time.perf_counter()
        rows = phrase_topk_batch(spark, args.index, workload, args.k,
                                 sites=p_sites).collect()
        by_q: dict[str, list] = {qid: [] for qid in workload}
        for r in rows:
            by_q[r["qid"]].append((r["doc_id"], r["phrase_tf"]))
        dt = (time.perf_counter() - t0) * 1000
        print(json.dumps({"n_phrases": len(workload),
                          "latency_ms_total": round(dt, 1)}))
        for qid, q in workload.items():
            print(json.dumps({"phrase": q, "hits": [
                {"doc_id": d, "phrase_tf": t} for d, t in by_q[qid]]}))
        return

    if args.batch is not None:
        from searchengine_spark.index.wand import bm25_topk_batch

        lines = [ln.strip() for ln in Path(args.batch).read_text().splitlines()]
        workload = {f"q{i}": q for i, q in enumerate(ln for ln in lines if ln)}
        # --site/--offset apply to every query in the file; the API itself
        # (bm25_topk_batch) takes them per qid
        b_sites = ({qid: args.site for qid in workload} if args.site else None)
        b_offsets = ({qid: args.offset for qid in workload}
                     if args.offset else None)
        t0 = time.perf_counter()
        rows = bm25_topk_batch(spark, args.index, workload, args.k,
                               conjunctive=args.conjunctive,
                               sites=b_sites, offsets=b_offsets).collect()
        by_q: dict[str, list] = {qid: [] for qid in workload}
        for r in rows:
            by_q[r["qid"]].append((r["doc_id"], r["score"]))
        if args.store is not None:
            # ONE pruned store read for every final page (<= queries x k
            # ids), then driver-side snippet/title per query — no per-query
            # Spark job creeps back into the batch path
            import pandas as pd

            from searchengine_spark.index.builder import isin_expr
            from searchengine_spark.operators.snippet import snippet_series
            from searchengine_spark.streaming.store import read_store

            all_ids = sorted({d for hits in by_q.values() for d, _ in hits})
            info = {r["doc_id"]: r for r in (
                read_store(spark, args.store)
                .filter(isin_expr("doc_id", all_ids))
                .select("doc_id", "repo", "path", "content")
                .collect())} if all_ids else {}

            def _batch_payload(q, hits):
                # drop hits absent from the store (doc deleted but its dirty
                # segment not yet rebuilt, or stale index) — mirrors the
                # single-query path's enrich_hits inner-join semantics
                hits = [(d, s) for d, s in hits if d in info]
                if not hits:
                    return []
                snips = snippet_series(
                    pd.Series([info[d]["content"] for d, _ in hits]), q)
                return [
                    {"doc_id": d, "site": info[d]["repo"],
                     "uri": f"{info[d]['repo']}/{info[d]['path']}",
                     "title": info[d]["path"].rsplit("/", 1)[-1],
                     "snippet": snips.iloc[i], "relevance": round(s, 4)}
                    for i, (d, s) in enumerate(hits)
                ]
        else:
            def _batch_payload(q, hits):
                return [{"doc_id": d, "score": round(s, 4)} for d, s in hits]
        dt = (time.perf_counter() - t0) * 1000
        print(json.dumps({"n_queries": len(workload),
                          "latency_ms_total": round(dt, 1)}))
        for qid, q in workload.items():
            print(json.dumps({"query": q, "hits": _batch_payload(q, by_q[qid])}))
        return

    if args.phrase:
        from searchengine_spark.index.positions import phrase_topk_positions

        for q in args.query:
            t0 = time.perf_counter()
            rows = phrase_topk_positions(spark, args.index, q, args.k,
                                         site=args.site).collect()
            dt = (time.perf_counter() - t0) * 1000
            print(json.dumps({
                "phrase": q, "latency_ms": round(dt, 1),
                "hits": [{"doc_id": r["doc_id"],
                          "phrase_tf": r["phrase_tf"]} for r in rows],
            }))
        return

    if len(args.query) == 1:
        q = args.query[0]
        t0 = time.perf_counter()
        rows = bm25_topk(spark, args.index, q, args.k,
                         conjunctive=args.conjunctive,
                         site=args.site, offset=args.offset).collect()
        dt = (time.perf_counter() - t0) * 1000
        print(json.dumps({
            "query": q, "latency_ms": round(dt, 1),
            "hits": _payload(q, [(r["doc_id"], r["score"]) for r in rows]),
        }))
        return

    eng = QueryEngine(spark, args.index)
    t0 = time.perf_counter()
    n_terms = eng.prefetch(args.query)
    prefetch_ms = (time.perf_counter() - t0) * 1000
    print(json.dumps({"prefetched_terms": n_terms,
                      "prefetch_ms": round(prefetch_ms, 1)}))
    for q in args.query:
        t0 = time.perf_counter()
        hits = eng.topk_rows(q, args.k, conjunctive=args.conjunctive,
                             site=args.site, offset=args.offset)
        dt = (time.perf_counter() - t0) * 1000
        print(json.dumps({
            "query": q, "latency_ms": round(dt, 1),
            "hits": _payload(q, hits),
        }))


if __name__ == "__main__":
    main()
