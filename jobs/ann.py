#!/usr/bin/env python
"""spark-submit job: embedding ANN — build a persisted serving layout and/or
answer cosine top-k queries over it.

    # one-time: persist the 100 TB serving layout (partition-pruned probes)
    spark-submit --py-files dist/searchengine_spark.zip jobs/ann.py \
        --emb /root/testdata/sf0.01/embeddings.parquet \
        --build ivf --out /tmp/emb_ivf

    # serve: one query (single path) or many (ONE batch job for all)
    spark-submit --py-files dist/searchengine_spark.zip jobs/ann.py \
        --emb /root/testdata/sf0.01/embeddings.parquet \
        --index /tmp/emb_ivf --layout ivf --query-id 5 --query-id 17 -k 10

Completes the job-surface symmetry: every other operator family
(index/query/stats/clean/compact/stream) already ships as a spark-submit
module per the packaging contract (BASELINE.json north_star "ships as
spark-submit --py-files modules"); ANN layouts were library-only.

Layouts: ``brute`` = exact cosine over the raw parquet (the correctness
baseline; one narrow scan + TakeOrderedAndProject); ``lsh`` = sign-pattern
buckets, probes read only probed ``bucket=`` dirs; ``ivf`` = inverted-file
lists (spherical k-means quantizer), probes read only probed ``list_id=``
dirs.  Multiple queries always go through the batch kernels — one
union-pruned scan, all queries scored in a shared per-Arrow-batch matmul
(operators/ann.py `_masked_batch_topk`) — never a loop of jobs.

Queries come as ``--query-id N`` (use vec_id N's own embedding, self-match
excluded — the "more like this" shape) and/or ``--vector "f,f,..."``
(literal vector).  Output: ONE JSON line with per-query hits.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--emb", required=True,
                    help="embeddings parquet (vec_id long, embedding "
                         "array<float>)")
    ap.add_argument("--build", choices=["lsh", "ivf"], default=None,
                    help="persist a serving layout of --emb into --out")
    ap.add_argument("--out", default=None,
                    help="layout output dir (required with --build)")
    ap.add_argument("--index", default=None,
                    help="existing layout dir to serve from (from --build)")
    ap.add_argument("--layout", choices=["brute", "lsh", "ivf"],
                    default=None,
                    help="serving path; default: the --build/--index "
                         "layout, else brute")
    ap.add_argument("--query-id", action="append", type=int, default=None,
                    help="query by an existing vec_id (repeatable; "
                         "self-match excluded)")
    ap.add_argument("--vector", action="append", default=None,
                    help="query by a literal comma-separated vector "
                         "(repeatable; use --vector=-0.1,... when the "
                         "first component is negative)")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--nprobe", type=int, default=2,
                    help="probed lists (ivf) / buckets (lsh) per query")
    ap.add_argument("--n-planes", type=int, default=8,
                    help="lsh build: hyperplane count (2^n buckets)")
    ap.add_argument("--n-lists", type=int, default=16,
                    help="ivf build: inverted-list count")
    ap.add_argument("--quantizer", choices=["kmeans", "medoid"],
                    default="kmeans", help="ivf build quantizer")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    if args.build and not args.out:
        ap.error("--build requires --out")
    if args.index and args.build:
        ap.error("--build writes a new layout; pass either --build --out "
                 "or --index, not both")
    has_queries = bool(args.query_id or args.vector)
    if not args.build and not has_queries:
        ap.error("nothing to do: pass --build and/or --query-id/--vector")
    if args.layout:
        layout = args.layout
    elif args.build:
        layout = args.build
    elif args.index:
        # infer from the layout's own pinned meta sidecar — serving an LSH
        # table through the IVF reader would fail on a missing meta file
        import os

        if os.path.exists(f"{args.index}/_ivf_meta.json"):
            layout = "ivf"
        elif os.path.exists(f"{args.index}/_lsh_meta.json"):
            layout = "lsh"
        else:
            ap.error(f"--index {args.index} has neither _ivf_meta.json nor "
                     "_lsh_meta.json — not a jobs/ann.py --build layout")
    else:
        layout = "brute"
    if layout in ("lsh", "ivf") and not (args.index or args.build):
        ap.error(f"--layout {layout} needs --index (or --build {layout} "
                 "--out to create one)")
    if args.build and args.layout and args.layout not in ("brute", args.build):
        ap.error(f"--build {args.build} cannot serve --layout {args.layout}")

    # literal vectors are validated before any Spark work: a malformed
    # component would otherwise surface as a traceback, and a wrong
    # dimension only as an executor-side numpy broadcast error
    vectors: list[list[float]] = []
    for v in args.vector or []:
        try:
            vec = [float(x) for x in v.split(",")]
        except ValueError:
            vec = []
        if not vec or not all(math.isfinite(x) for x in vec):
            ap.error(f"--vector {v!r}: expected comma-separated finite "
                     "numbers")
        vectors.append(vec)
    if vectors:
        import pyarrow.dataset as pads

        head = pads.dataset(args.emb, format="parquet").head(
            1, columns=["embedding"])
        if head.num_rows:
            dim = len(head.column(0)[0].as_py())
            for v, vec in zip(args.vector, vectors):
                if len(vec) != dim:
                    ap.error(f"--vector {v!r} has {len(vec)} components; "
                             f"the --emb embeddings have {dim}")

    from searchengine_spark.session import get_spark

    spark = get_spark("ann", cores=args.cores)
    emb = spark.read.parquet(args.emb)
    result: dict = {"layout": layout, "k": args.k}

    index_dir = args.index
    if args.build:
        from searchengine_spark.operators.ann import (
            write_embeddings_bucketed, write_embeddings_ivf)

        t0 = time.perf_counter()
        if args.build == "lsh":
            write_embeddings_bucketed(emb, args.out, n_planes=args.n_planes)
        else:
            write_embeddings_ivf(emb, args.out, n_lists=args.n_lists,
                                 quantizer=args.quantizer)
        result["build"] = {
            "layout": args.build, "out": args.out,
            # count what was WRITTEN, from the layout itself — parquet
            # footer row counts, no re-scan of the source table
            "n_vectors": spark.read.parquet(f"{args.out}/data").count(),
            "seconds": round(time.perf_counter() - t0, 2),
        }
        index_dir = args.out

    if has_queries:
        # resolve query vectors: literal --vector plus --query-id lookups
        # (ONE filtered collect for all ids — they are a handful of rows)
        queries: dict[str, list[float]] = {}
        exclude: dict[str, int] = {}
        for i, vec in enumerate(vectors):
            queries[f"vec:{i}"] = vec
        if args.query_id:
            from pyspark.sql import functions as F

            rows = emb.filter(
                F.col("vec_id").isin(args.query_id)).collect()
            got = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
                   for r in rows}
            missing = sorted(set(args.query_id) - set(got))
            if missing:
                ap.error(f"--query-id not found in --emb: {missing}")
            for i in args.query_id:
                queries[f"id:{i}"] = got[i]
                exclude[f"id:{i}"] = i

        from searchengine_spark.operators.ann import (
            brute_force_topk, brute_force_topk_batch,
            ivf_topk_batch_partitioned, ivf_topk_partitioned,
            lsh_topk_batch_bucketed, lsh_topk_bucketed)

        t0 = time.perf_counter()
        if len(queries) == 1:
            (qid, qv), = queries.items()
            if layout == "brute":
                df = brute_force_topk(emb, qv, args.k,
                                      exclude_id=exclude.get(qid))
            elif layout == "lsh":
                df = lsh_topk_bucketed(spark, index_dir, qv, args.k,
                                       exclude_id=exclude.get(qid),
                                       n_probes=args.nprobe)
            else:
                df = ivf_topk_partitioned(spark, index_dir, qv, args.k,
                                          nprobe=args.nprobe,
                                          exclude_id=exclude.get(qid))
            hits = {qid: [{"vec_id": int(r["vec_id"]),
                           "cos_sim": float(r["cos_sim"])}
                          for r in df.collect()]}
        else:
            if layout == "brute":
                df = brute_force_topk_batch(emb, queries, args.k,
                                            exclude=exclude)
            elif layout == "lsh":
                df = lsh_topk_batch_bucketed(spark, index_dir, queries,
                                             args.k, n_probes=args.nprobe,
                                             exclude=exclude)
            else:
                df = ivf_topk_batch_partitioned(spark, index_dir, queries,
                                                args.k, nprobe=args.nprobe,
                                                exclude=exclude)
            hits = {q: [] for q in queries}
            for r in df.collect():
                hits[r["qid"]].append({"vec_id": int(r["vec_id"]),
                                       "cos_sim": float(r["cos_sim"])})
            for q in hits:  # batch output is one unordered collect
                hits[q].sort(key=lambda h: (-h["cos_sim"], h["vec_id"]))
        result["latency_ms"] = round((time.perf_counter() - t0) * 1e3, 1)
        result["n_queries"] = len(queries)
        result["results"] = hits

    print(json.dumps(result))


if __name__ == "__main__":
    main()
