#!/usr/bin/env python
"""spark-submit job: build (or resume) the physical inverted index.

    spark-submit --py-files dist/searchengine_spark.zip jobs/build_index.py \
        --input /path/to/docs_parquet --out /path/to/index \
        --segments 64 --buckets 256

``--input`` must have the BASELINE.json input_hint shape
(repo, path, commit, lang, content); ``--synthetic N`` generates the
deterministic corpus instead (bench/test).  The job is idempotent and
resumable: re-running after a failure skips segments with 'done' manifests.
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
    ap.add_argument("--input", help="parquet dir of (repo,path,commit,lang,content)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic docs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--segments", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--store", default=None,
                    help="also init the kb-partitioned docs store here and "
                         "build the index FROM it (ids guaranteed "
                         "consistent; enables jobs/query.py --store DTOs)")
    ap.add_argument("--normalizer",
                    choices=["pinned", "english", "porter", "english-porter"],
                    default="pinned",
                    help="analyzer normalizer: 'pinned' fixture table; "
                         "'english' = the built-in irregular-forms "
                         "dictionary morphology (functions/english.py); "
                         "'porter' = the full Porter 1980 stemmer "
                         "(regular inflections; vocabulary-join build); "
                         "'english-porter' = the LAYERED full normalizer "
                         "(dictionary first, porter for unknown tokens); "
                         "--forms-json swaps in a custom "
                         "{token: [forms...]} dictionary")
    ap.add_argument("--forms-json", default=None,
                    help="path to a JSON {token: [normal forms...]} "
                         "dictionary (implies dictionary morphology)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    # every check runs before the Spark session starts
    if not (args.input or args.synthetic):
        ap.error("need --input or --synthetic")
    for flag, val in (("--segments", args.segments),
                      ("--buckets", args.buckets),
                      ("--block-size", args.block_size)):
        if val < 1:
            ap.error(f"{flag} must be >= 1, got {val}")

    normalizer, forms = "pinned", None
    if args.forms_json:
        with open(args.forms_json) as fh:
            forms = {k: tuple(v) for k, v in json.load(fh).items()}
        # a porter-family request + a custom dictionary = the layered
        # normalizer (silently dropping the requested stemming would
        # change regular-inflection matching behind the user's back)
        normalizer = ("dict_porter"
                      if args.normalizer in ("porter", "english-porter")
                      else "dict")
    elif args.normalizer in ("english", "english-porter"):
        from searchengine_spark.functions.english import ENGLISH_FORMS

        forms = ENGLISH_FORMS
        normalizer = ("dict_porter" if args.normalizer == "english-porter"
                      else "dict")
    elif args.normalizer == "porter":
        normalizer = "porter"

    from searchengine_spark.corpus import corpus_df, ingest
    from searchengine_spark.session import get_spark

    spark = get_spark("build_index", cores=args.cores)
    if args.synthetic:
        raw = corpus_df(spark, args.synthetic)
    else:
        raw = spark.read.parquet(args.input)

    t0 = time.perf_counter()
    # localCheckpoint, not .cache(): the SQL cache's compressed-columnar
    # re-scan into Arrow batches measured ~3x slower than checkpointed rows.
    # ingest() already checkpoints internally (its tail past the checkpoint
    # is a narrow JVM projection), so only the store path re-materializes.
    if args.store:
        from searchengine_spark.streaming.store import init_store, read_store

        init_store(raw, args.store)
        docs = read_store(spark, args.store).localCheckpoint()
    else:
        docs = ingest(raw)
    # sha256 per-row invariant and the doc count: both come from
    # build_index's first aggregation (no separate O(corpus) action)
    ingest_s = time.perf_counter() - t0

    from searchengine_spark.index.builder import build_index

    meta = build_index(
        docs, args.out, n_segments=args.segments,
        n_buckets=args.buckets, block_size=args.block_size,
        resume=not args.no_resume, normalizer=normalizer, forms=forms,
    )
    dt = time.perf_counter() - t0
    n = meta["n_docs"]
    meta.setdefault("timings", {})["ingest_s"] = round(ingest_s, 2)
    print(json.dumps({
        "n_docs": n, "seconds": round(dt, 2),
        "files_per_sec": round(n / dt, 1), "meta": meta,
    }))


if __name__ == "__main__":
    main()
