#!/usr/bin/env python
"""spark-submit job: compact the docs store and fully rebuild its index.

    spark-submit --py-files dist/searchengine_spark.zip jobs/compact.py \
        --store /path/to/docs_store --index /path/to/index

Deletes leave doc_id holes and streaming appends allocate ids after the
existing max (nothing rank-shifts — O(touched) incremental rebuilds); this
job is the OTHER half of that contract: periodically re-rank every key
densely (``compact_store``) and rebuild the index from scratch over the
compacted store (every doc_id may have moved, so all segments are dirty by
definition).  Segment count is re-derived from the compacted doc count at
the pinned seg_size, so an index shrunk by deletes also sheds empty
segments.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def run_compact(spark, store_dir: str, index_dir: str) -> dict:
    """Compact ``store_dir`` to dense doc_ids and fully rebuild
    ``index_dir`` over it (codec params pinned from the old meta; segment
    count re-derived from the compacted corpus at the pinned seg_size)."""
    from searchengine_spark.index.builder import build_index, index_analyzer
    from searchengine_spark.streaming import store as dstore

    with open(f"{index_dir}/meta.json") as fh:
        imeta = json.load(fh)
    seg_size = int(imeta["seg_size"])
    # the morphology is pinned with the index: resolve the old normalizer
    # (+ dict sidecar) BEFORE the resume=False rebuild, which would
    # otherwise default back to the pinned table
    normalizer, forms, _ = index_analyzer(spark, index_dir, imeta)

    smeta = dstore.compact_store(spark, store_dir)

    # full rebuild: clear manifests (all segments dirty after re-ranking)
    # and size the segment count to the compacted corpus
    shutil.rmtree(f"{index_dir}/manifests", ignore_errors=True)
    docs = dstore.read_store(spark, store_dir).localCheckpoint()
    n = docs.count()
    n_segments = max(1, -(-n // seg_size))
    meta = build_index(
        docs, index_dir, n_segments=n_segments,
        salt=int(imeta["salt"]), n_buckets=int(imeta["n_buckets"]),
        block_size=int(imeta["block_size"]), resume=False,
        normalizer=normalizer, forms=forms,
    )
    return {
        "mode": "compact", "store": smeta,
        "index": {k: meta[k] for k in ("n_docs", "n_segments", "seg_size")},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from searchengine_spark.session import get_spark

    spark = get_spark("compact", cores=args.cores)
    t0 = time.perf_counter()
    out = run_compact(spark, args.store, args.index)
    out["seconds"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
