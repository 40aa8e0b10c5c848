#!/usr/bin/env python
"""spark-submit job: the reference's statistics endpoint analog.

    spark-submit --py-files dist/searchengine_spark.zip jobs/stats.py \
        --index /path/to/index [--detailed]

Mirrors ``GET /api/statistics`` (ApiController.java:25-28 ->
StatisticsServiceImpl; dto/statistics/TotalStatistics {sites, pages,
lemmas, indexing} + DetailedStatisticsItem {url, status, statusTime,
pages, lemmas}): totals and per-site rows come from the index's own
artifacts — meta.json, per-segment manifests (the site-status machine
analog), the index's lemma column (distinct lemmas, read alone by column
projection) and the sites sidecar (per-repo doc_id islands -> exact live
page counts) — so the cheap form reads ZERO posting bytes.

``--detailed`` adds exact per-site lemma counts with one distributed pass:
decode each term row's posting ids (one numpy varbyte + delta pass over
its ``postings`` column alone), map ids -> site via
the interval sidecar (searchsorted over the global interval bounds), emit
per-batch-unique (site, lemma) pairs, then count distinct per site — the
shuffle carries deduped narrow pairs, never postings.
"""

from __future__ import annotations

import argparse
import datetime
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def site_lemma_counts(spark, index_dir: str) -> dict[str, int]:
    """Exact distinct-lemma count per site (repo) from the physical index."""
    import glob as _glob

    import numpy as np
    from pyspark.sql import functions as F

    from searchengine_spark.index.builder import SITES_SCHEMA, read_index

    with open(f"{index_dir}/meta.json") as fh:
        block_size = int(json.load(fh)["block_size"])
    if not _glob.glob(f"{index_dir}/sites/segment=*"):
        return {}  # pre-sidecar or emptied index: no per-site breakdown
    rows = (
        spark.read.schema(SITES_SCHEMA).parquet(f"{index_dir}/sites")
        .select("repo", "lo", "hi").collect()
    )
    if not rows:
        return {}
    iv = sorted((int(r["lo"]), int(r["hi"]), r["repo"]) for r in rows)
    los = np.array([x[0] for x in iv], dtype=np.int64)
    his = np.array([x[1] for x in iv], dtype=np.int64)
    repos = [x[2] for x in iv]

    def _pairs(batches):
        import pandas as pd

        from searchengine_spark.index.codec import decode_ids

        for pdf in batches:
            out_site, out_lemma = [], []
            for r in pdf.itertuples():
                ids = decode_ids(r.postings, block_size)
                pos = np.searchsorted(los, ids, side="right") - 1
                ok = pos >= 0
                ok[ok] &= ids[ok] <= his[pos[ok]]
                for p in np.unique(pos[ok]):
                    out_site.append(repos[int(p)])
                    out_lemma.append(r.lemma)
            yield pd.DataFrame({"site": out_site, "lemma": out_lemma})

    pairs = (
        read_index(spark, index_dir, columns=("lemma", "postings"))
        .mapInPandas(_pairs, schema="site string, lemma string")
        .groupBy("site")
        .agg(F.countDistinct("lemma").alias("lemmas"))
    )
    return {r["site"]: int(r["lemmas"]) for r in pairs.collect()}


def statistics(spark, index_dir: str, detailed_lemmas: bool = False) -> dict:
    from pyspark.sql import functions as F

    from searchengine_spark.index.builder import SITES_SCHEMA, read_index
    from searchengine_spark.index.checkpoint import all_manifests

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    manifests = all_manifests(index_dir)
    done = all(m.get("status") == "done" for m in manifests) and bool(manifests)
    import glob as _glob
    import os

    status_time = max(
        (os.stat(p).st_mtime for p in _glob.glob(f"{index_dir}/manifests/*.json")),
        default=os.stat(f"{index_dir}/meta.json").st_mtime,
    )
    status_iso = datetime.datetime.fromtimestamp(
        status_time, tz=datetime.timezone.utc).isoformat()

    sites_rows = []
    if _glob.glob(f"{index_dir}/sites/segment=*"):
        sites_rows = (
            spark.read.schema(SITES_SCHEMA).parquet(f"{index_dir}/sites")
            .groupBy("repo")
            .agg(F.sum(F.col("hi") - F.col("lo") + 1).alias("pages"))
            .collect()
        )
    n_lemmas = int(
        read_index(spark, index_dir, columns=("lemma",))
        .agg(F.countDistinct("lemma").alias("n")).collect()[0]["n"]
    )
    per_site_lemmas = (
        site_lemma_counts(spark, index_dir) if detailed_lemmas else {}
    )
    detailed = [
        {
            "url": r["repo"],
            "status": "INDEXED" if done else "INDEXING",
            "statusTime": status_iso,
            "pages": int(r["pages"]),
            **({"lemmas": per_site_lemmas.get(r["repo"], 0)}
               if detailed_lemmas else {}),
        }
        for r in sorted(sites_rows, key=lambda r: r["repo"])
    ]
    return {
        "total": {
            "sites": len(sites_rows),
            "pages": int(meta["n_docs"]),
            "lemmas": n_lemmas,
            "indexing": not done,
        },
        "detailed": detailed,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--detailed", action="store_true",
                    help="exact per-site lemma counts (one distributed pass)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from searchengine_spark.session import get_spark

    spark = get_spark("stats", cores=args.cores)
    print(json.dumps(statistics(spark, args.index,
                                detailed_lemmas=args.detailed)))


if __name__ == "__main__":
    main()
