"""Incremental re-index — the analog of ``POST /api/indexPage``.

The reference's single-page upsert (IndexingServiceImpl.java:56-84) deletes
the page's postings, decrements per-site df, and re-indexes one document
(``:229-250`` + ``:109-123``); its quirk of writing fresh ``frequency=1``
lemma rows without merging (``:143-149``) is deliberately NOT replicated
(SURVEY.md §7): this engine recomputes the affected doc-range SEGMENT
exactly — delete-and-rebuild beats in-place decrement at every scale
because a segment rebuild is one bounded, idempotent, checkpointed job.

``incremental_reindex``: invalidate the manifests of segments containing
the changed doc_ids, then resume the build — only those segments recompute
(builder filters the plan to missing segments).  The ORIGINAL corpus-level
avgdl is kept (``fixed_avgdl``): meta's one avgdl scores every segment,
rebuilt or not, so a partial rebuild cannot move the untouched segments'
scores; a full rebuild refreshes it.

Correctness under ADDS/REMOVES: doc_ids are global ranks of
``(repo, path, commit)``, so an insert shifts every later id.
``changed_segments`` therefore diffs the OLD ingested mapping against the
NEW one distributedly (full-outer join on the key) and flags every segment
containing an added, removed, rank-shifted, or content-changed id — under
the index's PINNED seg_size (builder.py pins it in meta.json; a grown
corpus appends segments, boundaries never move).  Only DISTINCT segment
numbers ever reach the driver — never a per-doc collect (the round-1
full-corpus ``collect()`` was a driver-OOM scale-killer).

``stream_ingest``: Structured Streaming front-door — ``readStream`` over a
landing directory of doc parquet, ``foreachBatch`` merges each micro-batch
into the kb-partitioned docs store (``streaming/store.py``: only the kb
partitions holding batch keys are read and rewritten; new keys get
APPEND-ORDERED doc_ids so existing ids never rank-shift) and rebuilds
exactly the dirty segments — O(batch + dirty) per micro-batch, never
O(corpus).  ``availableNow`` drains the backlog and stops (batch parity
with the reference's on-demand endpoint; a continuous trigger is the same
code path).

``changed_segments`` (the full old-vs-new diff) remains the general-purpose
tool for GLOBAL-RANK mutations — e.g. after ``delete_repo`` or
``compact_store``, where ids legitimately shift and the diff decides what
to rebuild.  The streaming path no longer needs it.
"""

from __future__ import annotations

import json
import pathlib
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def affected_segments(index_dir: str, changed_doc_ids: list[int]) -> list[int]:
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    seg_size = meta["seg_size"]
    return sorted({int(d) // seg_size for d in changed_doc_ids})


def changed_segments(old_ingested: DataFrame, new_ingested: DataFrame,
                     seg_size: int) -> list[int]:
    """Distributed old-vs-new diff -> segment numbers needing rebuild.

    A segment is dirty iff it contains a doc_id that was added, removed,
    rank-shifted, or whose (commit, sha256) changed — on EITHER side of the
    diff (a doc that moved from segment 2 to segment 3 dirties both).
    Shuffle cost: one join on (repo, path) + a distinct over <= 2·n_segments
    values; driver cost: the distinct segment list only.

    PRECONDITION: both sides hold at most ONE row per (repo, path) — the
    docs-store contract (latest commit wins, enforced by the ingest window
    dedup).  A multi-commit-per-path corpus would cross-match rows here and
    over-flag dirty segments (extra rebuild cost, never wrong results);
    dedupe on (repo, path) keeping max(commit) first if you have one.
    """
    from pyspark.sql import functions as F

    o = old_ingested.select(
        "repo", "path",
        F.col("commit").alias("_oc"), F.col("sha256").alias("_os"),
        F.col("doc_id").alias("_oid"),
    )
    n = new_ingested.select(
        "repo", "path",
        F.col("commit").alias("_nc"), F.col("sha256").alias("_ns"),
        F.col("doc_id").alias("_nid"),
    )
    dirty = o.join(n, ["repo", "path"], "full_outer").filter(
        F.col("_oid").isNull()
        | F.col("_nid").isNull()
        | (F.col("_oid") != F.col("_nid"))
        | (F.col("_os") != F.col("_ns"))
        | (F.col("_oc") != F.col("_nc"))
    )
    segs = (
        dirty.select(F.floor(F.col("_oid") / seg_size).alias("s"))
        .unionByName(dirty.select(F.floor(F.col("_nid") / seg_size).alias("s")))
        .filter(F.col("s").isNotNull())
        .distinct()
        .collect()
    )
    return sorted(int(r["s"]) for r in segs)


def rebuild_segments(docs_ingested: DataFrame, index_dir: str,
                     segs: list[int]) -> list[int]:
    """THE segment-rebuild primitive: invalidate the given segments'
    manifests and resume the build over them under the pinned seg_size /
    avgdl (every segment scores with meta's one avgdl; a full rebuild
    refreshes it).  Every incremental path — doc-id
    upserts, streaming micro-batches, store deletes — funnels through
    here so the rebuild contract lives in one place."""
    from ..index.builder import build_index

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    for s in segs:
        p = pathlib.Path(f"{index_dir}/manifests/segment={s}.json")
        if p.exists():
            p.unlink()
    build_index(
        docs_ingested,
        index_dir,
        resume=True,  # seg_size/buckets/block_size/avgdl pinned from meta
        fixed_avgdl=meta["avgdl"],
    )
    return segs


def incremental_reindex(docs_ingested: DataFrame, index_dir: str,
                        changed_doc_ids: list[int]) -> list[int]:
    """Rebuild only the segments containing ``changed_doc_ids``.

    ``docs_ingested`` is the UPDATED corpus (post-upsert).  Returns the list
    of rebuilt segments.  Caller contract: ``changed_doc_ids`` covers every
    changed AND rank-shifted id (``changed_segments`` computes that set
    distributedly; content-only edits keep their ids).  seg_size and avgdl
    are pinned from meta.json — the builder derives the segment count from
    the pinned size, so a grown corpus appends segments.
    """
    return rebuild_segments(
        docs_ingested, index_dir, affected_segments(index_dir, changed_doc_ids)
    )


def stream_ingest(spark: SparkSession, landing_dir: str, docs_store: str,
                  index_dir: str, checkpoint_dir: str) -> None:
    """Structured-Streaming ingest: drain ``landing_dir`` (availableNow),
    merge each micro-batch into the kb-partitioned ``docs_store`` (greatest
    commit wins; touches ONLY the kb partitions holding batch keys — see
    ``streaming/store.py``), rebuild exactly the dirty segments.  With
    append-ordered doc_id allocation the dirty set is the in-place-updated
    ids' segments plus the appended tail — nothing rank-shifts, so a batch
    costs O(batch + dirty segments) regardless of corpus size."""
    from ..schema import DOCS_SCHEMA
    from . import store as dstore

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if not batch_df.take(1):
            return
        from ..index.builder import build_index

        meta_p = pathlib.Path(f"{index_dir}/meta.json")
        smeta = dstore.store_meta(docs_store)

        if smeta is None:
            # first batch — or a legacy flat-parquet store: migrate it once.
            # Migration initializes the store from the LEGACY rows alone and
            # then merges the batch through the normal path, so same-commit
            # conflicts resolve by the one documented contract (batch wins —
            # a re-send of the same commit with changed content is a
            # correction), not by the init dedup's sha tie-break.
            legacy = pathlib.Path(docs_store)
            legacy_files = sorted(legacy.glob("*.parquet")) if legacy.exists() else []
            if legacy_files:
                old = s.read.parquet(docs_store).select(
                    "repo", "path", "commit", "lang", "content"
                ).localCheckpoint()
                dstore.init_store(old, docs_store)
                dstore.merge_batch(batch_df, docs_store)
                for p in legacy_files:  # drop the flat copy once migrated
                    p.unlink()
                (legacy / "_SUCCESS").unlink(missing_ok=True)
            else:
                dstore.init_store(batch_df, docs_store)
            if meta_p.exists():
                for p in pathlib.Path(f"{index_dir}/manifests").glob("segment=*.json"):
                    p.unlink()
            build_index(dstore.read_store(s, docs_store), index_dir, n_segments=2)
            return

        if not meta_p.exists():
            dstore.merge_batch(batch_df, docs_store)
            build_index(dstore.read_store(s, docs_store), index_dir, n_segments=2)
            return

        with open(meta_p) as fh:
            meta = json.load(fh)
        summary = dstore.merge_batch(batch_df, docs_store,
                                     seg_size=int(meta["seg_size"]))
        rebuild_segments(dstore.read_store(s, docs_store), index_dir,
                         summary["dirty_segments"])

    (
        spark.readStream.schema(DOCS_SCHEMA)
        .parquet(landing_dir)
        .writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
