"""Partitioned docs store with O(batch) micro-batch merges.

r2 VERDICT items 1+2 (the last true scale-killers): the old streaming store
was a single parquet directory rewritten WHOLLY every micro-batch (union
full corpus + batch -> window dedup -> re-ingest ALL rows -> tmp-dir swap),
and global-rank doc_ids meant one early-key insert rank-shifted every later
id — a near-full index rebuild.  Both are gone:

**Layout** — the store is hash-partitioned by key bucket
``kb = pmod(xxhash64(repo, path), n_kb)``::

    store_dir/
      store_meta.json              {"n_kb", "max_doc_id", "n_docs"}
      data/kb=0/part-*.parquet     ingested rows, sorted by doc_id

A micro-batch's keys map to a handful of kb values, so the merge reads
(partition-pruned) and rewrites (dynamic partition overwrite) ONLY those
directories: I/O and compute are O(batch + batch·store/n_kb), never
O(corpus).  Files are written sorted by doc_id so the index builder's
doc-range rebuild filter prunes at parquet row-group granularity too.

**Append-ordered doc_ids** — existing keys KEEP their doc_id across
updates (content/commit changes re-index in place); new keys are ranked
deterministically among themselves (the same ``ingest`` range-shuffle rank)
and appended after ``max_doc_id``.  Nothing ever rank-shifts, so an
additive batch dirties exactly: the segments of in-place-updated ids, plus
the appended tail segments.  Ids stay dense (0..n_docs-1) under
adds/updates; deletes leave holes until :func:`compact_store` re-ranks
densely (full rewrite — the periodic compaction path).

Contrast with the reference's single-page upsert
(IndexingServiceImpl.java:56-84): same "delete + re-add one unit"
semantics, but the unit here is a bounded partition / segment, not a row in
a shared MySQL table.

**Commit ordering contract** — "greatest commit wins" compares commit
strings LEXICOGRAPHICALLY (``_nc >= _oc``), ties won by the incoming batch
(a re-send of the stored commit with changed content is a correction).
For a MONOTONIC version column — a counter, a zero-padded timestamp, a
ULID — lexicographic order IS recency, and upserts resolve as users
expect.  For arbitrary ids (raw git shas) the order is
ARBITRARY-BUT-DETERMINISTIC: there is no recency signal in a sha, so the
store guarantees only CONVERGENCE — any interleaving / replay of the same
batches ends at the same winning (commit, content) row per key, namely the
lexicographically greatest commit (contract-tested with non-monotonic
strings in test_incremental.py).  Callers needing true last-writer-wins
must supply a monotonic commit value (e.g. prefix the sha with a commit
timestamp or an ingestion batch id).  The reference never faces this: its
delete-then-reindex endpoint (IndexingServiceImpl.java:229-250) is
single-writer per page, so arrival order is the only order.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..corpus import _ingest, ingest

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

DEFAULT_N_KB = 64  # at 10^12 files you'd size this so a kb dir ~ executor unit


def _kb_col(n_kb: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_kb)).cast("int")


def _dedupe_latest(batch: DataFrame) -> DataFrame:
    """One row per (repo, path): greatest commit wins, sha256-of-content as
    the deterministic tie-break (a batch may carry several versions)."""
    from pyspark.sql import Window

    w = Window.partitionBy("repo", "path").orderBy(
        F.desc("commit"), F.desc(F.sha2(F.col("content"), 256))
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def store_meta(store_dir: str) -> dict | None:
    p = f"{store_dir}/store_meta.json"
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _write_meta(store_dir: str, meta: dict) -> None:
    from ..index.checkpoint import write_json_atomic

    os.makedirs(store_dir, exist_ok=True)
    write_json_atomic(f"{store_dir}/store_meta.json", meta, indent=1)


STORE_SCHEMA = ("repo string, path string, commit string, lang string, "
                "content string, doc_id long, sha256 string, kb int")


def read_store(spark: SparkSession, store_dir: str,
               kbs: list[int] | None = None) -> DataFrame:
    """The ingested corpus (kb partition column included).  A store whose
    every row was deleted (no kb= dirs left) reads as an empty DataFrame
    with the ingested schema instead of failing inference.

    ``kbs``: read ONLY those kb= directories via direct-path reads.  The
    explicit schema skips footer-based inference and the direct paths skip
    listing the table root — at 10^12 files enumerating every kb dir (and
    stat-ing every file) during planning would dwarf the O(batch) merge
    itself; missing dirs (never-written or fully-deleted kb) contribute no
    rows."""
    import glob as _glob

    if kbs is not None:
        dirs = [d for k in sorted(set(kbs))
                if os.path.isdir(d := f"{store_dir}/data/kb={k}")]
        if not dirs:
            return spark.createDataFrame([], STORE_SCHEMA)
        return (
            spark.read.schema(STORE_SCHEMA)
            .option("basePath", f"{store_dir}/data")
            .parquet(*dirs)
        )
    if not _glob.glob(f"{store_dir}/data/kb=*"):
        return spark.createDataFrame([], STORE_SCHEMA)
    return spark.read.schema(STORE_SCHEMA).parquet(f"{store_dir}/data")


def init_store(batch: DataFrame, store_dir: str,
               n_kb: int = DEFAULT_N_KB) -> dict:
    """First batch: dedupe, dense-rank ingest, write the partitioned store."""
    return _write_store(_dedupe_latest(batch), store_dir, n_kb)


def _write_store(rows: DataFrame, store_dir: str, n_kb: int) -> dict:
    """Dense-rank ``rows`` (the fresh-ingest order) and overwrite the
    whole store with them.  ``n`` comes from the ingest checkpoint's
    partition counts, so the written store is never re-read to count it."""
    ing, n = _ingest(rows)
    (
        ing.withColumn("kb", _kb_col(n_kb))
        .repartition("kb")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(f"{store_dir}/data")
    )
    meta = {"n_kb": n_kb, "max_doc_id": n - 1, "n_docs": n}
    _write_meta(store_dir, meta)
    return meta


def merge_batch(batch: DataFrame, store_dir: str,
                seg_size: int | None = None) -> dict:
    """Merge one micro-batch into an existing store, touching ONLY the kb
    partitions that contain batch keys.  Returns a summary::

        {"affected_kbs": [...], "n_new": int, "updated_segments": [...],
         "appended_segments": [...], "dirty_segments": [...]}

    ``*_segments`` need ``seg_size`` (the index's pinned doc-range size);
    without it only the store is updated and the segment lists are None.

    Semantics per key: greatest commit wins (batch wins ties — a re-send of
    the same commit with changed content is a correction); an update keeps
    the key's doc_id; a new key gets ``max_doc_id + 1 + rank`` where rank is
    the deterministic ingest rank among the batch's new keys only.
    """
    spark = batch.sparkSession
    meta = store_meta(store_dir)
    if meta is None:
        raise FileNotFoundError(f"no store_meta.json under {store_dir}")
    n_kb, max_id = int(meta["n_kb"]), int(meta["max_doc_id"])

    nb = _dedupe_latest(batch).select(
        "repo", "path",
        F.col("commit").alias("_nc"), F.col("lang").alias("_nl"),
        F.col("content").alias("_nct"),
    )
    nb = nb.withColumn("kb", _kb_col(n_kb)).localCheckpoint()
    affected = sorted(r["kb"] for r in nb.select("kb").distinct().collect())

    old_aff = read_store(spark, store_dir, kbs=affected).select(
        "repo", "path",
        F.col("commit").alias("_oc"), F.col("lang").alias("_ol"),
        F.col("content").alias("_oct"), F.col("doc_id").alias("_oid"),
        F.col("sha256").alias("_os"),
    )
    joined = old_aff.join(nb.drop("kb"), ["repo", "path"], "full_outer")

    batch_wins = F.col("_nc").isNotNull() & (
        F.col("_oc").isNull() | (F.col("_nc") >= F.col("_oc"))
    )
    existing = joined.filter(F.col("_oid").isNotNull()).select(
        "repo", "path",
        F.when(batch_wins, F.col("_nc")).otherwise(F.col("_oc")).alias("commit"),
        F.when(batch_wins, F.col("_nl")).otherwise(F.col("_ol")).alias("lang"),
        F.when(batch_wins, F.col("_nct")).otherwise(F.col("_oct")).alias("content"),
        F.col("_oid").alias("doc_id"),
        F.when(batch_wins, F.sha2(F.col("_nct"), 256)).otherwise(F.col("_os")).alias("sha256"),
        (batch_wins & (
            (F.col("_oc") != F.col("_nc"))
            | (F.sha2(F.col("_nct"), 256) != F.col("_os"))
        )).alias("_changed"),
    ).localCheckpoint()  # one frozen computation feeds write + dirty-seg agg

    new_rows = joined.filter(F.col("_oid").isNull()).select(
        "repo", "path",
        F.col("_nc").alias("commit"), F.col("_nl").alias("lang"),
        F.col("_nct").alias("content"),
    )
    # append-ordered allocation: dense ingest rank among NEW keys only,
    # offset past the current max id — existing ids never move
    new_ing = ingest(new_rows).withColumn(
        "doc_id", F.col("doc_id") + F.lit(max_id + 1)
    ).localCheckpoint()
    n_new = new_ing.count()

    out = (
        existing.drop("_changed")
        .unionByName(new_ing.select("repo", "path", "commit", "lang",
                                    "content", "doc_id", "sha256"))
        .withColumn("kb", _kb_col(n_kb))
    )
    (
        out.repartition("kb")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")  # affected kb dirs only
        .partitionBy("kb")
        .parquet(f"{store_dir}/data")
    )
    meta = {"n_kb": n_kb, "max_doc_id": max_id + n_new,
            "n_docs": int(meta["n_docs"]) + n_new}
    _write_meta(store_dir, meta)

    summary = {"affected_kbs": affected, "n_new": int(n_new),
               "updated_segments": None, "appended_segments": None,
               "dirty_segments": None}
    if seg_size is not None:
        upd = sorted(
            int(r["s"])
            for r in existing.filter(F.col("_changed"))
            .select(F.floor(F.col("doc_id") / seg_size).alias("s"))
            .distinct()
            .collect()
        )
        app = (
            list(range((max_id + 1) // seg_size, (max_id + n_new) // seg_size + 1))
            if n_new else []
        )
        summary.update(
            updated_segments=upd,
            appended_segments=app,
            dirty_segments=sorted(set(upd) | set(app)),
        )
    return summary


def delete_keys(keys: DataFrame, store_dir: str,
                seg_size: int | None = None) -> dict:
    """Delete rows by (repo, path) key, touching ONLY the kb partitions
    containing those keys — the S9 delete sink at store level, O(batch).

    Ids are NOT reassigned: deleted ids become holes (nothing rank-shifts;
    the index builder sizes segments by id span, not row count), and the
    returned ``dirty_segments`` (needs ``seg_size``) are exactly the
    segments whose postings still carry the removed docs — rebuild those
    and the docs vanish from every query.  :func:`compact_store` reclaims
    the holes when they accumulate.
    """
    import shutil

    spark = keys.sparkSession
    meta = store_meta(store_dir)
    if meta is None:
        raise FileNotFoundError(f"no store_meta.json under {store_dir}")
    n_kb = int(meta["n_kb"])

    k = keys.select("repo", "path").distinct().withColumn(
        "kb", _kb_col(n_kb)
    ).localCheckpoint()
    affected = sorted(r["kb"] for r in k.select("kb").distinct().collect())

    old_aff = read_store(spark, store_dir, kbs=affected)
    removed = old_aff.join(k.drop("kb"), ["repo", "path"], "left_semi")
    kept = old_aff.join(k.drop("kb"), ["repo", "path"], "left_anti").localCheckpoint()

    dirty = None
    if seg_size is not None:
        dirty = sorted(
            int(r["s"]) for r in removed
            .select(F.floor(F.col("doc_id") / seg_size).alias("s"))
            .distinct().collect()
        )
    # every read of the old partitions (dirty collect, counts) happens
    # BEFORE the overwrite below; kept is eagerly checkpointed
    n_kept = kept.count()
    n_removed = old_aff.count() - n_kept

    kept_kbs = {r["kb"] for r in kept.select("kb").distinct().collect()}
    if n_kept:
        (
            kept.repartition("kb")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kb")
            .parquet(f"{store_dir}/data")
        )
    # dynamic overwrite only replaces partitions RECEIVING rows: a kb whose
    # every row was deleted must be dropped explicitly
    for kb in affected:
        if kb not in kept_kbs:
            shutil.rmtree(f"{store_dir}/data/kb={kb}", ignore_errors=True)

    _write_meta(store_dir, {"n_kb": n_kb, "max_doc_id": int(meta["max_doc_id"]),
                            "n_docs": int(meta["n_docs"]) - int(n_removed)})
    return {"affected_kbs": affected, "n_removed": int(n_removed),
            "dirty_segments": dirty}


def compact_store(spark: SparkSession, store_dir: str) -> dict:
    """Periodic compaction: re-rank ALL keys densely (the fresh-ingest
    order) and rewrite every partition.  Restores the dense global-rank id
    form after deletes left holes or append order diverged from key order;
    the caller must then fully rebuild any index over this store (every
    doc_id may have moved)."""
    meta = store_meta(store_dir)
    if meta is None:
        raise FileNotFoundError(f"no store_meta.json under {store_dir}")
    rows = read_store(spark, store_dir).select(
        "repo", "path", "commit", "lang", "content"
    ).localCheckpoint()
    return _write_store(rows, store_dir, int(meta["n_kb"]))
