"""Physical index builder: sorted posting runs -> compressed posting lists.

SURVEY.md §3.2 (build lifecycle) + §4 items 1/3/4/5.  Pipeline (ONE pass
over all segments that still need building):

  docs (ingested: doc_id, sha256)                       [narrow scan]
    -> count / max(doc_id) / sha256 check       [one agg; aborts on a bad row]
    -> fused Arrow analyzer + run former: each batch is tokenized,
       normalized and lexsorted into one sorted run per (segment, lemma)
       — aligned doc/tf lists, hash bucket — in ONE mapInArrow; a
       doc's tokens never leave its partition    [narrow, localCheckpoint]
    -> merge: groupBy(segment, BUCKET), per-lemma merge of the lemma's
       runs in numpy, delta+varbyte encode of the lemma's docs, tfs and
       position stream                                [the ONE shuffle]
    -> write as the groups leave the merge, partitionBy(segment,
       bucket(lemma)), dynamic partition overwrite (already-done segments
       untouched, no repartition)                [partition-pruned reads]

That merge writes the WHOLE index: one ``data/`` row per (segment, lemma)
carries the dictionary (lemma, df), the postings (doc ids and tfs) and
the positional stream ``pstream`` (index/positions.py).  Readers take the
columns they need by Parquet column projection, so no dictionary or
positional dataset is written beside it (:func:`read_index`).

Doc lengths are stored once per doc, not once per posting: each segment
has one NORMS ROW in ``data/`` (per-segment norms, as Lucene keeps them),
keyed by the reserved lemma :data:`NORMS_LEMMA` in its own partition
``bucket=``:data:`NORMS_BUCKET`, in the same codec layout — ``postings``
= the segment's doc ids with dl > 0, ``tfs`` = each doc's dl, ``pstream``
null.  The analysis kernel emits its runs (index/runs.py) and the same
merge writes it, so it costs no extra job.  No weight is stored: serving
reads a segment's norms row to score, and derives MaxScore's term bounds
from it (index/wand.py); BM25 reads of a term's rows never touch it.
``data/`` files keep min/max statistics on ``lemma`` only
(:data:`DATA_WRITE_OPTIONS`), so no footer repeats a row's blobs.

Build statistics ride those jobs instead of re-reading what they just
computed: the analysis kernel tallies each segment's docs, sha256 lineage,
Σ dl and repo id runs, and the merge encoder tallies what it writes, into
accumulators (``session.MergeDicts``) read back after each job.  avgdl,
the manifests, the sites sidecar and the positional stats come from those
tallies on the driver — no aggregation over the docs or the written files.

What bounds Zipf skew (SURVEY.md §4 item 3): a plain
``groupBy(lemma).collect_list`` sends the hottest term's entire posting
list through one reducer key.  Here no reducer key is a lemma: a run holds
at most one Arrow batch of postings (``maxRecordsPerBatch`` docs, formed
map-side), and the merge groups by (segment, bucket), so a hot term shares
its group with every other lemma of its bucket and its doc range is cut by
the segments.  ``salt`` has no effect on the build (see
:func:`build_index`).

Doc-range SEGMENTS are the 10^12-file story: doc_id space is range-cut into
``n_segments``; each segment owns complete posting lists for its doc range,
so segments build independently (the checkpoint/resume unit) and query-time
top-k runs per segment then merges (index/wand.py).  At 100 TB segments map
to executor-sized work units.

Checkpoint manifests (§4 item 5): one JSON per segment with doc/term/posting
counts and an order-independent sha256 lineage fingerprint; a resumed build
filters the plan to segments without a 'done' manifest — the expensive
stages never touch finished doc ranges.  tests/test_physical_index.py
proves resumed output is byte-identical.
"""

from __future__ import annotations

import json
import math
import os
import time as _time
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .runs import merge_sites

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

K1, B = 1.2, 0.75  # pinned BM25 params, recorded in meta for serving

# meta["format"]: the layout this builder writes and reads — one data/
# dataset whose every term row carries its positional stream, one norms
# row per segment instead of a per-posting dl stream, and no block
# directory.  Any other format is rebuilt whole on resume and refused by
# serving (:func:`check_format`): format 4 stored a per-block directory
# on every row, format 3 stored dls per posting and no norms, format 2
# could hold segments built without positions, and indexes without the
# marker kept dict/ and positions/ sidecars beside data/.
INDEX_FORMAT = 5

# the norms row's key: a lemma the analyzer never emits (the kernel
# raises on it, build_index rejects a forms table producing it), in a
# partition of its own so a pruned read of the norms reads no term bytes
NORMS_LEMMA = ""
NORMS_BUCKET = -1

# min/max statistics on ``lemma`` only, the one column reads filter on:
# parquet-mr stores a binary column's min/max up to four times in the
# footer, so by default a one-row norms file carries its blobs several
# times over, and every read of a file pays for its footer
DATA_WRITE_OPTIONS = {"parquet.column.statistics.enabled": "false",
                      "parquet.column.statistics.enabled#lemma": "true"}

SITES_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.IntegerType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
    ]
)

INDEX_OUT_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.IntegerType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("postings", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        # null on the norms rows only
        T.StructField("pstream", T.BinaryType(), True),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)
# what BM25 serving reads: every column but the positional stream
POSTING_COLS = tuple(n for n in INDEX_OUT_SCHEMA.names if n != "pstream")


def seg_ranges_filter(missing: list[int], seg_size: int):
    """``doc_id``-range predicate equivalent to ``seg.isin(missing)`` but
    PUSHABLE: ``floor(doc_id/seg_size) IN (...)`` is an expression parquet
    can't evaluate against row-group stats, while ``doc_id >= lo AND
    doc_id < hi`` prunes row groups — and the docs store writes its files
    sorted by doc_id exactly so this filter skips them (store.py).
    Contiguous missing segments collapse into single ranges."""
    if not missing:
        return F.lit(False)
    runs: list[tuple[int, int]] = []
    start = prev = missing[0]
    for s in missing[1:]:
        if s == prev + 1:
            prev = s
            continue
        runs.append((start, prev))
        start = prev = s
    runs.append((start, prev))
    cond = None
    for lo, hi in runs:
        c = (F.col("doc_id") >= lo * seg_size) & (F.col("doc_id") < (hi + 1) * seg_size)
        cond = c if cond is None else (cond | c)
    return cond


def hash_bucket(lemma: str, n_buckets: int) -> int:
    """Deterministic bucket: first 4 bytes of md5, big endian (not Python's
    salted builtin hash); :data:`NORMS_BUCKET` for :data:`NORMS_LEMMA`.
    The build's run former and every bucket-pruned read compute it the
    same way."""
    import hashlib

    if lemma == NORMS_LEMMA:
        return NORMS_BUCKET
    return int.from_bytes(hashlib.md5(lemma.encode()).digest()[:4], "big") % n_buckets


def encode_index_runs(runs: DataFrame, block_size: int,
                      stats=None) -> DataFrame:
    """Sorted runs -> encoded posting rows (:data:`INDEX_OUT_SCHEMA`), in
    ONE exchange: runs group by (segment, BUCKET) — n_segments x n_buckets
    well-sized groups (grouping by (segment, lemma) would mean one
    applyInPandas invocation per term, measured to dominate the build) —
    and the per-lemma merge + delta/varbyte encode runs vectorized inside
    each group.

    The runs' ``pos`` fill each row's ``pstream``
    (:func:`positions.encode_pstream`) in the same group, so the
    positional streams cost no second exchange.  A segment's norms runs
    form a group of their own (:data:`NORMS_BUCKET`) and encode as its
    norms row, with no ``pstream``.

    ``stats`` (an accumulator over :class:`session.MergeDicts`) receives
    each segment's ``{"terms", "postings", "bytes", "pos_bytes"}`` — its
    manifest's written counts of the term rows, ``bytes`` being postings
    + tfs and ``pos_bytes`` postings + tfs + pstream (what a positional
    fetch moves) — and the norms row's postings + tfs as ``norm_bytes``,
    from the groups as they encode.  The encoder runs in the result stage
    of the job that writes its output, so the counts are complete once
    that write returns."""

    def _merge(pdf):
        import numpy as np
        import pandas as pd

        from .codec import encode_postings_many
        from .positions import encode_pstream

        cols = INDEX_OUT_SCHEMA.names
        if pdf.empty:
            return pd.DataFrame([], columns=cols)
        # Concatenate EVERY lemma's runs into flat arrays, sort once by
        # (lemma, doc_id) (a lemma's runs come from different batches, so
        # their docs are disjoint and ids stay strict), and batch-encode
        # all lemmas in a single vectorized codec pass.
        seg = int(pdf["segment"].iloc[0])
        bucket = int(pdf["bucket"].iloc[0])
        # the norms group encodes one row (tfs = each doc's dl)
        norms = bucket == NORMS_BUCKET
        lens = np.fromiter((len(a) for a in pdf["docs"]), dtype=np.int64,
                           count=len(pdf))
        codes, lemmas = pd.factorize(pdf["lemma"], sort=True)
        rid = np.repeat(codes, lens)
        docs = np.concatenate(pdf["docs"].to_list()).astype(np.int64)
        tfs = np.concatenate(pdf["tfs"].to_list()).astype(np.int64)
        order = np.lexsort((docs, rid))
        counts = np.bincount(rid, minlength=len(lemmas))
        offsets = np.concatenate([[0], np.cumsum(counts)])
        pstream = [None] if norms else encode_pstream(
            np.concatenate(pdf["pos"].to_list()).astype(np.int64), tfs,
            order, offsets)
        encs = encode_postings_many(docs[order], tfs[order], offsets,
                                    block_size)
        out = [
            {
                "segment": seg,
                "lemma": lemmas[t],
                "df": int(counts[t]),
                "postings": enc.docs,
                "tfs": enc.tfs,
                "pstream": pstream[t],
                "bucket": bucket,
            }
            for t, enc in enumerate(encs)
        ]
        if stats is not None:
            nbytes = sum(len(e.docs) + len(e.tfs) for e in encs)
            stats.add({seg: {"norm_bytes": nbytes} if norms else {
                "terms": len(encs), "postings": int(counts.sum()),
                "bytes": nbytes,
                "pos_bytes": nbytes + sum(len(p) for p in pstream)}})
        return pd.DataFrame(out, columns=cols)

    return (runs.select("segment", "bucket", "lemma", "docs", "tfs", "pos")
            .groupBy("segment", "bucket")
            .applyInPandas(_merge, schema=INDEX_OUT_SCHEMA))


_ANALYZER_CACHE: dict[tuple[str, str], tuple[str, dict, dict | None]] = {}


def index_analyzer(spark, index_dir: str, meta: dict | None = None,
                   ) -> tuple[str, dict | None, dict | None]:
    """(normalizer, forms, table) for analyzing QUERIES against this index:
    pass all three to ``analyze``/``analyze_positions``.

    The index's morphology is an index property (``meta.normalizer`` +
    the ``dict_forms`` sidecar), so every serving path must analyze with
    the same table the build used — the reference's per-process morphology
    singleton (LemmaFinderImpl.java:25-31).  The dictionary is collected
    once per (index_dir, dict_sha) and cached process-wide; it is a
    bounded vocabulary artifact (MBs at any corpus size).  ``table`` is
    its porter projection under 'dict_porter' (None otherwise), cached
    with it so no query re-projects it."""
    from ..analyzer import dict_porter_table

    if meta is None:
        with open(f"{index_dir}/meta.json") as fh:
            meta = json.load(fh)
    norm = meta.get("normalizer", "pinned")
    if norm not in ("dict", "dict_porter"):
        return norm, None, None
    key = (index_dir, str(meta.get("dict_sha", "")))
    hit = _ANALYZER_CACHE.get(key)
    if hit is None or hit[0] != norm:
        rows = spark.read.parquet(f"{index_dir}/dict_forms").collect()
        forms = {r["token"]: tuple(r["forms"]) for r in rows}
        hit = (norm, forms,
               dict_porter_table(forms) if norm == "dict_porter" else None)
        _ANALYZER_CACHE[key] = hit
    return hit


def build_index(
    docs_ingested: DataFrame,
    out_dir: str,
    n_segments: int = 1,
    salt: int = 8,
    n_buckets: int = 16,
    block_size: int = 128,
    resume: bool = True,
    fixed_avgdl: float | None = None,
    normalizer: str = "pinned",
    forms: dict[str, tuple[str, ...]] | None = None,
    positions: bool = True,
) -> dict:
    """Build (or resume) the physical index under ``out_dir``.

    Layout:
      out_dir/meta.json
      out_dir/manifests/segment=K.json
      out_dir/data/segment=K/bucket=B/*.parquet   (:data:`INDEX_OUT_SCHEMA`)
      out_dir/sites/segment=K/*.parquet
      out_dir/dict_forms/  (normalizer='dict' only: the morphology table)

    ``normalizer``/``forms`` select the analyzer's normal-forms table
    ('pinned' fixture table, or 'dict' + an arbitrary dictionary — e.g.
    ``functions.english.ENGLISH_FORMS``); the choice is an INDEX PROPERTY
    pinned like seg_size: resumed/incremental builds reuse the stored
    normalizer and its persisted ``dict_forms`` sidecar, and every query
    path analyzes with the same table via :func:`index_analyzer` (the
    reference ships its morphology inside the index the same way —
    LemmaFinderImpl.java:25-31 singleton).

    Every written row carries its ``pstream`` from the same analysis
    pass and the same merge (index/positions.py).  An index of another
    :data:`INDEX_FORMAT` is rebuilt whole on resume.

    ``positions`` only accepts ``True``, and ``salt`` has no effect beyond
    meta.json's ``salt``.  Both are kept because ``perfbench/workloads.py``
    passes them (debt: drop them with the next benchmark change)."""
    import shutil

    from ..analyzer import check_normalizer
    from .checkpoint import (all_manifests, read_manifest, write_json_atomic,
                             write_manifest)

    if positions is not True:
        raise ValueError("every index carries positions: build_index takes "
                         f"no positions={positions!r}")

    spark = docs_ingested.sparkSession
    narrow = docs_ingested.select("repo", "doc_id", "content", "sha256")

    # seg_size is a PINNED index property: once an index exists, its doc-range
    # boundaries must never move under non-rebuilt segments (doc_ids are
    # global ranks; a grown corpus ADDS segments, it never resizes them).
    # n_buckets/block_size are pinned with it — codec layout must agree
    # across segments (salt too, which only meta records).  The
    # n_segments argument only shapes a FRESH build.
    old_meta: dict | None = None
    if resume and os.path.exists(f"{out_dir}/meta.json"):
        with open(f"{out_dir}/meta.json") as fh:
            old_meta = json.load(fh)
    # an index of another format (segments without positions, or dict/
    # and positions/ sidecars beside data/) is rebuilt whole rather than
    # mixed with this one; the sidecars go now — nothing here reads them
    legacy = old_meta is not None and old_meta.get("format") != INDEX_FORMAT
    if legacy:
        for d in ("dict", "positions"):
            shutil.rmtree(f"{out_dir}/{d}", ignore_errors=True)
    if old_meta is not None:
        # the normalizer is pinned with the index (postings encode ITS
        # lemmas); a resumed build must analyze with the stored table
        normalizer = old_meta.get("normalizer", "pinned")
        if normalizer in ("dict", "dict_porter"):
            forms = index_analyzer(spark, out_dir, old_meta)[1]
    check_normalizer(normalizer, forms)
    if normalizer in ("dict", "dict_porter") and old_meta is None:
        # validate user dictionaries ONCE, before the expensive build: a
        # duplicate form in a value tuple would crash the positional
        # encoder deep inside an executor (strictly-increasing delta
        # assert), and uppercase keys are silently dead (the analyzer
        # lowercases before lookup)
        for key, vals in forms.items():
            if not vals:
                raise ValueError(f"forms[{key!r}] is empty")
            if len(set(vals)) != len(vals):
                raise ValueError(f"forms[{key!r}] has duplicate forms: "
                                 f"{tuple(vals)}")
            if key != key.lower():
                raise ValueError(
                    f"forms key {key!r} is not lowercase — the analyzer "
                    "lowercases tokens before lookup, so it can never fire")
            if NORMS_LEMMA in vals:
                raise ValueError(
                    f"forms[{key!r}] maps to the reserved norms lemma "
                    f"{NORMS_LEMMA!r}")

    def done(s: int) -> bool:
        """Segment ``s`` of the old index needs no rebuild."""
        m = read_manifest(out_dir, s)
        return bool(resume and not legacy and m and m.get("status") == "done")

    # n_docs (the BM25 idf/avgdl base) is the ROW count; the segment span
    # derives from max(doc_id)+1 — they differ once deletes leave id holes
    # (streaming/store.py delete_keys): a hole must not shrink the segment
    # range or the stale-segment cleanup below would drop live tail
    # segments.  Dense corpora: span == n_docs, behavior unchanged.
    # the sha256 per-row invariant (BASELINE.json input_hint) rides the SAME
    # aggregation: checkpointed rows are full-width anyway (no column
    # pruning to lose).  On a RESUMED build the sha2 CPU is scoped to the
    # doc ranges actually being (re)built — rows in 'done' segments were
    # verified when their segment was built, and any content change flows
    # through the dirty-segment discipline (manifest dropped), so a 1-doc
    # micro-batch pays O(batch) hashing, not O(corpus).  The count/max
    # still scan every row (they are global statistics regardless), and
    # the scan must run before anything else: seg_size needs max(doc_id),
    # and a bad sha aborts before any write.
    _t = _time.perf_counter()
    _bad = (F.sha2(F.col("content"), 256) != F.col("sha256")).cast("int")
    if old_meta is not None:
        _ss = int(old_meta["seg_size"])
        _old_n = int(old_meta["n_segments"])
        _known = [s for s in range(_old_n) if not done(s)]
        _bad = F.when(
            seg_ranges_filter(_known, _ss)
            | (F.col("doc_id") >= _old_n * _ss),
            _bad,
        ).otherwise(F.lit(0))
    _c = narrow.agg(
        F.count("*").alias("n"), F.max("doc_id").alias("mx"),
        F.sum(_bad).alias("bad_sha"),
    ).collect()[0]
    if int(_c["bad_sha"] or 0):
        raise ValueError(
            f"sha256 per-row invariant violated on {_c['bad_sha']} rows")
    n_docs = int(_c["n"])
    id_span = (int(_c["mx"]) + 1) if _c["mx"] is not None else 0
    scan_s = round(_time.perf_counter() - _t, 2)
    if old_meta is not None:
        seg_size = int(old_meta["seg_size"])
        salt = int(old_meta["salt"])
        n_buckets = int(old_meta["n_buckets"])
        block_size = int(old_meta["block_size"])
        n_segments = max(1, math.ceil(id_span / seg_size))
    else:
        seg_size = max(1, math.ceil(id_span / n_segments))

    # corpus shrank: doc ranges beyond the new segment count are stale
    # everywhere (data, sites, manifest)
    if os.path.isdir(f"{out_dir}/data"):
        for name in os.listdir(f"{out_dir}/data"):
            if name.startswith("segment=") and int(name.split("=")[1]) >= n_segments:
                shutil.rmtree(f"{out_dir}/data/{name}", ignore_errors=True)
                shutil.rmtree(f"{out_dir}/sites/{name}", ignore_errors=True)
                p = f"{out_dir}/manifests/{name}.json"
                if os.path.exists(p):
                    os.unlink(p)

    missing = [s for s in range(n_segments) if not done(s)]
    # resume short-circuit: same corpus size and every segment done.  The
    # totals are re-derived from the manifests: a build that died between
    # its last manifest and its final meta write left them unset
    if (old_meta is not None and not missing
            and int(old_meta.get("n_docs", -1)) == n_docs):
        totals = _manifest_totals(all_manifests(out_dir))
        if any(old_meta.get(k) != v for k, v in totals.items()):
            old_meta.update(totals)
            write_json_atomic(f"{out_dir}/meta.json", old_meta, indent=1)
        return old_meta

    timings: dict[str, float] = {"scan_s": scan_s}
    _t = _time.perf_counter()

    # The stored avgdl is reused on every PARTIAL rebuild: meta's one
    # avgdl scores every segment, and only the analyzed docs' Σ dl is
    # known, so reusing it lets us prune the analyzer input to ONLY the
    # doc ranges being rebuilt — the expensive stage then costs O(rebuilt
    # range), not O(corpus).  A full rebuild refreshes it.
    avgdl: float | None = float(fixed_avgdl) if fixed_avgdl is not None else None
    if avgdl is None and old_meta is not None and 0 < len(missing) < n_segments:
        avgdl = float(old_meta["avgdl"])

    analyzed = narrow
    if avgdl is not None and len(missing) < n_segments:
        # doc_id-range form of seg.isin(missing): pushed to the parquet scan
        # (row-group pruning against doc_id-sorted store files)
        analyzed = analyzed.filter(seg_ranges_filter(missing, seg_size))

    # fused Arrow analyzer: each batch is tokenized, normalized and formed
    # into sorted (segment, lemma) runs in ONE Python pass — a doc's tokens
    # never leave its partition, and the first shuffle of the whole build
    # is the (segment, bucket) merge itself.  EVERY normalizer routes here
    # (the stemmer family stems the batch's UNIQUE tokens inside the same
    # kernel), occurrence positions included.  The same pass tallies each
    # segment's docs, sha lineage, Σ dl and repo id runs into `stats` — the
    # build's statistics never re-read the corpus.
    from ..analyzer import doc_term_runs_arrow
    from ..session import MergeDicts

    stats = spark.sparkContext.accumulator({}, MergeDicts(xor=("sha_xor",)))
    runs = doc_term_runs_arrow(analyzed, seg_size, n_buckets,
                               normalizer=normalizer, forms=forms,
                               stats=stats)
    # MATERIALIZE the runs once (localCheckpoint, not .cache()): the SQL
    # cache's compressed-columnar form measured ~3x slower to re-scan into
    # Arrow batches than checkpointed rows on this host.  The checkpoint
    # job's result stage runs the kernel, so `stats` holds each analyzed
    # doc exactly once afterwards (avgdl needs them before the merge).  At
    # cluster scale this materialization is a staging write to durable
    # storage.
    runs = runs.localCheckpoint()
    timings["analyze_plan_s"] = round(_time.perf_counter() - _t, 2)
    _t = _time.perf_counter()

    if avgdl is None:
        # avgdl over ALL docs (zero-lemma docs included) — matches the
        # oracle.  The analysis above was not range-filtered on this path.
        total_dl = sum(st["dl"] for st in stats.value.values())
        avgdl = float(total_dl) / n_docs if n_docs else 1.0
    timings["avgdl_s"] = round(_time.perf_counter() - _t, 2)
    _t = _time.perf_counter()

    # Drop the rebuilt segments' directories and manifests wholesale BEFORE
    # the write: dynamic partition overwrite only replaces (segment, bucket)
    # partitions that receive rows, so a rebuilt segment that no longer
    # produces rows for a previously-populated bucket would silently keep
    # serving the old parquet (deleted content's postings), and a crash
    # before the new manifest lands must leave the segment not-done.
    for s in missing:
        shutil.rmtree(f"{out_dir}/data/segment={s}", ignore_errors=True)
        shutil.rmtree(f"{out_dir}/sites/segment={s}", ignore_errors=True)
        p = f"{out_dir}/manifests/segment={s}.json"
        if os.path.exists(p):
            os.unlink(p)

    meta = {
        "format": INDEX_FORMAT,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_segments": n_segments,
        "seg_size": seg_size,
        "salt": salt,
        "n_buckets": n_buckets,
        "block_size": block_size,
        "k1": K1,
        "b": B,
        "normalizer": normalizer,
        # a constant no library code reads, kept because
        # perfbench/workloads.py checks it (debt: drop it with the next
        # benchmark change)
        "has_positions": True,
    }
    os.makedirs(out_dir, exist_ok=True)
    if normalizer in ("dict", "dict_porter"):
        # persist the morphology table WITH the index (bounded vocabulary
        # artifact): serving analyzes queries with exactly the table that
        # produced the postings.  dict_sha keys the process-wide cache.
        import hashlib

        items = sorted((k, tuple(v)) for k, v in forms.items())
        dict_sha = hashlib.sha256(repr(items).encode()).hexdigest()[:16]
        meta["dict_sha"] = dict_sha
        if (old_meta is None
                or old_meta.get("dict_sha") != dict_sha
                or not os.path.isdir(f"{out_dir}/dict_forms")):
            (spark.createDataFrame(
                [(k, list(v)) for k, v in items],
                "token string, forms array<string>")
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{out_dir}/dict_forms"))
    write_json_atomic(f"{out_dir}/meta.json", meta, indent=1)

    if missing:
        # ONE exchange: the runs go straight into their (segment, bucket)
        # merge group, and the merge output — postings and pstream — is
        # written as it leaves the group (each group lands in its
        # partition dir from one task, no repartition).
        # The encoder adds each segment's written counts to `stats`.
        (
            encode_index_runs(runs.filter(isin_expr("segment", missing)),
                              block_size, stats)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")  # done segments untouched
            .options(**DATA_WRITE_OPTIONS)
            .partitionBy("segment", "bucket")
            .parquet(f"{out_dir}/data")
        )
    # (no unpersist: runs are localCheckpoint()'d, not persist()'d — their
    # cached partitions are freed when the checkpointed RDD is driver-GC'd)
    timings["merge_write_s"] = round(_time.perf_counter() - _t, 2)
    _t = _time.perf_counter()
    seg_stats = stats.value

    # ---- sites sidecar: per-segment (repo, lo, hi) doc_id islands ---------
    # Because ingest ranks doc_ids by (repo, path, commit), a repo's docs are
    # contiguous runs in id space (the fresh-build prefix is ONE run per
    # repo; each streaming append adds at most one tail run per repo per
    # batch) — so the reference's `site=` search filter becomes an interval
    # mask on candidate doc_ids at query time (wand.py), with NO join
    # against a docs table.  The kernel tallied each batch's runs of
    # consecutive ids per (segment, repo); rejoining the runs that touch
    # across batches gives the islands.  The table is O(repos + append
    # batches) rows, written from the driver as ONE Arrow-backed local
    # frame under the same O(rebuilt segments) dynamic-overwrite discipline
    # as the data.
    sites = [(s, repo, lo, hi) for s in missing for repo, lo, hi
             in merge_sites(seg_stats.get(s, {}).get("sites", []))]
    if sites:
        import pandas as pd

        (
            spark.createDataFrame(
                pd.DataFrame(sites, columns=SITES_SCHEMA.names), SITES_SCHEMA)
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("segment")
            .parquet(f"{out_dir}/sites")
        )
    timings["sites_s"] = round(_time.perf_counter() - _t, 2)
    _t = _time.perf_counter()

    # ---- manifests: the kernel's doc tallies + the encoder's written counts
    for seg in missing:
        st = seg_stats.get(seg, {})
        m = {
            "segment": seg,
            "doc_count": st.get("docs", 0),
            "term_count": st.get("terms", 0),
            "posting_count": st.get("postings", 0),
            "posting_bytes": st.get("bytes", 0),
            "input_sha_xor": st.get("sha_xor", 0),
            "pos_posting_bytes": st.get("pos_bytes", 0),
            "norm_bytes": st.get("norm_bytes", 0),
            "status": "done",
        }
        write_manifest(out_dir, seg, m)
    meta.update(_manifest_totals(all_manifests(out_dir)))
    write_json_atomic(f"{out_dir}/meta.json", meta, indent=1)
    timings["manifests_s"] = round(_time.perf_counter() - _t, 2)

    meta["timings"] = timings
    return meta


def _manifest_totals(manifests: list[dict]) -> dict:
    """Index-wide serving estimates from the per-segment manifests.

    bytes-per-posting: with it, a term's driver-side working-set size is
    predictable from its dictionary df ALONE (est = gdf * bytes_per_posting),
    so QueryEngine can route an over-threshold term to the distributed path
    WITHOUT first collecting its posting bytes (the r3 fetch-before-guard
    hole); ``pos_bytes_per_posting`` prices a positional fetch (postings +
    tfs + pstream) the same way.  The RATIOS are sound from any subset of
    segments, so manifests without byte stats simply don't contribute; the
    whole-index TOTALS (QueryEngine's skip-the-guard short-circuit: index
    <= threshold => no term can exceed it) are only sound when EVERY
    manifest contributed — an undercounted total would reopen the
    fetch-before-guard hole for exactly the big indexes it protects."""
    out: dict = {}
    for key, total, ratio in (("posting_bytes", "posting_bytes",
                               "bytes_per_posting"),
                              ("pos_posting_bytes", "pos_posting_bytes",
                               "pos_bytes_per_posting")):
        have = [m for m in manifests if key in m]
        n = sum(int(m["posting_count"]) for m in have)
        if n:
            nb = sum(int(m[key]) for m in have)
            out[ratio] = round(nb / n, 3)
            if len(have) == len(manifests):
                out[total] = nb
    if manifests and all("norm_bytes" in m for m in manifests):
        out["norm_bytes"] = sum(int(m["norm_bytes"]) for m in manifests)
    return out


def check_format(meta: dict) -> None:
    """Raise unless ``meta`` is of the current :data:`INDEX_FORMAT`: BM25
    serving reads the current row schema and its norms rows, and phrase
    serving its positions on every row.  Every serving front end checks
    here; there is no fallback that reads an older layout."""
    if meta.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"index format {meta.get('format')} is not format "
            f"{INDEX_FORMAT} (norms rows, positions on every row, no block "
            "directory); rebuild it before serving (a resumed build_index "
            "rebuilds an older format whole)")


def read_index(spark: SparkSession, out_dir: str,
               lemmas: list[str] | None = None,
               columns: tuple[str, ...] = POSTING_COLS,
               norms: bool = False) -> DataFrame:
    """Read ``columns`` of the index (by default all but ``pstream``, so
    parquet never touches the positional bytes); with ``lemmas`` given,
    prune to their buckets (partition pruning on bucket=) and filter exact
    terms.  ``norms`` adds every segment's norms row (:data:`NORMS_LEMMA`)
    to the read; without it an unfiltered read holds term rows only.  An
    index built over an emptied corpus (no segment= dirs) reads as
    empty."""
    import glob as _glob

    with open(f"{out_dir}/meta.json") as fh:
        meta = json.load(fh)
    if not _glob.glob(f"{out_dir}/data/segment=*"):
        df = spark.createDataFrame([], INDEX_OUT_SCHEMA)
    else:
        # explicit schema: partition discovery still lists dirs, but no
        # parquet footer sampling for schema inference (O(1) planning)
        df = spark.read.schema(INDEX_OUT_SCHEMA).parquet(f"{out_dir}/data")
    if lemmas is None:
        if not norms:
            df = df.filter(F.col("bucket") != NORMS_BUCKET)
        return df.select(*columns)
    if norms:
        lemmas = [NORMS_LEMMA, *lemmas]
    return prune_index(df, lemmas, meta["n_buckets"], columns)


def prune_index(df: DataFrame, lemmas: list[str], n_buckets: int,
                columns=POSTING_COLS) -> DataFrame:
    """``lemmas``' rows of an unfiltered ``data/`` frame: pruned to their
    bucket= dirs (partition pruning), filtered to the exact terms and
    projected to ``columns`` (names or Column expressions).  Deriving
    every read from one such frame reuses its file listing."""
    buckets = sorted({hash_bucket(x, n_buckets) for x in lemmas})
    return (df.filter(isin_expr("bucket", buckets))
            .filter(isin_expr("lemma", lemmas)).select(*columns))


def isin_expr(col: str, values) -> Column:
    """``col IN (values)`` for str or int ``values``, parsed from one SQL
    literal list (strings escaped for the default, backslash-escaping
    parser): ``Column.isin`` makes two py4j round trips per value, about
    90 ms for 185 lemmas on a 4-core host, more than the pruned read it
    filters.  Catalyst
    plans both forms alike (an INSET past ten values)."""
    if not values:
        return F.lit(False)

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return F.expr(f"{col} IN ({','.join(map(lit, values))})")


def list_index_files(out_dir: str) -> dict[int, list[str]]:
    """The index's data files by bucket: one listing of
    ``data/segment=*/bucket=*/*.parquet`` (an emptied index lists none)."""
    import glob as _glob

    files: dict[int, list[str]] = {}
    for f in sorted(_glob.glob(f"{out_dir}/data/segment=*/bucket=*/*.parquet")):
        bucket = int(f.rsplit("/bucket=", 1)[1].split("/", 1)[0])
        files.setdefault(bucket, []).append(f)
    return files


def scan_index(out_dir: str, files: dict[int, list[str]], lemmas: list[str],
               n_buckets: int, columns):
    """Driver-side Arrow read of ``lemmas``' rows: record batches of
    ``columns`` from the listed ``files`` of their buckets (see
    :func:`list_index_files`), ``segment``/``bucket`` parsed from the hive
    paths.  No Spark job runs.  Batches stream one row group at a time
    (no read-ahead), so the driver holds at most one row group beyond the
    matched rows.  A listed file that has since been removed raises
    FileNotFoundError."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    paths = [f for b in sorted({hash_bucket(x, n_buckets) for x in lemmas})
             for f in files.get(b, ())]
    if not paths:
        return
    hive = pads.partitioning(
        pa.schema([("segment", pa.int32()), ("bucket", pa.int32())]),
        flavor="hive")
    ds = pads.dataset(paths, format="parquet", partitioning=hive,
                      partition_base_dir=f"{out_dir}/data")
    yield from ds.to_batches(columns=list(columns),
                             filter=pc.field("lemma").isin(lemmas),
                             batch_readahead=0, fragment_readahead=0)


def read_site_ranges(out_dir: str, site: str) -> list[tuple[int, int]]:
    """Doc_id intervals owned by ``site`` (repo), merged across segments —
    the reference's `site=` search scope (SearchServiceImpl.java filters
    hits to one site's pages) resolved to id ranges.  A site absent from
    the sidecar (or an emptied index) returns [] — no pages, no hits.
    The sites table is O(repos + append batches) rows, so it is read on
    the driver with Arrow: no Spark job."""
    import glob as _glob

    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    if not _glob.glob(f"{out_dir}/sites/segment=*"):
        return []
    rows = pads.dataset(f"{out_dir}/sites", format="parquet").to_table(
        columns=["lo", "hi"], filter=pc.field("repo") == site)
    # runs split only by a segment boundary rejoin
    return [(lo, hi) for _, lo, hi in merge_sites(
        (site, lo, hi) for lo, hi in zip(rows.column("lo").to_pylist(),
                                         rows.column("hi").to_pylist()))]
