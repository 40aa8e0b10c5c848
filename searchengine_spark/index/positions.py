"""Optional positional postings sidecar: the high-df phrase story.

r3 VERDICT item 2: the store-verify phrase path (index/phrase.py) is
candidate-bounded — exactly right for selective phrases, O(corpus) for a
phrase of two COMMON words (every candidate doc re-analyzed in Python).
This sidecar removes that regime entirely WITHOUT touching the default
index format (positions roughly double posting bytes for a feature most
queries never use, so they are opt-in — ``build_positions`` after / beside
``build_index``):

    index_dir/positions/segment=K/bucket=B/*.parquet
        (segment, lemma, bucket, df, pdocs, pcounts, pstream)

Per (segment, lemma): ``pdocs`` is the varbyte doc-gap stream (first doc
absolute, rest delta-1 — the codec's convention), ``pcounts`` the varbyte
per-doc occurrence count (== tf), and ``pstream`` the varbyte per-doc
position deltas (first position absolute per doc, rest delta-1),
concatenated in doc order.  A POSITION is the index of a surviving source
token in the pinned analyzer's positional stream (analyzer.analyze_positions
— multi-lemma tokens occupy ONE position with several forms), so matching
is symmetric with the store-verify path by construction and the two
implementations are row-identical (tests/test_phrase_positions.py).

Query time (:func:`phrase_topk_positions`): a bucket-pruned read of the
query forms' rows, then per segment (one ``applyInPandas`` group, all
numpy) each pattern slot j becomes a sorted key set
``local_doc * K + (pos - j)`` — the union over the slot's forms — and the
phrase's start positions are the INTERSECTION of the slots' key sets.
``phrase_tf`` is the per-doc count of surviving starts.  Cost is
O(postings of the query terms) — the same class as conjunctive search —
regardless of how common the words are; no store scan, no per-row Python
re-analysis.

Build: the analysis kernel (``analyzer.doc_term_runs_arrow(positions=
True)``) forms each Arrow batch's occurrences into sorted (segment, lemma)
runs map-side (``index/runs.py``); the merge is ONE exchange of those runs
into coarse (segment, bucket) groups, written without a repartition.  A
run is bounded by its batch and no reducer key is a lemma, so a hot term
never funnels through one reducer.

Lifecycle: ``build_index`` rewrites ``meta.json`` WITHOUT the
``has_positions`` flag, so any data rebuild atomically disables the
positional path (stale positions are never served); ``build_positions``
(over the rebuilt segments, or all) re-enables it, and
``streaming.incremental.rebuild_segments`` refreshes the sidecar
automatically when it exists.  Reference analog: none — the reference's
index stores no positions (`lemma`/`index` tables, SearchEngine schema);
its proximity rule is a post-AND substring heuristic
(SearchServiceImpl.java:231-264).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil
from typing import TYPE_CHECKING

import numpy as np

from ..analyzer import analyze_positions
from .codec import varbyte_decode, varbyte_encode_with_ends

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

POS_SCHEMA_DDL = ("segment int, lemma string, df long, pdocs binary, "
                  "pcounts binary, pstream binary, nbytes long, bucket int")
# nbytes = len(pdocs)+len(pcounts)+len(pstream): a row's positional bytes
# without touching the binary streams


def has_positions(index_dir: str) -> bool:
    """Positional serving is enabled iff meta carries the flag AND the
    sidecar has data — build_index's meta rewrite clears the flag, so a
    rebuilt index never serves stale positions."""
    try:
        with open(f"{index_dir}/meta.json") as fh:
            if not json.load(fh).get("has_positions"):
                return False
    except FileNotFoundError:
        return False
    return bool(_glob.glob(f"{index_dir}/positions/segment=*"))


def _delta_encode(vals: np.ndarray, firsts: np.ndarray) -> np.ndarray:
    """Concatenated ascending runs -> varbyte-ready gaps: absolute at each
    run start (``firsts`` boolean mask), (delta - 1) elsewhere."""
    gaps = np.empty(vals.size, dtype=np.int64)
    gaps[firsts] = vals[firsts]
    rest = ~firsts
    gaps[rest] = vals[rest] - vals[np.flatnonzero(rest) - 1] - 1
    assert np.all(gaps >= 0), "runs must be strictly increasing"
    return gaps.astype(np.uint64)


def _delta_decode(raw: np.ndarray, firsts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_delta_encode` via one grouped cumsum."""
    if raw.size == 0:
        return raw.astype(np.int64)
    adj = raw.astype(np.int64) + 1
    adj[firsts] = raw[firsts]
    c = np.cumsum(adj)
    starts = np.flatnonzero(firsts)
    run_id = np.cumsum(firsts) - 1
    prefix = (c[starts] - adj[starts])[run_id]
    return c - prefix


def decode_term_positions(pdocs: bytes, pcounts: bytes, pstream: bytes
                          ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, counts, flat_positions): positions of doc i are
    ``flat[offs[i]:offs[i]+counts[i]]`` with ``offs = cumsum(counts) -
    counts``; each doc's sublist is strictly increasing."""
    counts = varbyte_decode(pcounts).astype(np.int64)
    n_docs = counts.size
    dgaps = varbyte_decode(pdocs)
    first_doc = np.zeros(n_docs, dtype=bool)
    if n_docs:
        first_doc[0] = True
    docs = _delta_decode(dgaps, first_doc)
    raw = varbyte_decode(pstream)
    firsts = np.zeros(int(counts.sum()), dtype=bool)
    if firsts.size:
        firsts[np.cumsum(counts) - counts] = True
    flat = _delta_decode(raw, firsts)
    return docs, counts, flat


def build_positions(docs_ingested: DataFrame, index_dir: str,
                    segments: list[int] | None = None) -> dict:
    """Build (or refresh) the positional sidecar for ``segments`` (None =
    every segment of the existing index) and set ``meta.has_positions``.

    Same at-scale shape as the main build, for every normalizer: the run
    kernel (``analyzer.doc_term_runs_arrow(positions=True)``, no shuffle)
    forms sorted occurrence runs map-side, ONE exchange groups them by
    (segment, bucket) for the merge-encode, dynamic partition overwrite
    with stale-dir deletion.  MUST run against the same corpus state as
    the index data (the caller's contract — rebuild_segments wires it for
    incremental flows)."""
    from ..analyzer import doc_term_runs_arrow
    from .builder import index_analyzer, seg_ranges_filter

    spark = docs_ingested.sparkSession
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    seg_size = int(meta["seg_size"])
    target = sorted(segments) if segments is not None else list(
        range(int(meta["n_segments"])))
    if not target:
        # nothing to (re)build — run the manifest/meta bookkeeping only
        # (restores has_positions after a data rebuild that touched no
        # sidecar dirs)
        return _positions_bookkeeping(None, index_dir, [])

    docs = docs_ingested.select("doc_id", "content")
    if segments is not None:
        docs = docs.filter(seg_ranges_filter(target, seg_size))
    norm, forms = index_analyzer(spark, index_dir, meta)
    runs = doc_term_runs_arrow(docs, seg_size, int(meta["n_buckets"]),
                               normalizer=norm, forms=forms, positions=True)
    return _merge_write_positions(runs, index_dir, target)


def encode_position_runs(runs: DataFrame, stats=None) -> DataFrame:
    """Sorted occurrence runs -> encoded sidecar rows (:data:`POS_SCHEMA_DDL`)
    in ONE exchange into coarse (segment, bucket) groups, the per-lemma
    merge + encode pure numpy over flat buffers inside each group.

    ``stats`` (an accumulator over :class:`session.MergeDicts`) receives
    each segment's ``{"pos_postings", "pos_bytes"}`` (Σ df, Σ nbytes);
    complete once the write of this output returns (result stage)."""

    def _merge(pdf):
        import pandas as pd

        cols = ["segment", "lemma", "df", "pdocs", "pcounts", "pstream",
                "nbytes", "bucket"]
        if pdf.empty:
            return pd.DataFrame([], columns=cols)
        lens = np.fromiter((len(a) for a in pdf["docs"]), dtype=np.int64,
                           count=len(pdf))
        codes, lemmas = pd.factorize(pdf["lemma"], sort=True)
        rid = np.repeat(codes, lens)
        docs = np.concatenate(pdf["docs"].to_list()).astype(np.int64)
        tfs = np.concatenate(pdf["tfs"].to_list()).astype(np.int64)
        pos = np.concatenate(pdf["pos"].to_list()).astype(np.int64)
        src = np.cumsum(tfs) - tfs             # entry's first pos, as shipped
        # sort the (lemma, doc) entries: a doc lives in ONE Arrow batch, so
        # a lemma's runs hold disjoint docs and each entry's (ascending)
        # positions move as one block
        order = np.lexsort((docs, rid))
        docs, tfs, rid, src = docs[order], tfs[order], rid[order], src[order]
        dst = np.cumsum(tfs) - tfs             # entry's first pos, merged
        flat = pos[np.arange(int(dst[-1] + tfs[-1]))
                   + np.repeat(src - dst, tfs)]
        first_doc = np.ones(docs.size, dtype=bool)
        first_doc[1:] = rid[1:] != rid[:-1]
        first_pos = np.zeros(flat.size, dtype=bool)
        first_pos[dst] = True
        # one vectorized varbyte pass per stream; a lemma's bytes are the
        # slice between its first and last value's byte ends
        n_docs = np.bincount(rid, minlength=len(lemmas))
        doc_cut = np.concatenate([[0], np.cumsum(n_docs)])
        occ_cut = np.append(dst, flat.size)[doc_cut]

        def _split(vals, cut):
            buf, ends = varbyte_encode_with_ends(vals)
            at = np.append(0, ends)[cut]
            return [buf[i:j].tobytes() for i, j in zip(at[:-1], at[1:])], \
                np.diff(at)

        pdocs, nb_d = _split(_delta_encode(docs, first_doc), doc_cut)
        pcounts, nb_c = _split(tfs.astype(np.uint64), doc_cut)
        pstream, nb_p = _split(_delta_encode(flat, first_pos), occ_cut)
        seg = int(pdf["segment"].iloc[0])
        if stats is not None:
            stats.add({seg: {"pos_postings": int(n_docs.sum()),
                             "pos_bytes": int((nb_d + nb_c + nb_p).sum())}})
        return pd.DataFrame({
            "segment": seg,
            "lemma": np.asarray(lemmas, dtype=object),
            "df": n_docs,
            "pdocs": pdocs,
            "pcounts": pcounts,
            "pstream": pstream,
            "nbytes": nb_d + nb_c + nb_p,
            "bucket": int(pdf["bucket"].iloc[0]),
        }, columns=cols)

    return (runs.select("segment", "bucket", "lemma", "docs", "tfs", "pos")
            .groupBy("segment", "bucket")
            .applyInPandas(_merge, schema=POS_SCHEMA_DDL))


def _merge_write_positions(runs: DataFrame, index_dir: str,
                           target: list[int]) -> dict:
    """Shared back half of the positional build: encode the ``target``
    segments' occurrence runs (:func:`encode_position_runs`) -> dynamic
    overwrite, no repartition -> manifest / meta positional stats, counted
    by the encoder as it writes.  ``runs`` come from the run kernel —
    freshly analyzed (:func:`build_positions`) or the fused single-scan
    build's own (``builder.build_index(positions=True)``)."""
    from pyspark.sql import functions as F

    from ..session import MergeDicts

    for s in target:
        shutil.rmtree(f"{index_dir}/positions/segment={s}",
                      ignore_errors=True)
    stats = runs.sparkSession.sparkContext.accumulator({}, MergeDicts())
    (
        encode_position_runs(runs.filter(F.col("segment").isin(target)),
                             stats)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segment", "bucket")
        .parquet(f"{index_dir}/positions")
    )
    return _positions_bookkeeping(stats.value, index_dir, target)


def _positions_bookkeeping(stats: dict | None, index_dir: str,
                           target: list[int]) -> dict:
    """Positional stats + ``has_positions`` flag maintenance.

    Per-segment positional stats ride the INDEX manifests (same lifecycle:
    a data rebuild rewrites its segments' manifests without pos keys, and
    the sidecar refresh re-adds them) so the serving broker can estimate a
    form's positional bytes from its dictionary df BEFORE any collect — the
    same estimate-before-fetch discipline as BM25 warm serving.  ``stats``
    holds the ``target`` segments' counts as :func:`encode_position_runs`
    tallied them while writing (a target segment without an entry wrote
    no rows); no Spark job runs here.  With an empty ``target`` this is a
    pure bookkeeping repair."""
    from .checkpoint import (all_manifests, read_manifest, write_json_atomic,
                             write_manifest)

    for s in target:
        m = read_manifest(index_dir, s)
        if m is None:
            continue
        st = (stats or {}).get(s, {})
        m["pos_posting_count"] = st.get("pos_postings", 0)
        m["pos_posting_bytes"] = st.get("pos_bytes", 0)
        write_manifest(index_dir, s, m)
    tot_b = tot_p = 0
    complete = True  # every done manifest contributed positional stats?
    for m in all_manifests(index_dir):
        if "pos_posting_bytes" in m:
            tot_b += int(m["pos_posting_bytes"])
            tot_p += int(m["pos_posting_count"])
        else:
            complete = False

    # re-read meta (build_index may have updated it) and flip the flag LAST
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    if tot_p:
        # ratio: sound from a subset; whole-sidecar total: only when every
        # manifest contributed (same soundness rule as meta.posting_bytes)
        meta["pos_bytes_per_posting"] = round(tot_b / tot_p, 3)
    if complete and tot_p:
        meta["pos_posting_bytes"] = int(tot_b)
    else:
        meta.pop("pos_posting_bytes", None)
    # SOUNDNESS: the flag may only flip on when EVERY live segment has its
    # sidecar dir — a crash between a partial refresh and its complement
    # (or a multi-step fused build) must never re-enable an incomplete
    # sidecar: phrase_topk would auto-dispatch positional and silently
    # drop every match in the gap segments.  Dir presence is the cheap
    # completeness signal; partially-WRITTEN dirs are excluded by the
    # caller contract (each build/refresh rmtree's its target dirs before
    # writing, and untouched dirs are only trusted when the previous flag
    # was on — see build_index's `trust`).
    # a segment with no data dir has nothing to serve (deletes emptied its
    # id range) — vacuously covered, or an emptied index would wedge off
    meta["has_positions"] = all(
        os.path.isdir(f"{index_dir}/positions/segment={s}")
        or not os.path.isdir(f"{index_dir}/data/segment={s}")
        for s in range(int(meta["n_segments"])))
    write_json_atomic(f"{index_dir}/meta.json", meta, indent=1)
    return meta


def read_positions(spark: SparkSession, index_dir: str,
                   lemmas: list[str] | None = None) -> DataFrame:
    """Bucket-pruned read of the positional sidecar (same pruning contract
    as builder.read_index)."""
    from pyspark.sql import functions as F

    from .builder import hash_bucket

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    if not _glob.glob(f"{index_dir}/positions/segment=*"):
        return spark.createDataFrame([], POS_SCHEMA_DDL)
    df = spark.read.schema(POS_SCHEMA_DDL).parquet(f"{index_dir}/positions")
    if lemmas is not None:
        buckets = sorted({hash_bucket(x, meta["n_buckets"]) for x in lemmas})
        df = (df.filter(F.col("bucket").isin(buckets))
              .filter(F.col("lemma").isin(lemmas)))
    return df


def phrase_topk_batch(spark: SparkSession, index_dir: str,
                      phrases: dict[str, str], k: int = 10,
                      sites: dict[str, str] | None = None) -> DataFrame:
    """Score a whole PHRASE workload in one Spark job: (qid, doc_id,
    phrase_tf) — the positional twin of wand.bm25_topk_batch.  ONE
    bucket-pruned sidecar scan covers the union of all patterns' forms;
    inside each segment every form is decoded ONCE and shared across all
    phrases using it; the per-qid top-k merge is one tiny window-ranked
    shuffle.  Row-identical per qid to :func:`phrase_topk_positions`
    (parity-tested).

    ``sites`` (qid -> repo, optional per qid) completes batch API parity
    with BM25: a qid's scope becomes the same doc_id interval mask the
    single path applies (in-segment after the slot intersection, with a
    per-qid live-segment skip), an unknown site drops its qid (single-path
    parity: empty), and when EVERY qid is scoped the sidecar scan itself
    prunes to the union of their overlapping segments."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not has_positions(index_dir):
        raise ValueError(
            "positional sidecar missing or stale (a rebuild clears "
            "meta.has_positions) — run build_positions first")
    out_schema = "qid string, doc_id long, phrase_tf long"
    empty = spark.createDataFrame([], out_schema)
    from .builder import index_analyzer

    ana = index_analyzer(spark, index_dir)
    qpat = {qid: [frozenset(p) for p in analyze_positions(ph, *ana)]
            for qid, ph in phrases.items()}
    qpat = {qid: p for qid, p in qpat.items() if p}
    if not qpat:
        return empty
    with open(f"{index_dir}/meta.json") as fh:
        seg_size = int(json.load(fh)["seg_size"])

    qiv: dict[str, list[tuple[int, int]] | None] = {q: None for q in qpat}
    qlive: dict[str, set[int] | None] = {q: None for q in qpat}
    if sites:
        from .builder import read_site_ranges
        from .wand import _overlapping_segments

        iv_cache: dict[str, list[tuple[int, int]]] = {}
        for qid in list(qpat):
            s = sites.get(qid)
            if s is None:
                continue
            if s not in iv_cache:
                iv_cache[s] = read_site_ranges(spark, index_dir, s)
            if not iv_cache[s]:
                del qpat[qid]  # unknown site owns no pages
            else:
                qiv[qid] = iv_cache[s]
                qlive[qid] = _overlapping_segments(iv_cache[s], seg_size)
        if not qpat:
            return empty
    all_forms = sorted({f for p in qpat.values() for fs in p for f in fs})

    pdf_src = read_positions(spark, index_dir, all_forms)
    if sites and all(qlive.get(q) is not None for q in qpat):
        union = sorted(set().union(*(qlive[q] for q in qpat)))
        pdf_src = pdf_src.filter(F.col("segment").isin(union))

    def _seg(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment"].iloc[0])
        base = seg * seg_size
        decoded: dict[str, tuple] = {}
        max_pos = 0
        for r in pdf.itertuples():
            docs, counts, flat = decode_term_positions(
                r.pdocs, r.pcounts, r.pstream)
            if flat.size:
                max_pos = max(max_pos, int(flat.max()))
            decoded[r.lemma] = (np.repeat(docs - base, counts), flat)
        K = max_pos + 2
        out_q: list[str] = []
        out_d: list[int] = []
        out_t: list[int] = []
        for qid, pattern in qpat.items():
            live = qlive.get(qid)
            if live is not None and seg not in live:
                continue  # this qid's site cannot reach this segment
            acc = _intersect_slots(pattern, decoded, K)
            if acc is None or acc.size == 0:
                continue
            ids, tf = np.unique(base + acc // K, return_counts=True)
            iv = qiv.get(qid)
            if iv is not None:
                from .wand import _mask_ids

                keep = np.isin(ids, _mask_ids(ids, iv))
                ids, tf = ids[keep], tf[keep]
                if ids.size == 0:
                    continue
            order = np.lexsort((ids, -tf))[:k]  # segment-local pre-cut
            out_q.extend([qid] * order.size)
            out_d.extend(ids[order].tolist())
            out_t.extend(tf[order].tolist())
        return pd.DataFrame({"qid": out_q, "doc_id": out_d,
                             "phrase_tf": out_t})

    local = pdf_src.groupBy("segment").applyInPandas(_seg, schema=out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("phrase_tf"),
                                          F.asc("doc_id"))
    return (
        local.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
        .orderBy("qid", F.desc("phrase_tf"), F.asc("doc_id"))
    )


def _intersect_slots(pattern: list[frozenset], decoded: dict[str, tuple],
                     K: int) -> np.ndarray | None:
    """Shared slot-intersection core: ``decoded`` maps lemma ->
    (local_doc-per-occurrence, flat positions).  Returns the surviving
    start keys (local_doc * K + start_pos), or None when some slot has no
    form in this segment."""
    slot_keys: list[np.ndarray | None] = []
    for j, fs in enumerate(pattern):
        parts = []
        for f in fs:
            if f not in decoded:
                continue
            local, flat = decoded[f]
            ok = flat >= j  # a start at pos-j must be >= 0
            parts.append(local[ok] * K + (flat[ok] - j))
        if not parts:
            return None
        slot_keys.append(np.unique(np.concatenate(parts)))
    acc: np.ndarray | None = None
    for keys in sorted(slot_keys, key=lambda a: a.size):  # rarest first
        acc = keys if acc is None else np.intersect1d(
            acc, keys, assume_unique=True)
        if acc.size == 0:
            return acc
    return acc


def phrase_topk_positions(spark: SparkSession, index_dir: str, phrase: str,
                          k: int = 10,
                          site: str | None = None) -> DataFrame:
    """Top-k (doc_id, phrase_tf) from the positional sidecar alone — exact,
    store-free, O(query-term postings) even for a phrase of two common
    words.  Row-identical to index/phrase.py's store-verify path (same
    ``analyze_positions`` pattern contract on both sides; parity-tested).

    ``site`` scopes the search to one repo exactly like BM25 serving: the
    builder's sites sidecar resolves to doc_id intervals, the sidecar scan
    is partition-pruned to overlapping segments, and matched docs are
    interval-masked after the slot intersection."""
    import pandas as pd
    from pyspark.sql import functions as F

    if not has_positions(index_dir):
        raise ValueError(
            "positional sidecar missing or stale (a rebuild clears "
            "meta.has_positions) — run build_positions first, or use the "
            "store-verify path")
    out_schema = "doc_id long, phrase_tf long"
    empty = spark.createDataFrame([], out_schema)
    from .builder import index_analyzer

    qforms = [frozenset(p) for p in
              analyze_positions(phrase, *index_analyzer(spark, index_dir))]
    if not qforms:
        return empty
    all_forms = sorted({f for fs in qforms for f in fs})
    with open(f"{index_dir}/meta.json") as fh:
        seg_size = int(json.load(fh)["seg_size"])

    intervals = None
    if site is not None:
        from .builder import read_site_ranges

        intervals = read_site_ranges(spark, index_dir, site)
        if not intervals:
            return empty  # unknown site owns no pages

    pdf_src = read_positions(spark, index_dir, all_forms)
    if intervals:
        from .wand import _overlapping_segments

        segs = sorted(_overlapping_segments(intervals, seg_size))
        pdf_src = pdf_src.filter(F.col("segment").isin(segs))

    def _seg(pdf: pd.DataFrame) -> pd.DataFrame:
        e_ = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                           "phrase_tf": pd.Series([], dtype="int64")})
        seg = int(pdf["segment"].iloc[0])
        base = seg * seg_size
        decoded: dict[str, tuple] = {}
        max_pos = 0
        for r in pdf.itertuples():
            docs, counts, flat = decode_term_positions(
                r.pdocs, r.pcounts, r.pstream)
            if flat.size:
                max_pos = max(max_pos, int(flat.max()))
            decoded[r.lemma] = (np.repeat(docs - base, counts), flat)
        K = max_pos + 2
        acc = _intersect_slots(qforms, decoded, K)
        if acc is None or acc.size == 0:
            return e_
        ids, tf = np.unique(base + acc // K, return_counts=True)
        if intervals is not None:
            from .wand import _mask_ids

            keep = np.isin(ids, _mask_ids(ids, intervals))
            ids, tf = ids[keep], tf[keep]
        return pd.DataFrame({"doc_id": ids, "phrase_tf": tf})

    local = pdf_src.groupBy("segment").applyInPandas(_seg, schema=out_schema)
    return (
        local.orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(k)
    )
