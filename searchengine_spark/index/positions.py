"""Positional postings on the index rows: exact phrase search.

Every build writes positions, on the index's own rows rather than in a
second dataset: each ``data/`` row (one ``(segment, lemma)``) carries a
``pstream`` column next to ``postings/tfs/blocks`` —

    index_dir/data/segment=K/bucket=B/*.parquet
        (segment, lemma, df, postings, tfs, blocks, pstream, bucket)

``pstream`` is the varbyte per-doc position deltas (first position
absolute per doc, rest delta-1), concatenated in doc order; the docs and
per-doc counts it lines up with are the row's own ``postings`` and
``tfs`` (a doc's tf IS its occurrence count).  Parquet column projection
does what a sidecar did: BM25 reads never touch ``pstream``, and a
positional read (:func:`read_positions`) touches only ``segment, lemma,
postings, tfs, pstream``.  A POSITION is the index of a surviving source
token in the pinned analyzer's positional stream
(analyzer.analyze_positions — multi-lemma tokens occupy ONE position with
several forms), and a query phrase is analyzed by the same function, so
the results are row-identical to re-analyzing every document
(tests/test_phrase_positions.py checks against that pure-Python oracle).

Query time: one front end serves :func:`phrase_topk_positions` and
:func:`phrase_topk_batch` (a phrase is a batch of one): a bucket-pruned
read of the query forms' rows, then per segment (one ``applyInPandas``
group, all numpy) :func:`phrase_segment` turns each pattern slot j into a
sorted key set ``local_doc * K + (pos - j)`` — the union over the slot's
forms — and the phrase's start positions are the INTERSECTION of the
slots' key sets.  ``phrase_tf`` is the per-doc count of surviving starts.
``QueryEngine.phrase_rows`` runs the same scorer over its cached decoded
forms.  Cost is
O(postings of the query terms) — the same class as conjunctive search —
regardless of how common the words are; no store scan, no per-row Python
re-analysis.

Build: the analysis kernel (``analyzer.doc_term_runs_arrow``) forms each
Arrow batch's occurrences into the same sorted (segment, lemma) runs as
the stats (``index/runs.py``), and the build's one merge
(``builder.encode_index_runs``) encodes ``pstream``
(:func:`encode_pstream`) in the group that encodes the postings.  An
index of an older format may hold rows without positions; phrase serving
refuses it (``builder.check_format``) until a resume rebuilds it.
Reference analog: none — the reference's index stores no positions
(`lemma`/`index` tables, SearchEngine schema); its proximity rule is a
post-AND substring heuristic (SearchServiceImpl.java:231-264).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

import numpy as np

from ..analyzer import analyze_positions
from .codec import (
    decode_ids,
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode_with_ends,
)
from .wand import _mask_ids, _site_scopes

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# what a positional read moves: the docs/counts streams and the positions
POS_COLS = ("segment", "lemma", "postings", "tfs", "pstream")


def encode_pstream(pos: np.ndarray, tfs: np.ndarray, order: np.ndarray,
                   offsets: np.ndarray) -> list[bytes]:
    """One merge group's occurrence positions -> each lemma's ``pstream``.

    ``pos`` holds the group's runs' positions as shipped, aligned with
    ``repeat(docs, tfs)`` in shipped entry order; ``order`` sorts the
    (lemma, doc) entries and lemma t owns sorted entries ``[offsets[t],
    offsets[t+1])`` — the postings encoder's own sort.  A doc lives in ONE
    Arrow batch, so a lemma's runs hold disjoint docs and each entry's
    (ascending) positions move as one block."""
    src = (np.cumsum(tfs) - tfs)[order]    # entry's first pos, as shipped
    tfs = tfs[order]
    dst = np.cumsum(tfs) - tfs             # entry's first pos, merged
    flat = pos[np.arange(int(dst[-1] + tfs[-1]))
               + np.repeat(src - dst, tfs)]
    first_pos = np.zeros(flat.size, dtype=bool)
    first_pos[dst] = True
    # one vectorized varbyte pass; a lemma's bytes are the slice between
    # its first and last value's byte ends
    buf, ends = varbyte_encode_with_ends(delta_encode(flat, first_pos))
    at = np.append(0, ends)[np.append(dst, flat.size)[offsets]]
    return [buf[i:j].tobytes() for i, j in zip(at[:-1], at[1:])]


def decode_term_positions(postings: bytes, tfs: bytes, pstream: bytes,
                          block_size: int
                          ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, counts, flat_positions) of one index row: positions of
    doc i are ``flat[offs[i]:offs[i]+counts[i]]`` with ``offs =
    cumsum(counts) - counts``; each doc's sublist is strictly increasing.
    ``postings`` restarts absolute every ``block_size`` docs (the codec's
    block layout), so no block directory is needed to decode it."""
    docs = decode_ids(postings, block_size)
    counts = varbyte_decode(tfs).astype(np.int64)
    firsts = np.zeros(int(counts.sum()), dtype=bool)
    if firsts.size:
        firsts[np.cumsum(counts) - counts] = True
    flat = delta_decode(varbyte_decode(pstream), firsts)
    return docs, counts, flat


def read_positions(spark: SparkSession, index_dir: str,
                   lemmas: list[str] | None = None) -> DataFrame:
    """Bucket-pruned read of the index's positional columns
    (:data:`POS_COLS`; same pruning contract as builder.read_index)."""
    from .builder import read_index

    return read_index(spark, index_dir, lemmas, columns=POS_COLS)


def decode_form(postings: bytes, tfs: bytes, pstream: bytes, seg: int,
                seg_size: int, block_size: int
                ) -> tuple[np.ndarray, np.ndarray, int]:
    """One form's positional row in the shape :func:`phrase_segment`
    consumes: (segment-local doc id per OCCURRENCE, the aligned flat
    positions, the max position).  Spark's segment groups and
    QueryEngine's positional cache both decode through it."""
    docs, counts, flat = decode_term_positions(postings, tfs, pstream,
                                               block_size)
    return (np.repeat(docs - seg * seg_size, counts), flat,
            int(flat.max()) if flat.size else 0)


def _intersect_slots(pattern: list[frozenset], decoded: dict[str, tuple],
                     K: int) -> np.ndarray | None:
    """Slot intersection: ``decoded`` maps lemma -> (local_doc per
    occurrence, flat positions).  Returns the surviving start keys
    (local_doc * K + start_pos), or None when some slot has no form in
    this segment."""
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


def phrase_segment(seg: int, decoded: dict[str, tuple], K: int,
                   seg_size: int, queries: dict, k: int) -> list[tuple]:
    """The one per-segment phrase scorer, run by Spark's segment groups
    and by ``QueryEngine.phrase_rows`` alike: ``decoded`` is this
    segment's forms as :func:`_intersect_slots` consumes them (``K`` a key
    stride past every position), ``queries`` qid -> (pattern, site
    intervals, live segments).  Returns (qid, doc_ids, phrase_tfs) per
    query with matches here, cut to its top ``k`` by (phrase_tf desc,
    doc_id asc)."""
    base = seg * seg_size
    out = []
    for qid, (pattern, intervals, live) in queries.items():
        if live is not None and seg not in live:
            continue  # this qid's site cannot reach this segment
        acc = _intersect_slots(pattern, decoded, K)
        if acc is None or acc.size == 0:
            continue
        ids, tf = np.unique(base + acc // K, return_counts=True)
        if intervals is not None:
            keep = np.isin(ids, _mask_ids(ids, intervals))
            ids, tf = ids[keep], tf[keep]
        order = np.lexsort((ids, -tf))[:k]
        if order.size:
            out.append((qid, ids[order], tf[order]))
    return out


def _phrase_segments(spark: SparkSession, index_dir: str,
                     phrases: dict[str, str], k: int,
                     sites: dict[str, str | None],
                     index_df: DataFrame | None,
                     site_intervals: dict[str, list[tuple[int, int]]] | None,
                     ) -> DataFrame | None:
    """The one front end of :func:`phrase_topk_positions` and
    :func:`phrase_topk_batch`: analyze every phrase, resolve its site
    scope, read the union of the forms' positional rows bucket-pruned
    (pruned to the scopes' segments when every phrase is scoped), and run
    :func:`phrase_segment` in one ``applyInPandas`` group per segment.
    Returns the (qid, doc_id, phrase_tf) frame of every segment's top-k
    per qid, or None when no phrase can match."""
    import pandas as pd

    from .builder import check_format, index_analyzer, isin_expr

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    check_format(meta)
    seg_size, block_size = int(meta["seg_size"]), int(meta["block_size"])
    ana = index_analyzer(spark, index_dir, meta)
    qpat = {qid: [frozenset(p) for p in analyze_positions(ph, *ana)]
            for qid, ph in phrases.items()}
    scopes, union = _site_scopes(
        index_dir, seg_size,
        {qid: sites.get(qid) for qid, p in qpat.items() if p},
        dict(site_intervals or {}))
    if not scopes:
        return None
    all_forms = sorted({f for q in scopes for fs in qpat[q] for f in fs})
    src = (index_df if index_df is not None
           else read_positions(spark, index_dir, all_forms))
    if union is not None:
        src = src.filter(isin_expr("segment", union))
    qs = {qid: (qpat[qid], *scopes[qid]) for qid in scopes}

    def _seg(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment"].iloc[0])
        decoded, max_pos = {}, 0
        for r in pdf.itertuples():
            occ, flat, mx = decode_form(r.postings, r.tfs, r.pstream, seg,
                                        seg_size, block_size)
            decoded[r.lemma] = (occ, flat)
            max_pos = max(max_pos, mx)
        hits = phrase_segment(seg, decoded, max_pos + 2, seg_size, qs, k)
        return pd.DataFrame({
            "qid": [q for q, ids, _ in hits for _ in range(ids.size)],
            "doc_id": [d for _, ids, _ in hits for d in ids.tolist()],
            "phrase_tf": [t for _, _, tf in hits for t in tf.tolist()]})

    return src.groupBy("segment").applyInPandas(
        _seg, schema="qid string, doc_id long, phrase_tf long")


def phrase_topk_batch(spark: SparkSession, index_dir: str,
                      phrases: dict[str, str], k: int = 10,
                      sites: dict[str, str] | None = None) -> DataFrame:
    """Score a whole PHRASE workload in one Spark job: (qid, doc_id,
    phrase_tf) — the positional twin of wand.bm25_topk_batch.  ONE
    bucket-pruned positional scan covers the union of all patterns' forms;
    inside each segment every form is decoded ONCE and shared across all
    phrases using it; the per-qid top-k merge is one tiny window-ranked
    shuffle.  :func:`phrase_topk_positions` is its batch of one (same
    front end, same :func:`phrase_segment`).

    ``sites`` (qid -> repo, optional per qid) scopes a qid to the same
    doc_id interval mask as BM25 (in-segment after the slot intersection,
    with a per-qid live-segment skip), an unknown site drops its qid, and
    when EVERY qid is scoped the positional scan itself prunes to the
    union of their overlapping segments."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    local = _phrase_segments(spark, index_dir, phrases, k, sites or {},
                             None, None)
    if local is None:
        return spark.createDataFrame(
            [], "qid string, doc_id long, phrase_tf long")
    w = Window.partitionBy("qid").orderBy(F.desc("phrase_tf"),
                                          F.asc("doc_id"))
    return (
        local.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
        .orderBy("qid", F.desc("phrase_tf"), F.asc("doc_id"))
    )


def phrase_topk_positions(spark: SparkSession, index_dir: str, phrase: str,
                          k: int = 10, site: str | None = None,
                          index_df: DataFrame | None = None,
                          site_intervals: list[tuple[int, int]] | None = None,
                          ) -> DataFrame:
    """Top-k (doc_id, phrase_tf) from the index's positions alone — exact,
    store-free, O(query-term postings) even for a phrase of two common
    words.  One phrase as a batch of one through :func:`phrase_topk_batch`'s front
    end, merged by one global ordered limit (no per-qid window).

    ``site`` scopes the search to one repo exactly like BM25 serving: the
    builder's sites sidecar resolves to doc_id intervals, the positional
    scan is partition-pruned to overlapping segments, and matched docs are
    interval-masked after the slot intersection.  ``index_df`` and
    ``site_intervals`` mean what they mean for ``wand.bm25_topk``."""
    from pyspark.sql import functions as F

    local = _phrase_segments(
        spark, index_dir, {"q": phrase}, k, {"q": site}, index_df,
        None if site_intervals is None else {site: site_intervals})
    if local is None:
        return spark.createDataFrame([], "doc_id long, phrase_tf long")
    return (local.drop("qid")
            .orderBy(F.desc("phrase_tf"), F.asc("doc_id")).limit(k))
