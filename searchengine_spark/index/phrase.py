"""Exact phrase search over the physical index + kb docs store.

Beyond the reference (its closest feature is the F11 proximity heuristic,
SearchServiceImpl.java:231-264 — a post-AND substring-distance rule,
operators/proximity.py): phrase matching is the standard engine capability
users expect next to it, implemented WITHOUT touching the index format.

Two-stage shape, for indexes built without positions (positions are
opt-in; index/positions.py serves phrases from them when present):

1. CANDIDATES from the index: a doc can contain the phrase only if it
   contains at least one form of EVERY pattern position, so per segment
   we union each position's form postings and intersect across positions —
   same bucket-pruned read and numpy set work as conjunctive search.  The
   reference's own search materializes exactly this AND intersection
   (`retainAll` loop), so the candidate count is the cost class its users
   already accept.
2. VERIFY against the kb docs store: candidate ids (collected when small —
   the common case for selective phrases; left as a distributed semi-join
   otherwise) prune the store scan by doc_id (files are doc_id-sorted, so
   the pushed IN-filter skips row groups), and an Arrow-batched mapInPandas
   re-analyzes ONLY those docs with the pinned analyzer's positional stream
   (analyzer.analyze_positions) and counts adjacent occurrences.

Result rows are (doc_id, phrase_tf) ranked by occurrence count with the
engine's pinned doc_id tie-break; multi-lemma tokens (NORMAL_FORMS) occupy
ONE position, so "норма tamok" matches the source text "норма tamok".
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..analyzer import analyze_positions

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def count_phrase(stream: list[tuple[str, ...]], qforms: list[frozenset]) -> int:
    """Occurrences of the phrase in a positional stream: position i matches
    iff for every j the doc's form set at i+j intersects query word j's
    form set.  Pure function — shared by the operator and the tests."""
    m = len(qforms)
    n = len(stream)
    if m == 0 or n < m:
        return 0
    c = 0
    for i in range(n - m + 1):
        if all(any(f in qforms[j] for f in stream[i + j]) for j in range(m)):
            c += 1
    return c


def phrase_topk(spark: SparkSession, index_dir: str, store_dir: str | None,
                phrase: str, k: int = 10,
                collect_threshold: int = 10_000,
                impl: str = "auto",
                site: str | None = None,
                max_candidate_df: int | None = 1_000_000,
                force: bool = False) -> DataFrame:
    """Top-k (doc_id, phrase_tf) docs containing the exact phrase.

    The query pattern is ``analyze_positions(phrase)`` — the SAME pipeline
    the doc stream went through, so the contract is fully symmetric: a
    query word the analyzer splits ("kw_pair_alpha" -> pair alpha) becomes
    a sub-phrase of consecutive positions, a word it drops (stopword /
    short) vanishes from the pattern exactly as it vanished from every doc
    stream, and a multi-lemma token accepts any of its forms at one
    position.  A phrase whose every word vanishes is unmatchable — empty.

    ``impl``: 'auto' (default) serves from the index's positions when every
    segment carries them (positions.has_positions — the high-df scale
    path: O(query-term postings), no store scan, no Python re-analysis)
    and falls back to the store-verify path below otherwise; 'positions' /
    'store' force a path (the parity test runs both).  The store path
    needs ``store_dir``; the positional path ignores it.

    HIGH-DF GUARD (store path only): the store-verify cost class is the
    candidate count — every candidate doc is re-analyzed in Python.  A
    common-bigram phrase on a positionless index is correct but O(corpus);
    positions exist precisely for that regime.  Before any posting decode,
    the candidate count is bounded from the PRUNED lemma/df read (the same
    ``gdf_lookup`` the warm-serving guard uses):
    ``min over positions of Σ df(form)`` is an upper bound on the AND
    intersection.  Past ``max_candidate_df`` the call FAILS LOUDLY with a
    "build the index with positions" hint instead of silently chugging;
    ``force=True`` downgrades the failure to a warning and proceeds
    (``max_candidate_df=None`` disables the estimate entirely)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..streaming.store import read_store
    from .builder import isin_expr, read_index
    from .positions import has_positions, phrase_topk_positions
    from .wand import TermPostings

    if impl == "positions" or (impl == "auto" and has_positions(index_dir)):
        return phrase_topk_positions(spark, index_dir, phrase, k, site=site)
    if store_dir is None:
        raise ValueError("store-verify phrase path needs store_dir "
                         "(or build the index with positions)")

    out_schema = "doc_id long, phrase_tf long"
    empty = spark.createDataFrame([], out_schema)
    from .builder import index_analyzer

    ana = index_analyzer(spark, index_dir)
    qforms = [frozenset(p) for p in analyze_positions(phrase, *ana)]
    if not qforms:
        return empty
    all_forms = sorted({f for fs in qforms for f in fs})

    if max_candidate_df is not None:
        from .wand import gdf_lookup

        gdf = gdf_lookup(spark, index_dir, all_forms)
        if gdf:
            est = min(sum(gdf.get(f, 0) for f in fs) for fs in qforms)
            if est > max_candidate_df:
                msg = (f"phrase {phrase!r}: store-verify path would touch "
                       f"up to ~{est} candidate docs (> max_candidate_df="
                       f"{max_candidate_df}) — every one re-analyzed in "
                       f"Python.  Build the index with positions "
                       f"(jobs/build_index.py --positions / "
                       f"positions.build_positions) for the O(query-term "
                       f"postings) path, raise max_candidate_df, or pass "
                       f"force=True to proceed anyway.")
                if not force:
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg, stacklevel=2)

    idx = read_index(spark, index_dir, all_forms)
    positions_of: dict[str, list[int]] = {}
    for j, fs in enumerate(qforms):
        for f in fs:
            positions_of.setdefault(f, []).append(j)
    n_pos = len(qforms)

    def _cand(pdf: pd.DataFrame) -> pd.DataFrame:
        by_pos: dict[int, list[np.ndarray]] = {}
        for r in pdf.itertuples():
            tp = TermPostings(r.postings, r.tfs, r.dls, r.blocks, 0)
            ids = tp.decode_all()[0]
            for j in positions_of[r.lemma]:
                by_pos.setdefault(j, []).append(ids)
        if len(by_pos) < n_pos:  # some position has no form in this segment
            return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
        ids: np.ndarray | None = None
        for j in range(n_pos):
            u = np.unique(np.concatenate(by_pos[j]))
            ids = u if ids is None else np.intersect1d(ids, u, assume_unique=True)
            if ids.size == 0:
                break
        return pd.DataFrame({"doc_id": ids})

    cands = idx.groupBy("segment").applyInPandas(_cand, schema="doc_id long")
    if site is not None:
        # the reference's site= scope as doc_id intervals (same sidecar BM25
        # serving uses); candidates outside them can't be site hits
        from .builder import read_site_ranges

        iv = read_site_ranges(index_dir, site)
        if not iv:
            return empty  # unknown site owns no pages
        cond = None
        for lo, hi in iv:
            c = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            cond = c if cond is None else (cond | c)
        cands = cands.filter(cond)

    def _verify(batches):
        for pdf in batches:
            # candidate docs re-analyze with the INDEX's normalizer (ana is
            # shipped in the closure — the dictionary is a bounded artifact)
            tfs = [count_phrase(analyze_positions(t, *ana), qforms)
                   for t in pdf["content"]]
            out = pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "phrase_tf": pd.Series(tfs, dtype="int64",
                                                       index=pdf.index)})
            yield out[out["phrase_tf"] > 0]

    store = read_store(spark, store_dir).select("doc_id", "content")
    # persist BEFORE the size probe: the over-threshold branch reuses the
    # (expensive: scan + decode + intersect) candidate stage instead of
    # recomputing it for the semi-join.  The threshold is sized for an IN
    # pushdown that actually helps — thousands of literals prune row groups
    # cheaply; beyond that a driver-side In expression costs more to plan
    # than the distributed semi-join it replaces.
    cands = cands.persist()
    cand_rows = cands.limit(collect_threshold + 1).collect()
    if len(cand_rows) <= collect_threshold:
        cands.unpersist()
        ids = sorted(int(r["doc_id"]) for r in cand_rows)
        if not ids:
            return empty
        page = store.filter(isin_expr("doc_id", ids))  # row-group pruned
        return (
            page.mapInPandas(_verify, schema=out_schema)
            .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
            .limit(k)
        )
    # huge candidate set: distributed semi-join, no driver material.  The
    # result (<= k rows) is materialized EAGERLY so the persisted candidate
    # stage can be released here — returning a lazy plan over `cands` would
    # pin its storage for the session's lifetime (one leak per large phrase).
    page = store.join(cands, "doc_id", "leftsemi")
    res = (
        page.mapInPandas(_verify, schema=out_schema)
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(k)
        .localCheckpoint()
    )
    cands.unpersist()
    return res
