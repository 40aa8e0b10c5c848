"""Top-k query over the physical index: MaxScore/block-max pruning + BM25.

SURVEY.md §4 item 2.  The reference's retrieval is a rarest-first
intersection loop (SearchServiceImpl.java:122-143), one query at a time.
Query time here has one serving core, and a single query is a batch of one
(one front end, ``_bm25_segments``, for ``bm25_topk`` and
``bm25_topk_batch``):

- the index is read partition-pruned (bucket= dirs of the query terms only);
- each doc-range SEGMENT scores every query independently inside one
  ``applyInPandas`` group with :func:`bm25_segment` (numpy, Arrow-batched —
  no per-row Python); ``QueryEngine.topk_rows`` runs the same scorer over
  its driver-side cache;
- a single query's segment winners merge via a global
  TakeOrderedAndProject, a batch's via one per-qid window.

Within a segment two exact algorithms (the hypothesis property test asserts
they return bit-identical (id, score) pairs on arbitrary posting sets,
SURVEY.md §5.4), and :func:`segment_topk_terms` picks by what it can
observe, the terms' decode state and list lengths:

- exhaustive (:func:`_exhaustive`, and the reference the tests hold the
  other to): decode all postings of all query terms, score every doc in
  their union, top-k.  It runs whenever some term is still compressed
  (Spark's segment groups, a term's first local use): cold scoring is
  decode-bound, and MaxScore's pass-1 lookups would decode nearly every
  block of the common terms anyway.  It also runs on near-uniform lists
  (the shortest at least half the longest, single terms included), where
  pruning has nothing to cut.
- MaxScore (:func:`_maxscore`): safe dynamic pruning, run when every term
  is decoded (warm engine LRU entries) and the lists are skewed.  Pass 1
  scores the rarest term's postings exactly; with the pass-1 threshold θ,
  terms whose upper bounds (idf·(k1+1)·max block weight) sum below θ are
  non-essential: docs appearing only in them provably cannot enter the
  top-k, so candidate generation takes the essential terms' ids only.

The timing this rule rests on (cold/warm x 4k/40k docs, perfbench's query
stream) is recorded in ROADMAP.md, direction 1.

Postings hold doc ids and tfs only.  A doc's length comes from its
segment's norms row (:class:`SegmentNorms`), looked up once per candidate
set by :func:`_score_ids` — not once per (term, candidate).  Spark's
segment groups read the norms row with the query lemmas; ``QueryEngine``
holds a segment's norms for its load.

Conjunctive queries replicate the reference's AND semantics (docs must carry
every term) with the same block-skipping lookups, rarest term driving.
"""

from __future__ import annotations

import json
from collections import OrderedDict
from typing import TYPE_CHECKING

import numpy as np

from ..analyzer import analyze
from .codec import block_starts, decode_range, decode_streams

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


class TermPostings:
    """Decoded-on-demand view over one term's compressed postings: its
    doc ids and tfs (a doc's length comes from its segment's
    :class:`SegmentNorms`)."""

    __slots__ = ("docs_b", "tfs_b", "first", "last", "n", "doc_off",
                 "tf_off", "max_w", "df", "_cache", "_full")

    def __init__(self, postings: bytes, tfs: bytes, blocks, df: int):
        self.docs_b = np.frombuffer(postings, dtype=np.uint8)
        self.tfs_b = np.frombuffer(tfs, dtype=np.uint8)
        bl = list(blocks)
        get = (lambda b, k, i: b[k]) if bl and isinstance(bl[0], dict) else (lambda b, k, i: b[i])
        self.first = np.array([get(b, "first_doc", 0) for b in bl], dtype=np.int64)
        self.last = np.array([get(b, "last_doc", 1) for b in bl], dtype=np.int64)
        self.n = np.array([get(b, "n", 2) for b in bl], dtype=np.int64)
        self.doc_off = np.array([get(b, "doc_off", 3) for b in bl], dtype=np.int64)
        self.tf_off = np.array([get(b, "tf_off", 4) for b in bl], dtype=np.int64)
        self.max_w = np.array([get(b, "max_weight", 5) for b in bl], dtype=np.float64)
        self.df = df
        self._cache: dict[int, tuple] = {}
        self._full: tuple | None = None  # memoized decode_all result

    @property
    def decoded(self) -> bool:
        """True once :meth:`decode_all` has run (a warm cache entry)."""
        return self._full is not None

    def block(self, i: int):
        """Block ``i``'s (doc_ids, tfs), decoded from its byte ranges."""
        if i not in self._cache:
            last = i + 1 == self.n.size
            self._cache[i] = decode_range(
                self.docs_b, self.tfs_b, int(self.n[i]),
                (int(self.doc_off[i]),
                 self.docs_b.size if last else int(self.doc_off[i + 1])),
                (int(self.tf_off[i]),
                 self.tfs_b.size if last else int(self.tf_off[i + 1])))
        return self._cache[i]

    def decode_all(self):
        """Every (doc_id, tf), in one varbyte + delta pass per stream."""
        if self._full is None:
            self._full = decode_streams(self.docs_b, self.tfs_b,
                                        block_starts(self.n))
            # every lookup now takes the flat-array path, so the per-block
            # cache is dead weight — dropping it halves the decoded-postings
            # memory a warm term pins in the serving LRU
            self._cache.clear()
        return self._full

    def lookup(self, ids: np.ndarray) -> np.ndarray:
        """tf aligned to sorted ``ids`` (0 where absent); decodes only
        blocks whose [first_doc, last_doc] range intersects ``ids``.

        Fully-decoded fast path: once every block is cached (pass 1 of any
        query decoded the term, or enough partial lookups accumulated), one
        vectorized searchsorted over the memoized concatenated arrays
        replaces the per-block loop — the warm-serving profile showed the
        per-block Python overhead (8+ numpy calls × blocks × terms)
        dominating repeated-query latency."""
        tf_out = np.zeros(ids.size, dtype=np.int64)
        if ids.size == 0 or self.first.size == 0:
            return tf_out
        if self._full is None and len(self._cache) == self.first.size:
            self.decode_all()  # all blocks cached: memoize the flat view
        if self._full is not None:
            a_ids, a_tfs = self._full
            pos = np.searchsorted(a_ids, ids)
            pos[pos == a_ids.size] = 0  # any in-range index; masked below
            hit = a_ids[pos] == ids
            tf_out[hit] = a_tfs[pos[hit]]
            return tf_out
        # candidate block index for each id: rightmost block with first<=id
        bi = np.searchsorted(self.first, ids, side="right") - 1
        ok = (bi >= 0) & (ids <= self.last[np.clip(bi, 0, None)])
        for blk in np.unique(bi[ok]):
            b_ids, b_tfs = self.block(int(blk))
            sel = ok & (bi == blk)
            pos = np.searchsorted(b_ids, ids[sel])
            pos = np.clip(pos, 0, b_ids.size - 1)
            hit = b_ids[pos] == ids[sel]
            tf_out[np.flatnonzero(sel)[hit]] = b_tfs[pos[hit]]
        return tf_out


class SegmentNorms:
    """One segment's doc lengths, decoded once from its norms row
    (``builder.NORMS_LEMMA``): ``norms(ids)`` is each doc id's dl.  Held
    dense over the row's id range, so a lookup is one gather."""

    __slots__ = ("lo", "dl")

    def __init__(self, postings: bytes, tfs: bytes, blocks):
        ids, dls = TermPostings(postings, tfs, blocks, 0).decode_all()
        self.lo = int(ids[0]) if ids.size else 0
        self.dl = np.zeros(int(ids[-1]) - self.lo + 1 if ids.size else 0,
                           dtype=np.int32)
        self.dl[ids - self.lo] = dls

    def __call__(self, ids: np.ndarray) -> np.ndarray:
        return self.dl[ids - self.lo]


def _idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _score_ids(ids: np.ndarray, terms: list[TermPostings], idfs: list[float],
               norms: SegmentNorms, k1: float, b: float,
               avgdl: float) -> np.ndarray:
    """Exact BM25 scores for sorted candidate ids (block-skipping tf
    lookups); each candidate's length norm is computed once, not once per
    term."""
    scores = np.zeros(ids.size, dtype=np.float64)
    norm = k1 * ((1.0 - b) + b * norms(ids) / avgdl)
    for t, idf in zip(terms, idfs):
        tf = t.lookup(ids)
        nz = tf > 0
        w = np.zeros(ids.size)
        tff = tf[nz].astype(np.float64)
        w[nz] = tff / (tff + norm[nz])
        scores += idf * (k1 + 1.0) * w
    return scores


def _overlapping_segments(intervals: list[tuple[int, int]],
                          seg_size: int) -> set[int]:
    """Segments whose doc_id range intersects any site interval — a
    site-scoped query cannot match anywhere else (segment = doc_id //
    seg_size by construction), so every other segment's partitions are
    pruned from the scan / skipped in the warm merge."""
    out: set[int] = set()
    for lo, hi in intervals:
        out.update(range(lo // seg_size, hi // seg_size + 1))
    return out


def _mask_ids(ids: np.ndarray,
              intervals: list[tuple[int, int]] | None) -> np.ndarray:
    """Keep only ids inside the sorted disjoint ``intervals`` (site scope).
    ``None`` = no scope.  Vectorized: one searchsorted over interval lows."""
    if intervals is None or ids.size == 0:
        return ids
    lo = np.fromiter((iv[0] for iv in intervals), dtype=np.int64,
                     count=len(intervals))
    hi = np.fromiter((iv[1] for iv in intervals), dtype=np.int64,
                     count=len(intervals))
    pos = np.searchsorted(lo, ids, side="right") - 1
    ok = pos >= 0
    ok[ok] &= ids[ok] <= hi[pos[ok]]
    return ids[ok]


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """top-k by (score desc, doc_id asc) — deterministic.

    Large candidate sets are pre-cut with an O(n) partition on the kth
    score (keeping EVERY candidate tied at the cut, so the id tie-break
    stays exact) before the full lexsort runs on the survivors."""
    if ids.size == 0:
        return ids, scores
    if k > 0 and ids.size > 4 * k:
        kth = np.partition(scores, ids.size - k)[ids.size - k]
        keep = scores >= kth  # >= keeps ties at the cut; excluded < kth
        ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[: k]
    return ids[order], scores[order]


def segment_topk_terms(terms: list[TermPostings], norms: SegmentNorms,
                       n_docs: int, avgdl: float,
                       k: int, k1: float = 1.2, b: float = 0.75,
                       conjunctive: bool = False,
                       intervals: list[tuple[int, int]] | None = None,
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Local top-k for one segment over its query terms' ``TermPostings``
    (df global, for idf) and the segment's ``norms``.  The warm-serving
    path reuses cached objects so their decoded postings survive across
    queries (repeated terms never re-decode).  MaxScore runs when every term is already decoded and the
    shortest list is under half the longest, exhaustive otherwise (module
    docstring).

    ``intervals`` (the builder's sites sidecar for one repo) scopes the
    search to a site: every candidate list is masked at generation, so θ
    comes from masked pass-1 scores (a subset of final candidates — still a
    valid lower bound) and MaxScore pruning stays provably exact under the
    mask (docs outside the essential union score below θ whether masked or
    not)."""
    if not terms:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0)
    sizes = [int(t.n.sum()) for t in terms]  # segment-local list lengths
    if conjunctive:
        kernel = _conjunctive
    elif 2 * min(sizes) < max(sizes) and all(t.decoded for t in terms):
        kernel = _maxscore
    else:
        kernel = _exhaustive
    return kernel(terms, norms, n_docs, avgdl, k, k1, b, intervals)


def _rarest_first(terms: list[TermPostings], n_docs: int
                  ) -> tuple[list[TermPostings], list[float]]:
    """``terms`` by ascending df (stable) and their idfs, in the order
    every kernel scores them (O1), so their float sums agree bit for bit."""
    order = np.argsort([t.df for t in terms], kind="stable")
    return ([terms[i] for i in order],
            [_idf(n_docs, terms[i].df) for i in order])


def _exhaustive(terms, norms, n_docs, avgdl, k, k1, b, intervals):
    """Decode every term and score the (masked) union of their ids."""
    terms, idfs = _rarest_first(terms, n_docs)
    ids = _mask_ids(
        np.unique(np.concatenate([t.decode_all()[0] for t in terms])),
        intervals)
    return _topk(ids, _score_ids(ids, terms, idfs, norms, k1, b, avgdl), k)


def _maxscore(terms, norms, n_docs, avgdl, k, k1, b, intervals):
    """Pass 1 scores the rarest term's ids exactly; its kth score θ then
    decides which terms are essential, and only their ids are scored."""
    terms, idfs = _rarest_first(terms, n_docs)
    c1 = _mask_ids(terms[0].decode_all()[0], intervals)
    s1 = _score_ids(c1, terms, idfs, norms, k1, b, avgdl)
    theta = np.partition(s1, -k)[-k] if c1.size >= k else -np.inf
    ubs = np.array([idf * (k1 + 1.0) * (t.max_w.max() if t.max_w.size else 0.0)
                    for t, idf in zip(terms, idfs)])
    # essential terms: take by UB desc until the EXCLUDED UB sum < theta;
    # any doc outside the essential union then scores <= excluded_sum < theta
    # <= final kth score (pass-1 candidates are re-scored below), so pruning
    # is provably safe.  theta=-inf (fewer than k pass-1 docs) => no pruning.
    ub_order = np.argsort(-ubs, kind="stable")
    essential: set[int] = set()
    excluded = float(ubs.sum())
    for i in ub_order:
        if excluded < theta:
            break  # all remaining (smaller-UB) terms are non-essential
        essential.add(int(i))
        excluded -= float(ubs[i])
    essential.add(0)  # rarest term always drives (its docs seed theta)
    cand = _mask_ids(np.unique(np.concatenate(
        [terms[i].decode_all()[0] for i in sorted(essential)]
    )), intervals)
    return _topk(cand, _score_ids(cand, terms, idfs, norms, k1, b, avgdl), k)


def _conjunctive(terms, norms, n_docs, avgdl, k, k1, b, intervals):
    """Docs carrying every term: the rarest term's ids, narrowed by
    block-skipping lookups into the others."""
    terms, idfs = _rarest_first(terms, n_docs)
    ids = _mask_ids(terms[0].decode_all()[0], intervals)
    for t in terms[1:]:
        if ids.size == 0:
            break  # early exit (SearchServiceImpl.java:136-138)
        ids = ids[t.lookup(ids) > 0]
    return _topk(ids, _score_ids(ids, terms, idfs, norms, k1, b, avgdl), k)


def bm25_segment(seg: int, tps: dict[str, TermPostings],
                 norms: SegmentNorms, queries: dict, meta: dict,
                 conjunctive: bool) -> list[tuple]:
    """The one per-segment BM25 scorer, run by Spark's segment groups and
    by :meth:`QueryEngine.topk_rows` alike: ``tps`` maps lemma -> this
    segment's ``TermPostings``, ``norms`` its doc lengths, ``queries``
    qid -> (sorted lemmas, AND arity, k + offset, site intervals, live
    segments).  Returns (qid, ids,
    scores) per query with hits here.  A query skips a segment its site
    cannot reach, and under ``conjunctive`` one that lacks a term found
    elsewhere in the index."""
    out = []
    for qid, (lemmas, arity, kk, intervals, live) in queries.items():
        if live is not None and seg not in live:
            continue
        terms = [tps[t] for t in lemmas if t in tps]
        if not terms or (conjunctive and len(terms) < arity):
            continue
        ids, scores = segment_topk_terms(
            terms, norms, meta["n_docs"], meta["avgdl"], kk, meta["k1"],
            meta["b"], conjunctive, intervals)
        out.append((qid, ids, scores))
    return out


def _site_scopes(index_dir: str, seg_size: int,
                 sites: dict[str, str | None], cache: dict
                 ) -> tuple[dict[str, tuple], list[int] | None]:
    """The one site-scope resolver: ``sites`` maps qid -> repo (None =
    unscoped), ``cache`` (repo -> doc_id intervals) is read first and
    receives every sites-sidecar read.  Returns qid -> (intervals, live
    segments), ``(None, None)`` when unscoped, with every qid of an unknown
    site dropped (it owns no pages), and the union of the live segments
    when every kept qid is scoped (the scan prunes to it), else None."""
    from .builder import read_site_ranges

    scopes: dict[str, tuple] = {}
    for qid, site in sites.items():
        if site is None:
            scopes[qid] = (None, None)
            continue
        if site not in cache:
            cache[site] = read_site_ranges(index_dir, site)
        if cache[site]:
            scopes[qid] = (cache[site],
                           _overlapping_segments(cache[site], seg_size))
    live = [sc[1] for sc in scopes.values()]
    if live and all(sg is not None for sg in live):
        return scopes, sorted(set().union(*live))
    return scopes, None


def gdf_lookup(spark: SparkSession, index_dir: str,
               qlemmas: list[str]) -> dict[str, int]:
    """Global df of ``qlemmas``: read only their bucket= dirs of the index
    and, by column projection, only ``lemma``/``df`` of its rows (no
    posting or position bytes).  The per-segment rows (at most
    ``n_segments`` per lemma) are summed on the driver, so the lookup is
    one scan stage with no exchange.  Lemmas absent from the index (and
    every lemma of an emptied index) are absent from the result."""
    from .builder import read_index

    gdf: dict[str, int] = {}
    for r in read_index(spark, index_dir, qlemmas,
                        columns=("lemma", "df")).collect():
        gdf[r["lemma"]] = gdf.get(r["lemma"], 0) + int(r["df"])
    return gdf


def index_fingerprint(index_dir: str) -> tuple:
    """Cheap staleness token: (mtime_ns of meta.json, every manifest's
    (name, mtime_ns)).  Any rebuild rewrites at least one of these, so a
    warm QueryEngine can detect it with a handful of stat() calls."""
    import os

    out = []
    meta = f"{index_dir}/meta.json"
    if os.path.exists(meta):
        out.append(("meta", os.stat(meta).st_mtime_ns))
    mdir = f"{index_dir}/manifests"
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                out.append((name, os.stat(f"{mdir}/{name}").st_mtime_ns))
    return tuple(out)


class _ByteLRU:
    """Per-lemma cache of decoded entries, LRU-bounded by entry count AND
    total compressed bytes, so it never grows O(vocabulary) or O(hot-term).
    :meth:`evict` never drops below ``floor`` entries: the current working
    set must survive its own fetch."""

    def __init__(self, max_entries: int, max_bytes: int):
        self.max_entries, self.max_bytes = max_entries, max_bytes
        self._items: OrderedDict[str, tuple[list, int]] = OrderedDict()
        self.total = 0  # Σ bytes of the resident entries

    def __contains__(self, key: str) -> bool:
        return key in self._items

    def __iter__(self):
        return iter(self._items)

    def __len__(self) -> int:
        return len(self._items)

    def get(self, key: str) -> list:
        return self._items[key][0] if key in self._items else []

    def nbytes(self, key: str) -> int:
        return self._items[key][1] if key in self._items else 0

    def touch(self, keys: list[str]) -> list[str]:
        """Mark the resident ``keys`` most recently used; return the others
        (what the caller has to fetch)."""
        missing = []
        for key in keys:
            if key in self._items:
                self._items.move_to_end(key)
            else:
                missing.append(key)
        return missing

    def put(self, key: str, entries: list, nbytes: int) -> None:
        if key in self._items:
            self.total -= self._items.pop(key)[1]
        self._items[key] = (entries, nbytes)
        self.total += nbytes

    def evict(self, floor: int = 0) -> None:
        while len(self._items) > floor and (
            len(self._items) > self.max_entries or self.total > self.max_bytes
        ):
            self.total -= self._items.popitem(last=False)[1][1]

    def drop(self, keys: list[str]) -> None:
        """Remove ``keys`` (the post-fetch backstop's cleanup: an
        under-estimated fetch that turned out over-threshold must not stay
        resident past the byte bound its floor-protected fetch just
        pierced), then evict with no floor, back inside the budget."""
        for key in keys:
            if key in self._items:
                self.total -= self._items.pop(key)[1]
        self.evict()


class QueryEngine:
    """Warm serving wrapper: caches meta, one listing of the index's
    ``data/`` files, driver-side LRUs of decoded term and positional
    rows, and the norms of every segment it has scored (held for the
    load, outside the LRUs' byte budgets: 4 B per doc id).  The local
    route launches no Spark job: df lookups and posting fetches are
    driver-side Arrow reads of the listed files of the lemmas' buckets
    (:meth:`_scan`), and a repeated query reads nothing.

    It pins no Spark cache.  Only the distributed routes run Spark, over
    one uncached frame of ``data/`` (:attr:`index_df`, built when a route
    first needs it) that every such read bucket-prunes, lemma-filters and
    column-projects (:meth:`_read`); executors hold nothing between
    queries.

    Defaults are the 10^12-file-safe ones: ``preload_dict=False`` (the full
    dictionary is O(vocabulary) — gdf comes free with the fetched term
    rows, or from a lemma/df read of their buckets); both LRUs are bounded
    by entries and bytes.  Every query first checks
    :func:`index_fingerprint`: an incremental rebuild under a live engine
    re-lists the index and drops the warm rows instead of silently serving
    stale postings or norms."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 preload_dict: bool = False, term_cache_size: int = 4096,
                 term_cache_bytes: int = 256 << 20,
                 pos_cache_size: int = 4096,
                 pos_cache_bytes: int = 256 << 20):
        self.spark = spark
        self.index_dir = index_dir
        self._preload_dict = preload_dict
        self._term_bounds = (term_cache_size, term_cache_bytes)
        self._pos_bounds = (pos_cache_size, pos_cache_bytes)
        self._load()

    def _load(self) -> None:
        from .builder import index_analyzer, list_index_files

        with open(f"{self.index_dir}/meta.json") as fh:
            self.meta = json.load(fh)
        self._fp = index_fingerprint(self.index_dir)
        # the index's morphology (normalizer + dict sidecar) is part of its
        # identity: queries must analyze with the table the build used
        self._ana = index_analyzer(self.spark, self.index_dir, self.meta)
        # build-time average posting width: df * _bpp predicts a term's
        # driver-side bytes BEFORE any fetch (a conservative constant for
        # indexes built without the stat).  _index_bytes (whole-index
        # posting bytes) skips the estimate when the ENTIRE index fits
        # under a query's threshold: no term can exceed it.
        self._bpp = float(self.meta.get("bytes_per_posting") or 8.0)
        self._index_bytes: int | None = self.meta.get("posting_bytes")
        # the positional twins price postings + tfs + pstream per posting,
        # so the index df prices both fetches.  The fallback mirrors
        # _bpp's: an index without the stat must still ESTIMATE
        # (conservatively) rather than skip the guard — skipping would
        # collect a common form's full positional stream to the driver
        # unguarded, the exact OOM the estimate exists to stop
        self._pos_bpp = float(
            self.meta.get("pos_bytes_per_posting") or 16.0)
        self._pos_bytes: int | None = self.meta.get("pos_posting_bytes")
        # one listing of data/ per load: every local read takes its files
        # from it, and a file a rebuild has since removed fails the read
        # (FileNotFoundError) instead of being skipped.
        self._files = list_index_files(self.index_dir)
        self._index_df: DataFrame | None = None
        self._term_cache = _ByteLRU(*self._term_bounds)
        self._pos_cache = _ByteLRU(*self._pos_bounds)
        self._gdf_cache: dict[str, int] = {}  # lemma -> global df (tiny rows)
        self._site_cache: dict[str, list[tuple[int, int]]] = {}
        self._norms: dict[int, SegmentNorms] = {}
        self._gdf: dict[str, int] | None = None
        if self._preload_dict:
            from pyspark.sql import functions as F

            from .builder import read_index

            self._gdf = {
                r["lemma"]: int(r["gdf"])
                for r in read_index(self.spark, self.index_dir,
                                    columns=("lemma", "df"))
                .groupBy("lemma").agg(F.sum("df").alias("gdf")).collect()
            }

    @property
    def index_df(self) -> DataFrame:
        """The index, norms rows included, as one uncached Spark frame for
        the distributed routes, built on first use per load.  Spark lists
        ``data/`` itself: past 32 root paths it would list the engine's
        files in a Spark job.  Never cached: a cached relation is
        materialized whole by its first read, and the driver LRUs already
        serve repeats."""
        if self._index_df is None:
            from .builder import INDEX_OUT_SCHEMA, read_index

            self._index_df = read_index(self.spark, self.index_dir,
                                        columns=tuple(INDEX_OUT_SCHEMA.names),
                                        norms=True)
        return self._index_df

    def _check_fresh(self) -> None:
        """Every serving call starts here: reload after a rebuild, and
        refuse an index of another format (``builder.check_format``)."""
        from .builder import check_format

        if index_fingerprint(self.index_dir) != self._fp:
            self._load()
        check_format(self.meta)

    def _read(self, lemmas: list[str]) -> DataFrame:
        """The distributed routes' input: ``lemmas``' posting rows and the
        norms rows of :attr:`index_df`, pruned as ``read_index(lemmas,
        norms=True)`` prunes them."""
        from .builder import NORMS_LEMMA, prune_index

        return prune_index(self.index_df, [NORMS_LEMMA, *lemmas],
                           self.meta["n_buckets"])

    def _scan(self, lemmas: list[str], columns):
        """``lemmas``' rows of the files listed at load, as Arrow record
        batches of ``columns``: every local read goes through here."""
        from .builder import scan_index

        return scan_index(self.index_dir, self._files, lemmas,
                          self.meta["n_buckets"], columns)

    def topk(self, query: str, k: int = 10, conjunctive: bool = False, site: str | None = None,
             offset: int = 0) -> DataFrame:
        self._check_fresh()
        qlemmas = sorted(set(analyze(query, *self._ana)))
        self._scopes({"q": site})
        return bm25_topk(self.spark, self.index_dir, query, k,
                         conjunctive=conjunctive,
                         index_df=self._read(qlemmas),
                         gdf_override=self._gdf_for(qlemmas), site=site,
                         offset=offset,
                         site_intervals=self._site_cache.get(site))

    def topk_batch(self, queries: dict[str, str], k: int = 10,
                   conjunctive: bool = False,
                   sites: dict[str, str] | None = None,
                   offsets: dict[str, int] | None = None) -> DataFrame:
        """Whole-workload scoring in one Spark job over the engine's pruned
        read of the index (see :func:`bm25_topk_batch`).  Global df comes
        from the engine's dict/gdf caches, so a warm suite skips the
        batch's gdf-lookup job; per-qid ``sites`` resolve through the
        engine's interval cache, so repeated scoped suites skip the sidecar
        reads too."""
        self._check_fresh()
        lemmas = sorted({t for q in queries.values()
                         for t in analyze(q, *self._ana)})
        self._scopes(dict(sites or {}))
        return bm25_topk_batch(self.spark, self.index_dir, queries, k,
                               conjunctive=conjunctive,
                               index_df=self._read(lemmas),
                               gdf_override=self._gdf_for(lemmas),
                               sites=sites, offsets=offsets,
                               site_intervals=self._site_cache)

    def _scopes(self, sites: dict[str, str | None]) -> dict[str, tuple]:
        """:func:`_site_scopes` through the engine's interval cache: one
        sites-sidecar read per (engine load, site), dropped with the rest
        of the warm state."""
        return _site_scopes(self.index_dir, int(self.meta["seg_size"]),
                            sites, self._site_cache)[0]

    def _gdf_for(self, lemmas: list[str]) -> dict[str, int]:
        """Global df per lemma WITHOUT touching posting bytes: preloaded
        dict > per-engine gdf cache > one lemma/df-projected read of their
        buckets (cached for the engine's lifetime — a term's df is a
        handful of longs).  Lemmas absent from the index are absent from
        the result."""
        if self._gdf is not None:
            return {t: self._gdf[t] for t in lemmas if t in self._gdf}
        missing = [t for t in lemmas if t not in self._gdf_cache]
        if missing:
            self._gdf_cache.update(dict.fromkeys(missing, 0))
            for b in self._scan(missing, ("lemma", "df")):
                for t, df in zip(b.column("lemma").to_pylist(),
                                 b.column("df").to_pylist()):
                    self._gdf_cache[t] += df
        return {t: self._gdf_cache[t] for t in lemmas
                if self._gdf_cache[t] > 0}

    def _fetch(self, terms: list[str], forms: list[str] = (),
               tfloor: int = 0, pfloor: int = 0) -> None:
        """ONE read warms both LRUs: ``terms``' posting rows and
        ``forms``' positional rows (a lemma in both is one row).  A column
        that no cache wants for a lemma is dropped as its row arrives, so
        a topk-only term keeps no positional bytes on the driver and a
        form-only lemma no block directory.  Entries are cached
        DECODED per (lemma, segment), global df baked in for idf, so a
        repeat costs neither a read nor a varbyte decode; bytes are
        counted compressed.  The floors keep each cache's current working
        set from evicting itself.  Callers route over-estimate lemmas away
        BEFORE calling; this function does not guard."""
        from .positions import decode_form

        tset, fset = set(terms), set(forms)
        want = sorted(tset | fset)
        cols = ["segment", "lemma", "df", "postings", "tfs"]
        if tset:
            cols.append("blocks")
        if fset:
            cols.append("pstream")
        rows: dict[str, list] = {t: [] for t in want}
        for batch in self._scan(want, cols):
            for r in batch.to_pylist():
                if r["lemma"] not in tset:
                    r["blocks"] = None
                if r["lemma"] not in fset:
                    r["pstream"] = None
                rows[r["lemma"]].append(r)
        for lemma, rs in rows.items():
            self._gdf_cache[lemma] = sum(r["df"] for r in rs)
        for lemma in terms:
            entries = [(lemma, r["segment"],
                        TermPostings(r["postings"], r["tfs"], r["blocks"],
                                     self._gdf_cache[lemma]),
                        len(r["postings"]) + len(r["tfs"]))
                       for r in rows[lemma]]
            self._term_cache.put(lemma, entries, sum(e[3] for e in entries))
        seg_size = int(self.meta["seg_size"])
        block_size = int(self.meta["block_size"])
        for lemma in forms:
            entries = []
            for r in rows[lemma]:
                occ, flat, mx = decode_form(r["postings"], r["tfs"],
                                            r["pstream"], r["segment"],
                                            seg_size, block_size)
                nb = len(r["postings"]) + len(r["tfs"]) + len(r["pstream"])
                entries.append((r["segment"], occ, flat, mx, nb))
            self._pos_cache.put(lemma, entries, sum(e[4] for e in entries))
        if tset:
            self._term_cache.evict(tfloor)
        if fset:
            self._pos_cache.evict(pfloor)

    def _segment_norms(self, segs) -> dict[int, SegmentNorms]:
        """The norms of ``segs``, read once per load: a segment not yet
        held costs one driver-side Arrow read of its norms partition
        (``builder.NORMS_BUCKET``), no term bucket and no Spark job."""
        from .builder import NORMS_BUCKET, NORMS_LEMMA, scan_index

        missing = set(segs) - self._norms.keys()
        if missing:
            files = {NORMS_BUCKET: [
                f for f in self._files.get(NORMS_BUCKET, ())
                if int(f.rsplit("/segment=", 1)[1].split("/", 1)[0])
                in missing]}
            for batch in scan_index(self.index_dir, files, [NORMS_LEMMA],
                                    self.meta["n_buckets"],
                                    ("segment", "postings", "tfs", "blocks")):
                for r in batch.to_pylist():
                    self._norms[r["segment"]] = SegmentNorms(
                        r["postings"], r["tfs"], r["blocks"])
        return self._norms

    def _warm(self, cache: _ByteLRU, keys: list[str], bpp: float,
              index_bytes: int | None, threshold: int, fetch) -> bool:
        """Make ``keys`` resident in ``cache`` if their bytes fit under
        ``threshold``; False routes the caller distributed.  Resident keys
        are touched and only the missing ones are fetched (``fetch``).
        The size check runs BEFORE any posting bytes move — index df ×
        ``bpp``, from df rows only — unless the whole index
        (``index_bytes``) fits; the actual size after the fetch is the
        backstop for under-estimates, and an oversized fetch is dropped
        again so it does not sit floor-pinned past the cache's budget."""
        missing = cache.touch(keys)
        if missing:
            if index_bytes is None or index_bytes > threshold:
                gdf = self._gdf_for(keys)
                if sum(cache.nbytes(t) if t in cache else gdf.get(t, 0) * bpp
                       for t in keys) > threshold:
                    return False
            fetch(missing)
        if sum(cache.nbytes(t) for t in keys) > threshold:
            if missing:
                cache.drop(missing)
            return False
        return True

    def phrase_rows(self, phrase: str, k: int = 10, site: str | None = None,
                    local_threshold_bytes: int = 64 << 20,
                    ) -> list[tuple[int, int]]:
        """Warm phrase serving over the index's positions: (doc_id,
        phrase_tf) pairs, each segment scored by the same
        :func:`positions.phrase_segment` the distributed path runs — but a
        repeated phrase (or one whose forms an earlier phrase warmed) costs
        NO Spark job: slot postings come from the engine's positional LRU
        and the intersection runs driver-side in numpy.

        Same routing discipline as :meth:`topk_rows` (:meth:`_warm`, priced
        by the build's positional bytes-per-posting): a phrase over
        ``local_threshold_bytes`` is served by the distributed path, which
        reads the engine's :attr:`index_df` and site cache (no listing)."""
        from ..analyzer import analyze_positions
        from .builder import prune_index
        from .positions import POS_COLS, phrase_segment, phrase_topk_positions

        self._check_fresh()
        qpat = [frozenset(p) for p in analyze_positions(phrase, *self._ana)]
        if not qpat:
            return []
        seg_size = int(self.meta["seg_size"])
        scopes = self._scopes({"q": site})
        if not scopes:
            return []  # unknown site owns no pages
        forms = sorted({f for fs in qpat for f in fs})

        if not self._warm(self._pos_cache, forms, self._pos_bpp,
                          self._pos_bytes, local_threshold_bytes,
                          lambda m: self._fetch([], m, pfloor=len(forms))):
            out = phrase_topk_positions(
                self.spark, self.index_dir, phrase, k, site=site,
                index_df=prune_index(self.index_df, forms,
                                     self.meta["n_buckets"], POS_COLS),
                site_intervals=scopes["q"][0]).collect()
            return [(r["doc_id"], r["phrase_tf"]) for r in out]
        by_seg: dict[int, dict[str, tuple]] = {}
        maxp: dict[int, int] = {}
        for t in forms:
            for seg, occ, flat, mx, _ in self._pos_cache.get(t):
                by_seg.setdefault(seg, {})[t] = (occ, flat)
                maxp[seg] = max(maxp.get(seg, 0), mx)
        qs = {"q": (qpat, *scopes["q"])}
        merged = [(d, t) for seg, decoded in by_seg.items()
                  for _, ids, tf in phrase_segment(
                      seg, decoded, maxp[seg] + 2, seg_size, qs, k)
                  for d, t in zip(ids.tolist(), tf.tolist())]
        merged.sort(key=lambda x: (-x[1], x[0]))
        return merged[:k]

    def phrase_rows_batch(self, phrases: dict[str, str], k: int = 10,
                          sites: dict[str, str] | None = None,
                          local_threshold_bytes: int = 64 << 20,
                          ) -> dict[str, list[tuple[int, int]]]:
        """Whole phrase workload, batch-warm (r4 VERDICT item 3): ONE
        guarded positional fetch warms the union of every phrase's forms
        (the same dict-df × bytes-per-posting discipline as
        :meth:`prefetch`), then every phrase serves DRIVER-SIDE from the
        warm cache — the offline-eval symmetric of :meth:`topk_batch`.
        Returns {qid: [(doc_id, phrase_tf), ...]}, per qid row-identical
        to :meth:`phrase_rows` (parity-tested).

        A phrase whose forms the guard skipped (estimate over threshold)
        routes to the distributed positional path individually, exactly as
        the single path would — the batch never collects oversized
        postings onto the broker.  Per-qid ``sites`` resolve through the
        engine's interval cache, warmed here alongside the forms."""
        self._check_fresh()
        self.prefetch([], sites=sorted({s for s in (sites or {}).values()}),
                      local_threshold_bytes=local_threshold_bytes,
                      phrases=[phrases[q] for q in sorted(phrases)])
        return {
            qid: self.phrase_rows(
                phrases[qid], k, site=(sites or {}).get(qid),
                local_threshold_bytes=local_threshold_bytes)
            for qid in sorted(phrases)
        }

    def prefetch(self, queries: list[str], sites: list[str] | None = None,
                 local_threshold_bytes: int = 64 << 20,
                 phrases: list[str] | None = None) -> int:
        """Warm the term cache for a whole query suite, and with
        ``phrases`` the positional cache for their forms, with no Spark
        job: at most one df read (only when an index is over the
        threshold), then ONE read of every lemma either cache needs, so a
        broker restart re-warms its expected workload in a single pass.
        Returns the number of lemmas fetched (terms + positional forms).

        Honors the same byte discipline as :meth:`topk_rows` and
        :meth:`phrase_rows`: a lemma whose dict-estimated postings
        (positional postings, for a form) exceed ``local_threshold_bytes``
        is SKIPPED before any posting bytes move (queries using it route to
        the distributed path anyway, so warming it would only pull
        oversized bytes onto the broker), and the fetch never exceeds an
        LRU's byte budget by more than the suite's own (pre-checked)
        working set.  ``sites`` additionally warms the site-interval cache
        so site-scoped queries skip their sidecar read."""
        from ..analyzer import analyze_positions

        self._check_fresh()
        self._scopes({s: s for s in sites or ()})
        lemmas = sorted({t for q in queries for t in analyze(q, *self._ana)})
        forms = []
        if phrases:
            forms = sorted({f for ph in phrases
                            for fs in analyze_positions(ph, *self._ana)
                            for f in fs})
        # resident lemmas are touched: the suite must survive the
        # post-fetch eviction
        terms = self._term_cache.touch(lemmas)
        pforms = self._pos_cache.touch(forms)
        tguard = (self._index_bytes is None
                  or self._index_bytes > local_threshold_bytes)
        pguard = (self._pos_bytes is None
                  or self._pos_bytes > local_threshold_bytes)
        gdf = self._gdf_for(sorted({*(terms if tguard else ()),
                                    *(pforms if pguard else ())}))
        if tguard:
            terms = [t for t in terms
                     if gdf.get(t, 0) * self._bpp <= local_threshold_bytes]
        if pguard:
            pforms = [t for t in pforms if gdf.get(t, 0) * self._pos_bpp
                      <= local_threshold_bytes]
        if terms or pforms:
            self._fetch(terms, pforms, tfloor=len(lemmas),
                        pfloor=len(forms))
        return len(terms) + len(pforms)

    def topk_rows(self, query: str, k: int = 10, conjunctive: bool = False,
                  local_threshold_bytes: int = 64 << 20,
                  site: str | None = None,
                  offset: int = 0) -> list[tuple[int, float]]:
        """Serving fast path: read the term rows on the driver (no Spark
        job) and score each segment locally with :func:`bm25_segment`, the
        scorer the distributed path runs in its applyInPandas groups.
        Falls back to the distributed path (:meth:`topk`) when the query's
        postings exceed ``local_threshold_bytes`` (broker-style: small
        working sets score on the broker, big ones on the workers).  The
        size check (:meth:`_warm`) runs BEFORE any posting bytes move: a
        term's footprint is estimated as dict-df × the build's
        bytes-per-posting, so a common term at 10^12 docs (GBs of
        postings) is routed to the workers without ever being collected."""
        self._check_fresh()
        if offset < 0:
            raise ValueError("offset must be >= 0")
        qlemmas = sorted(set(analyze(query, *self._ana)))
        if not qlemmas:
            return []
        scopes = self._scopes({"q": site})
        if not scopes:
            return []  # unknown site owns no pages

        if not self._warm(self._term_cache, qlemmas, self._bpp,
                          self._index_bytes, local_threshold_bytes,
                          lambda m: self._fetch(m, tfloor=len(qlemmas))):
            out = self.topk(query, k, conjunctive, site=site,
                            offset=offset).collect()
            return [(r["doc_id"], r["score"]) for r in out]
        entries = [e for t in qlemmas for e in self._term_cache.get(t)]
        by_seg: dict[int, dict[str, TermPostings]] = {}
        for lemma, seg, tp, _ in entries:
            by_seg.setdefault(seg, {})[lemma] = tp
        arity = len({lemma for lemma, _, _, _ in entries})
        qs = {"q": (qlemmas, arity, k + offset, *scopes["q"])}
        norms = self._segment_norms(by_seg)
        merged = [(d, s) for seg, tps in by_seg.items()
                  for _, ids, scores in bm25_segment(
                      seg, tps, norms[seg], qs, self.meta, conjunctive)
                  for d, s in zip(ids.tolist(), scores.tolist())]
        merged.sort(key=lambda t: (-t[1], t[0]))
        return merged[offset:k + offset]


def _bm25_segments(spark: SparkSession, index_dir: str,
                   queries: dict[str, str], k: int, conjunctive: bool,
                   index_df: DataFrame | None,
                   gdf_override: dict[str, int] | None,
                   sites: dict[str, str | None],
                   offsets: dict[str, int],
                   site_intervals: dict[str, list[tuple[int, int]]] | None,
                   ) -> DataFrame | None:
    """The one front end of :func:`bm25_topk` and :func:`bm25_topk_batch`:
    analyze every query, resolve its site scope, read the union of the
    lemmas' rows and the norms rows bucket-pruned (pruned to the scopes'
    segments when every query is scoped), take the global df, and score
    each segment with :func:`bm25_segment` in one ``applyInPandas``
    group.  Returns the
    (qid, doc_id, score) frame of every segment's top-(offset+k) per qid,
    or None when no query can match."""
    from .builder import (
        NORMS_LEMMA,
        check_format,
        index_analyzer,
        isin_expr,
        read_index,
    )

    if any(v < 0 for v in offsets.values()):
        raise ValueError("offsets must be >= 0")
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    check_format(meta)
    ana = index_analyzer(spark, index_dir, meta)
    qmap = {qid: sorted(set(analyze(q, *ana))) for qid, q in queries.items()}
    scopes, union = _site_scopes(
        index_dir, int(meta["seg_size"]),
        {qid: sites.get(qid) for qid, ls in qmap.items() if ls},
        dict(site_intervals or {}))
    if not scopes:
        return None
    all_lemmas = sorted({t for qid in scopes for t in qmap[qid]})
    idx = (index_df if index_df is not None
           else read_index(spark, index_dir, all_lemmas, norms=True))
    if union is not None:
        # partition pruning on segment=: a site's docs live only in the
        # segments its intervals overlap
        idx = idx.filter(isin_expr("segment", union))
    # global df per lemma: the caller's (QueryEngine) > pruned lemma/df
    # read of the index.  Never scoped to the site's segments: df (hence
    # idf) is a corpus-global statistic — summing only the site's segments
    # would score the same query differently per serving path.
    gdf = (gdf_override if gdf_override is not None
           else gdf_lookup(spark, index_dir, all_lemmas))
    if not gdf:
        return None
    # AND arity counts only terms that exist SOMEWHERE in the index,
    # mirroring the reference's loop over lemmas found in the DB
    # (SearchServiceImpl.java:122-143)
    qs = {qid: (qmap[qid], sum(t in gdf for t in qmap[qid]),
                k + offsets.get(qid, 0), *scopes[qid])
          for qid in scopes}

    def _seg(pdf):
        import pandas as pd

        tps, nr = {}, None
        for r in pdf.itertuples():
            if r.lemma == NORMS_LEMMA:
                nr = r
            else:
                tps[r.lemma] = TermPostings(r.postings, r.tfs, r.blocks,
                                            int(gdf[r.lemma]))
        # a segment holding none of the lemmas is a norms row alone
        hits = (bm25_segment(int(pdf["segment"].iloc[0]), tps,
                             SegmentNorms(nr.postings, nr.tfs, nr.blocks),
                             qs, meta, conjunctive) if tps else [])
        return pd.DataFrame({
            "qid": [q for q, ids, _ in hits for _ in range(ids.size)],
            "doc_id": [d for _, ids, _ in hits for d in ids.tolist()],
            "score": [s for _, _, sc in hits for s in sc.tolist()]})

    return idx.groupBy("segment").applyInPandas(
        _seg, schema="qid string, doc_id long, score double")


def bm25_topk_batch(spark: SparkSession, index_dir: str,
                    queries: dict[str, str], k: int = 10,
                    conjunctive: bool = False,
                    index_df: DataFrame | None = None,
                    gdf_override: dict[str, int] | None = None,
                    sites: dict[str, str] | None = None,
                    offsets: dict[str, int] | None = None,
                    site_intervals: dict[str, list[tuple[int, int]]] | None = None,
                    ) -> DataFrame:
    """Score a whole query WORKLOAD in one Spark job: (qid, doc_id, score).

    Per-query distributed serving pays one scheduled job per query — fine
    interactively, wasteful for offline workloads (relevance sweeps, eval
    suites, training-data mining at 100 TB) where thousands of queries hit
    the same index.  This path amortizes everything that is per-job:

    - ONE bucket-pruned index scan covers the union of all query lemmas;
    - ONE pruned dictionary lookup fetches every lemma's global df;
    - inside each segment group the per-lemma ``TermPostings`` is built
      ONCE and shared across every query that uses the term — the varbyte
      decode cost is per (segment, distinct lemma), not per query;
    - the per-query top-k merge is one tiny shuffle of
      O(queries x segments x k) rows, window-ranked by qid.

    :func:`bm25_topk` is this function's batch of one: both run the same
    front end and per-segment scorer (:func:`bm25_segment`), so a qid's
    rows equal the single query's (parity-tested for every qid, and
    against an independent BM25).

    ``sites``/``offsets`` (each ``qid -> value``, both optional per qid)
    complete the reference search API: a qid's site scope is a doc_id
    interval mask inside each segment's candidate generation (pruning
    stays exact), an unknown site drops its qid, and an offset is served
    by taking top-(offset+k) per segment then window-ranking ``offset <
    rank <= offset+k`` per qid.  When every qid is site-scoped the index
    scan itself is pruned to the union of their overlapping segments.
    ``site_intervals`` (site -> intervals) short-circuits sidecar reads for
    callers that cache them (QueryEngine).  ``index_df`` replaces the fresh
    read as in :func:`bm25_topk`; rows of a lemma outside the queries may
    ride along only when ``gdf_override`` carries its df (QueryEngine's
    covers every lemma it reads)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    offsets = {qid: int(v) for qid, v in (offsets or {}).items()}
    local = _bm25_segments(spark, index_dir, queries, k, conjunctive,
                           index_df, gdf_override, sites or {}, offsets,
                           site_intervals)
    if local is None:
        return spark.createDataFrame([], "qid string, doc_id long, score double")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = local.withColumn("_rk", F.row_number().over(w))
    if any(offsets.values()):
        # per-qid pagination: broadcast-join the tiny (qid, offset) side and
        # keep offset < rank <= offset + k for each query
        off_df = spark.createDataFrame(
            [(qid, offsets.get(qid, 0)) for qid in queries],
            "qid string, _off int")
        ranked = (
            ranked.join(F.broadcast(off_df), "qid")
            .filter((F.col("_rk") > F.col("_off"))
                    & (F.col("_rk") <= F.col("_off") + k))
            .drop("_off")
        )
    else:
        ranked = ranked.filter(F.col("_rk") <= k)
    return (
        ranked.drop("_rk")
        .orderBy("qid", F.desc("score"), F.asc("doc_id"))
    )


def bm25_topk(spark: SparkSession, index_dir: str, query: str, k: int = 10,
              conjunctive: bool = False,
              index_df: DataFrame | None = None,
              gdf_override: dict[str, int] | None = None,
              site: str | None = None, offset: int = 0,
              site_intervals: list[tuple[int, int]] | None = None) -> DataFrame:
    """Distributed top-k: one query as a batch of one through
    :func:`bm25_topk_batch`'s front end (partition-pruned index read ->
    per-segment :func:`bm25_segment` in applyInPandas), then a global
    ordered merge that compiles to TakeOrderedAndProject — no per-qid
    window exchange.

    ``index_df``: the query lemmas' index rows and the norms rows, read
    instead of a fresh ``read_index(spark, dir, lemmas, norms=True)``
    (QueryEngine passes its pruned read of the one listing it keeps); it
    must hold no other lemma's rows.

    ``site``/``offset`` complete the reference search API
    (ApiController.java `GET /api/search?query&site&offset&limit`): the
    site scope is the builder's (repo -> doc_id intervals) sidecar masked
    into per-segment candidate generation — no join against a docs table —
    and offset is served by taking top-(offset+k) per segment, then global
    OFFSET/LIMIT.  ``site_intervals`` short-circuits the sidecar read for
    callers that cache it (QueryEngine)."""
    from pyspark.sql import functions as F

    local = _bm25_segments(
        spark, index_dir, {"q": query}, k, conjunctive, index_df,
        gdf_override, {"q": site}, {"q": offset},
        None if site_intervals is None else {site: site_intervals})
    if local is None:
        return spark.createDataFrame([], "doc_id long, score double")
    ordered = local.drop("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return ordered.offset(offset).limit(k) if offset else ordered.limit(k)
