"""docID-delta + varbyte posting-list codec with a block-max directory.

SURVEY.md §4 item 1: per-term sorted docID lists are stored as
delta-then-varbyte bytes (Lester et al.; the classic VByte of the IR
literature) with a per-block directory carrying (first_doc, last_doc, byte
offsets, max BM25 weight) for block-max pruning (Ding & Suel BM-WAND).

Layout (per term):

- postings are cut into blocks of ``block_size`` entries;
- within a block the FIRST docID is stored absolute and the rest as
  ``delta - 1`` gaps (strictly increasing ids → gaps >= 1, so the -1 buys a
  byte on dense runs); blocks restart absolute so a block is decodable
  without its predecessors (random access for skipping);
- the tf stream is plain varbyte, also block-aligned;
- ``max_weight`` = max over the block of tf/(tf + k1·(1-b+b·dl/avgdl)) —
  the docID-independent part of BM25; multiplied by idf·(k1+1) at query
  time it upper-bounds any posting's contribution (the block-max bound).
  The docs' lengths enter only here: they are not stored per posting.
  Each segment keeps them once, in its NORMS ROW — one more row of this
  same layout whose "tf" of a doc is its length (builder.NORMS_LEMMA).

A whole term decodes in ONE varbyte + delta pass over each stream
(:func:`decode_streams`, block starts from the directory's ``n``); a
single block decodes from its byte range (:func:`decode_range`).

Everything is vectorized numpy — no per-int Python loops (the fill loop is
over BYTE POSITIONS within a varint, <= 10 iterations).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

DEFAULT_BLOCK = 128


def varbyte_encode_with_ends(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 array -> (varbyte bytes, cumulative byte end per value).

    Little-endian 7-bit groups, high bit = continuation.  Vectorized: loops
    only over the max byte width (<=10).  The ends array lets batch callers
    slice the encoded stream per value range without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        sel = nbytes > k
        byte = ((v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] - 1 > k).astype(np.uint8) << 7
        out[starts[sel] + k] = byte | cont
    return out, ends


def varbyte_encode(values: np.ndarray) -> np.ndarray:
    """uint64 array -> varbyte bytes (see :func:`varbyte_encode_with_ends`)."""
    return varbyte_encode_with_ends(values)[0]


def varbyte_decode(buf: np.ndarray | bytes, offset: int = 0, count: int | None = None) -> np.ndarray:
    """varbyte bytes -> uint64 array; decode ``count`` values from ``offset``
    (None = all).  Vectorized via segment-id cumsum + np.add.at."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    b = b[offset:]
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if count is not None:
        # cut the buffer after the count-th terminator
        last_pos = np.flatnonzero(is_last)
        if count > last_pos.size:
            raise ValueError("varbyte_decode: not enough values in buffer")
        b = b[: last_pos[count - 1] + 1]
        is_last = is_last[: b.size]
    starts_mask = np.empty(b.size, dtype=bool)
    starts_mask[0] = True
    starts_mask[1:] = is_last[:-1]
    seg = np.cumsum(starts_mask) - 1  # segment id per byte
    n = int(seg[-1]) + 1
    pos = np.arange(b.size, dtype=np.int64)
    seg_starts = np.flatnonzero(starts_mask)
    shift = (pos - seg_starts[seg]).astype(np.uint64) * np.uint64(7)
    vals = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(vals, seg, (b & 0x7F).astype(np.uint64) << shift)
    return vals


class Block(NamedTuple):
    first_doc: int
    last_doc: int
    n: int
    doc_off: int
    tf_off: int
    max_weight: float


class EncodedPostings(NamedTuple):
    docs: bytes
    tfs: bytes
    blocks: list[Block]


def bm25_weight(tfs: np.ndarray, dls: np.ndarray, avgdl: float,
                k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """The idf-free BM25 factor tf/(tf + k1·(1-b+b·dl/avgdl)) (multiply by
    idf·(k1+1) for the full term score)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf / (tf + k1 * ((1.0 - b) + b * dl / avgdl))


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    avgdl: float, k1: float = 1.2, b: float = 0.75,
                    block_size: int = DEFAULT_BLOCK) -> EncodedPostings:
    """Sorted (doc_ids, tfs) -> compressed streams + block directory; the
    docs' lengths ``dls`` only enter the block-max weights."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    assert doc_ids.size and np.all(np.diff(doc_ids) > 0), "docIDs must be strictly increasing"
    tfs = np.asarray(tfs, dtype=np.int64)
    weights = bm25_weight(tfs, np.asarray(dls, dtype=np.int64), avgdl, k1, b)

    doc_parts: list[np.ndarray] = []
    tf_parts: list[np.ndarray] = []
    blocks: list[Block] = []
    doc_off = tf_off = 0
    for s in range(0, doc_ids.size, block_size):
        e = min(s + block_size, doc_ids.size)
        ids = doc_ids[s:e]
        gaps = np.empty(ids.size, dtype=np.uint64)
        gaps[0] = np.uint64(ids[0])
        if ids.size > 1:
            gaps[1:] = (np.diff(ids) - 1).astype(np.uint64)
        dpart = varbyte_encode(gaps)
        tpart = varbyte_encode(tfs[s:e].astype(np.uint64))
        blocks.append(
            Block(int(ids[0]), int(ids[-1]), int(e - s), doc_off, tf_off,
                  float(weights[s:e].max()))
        )
        doc_parts.append(dpart)
        tf_parts.append(tpart)
        doc_off += dpart.size
        tf_off += tpart.size
    return EncodedPostings(
        np.concatenate(doc_parts).tobytes(),
        np.concatenate(tf_parts).tobytes(),
        blocks,
    )


def encode_postings_many(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                         offsets: np.ndarray, avgdl: float,
                         k1: float = 1.2, b: float = 0.75,
                         block_size: int = DEFAULT_BLOCK) -> list[EncodedPostings]:
    """Batch-encode MANY terms' postings in one vectorized pass.

    ``offsets`` has length n_terms+1; term t owns rows
    ``[offsets[t], offsets[t+1])`` and its doc_ids must be strictly
    increasing.  The gap/varbyte/block math runs ONCE over the concatenated
    arrays (no per-term numpy calls); the only per-term Python is slicing the
    two encoded streams.  Output is byte-identical to calling
    :func:`encode_postings` per term (tests/test_codec.py asserts it)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    n = doc_ids.size
    n_terms = offsets.size - 1
    if n == 0:
        return []

    term_lens = np.diff(offsets)
    term_of = np.repeat(np.arange(n_terms, dtype=np.int64), term_lens)
    idx_in_term = np.arange(n, dtype=np.int64) - offsets[term_of]
    block_start = (idx_in_term % block_size) == 0

    # gap stream: absolute docID at block starts, (delta - 1) elsewhere
    docs_b, doc_ends = varbyte_encode_with_ends(
        delta_encode(doc_ids, block_start))
    tfs_b, tf_ends = varbyte_encode_with_ends(tfs.astype(np.uint64))
    doc_starts = doc_ends - np.diff(np.concatenate([[0], doc_ends]))
    tf_starts = tf_ends - np.diff(np.concatenate([[0], tf_ends]))

    weights = bm25_weight(tfs, dls, avgdl, k1, b)
    bs_rows = np.flatnonzero(block_start)  # global block start rows
    block_max = np.maximum.reduceat(weights, bs_rows)
    block_end_row = np.concatenate([bs_rows[1:], [n]]) - 1  # last row per block
    # block index range per term (terms always begin on a block boundary)
    term_first_block = np.searchsorted(bs_rows, offsets[:-1], side="left")
    term_last_block = np.searchsorted(bs_rows, offsets[1:], side="left")

    out: list[EncodedPostings] = []
    for t in range(n_terms):
        s, e = int(offsets[t]), int(offsets[t + 1])
        if s == e:
            out.append(EncodedPostings(b"", b"", []))
            continue
        d0, t0 = int(doc_starts[s]), int(tf_starts[s])
        d1 = int(doc_ends[e - 1])
        t1 = int(tf_ends[e - 1])
        blocks = []
        for bi in range(int(term_first_block[t]), int(term_last_block[t])):
            r0, r1 = int(bs_rows[bi]), int(block_end_row[bi])
            blocks.append(Block(
                int(doc_ids[r0]), int(doc_ids[r1]), r1 - r0 + 1,
                int(doc_starts[r0]) - d0, int(tf_starts[r0]) - t0,
                float(block_max[bi]),
            ))
        out.append(EncodedPostings(
            docs_b[d0:d1].tobytes(), tfs_b[t0:t1].tobytes(), blocks,
        ))
    return out


def delta_encode(vals: np.ndarray, firsts: np.ndarray) -> np.ndarray:
    """Concatenated ascending runs -> varbyte-ready gaps: absolute at each
    run start (``firsts`` boolean mask), (delta - 1) elsewhere."""
    gaps = np.empty(vals.size, dtype=np.int64)
    gaps[firsts] = vals[firsts]
    rest = ~firsts
    gaps[rest] = vals[rest] - vals[np.flatnonzero(rest) - 1] - 1
    assert np.all(gaps >= 0), "runs must be strictly increasing"
    return gaps.astype(np.uint64)


def delta_decode(raw: np.ndarray, firsts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode` via one grouped cumsum."""
    if raw.size == 0:
        return raw.astype(np.int64)
    adj = raw.astype(np.int64) + 1
    adj[firsts] = raw[firsts]
    c = np.cumsum(adj)
    starts = np.flatnonzero(firsts)
    run_id = np.cumsum(firsts) - 1
    prefix = (c[starts] - adj[starts])[run_id]
    return c - prefix


def block_starts(ns: np.ndarray) -> np.ndarray:
    """Boolean mask over a term's postings: True at each block's first
    entry, for blocks of ``ns`` entries (the directory's ``n`` column)."""
    ns = np.asarray(ns, dtype=np.int64)
    firsts = np.zeros(int(ns.sum()), dtype=bool)
    firsts[np.cumsum(ns) - ns] = True
    return firsts


def decode_streams(docs_b, tfs_b, firsts: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """A term's whole (doc_ids, tfs) in ONE varbyte + delta pass;
    ``firsts`` marks the block starts (:func:`block_starts`, or every
    ``block_size``-th entry: blocks are full but the last)."""
    ids = delta_decode(varbyte_decode(docs_b), firsts)
    return ids, varbyte_decode(tfs_b).astype(np.int64)


def decode_ids(docs_b, block_size: int) -> np.ndarray:
    """A term's doc ids from its ``postings`` bytes alone: every block but
    the last holds ``block_size`` entries, so no directory is needed."""
    gaps = varbyte_decode(docs_b)
    return delta_decode(gaps, np.arange(gaps.size) % block_size == 0)


def decode_range(docs_b: np.ndarray, tfs_b: np.ndarray, n: int,
                 doc_span: tuple[int, int], tf_span: tuple[int, int]
                 ) -> tuple[np.ndarray, np.ndarray]:
    """One block of ``n`` entries whose bytes are ``docs_b[doc_span]`` and
    ``tfs_b[tf_span]`` (``(start, end)`` pairs) -> (doc_ids, tfs)."""
    firsts = np.zeros(n, dtype=bool)
    firsts[0] = True
    return decode_streams(docs_b[doc_span[0]:doc_span[1]],
                          tfs_b[tf_span[0]:tf_span[1]], firsts)

