"""docID-delta + varbyte posting-list codec.

SURVEY.md §4 item 1: per-term sorted docID lists are stored as
delta-then-varbyte bytes (Lester et al.; the classic VByte of the IR
literature).  Layout (per term, two streams):

- ``postings``: every ``block_size``-th docID (the first included) is
  stored absolute and the rest as ``delta - 1`` gaps (strictly increasing
  ids -> gaps >= 1, so the -1 buys a byte on dense runs).  The restarts
  sit at fixed entry counts, so :func:`decode_ids` finds them without a
  directory;
- ``tfs``: plain varbyte, one value per posting.

A term decodes whole, in ONE varbyte + delta pass over each stream: the
serving kernels (index/wand.py) never decode part of a list.  The docs'
lengths are not stored per posting: each segment keeps them once, in its
NORMS ROW, one more row of this same layout whose "tf" of a doc is its
length (builder.NORMS_LEMMA).

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


def varbyte_decode(buf: np.ndarray | bytes) -> np.ndarray:
    """varbyte bytes -> uint64 array.  Vectorized via segment-id cumsum +
    np.bitwise_or.at."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
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


class EncodedPostings(NamedTuple):
    docs: bytes
    tfs: bytes


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray,
                    block_size: int = DEFAULT_BLOCK) -> EncodedPostings:
    """One term's sorted (doc_ids, tfs) -> its two compressed streams."""
    return encode_postings_many(doc_ids, tfs, [0, len(doc_ids)],
                                block_size)[0]


def encode_postings_many(doc_ids: np.ndarray, tfs: np.ndarray,
                         offsets: np.ndarray,
                         block_size: int = DEFAULT_BLOCK) -> list[EncodedPostings]:
    """Batch-encode MANY terms' postings in one vectorized pass.

    ``offsets`` has length n_terms+1; term t owns rows
    ``[offsets[t], offsets[t+1])`` and its doc_ids must be strictly
    increasing.  The gap/varbyte math runs ONCE over the concatenated
    arrays (no per-term numpy calls); the only per-term Python is slicing
    the two encoded streams."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        return []

    term_of = np.repeat(np.arange(offsets.size - 1, dtype=np.int64),
                        np.diff(offsets))
    idx_in_term = np.arange(n, dtype=np.int64) - offsets[term_of]
    # gap stream: absolute docID every block_size entries of a term,
    # (delta - 1) elsewhere
    docs_b, doc_ends = varbyte_encode_with_ends(
        delta_encode(doc_ids, idx_in_term % block_size == 0))
    tfs_b, tf_ends = varbyte_encode_with_ends(tfs.astype(np.uint64))
    doc_at = np.append(0, doc_ends)[offsets]
    tf_at = np.append(0, tf_ends)[offsets]
    return [EncodedPostings(docs_b[d0:d1].tobytes(), tfs_b[t0:t1].tobytes())
            for d0, d1, t0, t1 in zip(doc_at[:-1], doc_at[1:],
                                      tf_at[:-1], tf_at[1:])]


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


def decode_ids(docs_b, block_size: int) -> np.ndarray:
    """A term's doc ids from its ``postings`` bytes alone: every block but
    the last holds ``block_size`` entries, so no directory is needed."""
    gaps = varbyte_decode(docs_b)
    return delta_decode(gaps, np.arange(gaps.size) % block_size == 0)
