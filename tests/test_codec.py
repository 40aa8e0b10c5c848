"""Property-based round-trip tests for the posting codec (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.codec import (
    decode_ids,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
    varbyte_encode_with_ends,
)
from searchengine_spark.index.wand import TermPostings


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    enc = varbyte_encode(arr)
    dec = varbyte_decode(enc)
    assert dec.tolist() == arr.tolist()


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=3, max_size=100))
@settings(max_examples=100, deadline=None)
def test_varbyte_partial_decode(vals):
    """A stream cut at any value's byte end decodes to exactly the values
    before the cut (varbyte is self-delimiting)."""
    arr = np.array(vals, dtype=np.uint64)
    enc, ends = varbyte_encode_with_ends(arr)
    k = max(1, len(vals) // 2)
    assert varbyte_decode(enc[:ends[k - 1]]).tolist() == arr[:k].tolist()


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=700),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(ids_set, block_size):
    ids = np.array(sorted(ids_set), dtype=np.int64)
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 1000, ids.size)
    enc = encode_postings(ids, tfs, block_size=block_size)
    d_ids, d_tfs = TermPostings(*enc, ids.size, block_size).decode_all()
    assert d_ids.tolist() == ids.tolist()
    assert d_tfs.tolist() == tfs.tolist()
    # the postings bytes alone give the ids (no directory needed)
    assert decode_ids(enc.docs, block_size).tolist() == ids.tolist()


def test_block_random_access_independent():
    ids = np.arange(0, 1000, 3, dtype=np.int64)
    enc = encode_postings(ids, np.ones(ids.size, dtype=np.int64), block_size=128)
    # each block restarts with an absolute id: block 2's bytes, cut out at
    # the varint boundary after entry 255, decode without blocks 0-1
    raw = np.frombuffer(enc.docs, dtype=np.uint8)
    ends = np.flatnonzero((raw & 0x80) == 0) + 1
    b_ids = decode_ids(raw[ends[255]:], block_size=128)
    assert b_ids.tolist() == ids[256:384].tolist()


def _reference_encode(ids, tfs, block_size):
    """The layout spelled out block by block: the first id of every
    ``block_size`` entries absolute, (delta - 1) gaps after it."""
    docs, out_tfs = b"", b""
    for s in range(0, ids.size, block_size):
        blk = ids[s:s + block_size]
        gaps = np.concatenate([blk[:1], np.diff(blk) - 1]).astype(np.uint64)
        docs += varbyte_encode(gaps).tobytes()
        out_tfs += varbyte_encode(tfs[s:s + block_size].astype(np.uint64)).tobytes()
    return docs, out_tfs


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10**7), min_size=1,
                 max_size=300, unique=True),
        min_size=1, max_size=20,
    ),
    st.sampled_from([4, 16, 128]),
)
@settings(max_examples=50, deadline=None)
def test_batch_encoder_byte_identical(term_id_sets, block_size):
    """encode_postings_many output is byte-identical to a block-by-block
    reference encoding of each term (the merge stage relies on this for
    resume identity)."""
    from searchengine_spark.index.codec import encode_postings_many

    rng = np.random.default_rng(123)
    terms = []
    offsets = [0]
    for ids in term_id_sets:
        ids = np.sort(np.array(ids, dtype=np.int64))
        tfs = rng.integers(1, 50, ids.size)
        terms.append((ids, tfs))
        offsets.append(offsets[-1] + ids.size)
    docs = np.concatenate([t[0] for t in terms])
    tfs = np.concatenate([t[1] for t in terms])
    batch = encode_postings_many(docs, tfs, np.array(offsets),
                                 block_size=block_size)
    for t, (ids, tf) in enumerate(terms):
        assert tuple(batch[t]) == _reference_encode(ids, tf, block_size)
        assert encode_postings(ids, tf, block_size) == batch[t]
