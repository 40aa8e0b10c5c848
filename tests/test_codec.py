"""Property-based round-trip tests for the posting codec (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.codec import (
    bm25_weight,
    decode_ids,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
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
    arr = np.array(vals, dtype=np.uint64)
    enc = varbyte_encode(arr)
    k = max(1, len(vals) // 2)
    assert varbyte_decode(enc, 0, k).tolist() == arr[:k].tolist()


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=700),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(ids_set, block_size):
    ids = np.array(sorted(ids_set), dtype=np.int64)
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 1000, ids.size)
    dls = rng.integers(1, 5000, ids.size)
    enc = encode_postings(ids, tfs, dls, avgdl=1000.0, block_size=block_size)
    d_ids, d_tfs = TermPostings(*enc, ids.size).decode_all()
    assert d_ids.tolist() == ids.tolist()
    assert d_tfs.tolist() == tfs.tolist()
    # the postings bytes alone give the ids (no directory needed)
    assert decode_ids(enc.docs, block_size).tolist() == ids.tolist()
    # block directory invariants
    total = 0
    tp = TermPostings(*enc, ids.size)
    for i, blk in enumerate(enc.blocks):
        b_ids, b_tfs = tp.block(i)
        assert blk.first_doc == b_ids[0] and blk.last_doc == b_ids[-1]
        assert blk.n == b_ids.size <= block_size
        w = bm25_weight(b_tfs, dls[total:total + blk.n], 1000.0)
        assert np.isclose(blk.max_weight, w.max())
        assert blk.max_weight >= w.max() - 1e-12  # upper bound property
        total += blk.n
    assert total == ids.size


def test_block_random_access_independent():
    ids = np.arange(0, 1000, 3, dtype=np.int64)
    enc = encode_postings(ids, np.ones(ids.size), np.ones(ids.size) * 50,
                          avgdl=50.0, block_size=128)
    # decoding block 2 alone must not need blocks 0-1
    b_ids, _ = TermPostings(*enc, ids.size).block(2)
    assert b_ids.tolist() == ids[256:384].tolist()


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
    """encode_postings_many output is byte-identical to per-term
    encode_postings (the merge stage relies on this for resume identity)."""
    from searchengine_spark.index.codec import encode_postings_many

    rng = np.random.default_rng(123)
    terms = []
    offsets = [0]
    for ids in term_id_sets:
        ids = np.sort(np.array(ids, dtype=np.int64))
        tfs = rng.integers(1, 50, ids.size)
        dls = rng.integers(1, 900, ids.size)
        terms.append((ids, tfs, dls))
        offsets.append(offsets[-1] + ids.size)
    docs = np.concatenate([t[0] for t in terms])
    tfs = np.concatenate([t[1] for t in terms])
    dls = np.concatenate([t[2] for t in terms])
    batch = encode_postings_many(docs, tfs, dls, np.array(offsets), 57.3,
                                 block_size=block_size)
    for t, (ids, tf, dl) in enumerate(terms):
        single = encode_postings(ids, tf, dl, 57.3, block_size=block_size)
        assert batch[t].docs == single.docs
        assert batch[t].tfs == single.tfs
        assert batch[t].blocks == single.blocks
