"""Property-based self-oracle: the serving kernel and MaxScore must equal
the exhaustive reference bit for bit on arbitrary random posting sets —
skewed list lengths, random site masks, cold and pre-decoded postings —
and every term's MaxScore upper bound must equal its max BM25 weight
(pure numpy, no Spark session)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.codec import encode_postings
from searchengine_spark.index.wand import (
    SegmentNorms,
    TermPostings,
    _exhaustive,
    _maxscore,
    segment_topk_terms,
)

AVGDL = 100.0


def _mk_norms(dl):
    """A segment's norms row over doc lengths ``dl`` (doc i has dl[i])."""
    ids = np.arange(dl.size, dtype=np.int64)
    enc = encode_postings(ids, dl, block_size=8)
    return SegmentNorms(enc.docs, enc.tfs, 8)


def _mk_term(rng, dl):
    """One term's postings over docs of lengths ``dl``; the length share
    is log-uniform, so a query mixes rare and common lists (MaxScore's
    pruning case) as often as near-uniform ones."""
    n_docs = dl.size
    share = 10.0 ** rng.uniform(-2.5, 0.0)
    n = int(np.clip(round(share * n_docs), 1, n_docs))
    ids = np.sort(rng.choice(n_docs, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, n)
    return encode_postings(ids, tfs, block_size=8), ids, tfs


def _mk_intervals(rng, n_docs):
    """Sorted disjoint [lo, hi] doc-id intervals (a site's sidecar)."""
    cuts = np.unique(rng.integers(0, n_docs, 2 * int(rng.integers(1, 6))))
    return [(int(lo), int(hi)) for lo, hi in zip(cuts[::2], cuts[1::2])]


@given(
    st.integers(min_value=1, max_value=10_000),  # rng seed
    st.integers(min_value=1, max_value=5),       # number of terms
    st.sampled_from([1, 3, 10, 50]),             # k
    st.booleans(),                               # conjunctive
    st.booleans(),                               # site mask
)
@settings(max_examples=80, deadline=None)
def test_maxscore_equals_exhaustive_random(seed, n_terms, k, conjunctive,
                                           masked):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(5, 2000))
    dl = rng.integers(1, 200, n_docs)
    norms = _mk_norms(dl)
    made = [_mk_term(rng, dl) for _ in range(n_terms)]
    intervals = _mk_intervals(rng, n_docs) if masked else None

    def terms(decoded):
        # fresh TermPostings per call: one kernel's decode_all() must not
        # hand the next one decoded postings unless the case asks for it
        tps = [TermPostings(*enc, ids.size, 8) for enc, ids, _ in made]
        if decoded:
            for t in tps:
                t.decode_all()
        return tps

    def rows(got):
        return got[0].tolist(), got[1].tolist()

    # each term decodes to its postings, and its upper bound is the max
    # idf-free BM25 weight over them, from the oracle's own doc lengths
    for enc, ids, tfs in made:
        tp = TermPostings(*enc, ids.size, 8)
        assert tp.upper_bound(norms, 1.2, 0.75, AVGDL) == max(
            float(tf) / (float(tf) + 1.2 * ((1.0 - 0.75)
                                            + 0.75 * float(dl[d]) / AVGDL))
            for d, tf in zip(ids.tolist(), tfs.tolist()))
        full = tp.decode_all()
        assert np.array_equal(full[0], ids) and np.array_equal(full[1], tfs)

    if conjunctive:
        # reference: the exhaustive full ranking, kept to docs holding
        # every term
        ids, sc = _exhaustive(terms(False), norms, n_docs, AVGDL, n_docs,
                              1.2, 0.75, intervals)
        both = made[0][1]
        for _, t_ids, _ in made[1:]:
            both = np.intersect1d(both, t_ids)
        keep = np.isin(ids, both)
        want = (ids[keep][:k].tolist(), sc[keep][:k].tolist())
    else:
        want = rows(_exhaustive(terms(False), norms, n_docs, AVGDL, k, 1.2,
                                0.75, intervals))
        for decoded in (False, True):
            assert rows(_maxscore(terms(decoded), norms, n_docs, AVGDL, k,
                                  1.2, 0.75, intervals)) == want, decoded
    for decoded in (False, True):
        got = segment_topk_terms(terms(decoded), norms, n_docs, AVGDL, k,
                                 conjunctive=conjunctive, intervals=intervals)
        assert rows(got) == want, decoded


def test_kernel_choice(monkeypatch):
    """MaxScore runs only over decoded, skewed lists (the shortest under
    half the longest); cold, near-uniform and single lists score
    exhaustively."""
    import searchengine_spark.index.wand as wand

    ran = []
    for name in ("_exhaustive", "_maxscore"):
        kernel = getattr(wand, name)
        monkeypatch.setattr(wand, name, lambda *a, _n=name, _k=kernel:
                            ran.append(_n) or _k(*a))
    rng = np.random.default_rng(7)

    def run(lengths, decoded):
        tps = []
        for n in lengths:
            ids = np.sort(rng.choice(400, n, replace=False))
            enc = encode_postings(ids, np.ones(n, np.int64), block_size=8)
            tps.append(TermPostings(enc.docs, enc.tfs, n, 8))
            if decoded:
                tps[-1].decode_all()
        ran.clear()
        wand.segment_topk_terms(tps, _mk_norms(np.full(400, 100)), 400,
                                AVGDL, 5)
        return ran

    assert run((10, 21), decoded=True) == ["_maxscore"]
    assert run((10, 21), decoded=False) == ["_exhaustive"]
    assert run((10, 20), decoded=True) == ["_exhaustive"]
    assert run((21,), decoded=True) == ["_exhaustive"]
