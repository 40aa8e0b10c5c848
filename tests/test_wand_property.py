"""Property-based self-oracle: MaxScore pruning must equal exhaustive
scoring on arbitrary random posting sets (pure numpy, no Spark session)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.codec import encode_postings
from searchengine_spark.index.wand import TermPostings, segment_topk_terms


def _mk_term(rng, n_docs, avgdl):
    n = rng.integers(1, max(2, n_docs // 2))
    ids = np.sort(rng.choice(n_docs, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, n)
    dls = rng.integers(1, 200, n)
    enc = encode_postings(ids, tfs, dls, avgdl, block_size=8)
    return (enc.docs, enc.tfs, enc.dls, [tuple(b) for b in enc.blocks]), int(n)


@given(
    st.integers(min_value=1, max_value=1000),  # rng seed
    st.integers(min_value=1, max_value=5),     # number of terms
    st.sampled_from([1, 3, 10, 50]),           # k
    st.booleans(),                             # conjunctive
)
@settings(max_examples=60, deadline=None)
def test_maxscore_equals_exhaustive_random(seed, n_terms, k, conjunctive):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(5, 300))
    avgdl = 100.0
    encoded = [_mk_term(rng, n_docs, avgdl) for _ in range(n_terms)]

    def run(mode):
        # fresh TermPostings per mode: one mode's decode_all() must not
        # leave the next mode only the decoded fast path
        terms = [TermPostings(*enc, df) for enc, df in encoded]
        return segment_topk_terms(terms, n_docs, avgdl, k,
                                  mode=mode, conjunctive=conjunctive)

    ids_e, sc_e = run("exhaustive")
    ids_m, sc_m = run("maxscore")
    assert ids_e.tolist() == ids_m.tolist()
    assert sc_e.tolist() == sc_m.tolist()  # bit-identical, same math path
    ids_w, sc_w = run("bmw")
    assert ids_e.tolist() == ids_w.tolist()
    assert sc_e.tolist() == sc_w.tolist()  # block-max WAND is exact too
