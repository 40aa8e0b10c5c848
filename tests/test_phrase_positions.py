"""Positional phrase search (index/positions.py): row-identity with the
store-verify path, brute-force oracle, codec round-trip, bucket-pruned
reads, and incremental-rebuild freshness (r3 VERDICT item 2)."""

from __future__ import annotations

import numpy as np
import pytest

from searchengine_spark.analyzer import analyze_positions
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index, read_index
from searchengine_spark.index.phrase import count_phrase, phrase_topk
from searchengine_spark.index.positions import (
    build_positions,
    decode_term_positions,
    has_positions,
    phrase_topk_positions,
    read_positions,
)
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store

PHRASES = [
    "kw_pair_alpha kw_pair_beta",   # planted adjacent vs far-apart markers
    "tamok velsor",                 # organic adjacency of common terms
    "kw_pair_beta kw_pair_alpha",   # reversed order = different phrase
    "veltadrolix",                  # single-position pattern (== term tf)
    "multi норма",                  # multi-lemma token at one position
    "нормаль tamok",                # alternate form must match the SAME slot
    "zz_nope_zz tamok",             # absent form: empty
    "the and",                      # analyzer drops everything: empty
]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("phrase_pos")
    rows = gen_corpus_local(200)
    store = str(root / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(root / "idx")
    docs = read_store(spark, store)
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=8, resume=False)
    build_positions(docs, idx)
    return store, idx


def test_codec_roundtrip_randomized():
    rng = np.random.default_rng(7)
    from searchengine_spark.index.positions import _delta_decode, _delta_encode

    for _ in range(25):
        n_docs = int(rng.integers(1, 40))
        counts = rng.integers(1, 9, size=n_docs)
        flat = np.concatenate([
            np.sort(rng.choice(5000, size=int(c), replace=False))
            for c in counts
        ]).astype(np.int64)
        firsts = np.zeros(flat.size, dtype=bool)
        firsts[np.cumsum(counts) - counts] = True
        enc = _delta_encode(flat, firsts)
        assert np.array_equal(_delta_decode(enc, firsts), flat)


def test_decode_term_positions_block_restarts():
    """Docs decode from the codec's ``postings`` stream alone, which
    restarts absolute at every block: randomized lists over several blocks
    round-trip through encode_postings + the pstream delta codec."""
    from searchengine_spark.index.codec import encode_postings, varbyte_encode
    from searchengine_spark.index.positions import _delta_encode

    rng = np.random.default_rng(11)
    for block_size in (1, 3, 4, 128):
        n = int(rng.integers(1, 30))
        docs = np.sort(rng.choice(10_000, size=n, replace=False))
        counts = rng.integers(1, 6, size=n)
        flat = np.concatenate([np.sort(rng.choice(300, size=int(c),
                                                  replace=False))
                               for c in counts]).astype(np.int64)
        firsts = np.zeros(flat.size, dtype=bool)
        firsts[np.cumsum(counts) - counts] = True
        enc = encode_postings(docs, counts, counts, 5.0,
                              block_size=block_size)
        pstream = varbyte_encode(_delta_encode(flat, firsts)).tobytes()
        d, c, f = decode_term_positions(enc.docs, enc.tfs, pstream,
                                        block_size)
        assert np.array_equal(d, docs)
        assert np.array_equal(c, counts)
        assert np.array_equal(f, flat)


def test_positions_df_matches_dictionary(spark, env):
    """The doc count decoded from each positional row must equal the
    index's df — both count the docs that carry the lemma in that
    segment — and every posting row has its positions."""
    _, idx = env
    import json

    with open(f"{idx}/meta.json") as fh:
        block_size = json.load(fh)["block_size"]
    main = {(r["segment"], r["lemma"]): r["df"]
            for r in read_index(spark, idx).select(
                "segment", "lemma", "df").collect()}
    side = {(r["segment"], r["lemma"]): decode_term_positions(
                r["postings"], r["tfs"], r["pstream"], block_size)[0].size
            for r in read_positions(spark, idx).collect()}
    assert side == main


def test_decoded_positions_match_analyzer(spark, env):
    """Decode a common term's positions in one segment and compare with the
    pinned analyzer's positional stream on the raw docs."""
    store, idx = env
    import json

    with open(f"{idx}/meta.json") as fh:
        block_size = json.load(fh)["block_size"]
    rows = read_positions(spark, idx, ["tamok"]).collect()
    assert rows
    docs_by_id = {r["doc_id"]: r["content"] for r in
                  read_store(spark, store).select(
                      "doc_id", "content").collect()}
    for r in rows:
        docs, counts, flat = decode_term_positions(
            r["postings"], r["tfs"], r["pstream"], block_size)
        offs = np.cumsum(counts) - counts
        for i, d in enumerate(docs):
            want = [j for j, fs in
                    enumerate(analyze_positions(docs_by_id[int(d)]))
                    if "tamok" in fs]
            got = flat[offs[i]:offs[i] + counts[i]].tolist()
            assert got == want, (r["segment"], int(d))


@pytest.mark.parametrize("phrase", PHRASES)
def test_positions_row_identical_to_store_verify(spark, env, phrase):
    store, idx = env
    pos = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk(spark, idx, store, phrase, k=100,
                       impl="positions").collect()]
    sv = [(r["doc_id"], r["phrase_tf"]) for r in
          phrase_topk(spark, idx, store, phrase, k=100,
                      impl="store").collect()]
    assert pos == sv, phrase


def _phrase_reference(spark, store, phrase, k, site=None):
    """Brute-force top-k (doc_id, phrase_tf) over the store's docs
    (``site`` keeps one repo's): analyze_positions + count_phrase, no
    index involved."""
    qforms = [frozenset(p) for p in analyze_positions(phrase)]
    want = []
    for r in read_store(spark, store).select("doc_id", "repo",
                                             "content").collect():
        if site is not None and r["repo"] != site:
            continue
        tf = count_phrase(analyze_positions(r["content"]), qforms)
        if tf > 0:
            want.append((r["doc_id"], tf))
    want.sort(key=lambda t: (-t[1], t[0]))
    return want[:k]


def test_positions_match_brute_force_oracle(spark, env):
    store, idx = env
    phrase = "kw_pair_alpha kw_pair_beta"
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk_positions(spark, idx, phrase, k=100).collect()]
    assert got == _phrase_reference(spark, store, phrase, 100)


def test_auto_dispatch_and_store_free_serving(spark, env):
    """With positions on every segment, impl='auto' serves positionally —
    store_dir may be None; without the flag it falls back to
    store-verify."""
    store, idx = env
    assert has_positions(idx)
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk(spark, idx, None, "tamok velsor", k=10).collect()]
    want = [(r["doc_id"], r["phrase_tf"]) for r in
            phrase_topk(spark, idx, store, "tamok velsor", k=10,
                        impl="store").collect()]
    assert got == want
    with pytest.raises(ValueError):
        phrase_topk(spark, idx, None, "tamok velsor", impl="store")


def test_positions_read_is_bucket_pruned(spark, env):
    """The positional read must touch only the query forms' bucket= dirs."""
    from searchengine_spark.index.builder import hash_bucket

    _, idx = env
    import json

    with open(f"{idx}/meta.json") as fh:
        n_buckets = json.load(fh)["n_buckets"]
    from pyspark.sql import functions as F

    df = read_positions(spark, idx, ["tamok"])
    b = hash_bucket("tamok", n_buckets)
    files = [r[0] for r in
             df.select(F.input_file_name()).distinct().collect()]
    assert files and all(f"/bucket={b}/" in f for f in files)


def test_rebuild_refreshes_positions_and_stays_exact(spark, env, tmp_path):
    """An incremental rebuild of a positional index must refresh the
    rebuilt segments' positions (rebuild_segments keeps positions on) and
    the positional path must see the new content — never stale
    positions."""
    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = gen_corpus_local(120)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    docs = read_store(spark, store)
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=4, resume=False)
    build_positions(docs, idx)
    assert has_positions(idx)

    # plant a brand-new adjacent pair into doc 5's content via the store
    target = docs.filter("doc_id = 5").collect()[0]
    rows2 = [
        (r[0], r[1], r[2], r[3],
         r[4] + " zzfresh_alpha zzfresh_beta"
         if (r[0], r[1]) == (target["repo"], target["path"]) else r[4])
        for r in rows
    ]
    from searchengine_spark.corpus import ingest

    docs2 = ingest(spark.createDataFrame(rows2, DOCS_SCHEMA))
    rebuild_segments(docs2, idx, [5 // __import__("json").load(
        open(f"{idx}/meta.json")).get("seg_size", 1)])
    assert has_positions(idx)  # refreshed, not left disabled
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk(spark, idx, None, "zzfresh_alpha zzfresh_beta",
                       k=10).collect()]
    assert got == [(5, 1)]


def test_phrase_batch_matches_single_path(spark, env):
    """phrase_topk_batch must return, per qid, exactly the single-phrase
    positional path's rows — including the empty cases — while scanning the
    positional columns once for the whole workload.  Both run one serving
    core, so every qid is also checked against the brute-force oracle."""
    from searchengine_spark.index.positions import phrase_topk_batch

    store, idx = env
    workload = {f"q{i}": ph for i, ph in enumerate(PHRASES)}
    got: dict[str, list] = {}
    for r in phrase_topk_batch(spark, idx, workload, k=10).collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["phrase_tf"]))
    for qid, ph in workload.items():
        want = [(r["doc_id"], r["phrase_tf"]) for r in
                phrase_topk_positions(spark, idx, ph, k=10).collect()]
        assert got.get(qid, []) == want, (qid, ph)
        assert want == _phrase_reference(spark, store, ph, 10), (qid, ph)


def test_compact_job_refreshes_positions(spark, tmp_path):
    """jobs/compact.py re-ranks every doc_id; an index that served phrases
    before compaction must keep doing so after — every row's positions
    rebuilt, and results match a brute-force re-oracle over the compacted
    store."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from compact import run_compact

    from searchengine_spark.streaming.store import delete_keys

    rows = gen_corpus_local(120)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    docs = read_store(spark, store)
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=4, resume=False)
    build_positions(docs, idx)

    # delete a few keys -> holes -> compact re-ranks densely
    victims = [(r[0], r[1]) for r in rows[10:20]]
    delete_keys(spark.createDataFrame(victims, "repo string, path string"),
                store)
    run_compact(spark, store, idx)
    assert has_positions(idx)

    phrase = "kw_pair_alpha kw_pair_beta"
    qforms = [frozenset(p) for p in analyze_positions(phrase)]
    want = []
    for r in read_store(spark, store).select("doc_id", "content").collect():
        tf = count_phrase(analyze_positions(r["content"]), qforms)
        if tf > 0:
            want.append((r["doc_id"], tf))
    want.sort(key=lambda t: (-t[1], t[0]))
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           phrase_topk(spark, idx, None, phrase, k=100).collect()]
    assert got == want and got


def test_phrase_site_scope_both_paths(spark, env):
    """site= scopes phrase search to one repo's doc_id intervals on BOTH
    serving paths, matching a brute-force oracle restricted to that repo;
    an unknown site yields no rows."""
    store, idx = env
    phrase, site = "tamok velsor", "org0/proj0"
    qforms = [frozenset(p) for p in analyze_positions(phrase)]
    want = []
    for r in (read_store(spark, store)
              .select("repo", "doc_id", "content").collect()):
        if r["repo"] != site:
            continue
        tf = count_phrase(analyze_positions(r["content"]), qforms)
        if tf > 0:
            want.append((r["doc_id"], tf))
    want.sort(key=lambda t: (-t[1], t[0]))
    got_pos = [(r["doc_id"], r["phrase_tf"]) for r in
               phrase_topk(spark, idx, None, phrase, k=100,
                           site=site).collect()]
    got_store = [(r["doc_id"], r["phrase_tf"]) for r in
                 phrase_topk(spark, idx, store, phrase, k=100,
                             impl="store", site=site).collect()]
    assert got_pos == want
    assert got_store == want
    assert phrase_topk(spark, idx, None, phrase, site="org9/nope").count() == 0
    assert phrase_topk(spark, idx, store, phrase, impl="store",
                       site="org9/nope").count() == 0


def test_rebuild_never_reenables_incomplete_sidecar(spark, tmp_path):
    """Review fix: with the meta flag CLEARED, a previous rebuild left
    segments without positions (a gap) — rebuild_segments must NOT
    re-enable positions from this call's segments alone, and the
    positional API must refuse to serve them."""
    import json as _json

    from searchengine_spark.corpus import ingest
    from searchengine_spark.index.positions import phrase_topk_batch
    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = gen_corpus_local(120)
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=4, resume=False)
    build_positions(docs, idx)
    # the disabled-with-gaps state: one segment rebuilt without positions
    # (as a flagless build_index rebuild leaves it) clears the flag
    rebuild_segments(docs, idx, [1], positions=False)
    with open(f"{idx}/meta.json") as fh:
        assert _json.load(fh)["has_positions"] is False
    assert not has_positions(idx)

    rebuild_segments(docs, idx, [0])
    assert not has_positions(idx)  # must stay disabled (gap at segment 1)
    with pytest.raises(ValueError):
        phrase_topk_positions(spark, idx, "tamok velsor")
    with pytest.raises(ValueError):
        phrase_topk_batch(spark, idx, {"q": "tamok velsor"})
    # full refresh is the recovery path
    build_positions(docs, idx)
    assert has_positions(idx)


def test_phrase_batch_sites_match_single_path(spark, env):
    """phrase_topk_batch with per-qid sites: row-identical to the
    site-scoped single path (scoped / unscoped mixed, unknown site ->
    empty), and with EVERY qid scoped the scan prunes to the union of
    live segments; every qid also matches the brute-force oracle."""
    from searchengine_spark.index.positions import phrase_topk_batch

    store, idx = env
    docs = read_store(spark, store)
    repos = sorted(r["repo"] for r in
                   docs.select("repo").distinct().collect())
    r0, r1 = repos[0], repos[-1]
    workload = {"a": "sorvel tamok", "b": "tamok veltadrolix",
                "c": "sorvel tamok", "d": "veltadrolix"}
    sites = {"a": r0, "b": r1, "d": "org9/nope"}  # c unscoped, d unknown
    got: dict[str, list] = {}
    for r in phrase_topk_batch(spark, idx, workload, k=10,
                               sites=sites).collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["phrase_tf"]))
    for qid, ph in workload.items():
        want = [(r["doc_id"], r["phrase_tf"]) for r in
                phrase_topk_positions(spark, idx, ph, k=10,
                                      site=sites.get(qid)).collect()]
        assert got.get(qid, []) == want, (qid, ph, sites.get(qid))
        assert want == _phrase_reference(spark, store, ph, 10,
                                         sites.get(qid)), (qid, ph)
    assert "d" not in got  # unknown site drops its qid entirely
