"""Positional phrase search (index/positions.py): row-identity with the
pure-Python oracle (analyze_positions + count_phrase over every doc),
codec round-trip, bucket-pruned reads, and incremental-rebuild freshness
(r3 VERDICT item 2)."""

from __future__ import annotations

import numpy as np
import pytest

from searchengine_spark.analyzer import analyze_positions
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index, read_index
from searchengine_spark.index.positions import (
    decode_term_positions,
    phrase_topk_positions,
    read_positions,
)
from searchengine_spark.index.wand import QueryEngine
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store
from tests.oracle import store_phrase_topk

PHRASES = [
    "kw_pair_alpha kw_pair_beta",   # planted adjacent vs far-apart markers
    "tamok velsor",                 # common terms, never adjacent: empty
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
    build_index(read_store(spark, store), idx, n_segments=3, salt=4,
                n_buckets=8, resume=False)
    return store, idx


def test_codec_roundtrip_randomized():
    rng = np.random.default_rng(7)
    from searchengine_spark.index.codec import delta_decode, delta_encode

    for _ in range(25):
        n_docs = int(rng.integers(1, 40))
        counts = rng.integers(1, 9, size=n_docs)
        flat = np.concatenate([
            np.sort(rng.choice(5000, size=int(c), replace=False))
            for c in counts
        ]).astype(np.int64)
        firsts = np.zeros(flat.size, dtype=bool)
        firsts[np.cumsum(counts) - counts] = True
        enc = delta_encode(flat, firsts)
        assert np.array_equal(delta_decode(enc, firsts), flat)


def test_decode_term_positions_block_restarts():
    """Docs decode from the codec's ``postings`` stream alone, which
    restarts absolute at every block: randomized lists over several blocks
    round-trip through encode_postings + the pstream delta codec."""
    from searchengine_spark.index.codec import encode_postings, varbyte_encode
    from searchengine_spark.index.codec import delta_encode

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
        pstream = varbyte_encode(delta_encode(flat, firsts)).tobytes()
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


def _rows(spark, idx, phrase, k, site=None):
    return [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk_positions(
        spark, idx, phrase, k=k, site=site).collect()]


@pytest.mark.parametrize("phrase", PHRASES)
def test_positions_row_identical_to_store_verify(spark, env, phrase):
    """Every PHRASES case is row-identical to re-analyzing every stored
    doc (what the deleted store-verify path did for its candidates)."""
    store, idx = env
    assert _rows(spark, idx, phrase, 100) == store_phrase_topk(
        spark, store, phrase, 100), phrase


def test_positions_match_brute_force_oracle(spark, env):
    store, idx = env
    phrase = "kw_pair_alpha kw_pair_beta"
    got = _rows(spark, idx, phrase, 100)
    assert got and got == store_phrase_topk(spark, store, phrase, 100)


def test_auto_dispatch_and_store_free_serving(spark, env):
    """Phrases serve from the index alone — no store is read — on the
    library path and the engine path, both equal to the oracle."""
    store, idx = env
    want = store_phrase_topk(spark, store, "sorvel tamok", 10)
    assert want
    assert _rows(spark, idx, "sorvel tamok", 10) == want
    assert QueryEngine(spark, idx).phrase_rows("sorvel tamok", 10) == want


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
    assert _rows(spark, idx, "zzfresh_alpha zzfresh_beta", 10) == [(5, 1)]


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
        assert want == store_phrase_topk(spark, store, ph, 10), (qid, ph)


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
    build_index(read_store(spark, store), idx, n_segments=3, salt=4,
                n_buckets=4, resume=False)

    # delete a few keys -> holes -> compact re-ranks densely
    victims = [(r[0], r[1]) for r in rows[10:20]]
    delete_keys(spark.createDataFrame(victims, "repo string, path string"),
                store)
    run_compact(spark, store, idx)

    phrase = "kw_pair_alpha kw_pair_beta"
    got = _rows(spark, idx, phrase, 100)
    assert got == store_phrase_topk(spark, store, phrase, 100) and got


def test_phrase_site_scope_both_paths(spark, env):
    """site= scopes phrase search to one repo's doc_id intervals on BOTH
    serving paths (library and engine), matching the oracle restricted to
    that repo; an unknown site yields no rows on either."""
    store, idx = env
    phrase, site = "sorvel tamok", "org1/proj1"
    want = store_phrase_topk(spark, store, phrase, 100, site)
    assert want and len(want) < len(store_phrase_topk(spark, store, phrase,
                                                      100))
    eng = QueryEngine(spark, idx)
    assert _rows(spark, idx, phrase, 100, site) == want
    assert eng.phrase_rows(phrase, 100, site=site) == want
    assert _rows(spark, idx, phrase, 100, "org9/nope") == []
    assert eng.phrase_rows(phrase, 100, site="org9/nope") == []


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
        assert want == store_phrase_topk(spark, store, ph, 10,
                                         sites.get(qid)), (qid, ph)
    assert "d" not in got  # unknown site drops its qid entirely
