"""Fused single-scan positional build (builder.build_index(positions=True)):

The two-pass route (build_index, then build_positions rebuilding every
segment with positions) tokenizes and normalizes every document TWICE — at
100 TB the second full analysis pass is the largest avoidable cost in a
positional build.  The fused route analyzes once
(analyzer.doc_term_runs_arrow(positions=True), a kernel emitting sorted
(segment, lemma) runs carrying both the (tf, dl) stats and the occurrence
positions), merges once (builder.encode_index_runs writes postings and
``pstream`` on the same rows) and must be BYTE-IDENTICAL in every
artifact: postings, positions, sites, manifests, meta.  These tests pin
that contract, the runs' value-parity with the flat analyzer contracts
under every normalizer, the run invariants, the merge plan, and the
resume/flag edge cases."""

from __future__ import annotations

import json
import os

import pytest

from searchengine_spark.analyzer import (
    analyze_positions,
    doc_term_runs_arrow,
    doc_term_stats_arrow,
)
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import (
    INDEX_OUT_SCHEMA,
    build_index,
    encode_index_runs,
    hash_bucket,
    read_index,
)
from searchengine_spark.index.checkpoint import all_manifests
from searchengine_spark.index.phrase import phrase_topk
from searchengine_spark.index.positions import (
    build_positions,
    phrase_topk_positions,
    read_positions,
)
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store

# camelCase splits, punctuation strips, stopwords, short tokens, digits,
# pinned multi-lemma keys (норма, geese), porter suspects, empties
TEXTS = [
    "getUserNameFromDB returns the userName quickly",
    "норма check: geese fly; the goose remains",
    "x = foo_bar(1, 2); // leaves rational disagreement",
    "   ",
    "",
    "ALLCAPS lower MixedCaseToken del2digits 42 a bb ccc",
    "running runner ran leaves leaving geese норма geese",
    "tamok velsor veltadrolix tamok",
    "punct!!!---###strip    tabs\tand\nnewlines here",
    "повторить повторить повторить норма",
]

NORMALIZERS = [
    ("pinned", None),
    ("dict", {"geese": ("goose", "geese"), "leaves": ("leave", "leaf")}),
    ("porter", None),
    ("stem", None),
    ("dict_porter", {"geese": ("goose", "geese"),
                     "leaves": ("leave", "leaf")}),
]


def _texts_df(spark):
    rows = [("r%d" % (i % 3), i, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "repo string, doc_id long, content string")


def _explode(runs):
    """Runs -> (flat stat rows, flat occurrence rows), asserting on the way
    that every run is strictly ascending in doc (in (doc, pos) for its
    occurrences) and aligned: len(docs) == len(tfs) == len(dls), len(pos)
    == Σ tfs."""
    stats, occ = [], []
    for r in runs:
        docs, tfs, dls = r["docs"], r["tfs"], r["dls"]
        assert len(docs) == len(tfs) == len(dls) >= 1
        assert all(a < b for a, b in zip(docs, docs[1:]))
        stats += [(d, r["lemma"], tf, dl) for d, tf, dl in zip(docs, tfs, dls)]
        if "pos" in r:
            pos = r["pos"]
            assert len(pos) == sum(tfs)
            pairs = list(zip([d for d, n in zip(docs, tfs)
                              for _ in range(n)], pos))
            assert all(a < b for a, b in zip(pairs, pairs[1:]))
            occ += [(d, r["lemma"], p) for d, p in pairs]
    return sorted(stats), sorted(occ)


@pytest.mark.parametrize("norm,forms", NORMALIZERS,
                         ids=[n for n, _ in NORMALIZERS])
def test_fused_kernel_parity(spark, norm, forms):
    """Exploded, the fused kernel's runs must be exactly the flat rows they
    summarize: stat rows == doc_term_stats_arrow, occurrence rows == the
    pure-Python analyze_positions oracle — per normalizer family."""
    docs = _texts_df(spark)
    runs = [r.asDict() for r in doc_term_runs_arrow(
        docs, 1000, 8, normalizer=norm, forms=forms,
        positions=True).collect()]
    stats, occ = _explode(runs)

    want_stats = sorted(
        (r["doc_id"], r["lemma"], r["tf"], r["dl"])
        for r in doc_term_stats_arrow(docs, normalizer=norm,
                                      forms=forms).collect())
    want_occ = sorted(
        (i, f, p) for i, t in enumerate(TEXTS)
        for p, fs in enumerate(analyze_positions(t, norm, forms))
        for f in fs)
    assert stats == want_stats
    assert occ == want_occ
    # internal consistency: tf per (doc, lemma) == its occurrence count,
    # dl per doc == Σ tf (the invariant that makes the fusion sound)
    from collections import Counter

    occ_tf = Counter((d, lm) for d, lm, _ in occ)
    assert {(d, lm): tf for d, lm, tf, _ in stats} == dict(occ_tf)
    dl = Counter(d for d, _, _ in occ)
    assert all(dl[d] == x for d, _, _, x in stats)


@pytest.mark.parametrize("norm,forms", NORMALIZERS,
                         ids=[n for n, _ in NORMALIZERS])
def test_run_former_invariants(spark, norm, forms):
    """One batch spanning several segments: runs split at every segment
    boundary, one run per (segment, lemma), bucket == hash_bucket(lemma);
    the stat-only kernel yields exactly the fused kernel's stat runs."""
    seg_size, n_buckets = 3, 4
    docs = _texts_df(spark).coalesce(1)  # ONE partition, ONE Arrow batch
    fused = [r.asDict() for r in doc_term_runs_arrow(
        docs, seg_size, n_buckets, normalizer=norm, forms=forms,
        positions=True).collect()]
    keys = [(r["segment"], r["lemma"]) for r in fused]
    assert len(keys) == len(set(keys))  # one run per (segment, lemma)
    for r in fused:
        assert r["bucket"] == hash_bucket(r["lemma"], n_buckets)
        assert {d // seg_size for d in r["docs"]} == {r["segment"]}
    segs_of = {}
    for s, lm in keys:
        segs_of.setdefault(lm, set()).add(s)
    assert max(len(v) for v in segs_of.values()) >= 2  # a split happened

    stat_cols = ("segment", "bucket", "lemma", "docs", "tfs", "dls")

    def _stat_runs(rows):
        return sorted(tuple(tuple(r[c]) if isinstance(r[c], list) else r[c]
                            for c in stat_cols) for r in rows)

    plain = doc_term_runs_arrow(docs, seg_size, n_buckets, normalizer=norm,
                                forms=forms).collect()
    assert "pos" not in plain[0].asDict()
    assert _stat_runs(r.asDict() for r in plain) == _stat_runs(fused)


def test_merge_plans_one_exchange_no_collect_list(spark):
    """The build's one encoder — postings alone, or postings and positions
    together — is ONE exchange of pre-sorted runs into its (segment,
    bucket) group: no salted hash-aggregate, no collect_list, no second
    shuffle."""
    runs = doc_term_runs_arrow(_texts_df(spark), 4, 8,
                               positions=True).localCheckpoint()
    for df in (encode_index_runs(runs, 3.0, 128, positions=True),
               encode_index_runs(runs, 3.0, 128)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "ObjectHashAggregate" not in plan
        assert "HashAggregate" not in plan
        assert "collect_list" not in plan


def _artifact_snapshot(spark, idx):
    data = sorted(
        (r["segment"], r["lemma"], r["df"], bytes(r["postings"]),
         bytes(r["tfs"]), bytes(r["dls"]), tuple(map(tuple, r["blocks"])),
         r["bucket"])
        for r in read_index(spark, idx).collect())
    pos = sorted(
        (r["segment"], r["lemma"], bytes(r["postings"]), bytes(r["tfs"]),
         bytes(r["pstream"]))
        for r in read_positions(spark, idx).collect())
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    return data, pos, meta


@pytest.mark.parametrize("norm,forms", [
    ("pinned", None),
    ("dict_porter", {"tamok": ("tamok", "tamokal"),
                     "velsor": ("velsorium",)}),
], ids=["pinned", "dict_porter"])
def test_fused_build_byte_identical(spark, tmp_path, norm, forms):
    rows = gen_corpus_local(240)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()

    two = str(tmp_path / "two_pass")
    build_index(docs, two, n_segments=3, salt=4, n_buckets=8, resume=False,
                normalizer=norm, forms=forms)
    build_positions(docs, two)
    fused = str(tmp_path / "fused")
    build_index(docs, fused, n_segments=3, salt=4, n_buckets=8, resume=False,
                normalizer=norm, forms=forms, positions=True)

    d1, p1, m1 = _artifact_snapshot(spark, two)
    d2, p2, m2 = _artifact_snapshot(spark, fused)
    assert d2 == d1
    assert p2 == p1
    assert p1  # non-vacuous: the positional columns actually have rows
    for k in ("n_docs", "avgdl", "n_segments", "seg_size", "normalizer",
              "has_positions", "pos_bytes_per_posting", "pos_posting_bytes",
              "bytes_per_posting", "posting_bytes"):
        assert m2.get(k) == m1.get(k), k
    assert m2["has_positions"] is True

    # and the artifacts actually serve: phrase results identical
    got = sorted(
        (r["doc_id"], r["phrase_tf"])
        for r in phrase_topk(spark, fused, None,
                             "tamok velsor", k=10).collect())
    want = sorted(
        (r["doc_id"], r["phrase_tf"])
        for r in phrase_topk(spark, two, None,
                             "tamok velsor", k=10).collect())
    assert got == want


def _positional_rows(spark, idx):
    """(rows with pstream, rows without) over the whole data/ dataset."""
    from pyspark.sql import functions as F

    df = spark.read.schema(INDEX_OUT_SCHEMA).parquet(f"{idx}/data")
    return (df.filter(F.col("pstream").isNotNull()).count(),
            df.filter(F.col("pstream").isNull()).count())


def test_positions_true_on_done_index_builds_sidecar(spark, tmp_path):
    """Resume short-circuit: data current, positions absent -> positions=True
    must still produce them (every segment rebuilt with positions), and a
    second call is a no-op that keeps the flag."""
    rows = gen_corpus_local(120)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=4, n_buckets=8, resume=False)
    with open(f"{idx}/meta.json") as fh:
        assert not json.load(fh).get("has_positions")
    assert _positional_rows(spark, idx)[0] == 0

    meta = build_index(docs, idx, positions=True)  # resume path
    assert meta["has_positions"] is True
    assert [m["positions"] for m in all_manifests(idx)] == [True, True]
    with_pos, without = _positional_rows(spark, idx)
    assert with_pos > 0 and without == 0

    # idempotent: every segment carries positions, flag already set
    meta = build_index(docs, idx, positions=True)
    assert meta["has_positions"] is True


def test_fused_partial_rebuild_refreshes_only_touched(spark, tmp_path):
    """Drop one segment's manifest (the dirty-segment discipline) and
    resume with positions=True: only that segment re-analyzes, and the
    whole index — postings AND positions — ends byte-identical to a fresh fused
    build."""
    rows = gen_corpus_local(240)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()

    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=8, resume=False,
                positions=True)
    d0, p0, m0 = _artifact_snapshot(spark, idx)

    os.unlink(f"{idx}/manifests/segment=1.json")
    meta = build_index(docs, idx, positions=True)
    assert meta["has_positions"] is True
    d1, p1, m1 = _artifact_snapshot(spark, idx)
    assert d1 == d0
    assert p1 == p0
    assert m1["pos_posting_bytes"] == m0["pos_posting_bytes"]


def test_build_job_positions_is_fused_and_serves(spark, tmp_path,
                                                 monkeypatch, capsys):
    """jobs/build_index.py --positions under the arrow analyzer: ONE build
    call produces postings and positions on the same rows (timings carry
    no separate positions or dict phase, and no second dataset is
    written), meta flags set, and a phrase query serves from it."""
    import jobs.build_index as job

    out = str(tmp_path / "idx")
    monkeypatch.setattr("sys.argv", [
        "build_index.py", "--synthetic", "400", "--out", out,
        "--segments", "2", "--positions", "--cores", "8",
    ])
    job.main()
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_docs"] == 400
    assert stats["meta"]["has_positions"] is True
    # fused: positions ride the merge-write, no phase of their own
    timings = stats["meta"]["timings"]
    assert "merge_write_s" in timings and "analyze_plan_s" in timings
    assert "positions_s" not in timings and "dict_s" not in timings
    assert not os.path.exists(f"{out}/positions")
    assert not os.path.exists(f"{out}/dict")
    with_pos, without = _positional_rows(spark, out)
    assert with_pos > 0 and without == 0

    got = phrase_topk(spark, out, None, "tamok velsor", k=5).collect()
    assert got  # organic adjacency of common corpus terms


@pytest.mark.parametrize("argv,msg", [
    ([], "need --input or --synthetic"),
    (["--synthetic", "10", "--segments", "0"], "--segments must be >= 1"),
    (["--synthetic", "10", "--buckets", "0"], "--buckets must be >= 1"),
    (["--input", "x", "--block-size", "0"], "--block-size must be >= 1"),
])
def test_build_job_validated_before_spark(monkeypatch, capsys, argv, msg):
    """A bad jobs/build_index.py invocation is an argparse error raised
    before any Spark work: the session factory must never be reached."""
    import jobs.build_index as job

    def _no_spark(*a, **k):
        raise AssertionError("Spark started before argument validation")

    monkeypatch.setattr("searchengine_spark.session.get_spark", _no_spark)
    monkeypatch.setattr("sys.argv",
                        ["build_index.py", "--out", "unused"] + argv)
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert msg in capsys.readouterr().err


def test_resume_over_old_layout_rebuilds_everything(spark, tmp_path):
    """An index in the older layout (dict/ and positions/ sidecars beside
    data/, no format marker in meta) is never mixed with this one: it
    serves no positions, and a resume rebuilds every segment, deletes the
    stale sidecar dirs and serves the same rows as a fresh build."""
    from searchengine_spark.index.builder import INDEX_FORMAT
    from searchengine_spark.index.positions import has_positions
    from searchengine_spark.index.wand import bm25_topk

    rows = gen_corpus_local(160)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()
    fresh = str(tmp_path / "fresh")
    build_index(docs, fresh, n_segments=2, salt=4, n_buckets=8, resume=False,
                positions=True)
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=4, n_buckets=8, resume=False,
                positions=True)

    # plant the old layout: marker-less meta with the flag on, sidecar
    # dirs, old-style manifests, and a file in every data segment
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    del meta["format"]
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    for side in ("dict", "positions"):
        for s in (0, 1):
            os.makedirs(f"{idx}/{side}/segment={s}/bucket=0")
            with open(f"{idx}/{side}/segment={s}/bucket=0/part-0.parquet",
                      "wb") as fh:
                fh.write(b"old layout")
    for s in (0, 1):
        with open(f"{idx}/data/segment={s}/old-layout-marker", "w") as fh:
            fh.write("x")
        with open(f"{idx}/manifests/segment={s}.json") as fh:
            m = json.load(fh)
        m.pop("positions")
        m["pos_posting_count"] = m["posting_count"]
        with open(f"{idx}/manifests/segment={s}.json", "w") as fh:
            json.dump(m, fh)
    assert not has_positions(idx)

    meta = build_index(docs, idx, positions=True)  # resume
    assert meta["format"] == INDEX_FORMAT and meta["has_positions"] is True
    assert has_positions(idx)
    assert not os.path.exists(f"{idx}/dict")
    assert not os.path.exists(f"{idx}/positions")
    for s in (0, 1):  # every segment rebuilt
        assert not os.path.exists(f"{idx}/data/segment={s}/old-layout-marker")
    assert all(m["positions"] and "pos_posting_count" not in m
               for m in all_manifests(idx))

    d0, p0, m0 = _artifact_snapshot(spark, fresh)
    d1, p1, m1 = _artifact_snapshot(spark, idx)
    assert d1 == d0 and p1 == p0 and p1
    for k in ("n_docs", "avgdl", "posting_bytes", "pos_posting_bytes"):
        assert m1[k] == m0[k], k
    for q in ("tamok velsor", "kw_pair_alpha"):
        got = [tuple(r) for r in bm25_topk(spark, idx, q, 10).collect()]
        assert got and got == [tuple(r) for r in
                               bm25_topk(spark, fresh, q, 10).collect()]
    got = [tuple(r) for r in phrase_topk(spark, idx, None,
                                         "kw_pair_alpha kw_pair_beta").collect()]
    assert got and got == [tuple(r) for r in phrase_topk(
        spark, fresh, None, "kw_pair_alpha kw_pair_beta").collect()]


def test_interrupted_sidecar_not_trusted(spark, tmp_path):
    """Crash-recovery soundness: a segment left by an INTERRUPTED write
    (manifest gone — the build drops it before writing — and some bucket
    files missing), with the meta flag cleared, must not be trusted:
    positions=True on current data rebuilds it and the artifacts end
    identical to an uncorrupted build.  Also: the flag may never be on
    while a data-bearing segment's rows lack positions."""
    import glob as _glob
    import shutil

    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = gen_corpus_local(160)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=4, n_buckets=8, resume=False,
                positions=True)
    _, p0, m0 = _artifact_snapshot(spark, idx)

    # simulate the crash: flag cleared, one segment half-written
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    meta["has_positions"] = False
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    victims = sorted(_glob.glob(f"{idx}/data/segment=0/bucket=*"))
    assert len(victims) > 1
    shutil.rmtree(victims[0])
    os.unlink(f"{idx}/manifests/segment=0.json")

    meta = build_index(docs, idx, positions=True)  # data current: recovery
    assert meta["has_positions"] is True
    _, p1, m1 = _artifact_snapshot(spark, idx)
    assert p1 == p0
    assert m1["pos_posting_bytes"] == m0["pos_posting_bytes"]

    # the flag alone, cleared while every manifest records positions (a
    # build that died before its last meta write): the resume restores it
    meta["has_positions"] = False
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    assert build_index(docs, idx, positions=True)["has_positions"] is True

    # flag soundness: with a data-bearing segment rebuilt without
    # positions, the flag is off and positional serving refuses
    rebuild_segments(docs, idx, [1], positions=False)
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["has_positions"] is False
    assert _positional_rows(spark, idx)[1] > 0
    with pytest.raises(ValueError, match="has no positions"):
        phrase_topk_positions(spark, idx, "tamok velsor", k=5)


def test_emptied_positional_index_keeps_sidecar_contract(spark, tmp_path):
    """Deleting every document and rebuilding leaves an index with no data
    dirs: its positions are vacuously complete, so has_positions must stay
    on.  Otherwise a later regrow through rebuild_segments (which keys
    positions= on the flag) would stop writing positions and phrase
    serving would silently fall back to the store-verify path."""
    from searchengine_spark.index.wand import QueryEngine
    from searchengine_spark.streaming.incremental import rebuild_segments
    from searchengine_spark.streaming.store import delete_keys, merge_batch

    rows = gen_corpus_local(40)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=2, salt=4,
                n_buckets=4, resume=False, positions=True)
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]

    gone = delete_keys(read_store(spark, store).select("repo", "path"),
                       store, seg_size=seg_size)
    assert gone["n_removed"] == 40
    rebuild_segments(read_store(spark, store), idx, gone["dirty_segments"])
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["has_positions"] is True

    grown = merge_batch(spark.createDataFrame(rows, DOCS_SCHEMA), store,
                        seg_size=seg_size)
    docs = read_store(spark, store).localCheckpoint()
    rebuild_segments(docs, idx, grown["dirty_segments"])
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["has_positions"] is True
    assert sorted(os.listdir(f"{idx}/data"))
    assert all(m["positions"] for m in all_manifests(idx))
    with_pos, without = _positional_rows(spark, idx)
    assert with_pos > 0 and without == 0

    fresh = str(tmp_path / "fresh")
    build_index(docs, fresh, n_segments=2, salt=4, n_buckets=4,
                resume=False, positions=True)
    first = analyze_positions(rows[0][4])  # a phrase the corpus holds
    phrase = f"{first[0][0]} {first[1][0]}"
    got = QueryEngine(spark, idx).phrase_rows(phrase, k=10)
    assert got  # served from the maintained positions
    assert got == QueryEngine(spark, fresh).phrase_rows(phrase, k=10)
