"""The single-scan positional build (builder.build_index): every document
is analyzed once (analyzer.doc_term_runs_arrow, a kernel emitting sorted
(segment, lemma) runs carrying both the (tf, dl) stats and the occurrence
positions) and merged once (builder.encode_index_runs writes postings and
``pstream`` on the same rows).  A rebuild of every segment under the
stored avgdl must be BYTE-IDENTICAL to the fresh build in every artifact.
These tests pin that contract, the runs' value-parity with the flat
analyzer contracts under every normalizer, the run invariants, the merge
plan, and the resume edge cases, including indexes of older formats."""

from __future__ import annotations

import json
import os

import pytest

from searchengine_spark.analyzer import analyze_positions, doc_term_runs_arrow
from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import (
    INDEX_OUT_SCHEMA,
    NORMS_BUCKET,
    NORMS_LEMMA,
    build_index,
    encode_index_runs,
    hash_bucket,
    read_index,
)
from searchengine_spark.index.checkpoint import all_manifests
from searchengine_spark.index.positions import (
    phrase_topk_positions,
    read_positions,
)
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.incremental import rebuild_segments
from searchengine_spark.streaming.store import init_store, read_store
from tests.artifacts import assert_same_artifact

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
    """Term runs -> (flat stat rows, flat occurrence rows), asserting on
    the way that every run is strictly ascending in doc (in (doc, pos) for
    its occurrences) and aligned: len(docs) == len(tfs) == len(dls),
    len(pos) == Σ tfs.  Norms runs are skipped (:func:`_norm_dls`)."""
    stats, occ = [], []
    for r in runs:
        if r["lemma"] == NORMS_LEMMA:
            continue
        docs, tfs, dls = r["docs"], r["tfs"], r["dls"]
        assert len(docs) == len(tfs) == len(dls) >= 1
        assert all(a < b for a, b in zip(docs, docs[1:]))
        stats += [(d, r["lemma"], tf, dl) for d, tf, dl in zip(docs, tfs, dls)]
        pos = r["pos"]
        assert len(pos) == sum(tfs)
        pairs = list(zip([d for d, n in zip(docs, tfs) for _ in range(n)],
                         pos))
        assert all(a < b for a, b in zip(pairs, pairs[1:]))
        occ += [(d, r["lemma"], p) for d, p in pairs]
    return sorted(stats), sorted(occ)


def _norm_dls(runs, seg_size):
    """Norms runs -> {doc: dl}, asserting that each is one segment's docs,
    strictly ascending, with tfs == dls > 0, no positions, in the norms
    bucket, and that no doc appears twice."""
    out = {}
    for r in runs:
        if r["lemma"] != NORMS_LEMMA:
            continue
        docs = r["docs"]
        assert r["bucket"] == NORMS_BUCKET and r["pos"] == []
        assert list(r["tfs"]) == list(r["dls"]) and min(r["dls"]) > 0
        assert all(a < b for a, b in zip(docs, docs[1:]))
        assert {d // seg_size for d in docs} == {r["segment"]}
        assert not out.keys() & set(docs)
        out.update(zip(docs, r["dls"]))
    return out


@pytest.mark.parametrize("norm,forms", NORMALIZERS,
                         ids=[n for n, _ in NORMALIZERS])
def test_fused_kernel_parity(spark, norm, forms):
    """Exploded, the fused kernel's runs must be exactly the flat rows they
    summarize: stat rows == the logical index's tf and dl, occurrence
    rows == the pure-Python analyze_positions oracle, norms runs == each
    doc's dl — per normalizer family."""
    from searchengine_spark.operators.tf_df import (
        doc_lengths,
        term_frequencies,
    )

    docs = _texts_df(spark)
    runs = [r.asDict() for r in doc_term_runs_arrow(
        docs, 1000, 8, normalizer=norm, forms=forms).collect()]
    stats, occ = _explode(runs)

    tf = term_frequencies(docs, normalizer=norm, forms=forms)
    dl = {r["doc_id"]: r["dl"] for r in doc_lengths(tf).collect()}
    want_stats = sorted((r["doc_id"], r["lemma"], r["tf"], dl[r["doc_id"]])
                        for r in tf.collect())
    want_occ = sorted(
        (i, f, p) for i, t in enumerate(TEXTS)
        for p, fs in enumerate(analyze_positions(t, norm, forms))
        for f in fs)
    assert stats == want_stats
    assert occ == want_occ
    assert _norm_dls(runs, 1000) == dl
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
    boundary, one run per (segment, lemma), bucket == hash_bucket(lemma)."""
    seg_size, n_buckets = 3, 4
    docs = _texts_df(spark).coalesce(1)  # ONE partition, ONE Arrow batch
    fused = [r.asDict() for r in doc_term_runs_arrow(
        docs, seg_size, n_buckets, normalizer=norm, forms=forms).collect()]
    keys = [(r["segment"], r["lemma"]) for r in fused]
    assert len(keys) == len(set(keys))  # one run per (segment, lemma)
    for r in fused:
        assert r["bucket"] == hash_bucket(r["lemma"], n_buckets)
        assert {d // seg_size for d in r["docs"]} == {r["segment"]}
    segs_of = {}
    for s, lm in keys:
        segs_of.setdefault(lm, set()).add(s)
    assert max(len(v) for v in segs_of.values()) >= 2  # a split happened


def test_merge_plans_one_exchange_no_collect_list(spark):
    """The build's one encoder of postings and positions is ONE exchange
    of pre-sorted runs into its (segment, bucket) group: no salted
    hash-aggregate, no collect_list, no second shuffle."""
    runs = doc_term_runs_arrow(_texts_df(spark), 4, 8).localCheckpoint()
    plan = (encode_index_runs(runs, 3.0, 128)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" not in plan
    assert "collect_list" not in plan


def _artifact_snapshot(spark, idx):
    data = sorted(
        (r["segment"], r["lemma"], r["df"], bytes(r["postings"]),
         bytes(r["tfs"]), tuple(map(tuple, r["blocks"])), r["bucket"])
        for r in read_index(spark, idx, norms=True).collect())
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
    """A fresh build and a rebuild of every segment under the stored avgdl
    (rebuild_segments) write the same postings, positions and totals."""
    rows = gen_corpus_local(240)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()

    rebuilt = str(tmp_path / "rebuilt")
    build_index(docs, rebuilt, n_segments=3, salt=4, n_buckets=8,
                resume=False, normalizer=norm, forms=forms)
    rebuild_segments(docs, rebuilt, [0, 1, 2])
    fused = str(tmp_path / "fused")
    build_index(docs, fused, n_segments=3, salt=4, n_buckets=8, resume=False,
                normalizer=norm, forms=forms)

    assert_same_artifact(rebuilt, fused)
    d1, p1, m1 = _artifact_snapshot(spark, rebuilt)
    d2, p2, m2 = _artifact_snapshot(spark, fused)
    assert d2 == d1
    assert p2 == p1
    assert p1  # non-vacuous: the positional columns actually have rows
    for k in ("n_docs", "avgdl", "n_segments", "seg_size", "normalizer",
              "has_positions", "pos_bytes_per_posting", "pos_posting_bytes",
              "bytes_per_posting", "posting_bytes"):
        assert m2.get(k) == m1.get(k), k

    # and the artifacts actually serve: phrase results identical
    got, want = (
        [(r["doc_id"], r["phrase_tf"]) for r in phrase_topk_positions(
            spark, i, "sorvel tamok", k=10).collect()]
        for i in (fused, rebuilt))
    assert got and got == want


def _positional_rows(spark, idx):
    """(rows with pstream, rows without) over the term rows of data/."""
    from pyspark.sql import functions as F

    df = (spark.read.schema(INDEX_OUT_SCHEMA).parquet(f"{idx}/data")
          .filter(F.col("bucket") != NORMS_BUCKET))
    return (df.filter(F.col("pstream").isNotNull()).count(),
            df.filter(F.col("pstream").isNull()).count())


def test_fused_partial_rebuild_refreshes_only_touched(spark, tmp_path):
    """Drop one segment's manifest (the dirty-segment discipline) and
    resume: only that segment re-analyzes, and the whole index — postings
    AND positions — ends byte-identical to a fresh build."""
    rows = gen_corpus_local(240)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()

    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=3, salt=4, n_buckets=8, resume=False)
    d0, p0, m0 = _artifact_snapshot(spark, idx)

    os.unlink(f"{idx}/manifests/segment=1.json")
    build_index(docs, idx)
    d1, p1, m1 = _artifact_snapshot(spark, idx)
    assert d1 == d0
    assert p1 == p0
    assert m1["pos_posting_bytes"] == m0["pos_posting_bytes"]


def test_build_job_positions_is_fused_and_serves(spark, tmp_path,
                                                 monkeypatch, capsys):
    """jobs/build_index.py: ONE build call produces postings and positions
    on the same rows (timings carry no separate positions or dict phase,
    and no second dataset is written), and a phrase query serves from it."""
    import jobs.build_index as job

    out = str(tmp_path / "idx")
    monkeypatch.setattr("sys.argv", [
        "build_index.py", "--synthetic", "400", "--out", out,
        "--segments", "2", "--cores", "8",
    ])
    job.main()
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_docs"] == 400
    # fused: positions ride the merge-write, no phase of their own
    timings = stats["meta"]["timings"]
    assert "merge_write_s" in timings and "analyze_plan_s" in timings
    assert "positions_s" not in timings and "dict_s" not in timings
    assert not os.path.exists(f"{out}/positions")
    assert not os.path.exists(f"{out}/dict")
    with_pos, without = _positional_rows(spark, out)
    assert with_pos > 0 and without == 0

    got = phrase_topk_positions(spark, out, "tamok velsor", k=5).collect()
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


def test_build_index_rejects_positionless():
    """``positions`` survives only as a compatibility keyword: any value
    but True is a ValueError raised before any Spark work (the docs
    argument is never touched)."""
    for bad in (False, None, "yes"):
        with pytest.raises(ValueError, match="positions"):
            build_index(None, "unused", positions=bad)


def _plant_sidecar_layout(idx):
    """The layout before format 2: a marker-less meta, dict/ and
    positions/ sidecars beside data/, old-style manifests."""
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
        with open(f"{idx}/manifests/segment={s}.json") as fh:
            m = json.load(fh)
        m["pos_posting_count"] = m["posting_count"]
        with open(f"{idx}/manifests/segment={s}.json", "w") as fh:
            json.dump(m, fh)


def _plant_format2_positionless(idx):
    """A format-2 index whose segment 1 was built without positions: its
    rows' pstream null, its manifest's positions bit off, and the meta
    flag off."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    meta.update(format=2, has_positions=False)
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    files = _glob.glob(f"{idx}/data/segment=1/bucket=*/*.parquet")
    assert files
    for f in files:
        t = pq.ParquetFile(f).read()
        t = t.set_column(t.schema.get_field_index("pstream"), "pstream",
                         pa.nulls(t.num_rows, pa.binary()))
        pq.write_table(t, f)
    for s in (0, 1):
        with open(f"{idx}/manifests/segment={s}.json") as fh:
            m = json.load(fh)
        m["positions"] = s == 0
        if s == 1:
            del m["pos_posting_bytes"]
        with open(f"{idx}/manifests/segment={s}.json", "w") as fh:
            json.dump(m, fh)


def _plant_format3(idx):
    """A format-3 index: a dls stream per posting and no norms rows."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    meta["format"] = 3
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    for f in _glob.glob(f"{idx}/data/segment=*/bucket=*/*.parquet"):
        if f"/bucket={NORMS_BUCKET}/" in f:
            os.unlink(f)
            continue
        t = pq.ParquetFile(f).read()
        pq.write_table(t.append_column("dls", t.column("tfs")), f)


def test_resume_over_old_layout_rebuilds_everything(spark, tmp_path):
    """An index of an older format — the sidecar layout (no format
    marker), format 2 with a segment built without positions, or format 3
    with per-posting dls and no norms rows — is never mixed with this
    one: BM25 and phrase serving refuse it, naming the rebuild, and a
    resume rebuilds every segment, deletes the stale sidecar dirs and
    leaves the artifacts of a fresh build."""
    from searchengine_spark.index.builder import INDEX_FORMAT
    from searchengine_spark.index.wand import QueryEngine, bm25_topk

    rows = gen_corpus_local(160)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()
    fresh = str(tmp_path / "fresh")
    build_index(docs, fresh, n_segments=2, salt=4, n_buckets=8, resume=False)
    d0, p0, m0 = _artifact_snapshot(spark, fresh)
    phrase = "kw_pair_alpha kw_pair_beta"

    for plant in (_plant_sidecar_layout, _plant_format2_positionless,
                  _plant_format3):
        idx = str(tmp_path / plant.__name__)
        build_index(docs, idx, n_segments=2, salt=4, n_buckets=8,
                    resume=False)
        plant(idx)
        for s in (0, 1):
            with open(f"{idx}/data/segment={s}/old-layout-marker", "w") as fh:
                fh.write("x")
        with pytest.raises(ValueError, match="rebuild"):
            phrase_topk_positions(spark, idx, phrase)
        eng = QueryEngine(spark, idx)
        with pytest.raises(ValueError, match="rebuild"):
            eng.phrase_rows(phrase)
        with pytest.raises(ValueError, match="rebuild"):
            eng.prefetch([], phrases=[phrase])
        with pytest.raises(ValueError, match="rebuild"):
            bm25_topk(spark, idx, "tamok velsor", 10)
        with pytest.raises(ValueError, match="rebuild"):
            eng.topk_rows("tamok velsor", 10)
        with pytest.raises(ValueError, match="rebuild"):
            eng.topk_batch({"a": "tamok velsor"}, 10)

        meta = build_index(docs, idx)  # resume
        assert meta["format"] == INDEX_FORMAT, plant.__name__
        assert not os.path.exists(f"{idx}/dict")
        assert not os.path.exists(f"{idx}/positions")
        for s in (0, 1):  # every segment rebuilt
            assert not os.path.exists(
                f"{idx}/data/segment={s}/old-layout-marker")
        assert all_manifests(idx) == all_manifests(fresh), plant.__name__
        d1, p1, m1 = _artifact_snapshot(spark, idx)
        assert d1 == d0 and p1 == p0 and p1, plant.__name__
        assert m1 == m0, plant.__name__
        assert _positional_rows(spark, idx)[1] == 0
        for q in ("tamok velsor", "kw_pair_alpha"):
            got = [tuple(r) for r in bm25_topk(spark, idx, q, 10).collect()]
            assert got and got == [tuple(r) for r in
                                   bm25_topk(spark, fresh, q, 10).collect()]
        got = [tuple(r) for r in
               phrase_topk_positions(spark, idx, phrase).collect()]
        assert got and got == [tuple(r) for r in phrase_topk_positions(
            spark, fresh, phrase).collect()]


def test_interrupted_sidecar_not_trusted(spark, tmp_path):
    """Crash-recovery soundness: a segment left by an INTERRUPTED write
    (manifest gone — the build drops it before writing — and some bucket
    files missing) must not be trusted: a resume on current data rebuilds
    it and the artifacts end identical to an uncorrupted build.  Also: a
    build that died before its last meta write (meta.json written without
    the manifest-derived totals) gets them back from the manifests on the
    resume short-circuit."""
    import glob as _glob
    import shutil

    rows = gen_corpus_local(160)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    docs = read_store(spark, store).localCheckpoint()
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, salt=4, n_buckets=8, resume=False)
    d0, p0, m0 = _artifact_snapshot(spark, idx)

    # simulate the crash: one segment half-written
    victims = sorted(_glob.glob(f"{idx}/data/segment=0/bucket=*"))
    assert len(victims) > 1
    shutil.rmtree(victims[0])
    os.unlink(f"{idx}/manifests/segment=0.json")

    build_index(docs, idx)  # data current: recovery
    d1, p1, m1 = _artifact_snapshot(spark, idx)
    assert d1 == d0 and p1 == p0
    assert m1["pos_posting_bytes"] == m0["pos_posting_bytes"]

    # the totals alone, missing while every manifest is done (a build that
    # died before its last meta write): the resume re-derives them
    totals = ("posting_bytes", "pos_posting_bytes", "pos_bytes_per_posting")
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    for k in totals:
        del meta[k]
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(meta, fh)
    got = build_index(docs, idx)
    with open(f"{idx}/meta.json") as fh:
        on_disk = json.load(fh)
    for k in totals:
        assert got[k] == on_disk[k] == m0[k], k


def test_emptied_positional_index_keeps_sidecar_contract(spark, tmp_path):
    """Deleting every document and rebuilding leaves an index with no data
    dirs; a later regrow through rebuild_segments writes positions on
    every row again, and phrases serve as from a fresh build."""
    from searchengine_spark.index.wand import QueryEngine
    from searchengine_spark.streaming.store import delete_keys, merge_batch

    rows = gen_corpus_local(40)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=2, salt=4,
                n_buckets=4, resume=False)
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]

    gone = delete_keys(read_store(spark, store).select("repo", "path"),
                       store, seg_size=seg_size)
    assert gone["n_removed"] == 40
    rebuild_segments(read_store(spark, store), idx, gone["dirty_segments"])

    grown = merge_batch(spark.createDataFrame(rows, DOCS_SCHEMA), store,
                        seg_size=seg_size)
    docs = read_store(spark, store).localCheckpoint()
    rebuild_segments(docs, idx, grown["dirty_segments"])
    assert sorted(os.listdir(f"{idx}/data"))
    with_pos, without = _positional_rows(spark, idx)
    assert with_pos > 0 and without == 0

    fresh = str(tmp_path / "fresh")
    build_index(docs, fresh, n_segments=2, salt=4, n_buckets=4,
                resume=False)
    first = analyze_positions(rows[0][4])  # a phrase the corpus holds
    phrase = f"{first[0][0]} {first[1][0]}"
    got = QueryEngine(spark, idx).phrase_rows(phrase, k=10)
    assert got  # served from the maintained positions
    assert got == QueryEngine(spark, fresh).phrase_rows(phrase, k=10)
