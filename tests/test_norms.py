"""Per-segment norms rows: each document's length is stored once, in its
segment's norms row (the reserved lemma ``builder.NORMS_LEMMA`` in
partition ``bucket=builder.NORMS_BUCKET``), not once per posting.

The reserved lemma can never be a term: the build rejects a forms table
that produces it and the analysis kernel raises on it, and no dictionary
count — manifests, ``gdf_lookup``, the engine's df caches, the statistics
job — counts its row.  A rebuilt segment's norms row follows its
postings, and a live engine scores a commit's docs with their new
lengths."""

from __future__ import annotations

import glob
import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from searchengine_spark.analyzer import analyze
from searchengine_spark.corpus import gen_corpus_local, ingest
from searchengine_spark.index.builder import (
    NORMS_BUCKET,
    NORMS_LEMMA,
    build_index,
    read_index,
)
from searchengine_spark.index.checkpoint import all_manifests
from searchengine_spark.index.wand import QueryEngine, SegmentNorms, gdf_lookup
from searchengine_spark.schema import DOCS_SCHEMA


def _norms_rows(spark, idx) -> dict[int, dict]:
    """segment -> {doc_id: dl} decoded from its norms row."""
    rows = read_index(spark, idx, [NORMS_LEMMA], norms=True).collect()
    out = {}
    for r in rows:
        assert r["lemma"] == NORMS_LEMMA and r["bucket"] == NORMS_BUCKET
        n = SegmentNorms(r["postings"], r["tfs"], r["blocks"])
        ids = np.flatnonzero(n.dl) + n.lo
        assert r["segment"] not in out
        out[r["segment"]] = dict(zip(ids.tolist(), n(ids).tolist()))
    return out


def _want_norms(rows_by_id: dict[int, str], seg_size: int) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for d, text in rows_by_id.items():
        if analyze(text):
            out.setdefault(d // seg_size, {})[d] = len(analyze(text))
    return out


def test_reserved_lemma_rejected_and_never_counted(spark, tmp_path):
    from searchengine_spark.index.runs import form_runs
    from jobs.stats import statistics

    with pytest.raises(ValueError, match="reserved norms lemma"):
        build_index(spark.createDataFrame(
            [], "repo string, doc_id long, content string, sha256 string"),
            str(tmp_path / "bad"), normalizer="dict",
            forms={"tamok": ("tamok",), "x": (NORMS_LEMMA,)})
    with pytest.raises(ValueError, match="reserved norms lemma"):
        form_runs(np.array([0]), np.array([2]), np.array([0, 0]),
                  pa.array(["tamok", NORMS_LEMMA]), np.array([0, 1]), 10, 4)

    rows = gen_corpus_local(120)
    ing = ingest(spark.createDataFrame(rows, DOCS_SCHEMA)).localCheckpoint()
    idx = str(tmp_path / "idx")
    build_index(ing, idx, n_segments=3, salt=2, n_buckets=4, resume=False)
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    texts = {r["doc_id"]: r["content"] for r in ing.collect()}

    # one norms row per segment, holding every doc's dl
    assert _norms_rows(spark, idx) == _want_norms(texts, meta["seg_size"])
    # the manifests count term rows only, and price the norms apart
    terms = read_index(spark, idx).collect()
    assert NORMS_LEMMA not in {r["lemma"] for r in terms}
    nrows = {r["segment"]: r for r in
             read_index(spark, idx, [NORMS_LEMMA], norms=True).collect()}
    for m in all_manifests(idx):
        mine = [r for r in terms if r["segment"] == m["segment"]]
        assert m["term_count"] == len(mine)
        assert m["posting_count"] == sum(r["df"] for r in mine)
        assert m["posting_bytes"] == sum(len(r["postings"]) + len(r["tfs"])
                                         for r in mine)
        nr = nrows[m["segment"]]
        assert m["norm_bytes"] == len(nr["postings"]) + len(nr["tfs"])
    assert meta["norm_bytes"] == sum(m["norm_bytes"]
                                     for m in all_manifests(idx))
    # min/max statistics on lemma only: no footer repeats a row's blobs
    for f in glob.glob(f"{idx}/data/segment=*/bucket=*/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            assert {rg.column(c).path_in_schema for c in range(rg.num_columns)
                    if rg.column(c).is_stats_set} == {"lemma"}, f

    # no df lookup counts the norms row: analysis never emits its lemma,
    # and every lookup over all the corpus' lemmas sums the term rows' df
    lemmas = sorted({t for text in texts.values() for t in analyze(text)})
    assert NORMS_LEMMA not in lemmas
    postings = sum(m["posting_count"] for m in all_manifests(idx))
    gdf = gdf_lookup(spark, idx, lemmas)
    assert set(gdf) == set(lemmas) and sum(gdf.values()) == postings
    eng = QueryEngine(spark, idx, preload_dict=True)
    assert eng._gdf == gdf
    assert QueryEngine(spark, idx)._gdf_for(lemmas) == gdf
    assert statistics(spark, idx)["total"]["lemmas"] == len(lemmas)


def test_commit_rewrites_norms_and_live_engine_scores_new_dl(
        spark, tmp_path, monkeypatch):
    """rebuild_segments rewrites the dirty segment's norms row with its
    postings, leaves the others' files alone, and a live engine drops the
    norms it held: the edited doc scores with its new length, as an
    independent BM25 over the index's n_docs and avgdl scores it."""
    from searchengine_spark.index import builder
    from searchengine_spark.streaming.incremental import rebuild_segments

    rows = gen_corpus_local(120)
    ing = ingest(spark.createDataFrame(rows, DOCS_SCHEMA)).localCheckpoint()
    idx = str(tmp_path / "idx")
    build_index(ing, idx, n_segments=3, salt=2, n_buckets=4, resume=False)
    eng = QueryEngine(spark, idx)

    read = []
    real_scan = builder.scan_index

    def spy(out_dir, files, lemmas, n_buckets, columns):
        read.append((sorted(f for fs in files.values() for f in fs),
                     list(lemmas)))
        return real_scan(out_dir, files, lemmas, n_buckets, columns)

    monkeypatch.setattr(builder, "scan_index", spy)
    assert eng.topk_rows("tamok", 5)
    held = dict(eng._norms)
    assert held
    # a segment's norms come from its norms partition alone
    norm_reads = [fs for fs, lemmas in read if lemmas == [NORMS_LEMMA]]
    assert norm_reads and all(f"/bucket={NORMS_BUCKET}/" in f
                              for fs in norm_reads for f in fs)

    target = ing.filter("doc_id = 5").collect()[0]
    extra = " zz_norms_marker" + " velsor sorbin binqua" * 12
    rows2 = [(r[0], r[1], r[2], r[3], r[4] + extra)
             if (r[0], r[1]) == (target["repo"], target["path"]) else r
             for r in rows]
    ing2 = ingest(spark.createDataFrame(rows2, DOCS_SCHEMA)).localCheckpoint()
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]
    dirty = 5 // seg_size
    others = {f: open(f, "rb").read() for f in glob.glob(
        f"{idx}/data/segment=*/bucket={NORMS_BUCKET}/*.parquet")
        if f"/segment={dirty}/" not in f}
    rebuild_segments(ing2, idx, [dirty])

    texts = {r["doc_id"]: r["content"] for r in ing2.collect()}
    assert _norms_rows(spark, idx) == _want_norms(texts, seg_size)
    assert {f: open(f, "rb").read() for f in others} == others

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    q = "zz_norms_marker tamok"
    got = eng.topk_rows(q, 10)
    assert eng._norms[dirty](np.array([5]))[0] == len(analyze(texts[5]))
    assert held[dirty](np.array([5]))[0] != len(analyze(texts[5]))
    tf = {d: {t: analyze(x).count(t) for t in set(analyze(x))}
          for d, x in texts.items()}
    n, avgdl = meta["n_docs"], meta["avgdl"]
    scores = {}
    for d, c in tf.items():
        s = 0.0
        for t in sorted(set(analyze(q))):
            df = sum(1 for cc in tf.values() if t in cc)
            if c.get(t):
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * c[t] * 2.2 / (c[t] + 1.2 * (
                    0.25 + 0.75 * len(analyze(texts[d])) / avgdl))
        if s:
            scores[d] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want],
                                                rel=1e-12)
    assert got[0][0] == 5
