"""Incremental re-index + streaming ingest (reference POST /api/indexPage
analog, SURVEY.md §2.9/§3.3)."""

from __future__ import annotations

import json

from searchengine_spark.corpus import gen_corpus_local, ingest
from searchengine_spark.index.builder import build_index, read_index
from searchengine_spark.index.checkpoint import all_manifests, read_manifest
from searchengine_spark.index.wand import bm25_topk
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.incremental import (
    affected_segments,
    incremental_reindex,
)


def test_incremental_rebuilds_only_touched_segment(spark, tmp_path):
    rows = gen_corpus_local(120)
    docs = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    out = str(tmp_path / "idx")
    build_index(docs, out, n_segments=3, salt=4, n_buckets=4)
    before = {m["segment"]: m for m in all_manifests(out)}

    # mutate one doc's content (same (repo, path, commit) key -> same doc_id)
    target = docs.filter("doc_id = 5").collect()[0]
    rows2 = [
        (r[0], r[1], r[2], r[3],
         r[4] + " zz_incremental_marker" if (r[0], r[1]) == (target["repo"], target["path"]) else r[4])
        for r in rows
    ]
    docs2 = ingest(spark.createDataFrame(rows2, DOCS_SCHEMA))
    rebuilt = incremental_reindex(docs2, out, [5])
    assert rebuilt == affected_segments(out, [5]) and len(rebuilt) == 1

    after = {m["segment"]: m for m in all_manifests(out)}
    for s, m in after.items():
        if s in rebuilt:
            assert m["input_sha_xor"] != before[s]["input_sha_xor"]
        else:
            assert m == before[s]  # untouched segments keep their manifests

    # the new term is findable; avgdl preserved in meta
    hits = bm25_topk(spark, out, "incremental marker", 10, conjunctive=True).collect()
    assert [r["doc_id"] for r in hits] == [5]
    with open(f"{out}/meta.json") as fh:
        assert json.load(fh)["avgdl"] > 0


def test_stream_ingest_availablenow(spark, tmp_path):
    from searchengine_spark.streaming.incremental import stream_ingest
    from searchengine_spark.streaming.store import read_store

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = gen_corpus_local(40)
    spark.createDataFrame(rows[:30], DOCS_SCHEMA).write.parquet(str(landing / "b0"))

    store = str(tmp_path / "store")
    idx = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    stream_ingest(spark, str(landing) + "/*", store, idx, ckpt)

    assert read_store(spark, store).count() == 30
    assert read_manifest(idx, 0) is not None
    n_terms_1 = read_index(spark, idx).count()
    assert n_terms_1 > 0

    # second micro-batch: 10 more docs drained by a fresh availableNow run
    spark.createDataFrame(rows[30:], DOCS_SCHEMA).write.parquet(str(landing / "b1"))
    stream_ingest(spark, str(landing) + "/*", store, idx, ckpt)
    assert read_store(spark, store).count() == 40


def test_changed_segments_rank_shift(spark, tmp_path):
    """Insert/remove shifts later ranks: every segment containing a shifted,
    added, removed, or content-changed id must be flagged — on either side
    of the diff — and nothing else."""
    from searchengine_spark.streaming.incremental import changed_segments

    rows = gen_corpus_local(60)
    old = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))

    # content-only change of doc_id 7: exactly its segment is dirty
    t = old.filter("doc_id = 7").collect()[0]
    rows_c = [(r[0], r[1], r[2], r[3], r[4] + " zz")
              if (r[0], r[1]) == (t["repo"], t["path"]) else r for r in rows]
    new_c = ingest(spark.createDataFrame(rows_c, DOCS_SCHEMA))
    assert changed_segments(old, new_c, seg_size=20) == [0]

    # remove the doc ranked 7: ids 8.. all shift down one -> every segment
    # from 7's upward is dirty (here: all three)
    key7 = (t["repo"], t["path"])
    rows_r = [r for r in rows if (r[0], r[1]) != key7]
    new_r = ingest(spark.createDataFrame(rows_r, DOCS_SCHEMA))
    assert changed_segments(old, new_r, seg_size=20) == [0, 1, 2]

    # unchanged corpus: nothing dirty
    new_same = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    assert changed_segments(old, new_same, seg_size=20) == []


def _surface_by_key(spark, index_dir, id_to_key):
    """Per-lemma {(repo, path), tf} sets — the id-representation-independent
    postings surface (append-ordered ids legitimately differ from a fresh
    build's dense ranks, so surfaces compare via each corpus' own id->key
    mapping)."""
    from searchengine_spark.index.wand import TermPostings

    with open(f"{index_dir}/meta.json") as fh:
        block_size = json.load(fh)["block_size"]
    out: dict[str, set] = {}
    for r in read_index(spark, index_dir).collect():
        tp = TermPostings(bytes(r["postings"]), bytes(r["tfs"]), r["df"],
                          block_size)
        ids, tfs = tp.decode_all()
        out.setdefault(r["lemma"], set()).update(
            (id_to_key[i], t) for i, t in zip(ids.tolist(), tfs.tolist()))
    return out


def _id_key_map(df):
    return {r["doc_id"]: (r["repo"], r["path"])
            for r in df.select("doc_id", "repo", "path").collect()}


def test_stream_ingest_additive_batch_index_correct(spark, tmp_path):
    """The ADVICE r1 scenario: an additive micro-batch grows the corpus
    (30 -> 40 docs).  seg_size must stay PINNED (segments appended, not
    resized), and the final index must carry exactly the postings of a
    from-scratch build over the merged corpus — compared through each
    side's own doc_id -> (repo, path) mapping, because append-ordered
    allocation (by design) numbers batch-2 keys after batch-1 keys while a
    fresh build ranks all 40 globally."""
    from searchengine_spark.streaming.incremental import stream_ingest
    from searchengine_spark.streaming.store import read_store

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = gen_corpus_local(40)
    spark.createDataFrame(rows[:30], DOCS_SCHEMA).write.parquet(str(landing / "b0"))
    store = str(tmp_path / "store")
    idx = str(tmp_path / "sidx")
    stream_ingest(spark, str(landing) + "/*", store, idx, str(tmp_path / "ckpt"))
    with open(f"{idx}/meta.json") as fh:
        seg_size_1 = json.load(fh)["seg_size"]

    spark.createDataFrame(rows[30:], DOCS_SCHEMA).write.parquet(str(landing / "b1"))
    stream_ingest(spark, str(landing) + "/*", store, idx, str(tmp_path / "ckpt"))

    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    assert meta["seg_size"] == seg_size_1  # pinned across the grow
    assert meta["n_docs"] == 40
    stored = read_store(spark, store)
    assert stored.count() == 40
    # ids stay dense under adds (0..39), batch-1 ids unchanged
    got_ids = sorted(r["doc_id"] for r in stored.select("doc_id").collect())
    assert got_ids == list(range(40))

    fresh_dir = str(tmp_path / "fresh")
    merged = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    build_index(merged, fresh_dir, n_segments=2, resume=False)

    inc_surface = _surface_by_key(spark, idx, _id_key_map(stored))
    fresh_surface = _surface_by_key(spark, fresh_dir, _id_key_map(merged))
    assert inc_surface == fresh_surface

    # and it answers queries over docs from BOTH batches (same result KEYS)
    inc_map, fresh_map = _id_key_map(stored), _id_key_map(merged)
    hits = {inc_map[r["doc_id"]] for r in
            bm25_topk(spark, idx, "kw_rare_xyzzy", 10).collect()}
    fresh_hits = {fresh_map[r["doc_id"]] for r in
                  bm25_topk(spark, fresh_dir, "kw_rare_xyzzy", 10).collect()}
    assert hits == fresh_hits and hits


def test_stream_second_batch_store_write_is_o_batch(spark, tmp_path):
    """r2 VERDICT item 1 'Done' criterion: the second micro-batch's store
    write must touch ONLY the kb partitions containing batch keys — every
    parquet file in an unaffected kb directory survives byte-identical
    (same path, size, mtime)."""
    import pathlib as pl

    from searchengine_spark.streaming.incremental import stream_ingest
    from searchengine_spark.streaming.store import (
        DEFAULT_N_KB, read_store, store_meta,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = gen_corpus_local(60)
    spark.createDataFrame(rows[:50], DOCS_SCHEMA).write.parquet(str(landing / "b0"))
    store = str(tmp_path / "store")
    idx = str(tmp_path / "sidx")
    stream_ingest(spark, str(landing) + "/*", store, idx, str(tmp_path / "ckpt"))

    def snapshot():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in pl.Path(store, "data").rglob("*.parquet")
        }

    before = snapshot()

    batch2 = rows[50:]
    spark.createDataFrame(batch2, DOCS_SCHEMA).write.parquet(str(landing / "b1"))
    stream_ingest(spark, str(landing) + "/*", store, idx, str(tmp_path / "ckpt"))

    # affected kbs = xxhash64 buckets of the 10 batch keys
    from pyspark.sql import functions as F
    affected = {
        r["kb"] for r in spark.createDataFrame(batch2, DOCS_SCHEMA).select(
            F.pmod(F.xxhash64("repo", "path"), F.lit(DEFAULT_N_KB))
            .cast("int").alias("kb")
        ).distinct().collect()
    }
    after = snapshot()
    touched_dirs = {
        pl.Path(p).parent.name
        for p in (set(after) - set(before))
        | {p for p in before if p not in after or after[p] != before[p]}
    }
    assert touched_dirs  # something was written
    assert touched_dirs <= {f"kb={k}" for k in affected}
    # and every unaffected kb file survived byte-identical
    for p, sig in before.items():
        if pl.Path(p).parent.name not in touched_dirs:
            assert after.get(p) == sig
    assert read_store(spark, store).count() == 60
    assert store_meta(store)["n_docs"] == 60


def test_append_ids_bound_rebuild_blast_radius(spark, tmp_path):
    """r2 VERDICT item 2 'Done' criterion: an additive mid-key-space batch
    plus one content update dirties exactly (touched + appended) segments —
    nothing rank-shifts, untouched manifests survive byte-identical."""
    from searchengine_spark.streaming.store import (
        init_store, merge_batch, read_store,
    )

    rows = gen_corpus_local(60)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=3, resume=False)
    before = {m["segment"]: m for m in all_manifests(idx)}
    assert sorted(before) == [0, 1, 2]
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]  # 20

    # one NEW mid-key-space doc (sorts before most existing keys) + one
    # content UPDATE of an existing early doc
    target = rows[3]
    batch = [
        ("org0/proj0", "src/aaa/mid_key_insert.py", "c" * 40, "py",
         "zznewmarker alpha beta gamma delta"),
        (target[0], target[1], target[2], target[3],
         target[4] + " zzupdatemarker"),
    ]
    summary = merge_batch(spark.createDataFrame(batch, DOCS_SCHEMA), store,
                          seg_size=seg_size)
    assert summary["n_new"] == 1
    # appended tail: new id 60 -> segment 3 ONLY (no rank shift anywhere)
    assert summary["appended_segments"] == [3]
    # the updated doc kept its id; exactly its segment is dirty
    assert len(summary["updated_segments"]) == 1
    assert summary["dirty_segments"] == sorted(
        set(summary["updated_segments"]) | {3}
    )

    # rebuild only the dirty segments; the other manifests stay identical
    from searchengine_spark.streaming.incremental import incremental_reindex

    with open(f"{idx}/meta.json") as fh:
        avgdl = json.load(fh)["avgdl"]
    for s in summary["dirty_segments"]:
        p = tmp_path / "idx" / "manifests" / f"segment={s}.json"
        if p.exists():
            p.unlink()
    build_index(read_store(spark, store), idx, resume=True, fixed_avgdl=avgdl)
    _ = incremental_reindex  # (same path the streaming front-door takes)

    after = {m["segment"]: m for m in all_manifests(idx)}
    assert sorted(after) == [0, 1, 2, 3]
    for s, m in before.items():
        if s not in summary["dirty_segments"]:
            assert after[s] == m

    # both markers findable; the new doc's and updated doc's postings exist
    new_hits = bm25_topk(spark, idx, "zznewmarker", 5).collect()
    upd_hits = bm25_topk(spark, idx, "zzupdatemarker", 5).collect()
    assert [r["doc_id"] for r in new_hits] == [60]
    assert len(upd_hits) == 1


def test_store_delete_keys_bounded_and_correct(spark, tmp_path):
    """Store-level delete: O(batch) partition-scoped removal, ids become
    holes (nothing rank-shifts), only the removed ids' segments rebuild,
    and the resulting index equals a fresh build over the surviving rows
    (key-mapped surface — the fresh build re-ranks densely)."""
    from searchengine_spark.streaming.store import (
        delete_keys, init_store, read_store,
    )

    rows = gen_corpus_local(60)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=3, resume=False)
    before = {m["segment"]: m for m in all_manifests(idx)}
    with open(f"{idx}/meta.json") as fh:
        m0 = json.load(fh)
    seg_size = m0["seg_size"]

    # delete two EARLY-ranked keys (the worst case under global ranks)
    stored = read_store(spark, store)
    victims = [(r["repo"], r["path"]) for r in
               stored.filter("doc_id in (2, 5)").select("repo", "path").collect()]
    summary = delete_keys(
        spark.createDataFrame(victims, "repo string, path string"),
        store, seg_size=seg_size,
    )
    assert summary["n_removed"] == 2
    assert summary["dirty_segments"] == [0]  # both ids in segment 0 only

    remaining = read_store(spark, store)
    assert remaining.count() == 58
    got_ids = sorted(r["doc_id"] for r in remaining.select("doc_id").collect())
    assert got_ids == [i for i in range(60) if i not in (2, 5)]  # holes, no shift

    for s in summary["dirty_segments"]:
        p = tmp_path / "idx" / "manifests" / f"segment={s}.json"
        p.unlink()
    build_index(read_store(spark, store), idx, resume=True,
                fixed_avgdl=m0["avgdl"])

    after = {m["segment"]: m for m in all_manifests(idx)}
    assert sorted(after) == [0, 1, 2]  # id span keeps all three segments
    for s, m in before.items():
        if s not in summary["dirty_segments"]:
            assert after[s] == m
    with open(f"{idx}/meta.json") as fh:
        assert json.load(fh)["n_docs"] == 58

    # surface equality vs a fresh dense build over the survivors
    keep_keys = {(r[0], r[1]) for r in rows} - set(victims)
    fresh_rows = [r for r in rows if (r[0], r[1]) in keep_keys]
    fresh_dir = str(tmp_path / "fresh")
    fresh = ingest(spark.createDataFrame(fresh_rows, DOCS_SCHEMA))
    build_index(fresh, fresh_dir, n_segments=3, resume=False)
    assert (_surface_by_key(spark, idx, _id_key_map(remaining))
            == _surface_by_key(spark, fresh_dir, _id_key_map(fresh)))


def test_delete_everything_empties_index_gracefully(spark, tmp_path):
    """Deleting every key must leave a readable empty store and an index
    that answers queries with [] — no schema-inference crashes anywhere."""
    from searchengine_spark.streaming.incremental import rebuild_segments
    from searchengine_spark.streaming.store import (
        delete_keys, init_store, read_store,
    )

    rows = gen_corpus_local(20)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=2, resume=False)
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]

    all_keys = read_store(spark, store).select("repo", "path")
    summary = delete_keys(all_keys, store, seg_size=seg_size)
    assert summary["n_removed"] == 20

    remaining = read_store(spark, store)
    assert remaining.count() == 0  # empty DF, schema intact
    rebuild_segments(remaining, idx, summary["dirty_segments"])
    assert read_index(spark, idx).count() == 0
    assert bm25_topk(spark, idx, "tamok", 10).collect() == []


def test_compact_store_restores_dense_global_ranks(spark, tmp_path):
    """After appends diverge from key order, compaction re-ranks densely to
    the fresh-ingest order (then any index must be fully rebuilt)."""
    from searchengine_spark.streaming.store import (
        compact_store, init_store, merge_batch, read_store,
    )

    rows = gen_corpus_local(30)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows[:20], DOCS_SCHEMA), store)
    merge_batch(spark.createDataFrame(rows[20:], DOCS_SCHEMA), store)
    meta = compact_store(spark, store)
    assert meta["n_docs"] == 30 and meta["max_doc_id"] == 29

    fresh = ingest(spark.createDataFrame(rows, DOCS_SCHEMA))
    want = {(r["repo"], r["path"]): r["doc_id"]
            for r in fresh.select("repo", "path", "doc_id").collect()}
    got = {(r["repo"], r["path"]): r["doc_id"]
           for r in read_store(spark, store).select("repo", "path", "doc_id").collect()}
    assert got == want


def test_store_meta_counts_come_from_ingest(spark, tmp_path):
    """init_store and compact_store take n_docs from the partition counts
    the ingest checkpoint tallies, not from a count of the written store:
    store_meta matches a count after init (with a duplicate key version
    deduped away) and after compaction (with deletes leaving holes), and
    init launches at most 6 Spark jobs, 2 fewer than with that count."""
    from searchengine_spark.streaming.store import (
        compact_store, delete_keys, init_store, merge_batch, read_store,
        store_meta,
    )

    def check():
        n = read_store(spark, store).count()
        assert store_meta(store) == {"n_kb": 8, "max_doc_id": n - 1,
                                     "n_docs": n}
        return n

    rows = gen_corpus_local(30)
    old = (*rows[0][:2], "0" + rows[0][2], *rows[0][3:])  # same key
    batch = spark.createDataFrame(rows[:20] + [old], DOCS_SCHEMA)
    batch.count()
    store = str(tmp_path / "store")
    sc = spark.sparkContext
    sc.setJobGroup("init-store", "init-store")
    try:
        init_store(batch, store, n_kb=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("init-store")) <= 6
    assert check() == 20

    merge_batch(spark.createDataFrame(rows[20:], DOCS_SCHEMA), store)
    delete_keys(spark.createDataFrame([r[:2] for r in rows[3:6]],
                                      "repo string, path string"), store)
    assert compact_store(spark, store) == store_meta(store)
    assert check() == 27


def test_read_store_kbs_direct_path_pruning(spark, tmp_path):
    """read_store(kbs=...) must produce exactly the rows of those key
    buckets while its scan lists ONLY the requested kb= directories — the
    10^12-file planning contract (no table-root listing, no schema
    inference over unaffected partitions).  Missing kb dirs are no-ops."""
    from searchengine_spark.streaming.store import init_store, read_store

    rows = gen_corpus_local(60)
    init_store(spark.createDataFrame(rows, DOCS_SCHEMA), str(tmp_path / "s"), n_kb=8)
    store = str(tmp_path / "s")

    full = read_store(spark, store)
    want_kbs = [0, 3]
    expect = {(r["repo"], r["path"]) for r in
              full.filter(full.kb.isin(want_kbs)).collect()}
    pruned = read_store(spark, store, kbs=want_kbs + [999])  # 999: missing dir
    got = {(r["repo"], r["path"]) for r in pruned.collect()}
    assert got == expect and got  # non-trivial bucket contents
    files = pruned.inputFiles()
    assert files and all("/kb=0/" in f or "/kb=3/" in f for f in files)
    assert pruned.schema == full.schema

def test_compact_job_sheds_segments_and_matches_fresh_build(spark, tmp_path):
    """jobs/compact.py end-to-end: after deletes leave id holes and appends
    grow the tail, compaction re-ranks densely and the full rebuild (a) sheds
    the now-empty tail segments everywhere (data/sites/manifests), (b) keeps
    the pinned codec params, (c) serves EXACTLY what a fresh build over the
    surviving corpus serves."""
    import importlib.util
    import os
    from pathlib import Path

    from searchengine_spark.streaming.store import (
        delete_keys, init_store, merge_batch, read_store,
    )

    spec = importlib.util.spec_from_file_location(
        "compact_job", Path(__file__).resolve().parents[1] / "jobs" / "compact.py")
    compact_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compact_job)

    rows = gen_corpus_local(60)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows[:40], DOCS_SCHEMA), store, n_kb=8)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=4,
                salt=4, n_buckets=4, resume=False)
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]  # pinned: 40/4 = 10

    # appends allocate past max id (span 60), deletes leave 30 holes
    merge_batch(spark.createDataFrame(rows[40:], DOCS_SCHEMA), store,
                seg_size=seg_size)
    doomed = read_store(spark, store).select("repo", "path").limit(30)
    delete_keys(doomed.localCheckpoint(), store, seg_size=seg_size)
    survivors = {(r["repo"], r["path"])
                 for r in read_store(spark, store).select("repo", "path").collect()}
    assert len(survivors) == 30

    out = compact_job.run_compact(spark, store, idx)
    assert out["store"]["n_docs"] == 30 and out["store"]["max_doc_id"] == 29
    assert out["index"]["n_segments"] == 3  # ceil(30/10): shed from 6 dirs
    assert out["index"]["seg_size"] == seg_size

    assert not os.path.exists(f"{idx}/dict")  # no dictionary dataset
    for sub in ("data", "sites"):
        segs = {int(n.split("=")[1]) for n in os.listdir(f"{idx}/{sub}")
                if n.startswith("segment=")}
        assert segs == {0, 1, 2}, (sub, segs)
    assert {m["segment"] for m in all_manifests(idx)} == {0, 1, 2}

    # byte-level serving parity vs a fresh build over the surviving rows
    fresh_rows = [r for r in rows if (r[0], r[1]) in survivors]
    fresh_idx = str(tmp_path / "fresh")
    build_index(ingest(spark.createDataFrame(fresh_rows, DOCS_SCHEMA)),
                fresh_idx, n_segments=3, salt=4, n_buckets=4, resume=False)
    any_hits = False
    for q in ("tamok velsor", "parse index config"):
        got = [(r["doc_id"], r["score"])
               for r in bm25_topk(spark, idx, q, 10).collect()]
        want = [(r["doc_id"], r["score"])
                for r in bm25_topk(spark, fresh_idx, q, 10).collect()]
        assert got == want, q
        any_hits = any_hits or bool(got)
    assert any_hits  # the parity above wasn't vacuous

def test_site_scope_spans_appended_tail_runs(spark, tmp_path):
    """Streaming appends give a repo NON-contiguous doc_id runs (its fresh
    prefix + a tail run past max id).  The sites sidecar must carry both,
    and a site-scoped query must see appended docs — while untouched
    segments' sites partitions are not rewritten."""
    from searchengine_spark.index.builder import read_site_ranges
    from searchengine_spark.streaming.incremental import rebuild_segments
    from searchengine_spark.streaming.store import (
        init_store, merge_batch, read_store,
    )

    rows = gen_corpus_local(60)
    store = str(tmp_path / "store")
    init_store(spark.createDataFrame(rows[:50], DOCS_SCHEMA), store)
    idx = str(tmp_path / "idx")
    build_index(read_store(spark, store), idx, n_segments=5,
                salt=4, n_buckets=4, resume=False)
    with open(f"{idx}/meta.json") as fh:
        seg_size = json.load(fh)["seg_size"]
    import os as _os
    seg0_sites_mtime = max(
        _os.stat(f"{idx}/sites/segment=0/{f}").st_mtime_ns
        for f in _os.listdir(f"{idx}/sites/segment=0"))

    # append 10 new keys -> ids 50..59 (tail runs for their repos)
    target = rows[50]
    summary = merge_batch(spark.createDataFrame(rows[50:], DOCS_SCHEMA),
                          store, seg_size=seg_size)
    rebuild_segments(read_store(spark, store), idx, summary["dirty_segments"])

    docs_now = read_store(spark, store)
    repo = target[0]
    ids = sorted(r["doc_id"] for r in
                 docs_now.filter(docs_now.repo == repo).collect())
    iv = read_site_ranges(idx, repo)
    assert {i for lo, hi in iv for i in range(lo, hi + 1)} == set(ids)
    assert len(iv) >= 2 or all(i >= 50 for i in ids)  # prefix + tail run

    # a term from an appended doc is findable under the site scope
    appended = docs_now.filter(docs_now.doc_id >= 50).filter(
        docs_now.repo == repo).collect()[0]
    token = next(w for w in appended["content"].split() if len(w) > 4)
    hits = bm25_topk(spark, idx, token, 60, site=repo).collect()
    assert appended["doc_id"] in {r["doc_id"] for r in hits}
    # scoping out the repo excludes its docs entirely
    other = [r["repo"] for r in docs_now.select("repo").distinct().collect()
             if r["repo"] != repo]
    if other:
        hits_other = bm25_topk(spark, idx, token, 60, site=other[0]).collect()
        assert appended["doc_id"] not in {r["doc_id"] for r in hits_other}

    # O(touched): segment 0 (untouched by the append) kept its sites files
    now = max(_os.stat(f"{idx}/sites/segment=0/{f}").st_mtime_ns
              for f in _os.listdir(f"{idx}/sites/segment=0"))
    assert now == seg0_sites_mtime


def test_commit_ordering_contract_non_monotonic(spark, tmp_path):
    """r3 VERDICT item 5: 'greatest commit wins' is LEXICOGRAPHIC and
    therefore only a CONVERGENCE rule for non-monotonic commit strings
    (git shas) — any replay / interleaving of the same batches must end at
    the same winning (commit, content) per key, the lexicographically
    greatest; ties go to the incoming batch (re-send == correction)."""
    from searchengine_spark.streaming.store import (
        init_store,
        merge_batch,
        read_store,
    )

    key = ("orgX/projX", "src/a.py")
    mk = lambda commit, content: spark.createDataFrame(  # noqa: E731
        [(key[0], key[1], commit, "py", content)], DOCS_SCHEMA)

    def final(store, batches):
        init_store(mk("mmm", "content-mmm"), store)
        for c, t in batches:
            merge_batch(mk(c, t), store)
        r = read_store(spark, store).collect()
        assert len(r) == 1
        return (r[0]["commit"], r[0]["content"], r[0]["doc_id"])

    # lex-smaller commit LOSES even if it arrives later (no recency signal)
    got = final(str(tmp_path / "s1"), [("aaa", "content-aaa")])
    assert got[:2] == ("mmm", "content-mmm")

    # lex-greater commit wins; doc_id is stable across the update
    got = final(str(tmp_path / "s2"), [("zzz", "content-zzz")])
    assert got[:2] == ("zzz", "content-zzz") and got[2] == 0

    # tie on commit: the incoming batch wins (correction semantics)
    got = final(str(tmp_path / "s3"), [("mmm", "content-corrected")])
    assert got[:2] == ("mmm", "content-corrected")

    # CONVERGENCE: two shuffled replays of the same non-monotonic batches
    # end at the identical row — the lexicographic max, not arrival order
    batches = [("d4e", "v-d4e"), ("0ab", "v-0ab"), ("9fc", "v-9fc")]
    a = final(str(tmp_path / "s4"), batches)
    b = final(str(tmp_path / "s5"), batches[::-1])
    assert a == b and a[:2] == ("mmm", "content-mmm")  # 'mmm' > '9fc' > ...

    # ...and with a commit above the seed, both orders converge on it
    batches = [("d4e", "v-d4e"), ("zz1", "v-zz1"), ("9fc", "v-9fc")]
    a = final(str(tmp_path / "s6"), batches)
    b = final(str(tmp_path / "s7"), batches[::-1])
    assert a == b and a[:2] == ("zz1", "v-zz1")
