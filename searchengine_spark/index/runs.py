"""Sorted posting runs: the build's unit of exchange.

A RUN is one ``(segment, lemma)``'s postings from ONE Arrow batch, sorted
by doc_id, shipped as aligned primitive lists::

    segment int, bucket int, lemma string,
    docs  array<bigint>   strictly ascending doc ids
    tfs   array<int>      per-doc term frequency (== occurrence count)
    pos   array<int>      occurrence positions, (doc, pos)-ascending, aligned
                          with ``repeat(docs, tfs)``

No run carries a doc's length: each batch ships one NORMS run per
segment instead (lemma ``builder.NORMS_LEMMA``, bucket
``builder.NORMS_BUCKET``): the batch's docs with dl > 0, with ``tfs`` =
their lengths and no positions.  The same merge writes a segment's norms
runs as its one norms row, which serving reads for dl.

The analysis kernel (``analyzer.doc_term_runs_arrow``) forms runs in the
same Python pass that tokenized the batch — one numpy lexsort per batch —
so each merge-encode is ONE exchange of pre-sorted runs into its
``(segment, bucket)`` group, with ``bucket = hash_bucket(lemma)`` already
computed.  Skew is bounded twice: a run is at most one Arrow batch of
postings (``spark.sql.execution.arrow.maxRecordsPerBatch`` docs), and a
hot term's runs spread with every other lemma of its bucket over
``n_segments x n_buckets`` groups.

The same pass also summarizes the batch's DOCS per segment
(:func:`doc_stats`): doc count, the sha256 lineage XOR, Σ dl and the
repo id runs.  The build reads them from an accumulator instead of
querying the corpus again for avgdl, manifests and the sites sidecar
(:func:`merge_sites` rejoins the runs that batches split).
"""

from __future__ import annotations

import numpy as np

# the manifest's ``input_sha_xor`` lineage is the XOR of this per-doc value
# (the first 60 bits of the hex sha256), evaluated by the JVM
SHA_PREFIX = "cast(conv(substring(sha256, 1, 15), 16, 10) as bigint)"
RUN_DDL = ("segment int, bucket int, lemma string, docs array<bigint>, "
           "tfs array<int>, pos array<int>")


def form_runs(ids: np.ndarray, dl: np.ndarray, par: np.ndarray, lemma,
              pos: np.ndarray, seg_size: int, n_buckets: int) -> list:
    """One batch's lemma occurrences -> its runs, as two
    ``pyarrow.RecordBatch`` in :data:`RUN_DDL` order: one run per
    ``(segment, lemma)``, then one NORMS run per segment.

    ``ids``/``dl`` are the batch's doc ids and lengths (int64 per doc);
    occurrence i belongs to doc ``par[i]``, has lemma ``lemma[i]`` (an
    Arrow string array) and position ``pos[i]``.  A run's tf is its
    occurrence count per doc.  The norms run of a segment carries
    ``builder.NORMS_LEMMA`` in ``builder.NORMS_BUCKET``: its docs are the
    segment's docs with dl > 0, its tfs their lengths, and it has no
    positions.  A lemma equal to the reserved one raises."""
    import pyarrow as pa

    from .builder import NORMS_BUCKET, NORMS_LEMMA, hash_bucket

    doc = ids[par]
    enc = lemma.dictionary_encode()
    names = enc.dictionary.to_pylist()
    if NORMS_LEMMA in names:
        raise ValueError(f"the analyzer emitted the reserved norms lemma "
                         f"{NORMS_LEMMA!r}")
    code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # lemma-major, then doc, then pos: a (segment, lemma) run is
    # contiguous because the segment is monotone in doc within a lemma
    order = np.lexsort((pos, doc, code))
    d, c = doc[order], code[order]
    s = d // seg_size
    n = d.size
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (c[1:] != c[:-1]) | (s[1:] != s[:-1])
    new_doc = new_run.copy()
    new_doc[1:] |= d[1:] != d[:-1]
    doc_at = np.flatnonzero(new_doc)
    tfs = np.diff(np.append(doc_at, n)).astype(np.int32)
    run_at = np.flatnonzero(new_run)
    run_doc_at = np.flatnonzero(new_run[doc_at])
    doc_off = pa.array(np.append(run_doc_at, doc_at.size).astype(np.int32))
    run_code = c[run_at]
    # one md5 per DISTINCT lemma of the batch
    bucket = np.fromiter((hash_bucket(lm, n_buckets) for lm in names),
                         dtype=np.int32, count=len(names))[run_code]
    occ_off = pa.array(np.append(run_at, n).astype(np.int32))
    names_out = ["segment", "bucket", "lemma", "docs", "tfs", "pos"]
    terms = pa.record_batch([
        pa.array(s[run_at].astype(np.int32)),
        pa.array(bucket),
        enc.dictionary.take(pa.array(run_code)),
        pa.ListArray.from_arrays(doc_off, pa.array(d[doc_at])),
        pa.ListArray.from_arrays(doc_off, pa.array(tfs)),
        pa.ListArray.from_arrays(occ_off,
                                 pa.array(pos[order].astype(np.int32))),
    ], names=names_out)

    # the occurrences name at least one doc, so some dl is > 0
    has = np.flatnonzero(dl > 0)
    o = has[np.argsort(ids[has])]
    nd, nl = ids[o], dl[o]
    ns = nd // seg_size
    seg_at = np.flatnonzero(np.append(True, ns[1:] != ns[:-1]))
    k = seg_at.size
    norm_off = pa.array(np.append(seg_at, nd.size).astype(np.int32))
    norms = pa.record_batch([
        pa.array(ns[seg_at].astype(np.int32)),
        pa.array(np.full(k, NORMS_BUCKET, dtype=np.int32)),
        pa.array([NORMS_LEMMA] * k, type=terms.column(2).type),
        pa.ListArray.from_arrays(norm_off, pa.array(nd)),
        pa.ListArray.from_arrays(norm_off, pa.array(nl.astype(np.int32))),
        pa.ListArray.from_arrays(pa.array(np.zeros(k + 1, dtype=np.int32)),
                                 pa.array([], type=pa.int32())),
    ], names=names_out)
    return [terms, norms]


def doc_stats(doc: np.ndarray, dl: np.ndarray, repo, sha_prefix,
              seg_size: int) -> dict:
    """One batch's docs -> ``{segment: {"docs", "sha_xor", "dl",
    "sites"}}``, in the shape :class:`session.MergeDicts` merges (with
    ``xor=("sha_xor",)``).

    Every doc counts, empty ones too.  ``doc``/``dl`` are int64 per doc,
    ``repo`` an Arrow string array and ``sha_prefix`` the Arrow int64
    values of :data:`SHA_PREFIX` (null contributes nothing, as in SQL
    ``bit_xor``).  ``sites`` lists the batch's ``(repo, lo, hi)`` runs of
    consecutive doc ids — the same repo's docs in another batch can
    continue a run, which :func:`merge_sites` rejoins."""
    import pyarrow.compute as pc

    enc = repo.dictionary_encode()
    code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    names = enc.dictionary.to_pylist()
    sha = pc.fill_null(sha_prefix, 0).to_numpy(zero_copy_only=False)
    seg = doc // seg_size
    order = np.lexsort((doc, code, seg))
    d, c, s = doc[order], code[order], seg[order]
    n = d.size
    new_seg = np.ones(n, dtype=bool)
    new_seg[1:] = s[1:] != s[:-1]
    new_run = new_seg.copy()
    new_run[1:] |= (c[1:] != c[:-1]) | (d[1:] != d[:-1] + 1)
    seg_at = np.flatnonzero(new_seg)
    docs = np.diff(np.append(seg_at, n))
    xors = np.bitwise_xor.reduceat(sha.astype(np.int64)[order], seg_at)
    dls = np.add.reduceat(dl[order], seg_at)
    out = {int(s[a]): {"docs": int(k), "sha_xor": int(x), "dl": int(t),
                       "sites": []}
           for a, k, x, t in zip(seg_at, docs, xors, dls)}
    run_at = np.flatnonzero(new_run)
    for lo, hi in zip(run_at, np.append(run_at[1:], n) - 1):
        out[int(s[lo])]["sites"].append((names[c[lo]], int(d[lo]), int(d[hi])))
    return out


def merge_sites(runs) -> list[tuple[str, int, int]]:
    """``(repo, lo, hi)`` runs of consecutive doc ids -> each repo's
    maximal runs, sorted.  Two runs of one repo join exactly when
    ``lo == prev_hi + 1``, so over a segment's batch runs this is the
    gaps-and-islands result (``doc_id - row_number`` per repo)."""
    out: list[tuple[str, int, int]] = []
    for repo, lo, hi in sorted(runs):
        if out and out[-1][0] == repo and lo == out[-1][2] + 1:
            out[-1] = (repo, out[-1][1], hi)
        else:
            out.append((repo, lo, hi))
    return out
