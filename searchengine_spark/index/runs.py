"""Sorted posting runs: the build's unit of exchange.

A RUN is one ``(segment, lemma)``'s postings from ONE Arrow batch, sorted
by doc_id, shipped as aligned primitive lists::

    segment int, bucket int, lemma string,
    docs  array<bigint>   strictly ascending doc ids
    tfs   array<int>      per-doc term frequency (== occurrence count)
    dls   array<bigint>   per-doc length (Σ tf over the doc's lemmas)
    pos   array<int>      occurrence positions, (doc, pos)-ascending, aligned
                          with ``repeat(docs, tfs)`` — positional kernels only
    sum_tf bigint         Σ tfs (avgdl is a plain sum of this column)

The analysis kernel (``analyzer.doc_term_runs_arrow``) forms runs in the
same Python pass that tokenized the batch — one numpy lexsort per batch —
so each merge-encode is ONE exchange of pre-sorted runs into its
``(segment, bucket)`` group, with ``bucket = hash_bucket(lemma)`` already
computed.  Skew is bounded twice: a run is at most one Arrow batch of
postings (``spark.sql.execution.arrow.maxRecordsPerBatch`` docs), and a
hot term's runs spread with every other lemma of its bucket over
``n_segments x n_buckets`` groups.  Flat ``(doc_id, lemma, tf, dl)``
streams that do not come from the kernel (``analyzer_impl='jvm'``) go
through the same former as a ``mapInArrow`` (:func:`flat_runs`).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

STAT_RUN_DDL = ("segment int, bucket int, lemma string, docs array<bigint>, "
                "tfs array<int>, dls array<bigint>, sum_tf bigint")
POS_RUN_DDL = ("segment int, bucket int, lemma string, docs array<bigint>, "
               "tfs array<int>, dls array<bigint>, pos array<int>, "
               "sum_tf bigint")


def form_runs(doc: np.ndarray, lemma, dl: np.ndarray, seg_size: int,
              n_buckets: int, tf: np.ndarray | None = None,
              pos: np.ndarray | None = None):
    """Flat rows of one batch -> one run per ``(segment, lemma)``
    (a ``pyarrow.RecordBatch`` in :data:`STAT_RUN_DDL` /
    :data:`POS_RUN_DDL` order).

    ``doc``/``dl`` are int64 per row and ``lemma`` an Arrow string array.
    Rows are OCCURRENCES (``tf`` None: a run's tf is the row count per
    (doc, lemma); ``pos`` optional) or STAT rows (``tf`` given, one row per
    (doc, lemma)).  ``pos`` requires occurrence rows."""
    import pyarrow as pa

    from .builder import hash_bucket

    enc = lemma.dictionary_encode()
    code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # lemma-major, then doc (then pos): a (segment, lemma) run is
    # contiguous because the segment is monotone in doc within a lemma
    order = np.lexsort((doc, code) if pos is None else (pos, doc, code))
    d, c = doc[order], code[order]
    s = d // seg_size
    n = d.size
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (c[1:] != c[:-1]) | (s[1:] != s[:-1])
    new_doc = new_run.copy()
    new_doc[1:] |= d[1:] != d[:-1]
    doc_at = np.flatnonzero(new_doc)
    tfs = (np.diff(np.append(doc_at, n)) if tf is None
           else tf[order][doc_at]).astype(np.int32)
    run_at = np.flatnonzero(new_run)
    run_doc_at = np.flatnonzero(new_run[doc_at])
    doc_off = pa.array(np.append(run_doc_at, doc_at.size).astype(np.int32))
    run_code = c[run_at]
    # one md5 per DISTINCT lemma of the batch
    bucket = np.fromiter(
        (hash_bucket(lm, n_buckets) for lm in enc.dictionary.to_pylist()),
        dtype=np.int32, count=len(enc.dictionary))[run_code]
    cols = [
        pa.array(s[run_at].astype(np.int32)),
        pa.array(bucket),
        enc.dictionary.take(pa.array(run_code)),
        pa.ListArray.from_arrays(doc_off, pa.array(d[doc_at])),
        pa.ListArray.from_arrays(doc_off, pa.array(tfs)),
        pa.ListArray.from_arrays(doc_off, pa.array(dl[order][doc_at])),
    ]
    names = ["segment", "bucket", "lemma", "docs", "tfs", "dls"]
    if pos is not None:
        occ_off = pa.array(np.append(run_at, n).astype(np.int32))
        cols.append(pa.ListArray.from_arrays(
            occ_off, pa.array(pos[order].astype(np.int32))))
        names.append("pos")
    cols.append(pa.array(np.add.reduceat(tfs.astype(np.int64), run_doc_at)))
    names.append("sum_tf")
    return pa.record_batch(cols, names=names)


def flat_runs(stats: DataFrame, seg_size: int, n_buckets: int) -> DataFrame:
    """Flat ``(doc_id, lemma, tf, dl)`` stat rows -> runs, one
    :func:`form_runs` per Arrow batch (no exchange).  Each (doc, lemma)
    is one row, so runs of a lemma from different batches hold disjoint
    docs — the merge's per-group sort makes them one ascending list."""

    def _batches(it):
        for b in it:
            if b.num_rows == 0:
                continue
            col = b.column
            yield form_runs(
                col(0).to_numpy(zero_copy_only=False).astype(np.int64),
                col(1),
                col(3).to_numpy(zero_copy_only=False).astype(np.int64),
                seg_size, n_buckets,
                tf=col(2).to_numpy(zero_copy_only=False).astype(np.int64))

    return (stats.select("doc_id", "lemma", "tf", "dl")
            .mapInArrow(_batches, schema=STAT_RUN_DDL))
