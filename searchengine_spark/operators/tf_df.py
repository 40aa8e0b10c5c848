"""tf / df aggregation — the logical inverted index.

Reference semantics (SURVEY.md §2.4):

- A1 per-doc term frequency: ``LemmaFinderImpl.collectLemmas`` counts every
  emitted lemma per page (LemmaFinderImpl.java:34-47); stored as
  ``index_table.index_rank`` (IndexingServiceImpl.java:182-185).
- A2 per-site document frequency: +1 per page containing the lemma
  (IndexingServiceImpl.java:162-189) — i.e. ``count(*)`` over distinct
  (doc, lemma) pairs per repo.

Spark shape: A1 needs no shuffle — a document's tokens all sit in its own
row, so its term frequencies are counted inside the Arrow batch that
analyzes it (the build's analysis kernel).  A2 and doc lengths are one
hash-aggregate each over the tf rows, with map-side partial aggregation.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def term_frequencies(docs: DataFrame, text_col: str = "content",
                     normalizer: str = "pinned",
                     forms: dict[str, tuple[str, ...]] | None = None,
                     ) -> DataFrame:
    """docs(repo, doc_id, content) -> tf(repo, doc_id, lemma, tf).

    ≙ reference ``index_table`` rows (model/IndexTable.java:7-30).
    One ``mapInArrow`` over the build's analysis kernel
    (``analyzer._analyze_arrow_batch``), counting each batch's
    (doc, lemma) pairs with a pyarrow hash aggregation: no shuffle.  An
    unknown ``normalizer`` raises before any Spark job.
    """
    from ..analyzer import STOP_WORDS, _analyze_arrow_batch, _normalizer_fns

    table, stem_fn = _normalizer_fns(normalizer, forms)
    narrowed = docs.select("repo", "doc_id", text_col)

    def _batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        stop_set = pa.array(sorted(STOP_WORDS))
        exc_set = pa.array(list(table), type=pa.string())
        for batch in it:
            if batch.num_rows == 0:
                continue
            got = _analyze_arrow_batch(batch.column(2), table, stem_fn,
                                       stop_set, exc_set, pa, pc)
            if got is None:
                continue
            par, lemmas, _ = got
            tf = (
                pa.table({"i": par, "lemma": lemmas})
                .group_by(["i", "lemma"], use_threads=False)
                .aggregate([([], "count_all")])
            )
            i = tf["i"].combine_chunks()
            yield pa.record_batch(
                [
                    pc.cast(pc.take(batch.column(0), i), pa.string()),
                    pc.cast(pc.take(batch.column(1), i), pa.int64()),
                    pc.cast(tf["lemma"].combine_chunks(), pa.string()),
                    pc.cast(tf["count_all"].combine_chunks(), pa.int32()),
                ],
                names=["repo", "doc_id", "lemma", "tf"],
            )

    return narrowed.mapInArrow(
        _batches, schema="repo string, doc_id long, lemma string, tf int")


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """tf -> lemmas(repo, lemma, df).

    ≙ reference ``lemma`` table (model/LemmaTable.java:9-34): df = number of
    docs in the repo containing the lemma.  Each tf row is a distinct
    (doc, lemma) pair, so a plain count suffices (no countDistinct —
    SURVEY.md A2).
    """
    return tf.groupBy("repo", "lemma").agg(F.count("*").alias("df"))


def doc_lengths(tf: DataFrame) -> DataFrame:
    """Per-doc lemma-stream length (BM25 ``dl``): Σ tf per doc."""
    return tf.groupBy("repo", "doc_id").agg(F.sum("tf").alias("dl"))


def build_logical_index(docs_ingested: DataFrame,
                        text_col: str = "content") -> tuple[DataFrame, DataFrame]:
    """Ingested docs -> (tf, lemmas).  The §7-step-2 logical index."""
    tf = term_frequencies(docs_ingested, text_col=text_col)
    return tf, doc_frequencies(tf)
