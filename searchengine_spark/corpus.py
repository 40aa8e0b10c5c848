"""Deterministic synthetic source-code corpus + ingest (doc_id, sha256).

FIXTURES.md §1: a seeded generator of the BASELINE.json ``input_hint`` table
``(repo, path, commit, lang, content)`` with Zipf-skewed repo sizes and term
frequencies, mixed identifier styles, and planted marker terms so every code
path of the engine (df threshold, conjunctive AND, proximity, multi-lemma,
repo scoping, skewed merge) is exercised at tiny scale.  Seed=42 throughout;
generation is a pure function of (doc index, n_docs, seed) so it is identical
regardless of partitioning or cluster size.

Ingest adds the two derived columns mandated by FIXTURES.md §1 /
BASELINE.json:

- ``doc_id``  deterministic, stable across resumes: global rank of
  ``(repo, path, commit)``.  NOT ``monotonically_increasing_id`` (partition-
  dependent, SURVEY.md §4 item 4).  Computed scalably: range-partition by the
  key, per-partition ``row_number`` + broadcast partition offsets — no global
  single-partition window.
- ``sha256``  hex sha256 of UTF-8 content, via the JVM built-in ``sha2`` —
  the per-row invariant checked against the source (input_hint).
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator
from typing import TYPE_CHECKING

from .schema import DOCS_SCHEMA
from .session import MergeDicts

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame, SparkSession

SEED = 42
N_REPOS = 8
LANGS = ["py", "java", "js", "md"]
LANG_WEIGHTS = [60, 25, 10, 5]
DF_THRESHOLD_FIXTURE = 50  # FIXTURES.md: threshold scaled to fixture size

# --- pinned vocabulary (seeded, module-level, same everywhere) --------------

_SYLS = ["ta", "ren", "mok", "vel", "sor", "bin", "qua", "lix", "dro", "fem",
         "gul", "haz", "jor", "kip", "lum", "nar", "pex", "rud", "sil", "tov"]


def _make_vocab(n: int = 2000, seed: int = SEED) -> list[str]:
    rng = random.Random(seed)
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < n:
        w = "".join(rng.choice(_SYLS) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


VOCAB = _make_vocab()
# Zipf weights: p(rank) ~ 1/(rank+1)^1.1  (term skew; FIXTURES.md §1)
_WEIGHTS = [1.0 / (i + 1) ** 1.1 for i in range(len(VOCAB))]
_CUM = []
_acc = 0.0
for _w in _WEIGHTS:
    _acc += _w
    _CUM.append(_acc)

# Zipf repo sizes (s=1.2): repo r gets share ~ 1/(r+1)^1.2
_REPO_W = [1.0 / (r + 1) ** 1.2 for r in range(N_REPOS)]
_REPO_CUM = []
_acc = 0.0
for _w in _REPO_W:
    _acc += _w
    _REPO_CUM.append(_acc / sum(_REPO_W))


def repo_name(r: int) -> str:
    return f"org{r % 4}/proj{r}"


def commit_of(repo: str, seed: int = SEED) -> str:
    return hashlib.sha1(f"{seed}:{repo}".encode()).hexdigest()


def _repo_of_index(i: int, n_docs: int, rng: random.Random) -> int:
    u = rng.random()
    for r, c in enumerate(_REPO_CUM):
        if u <= c:
            return r
    return N_REPOS - 1


def gen_doc(i: int, n_docs: int, seed: int = SEED) -> tuple[str, str, str, str, str]:
    """Pure function of (i, n_docs, seed) -> one corpus row."""
    rng = random.Random((seed << 32) ^ i)
    r = _repo_of_index(i, n_docs, rng)
    repo = repo_name(r)
    lang = rng.choices(LANGS, weights=LANG_WEIGHTS, k=1)[0]
    path = f"src/pkg{i % 37}/mod_{i}.{lang}"
    commit = commit_of(repo, seed)

    # special docs (FIXTURES.md markers)
    if i == n_docs - 1:
        return (repo, path, commit, lang, "")  # empty-content doc
    if i == n_docs - 2:
        return (repo, path, commit, lang, "!!! ;;; ... 123 @@@ %%%")  # punct-only
    if i == n_docs - 3 and n_docs >= 6:
        # duplicate of doc 0's content in a different repo (same sha256)
        r0 = random.Random((seed << 32) ^ 0)
        other = _repo_of_index(0, n_docs, r0)
        dup_repo = repo_name((other + 1) % N_REPOS)
        base = gen_doc(0, n_docs, seed)
        return (dup_repo, path, commit_of(dup_repo, seed), lang, base[4])

    n_tok = rng.randint(50, 400)
    toks: list[str] = []
    for _ in range(n_tok):
        u = rng.random() * _CUM[-1]
        lo, hi = 0, len(_CUM) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if _CUM[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        w = VOCAB[lo]
        style = rng.random()
        if style < 0.08:  # camelCase pair
            w2 = VOCAB[rng.randrange(len(VOCAB))]
            w = w + w2.capitalize()
        elif style < 0.16:  # snake_case pair
            w2 = VOCAB[rng.randrange(len(VOCAB))]
            w = f"{w}_{w2}"
        elif style < 0.20:  # decorated with digits/punct
            w = f"{w}{rng.randrange(10)}(x)"
        toks.append(w)

    # planted markers ---------------------------------------------------
    if i % 3 == 0:
        toks.insert(rng.randrange(len(toks)), "kw_common_foo")  # > df threshold
    if i in (1, 5, 9):
        toks.insert(rng.randrange(len(toks)), "kw_rare_xyzzy")  # exactly 3 docs
    if i in (2, 6):
        toks.append("kw_pair_alpha kw_pair_beta")  # adjacent (proximity pass)
    elif i in (3, 7, 11, 13):
        toks.insert(0, "kw_pair_alpha")
        toks.append("kw_pair_beta")  # far apart (proximity fail)
    if i % 11 == 4:
        toks.append("kw_multi_норма")  # multi-lemma marker (норма -> 2 forms)

    return (repo, path, commit, lang, " ".join(toks))


def gen_corpus_local(n_docs: int, seed: int = SEED) -> list[tuple[str, str, str, str, str]]:
    return [gen_doc(i, n_docs, seed) for i in range(n_docs)]


def corpus_df(spark: SparkSession, n_docs: int, seed: int = SEED,
              partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range(n) -> mapInPandas.

    Output is identical for any partition count (gen_doc is pure in i).
    """
    rng_parts = partitions or max(2, min(n_docs // 500, 64))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = [gen_doc(int(i), n_docs, seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return (
        spark.range(0, n_docs, numPartitions=rng_parts)
        .mapInPandas(_gen, schema=DOCS_SCHEMA)
    )


# --- ingest: deterministic doc_id + sha256 ----------------------------------


def ingest(docs: DataFrame, key_partitions: int | None = None) -> DataFrame:
    """Add ``doc_id`` (global rank of (repo, path, commit)) and ``sha256``
    (see :func:`_ingest`)."""
    return _ingest(docs, key_partitions)[0]


def _ingest(docs: DataFrame, key_partitions: int | None = None
            ) -> tuple[DataFrame, int]:
    """:func:`ingest`, plus the row count its checkpoint job tallied.

    Scale path: ONE range shuffle on the key, then a fully map-side rank
    assignment — sort within partitions, append the per-partition position
    via ``mapInArrow`` (a running counter across each partition's Arrow
    batches; the content strings are never touched), and materialize ONCE
    (localCheckpoint).  Per-partition row counts ride the SAME
    materialization job as an accumulator (exactly-once: result-stage
    accumulator updates are applied only for the first successful attempt
    of each partition), so no separate counts job scans the corpus; the
    global rank is then ``position + partition offset``, a pure-JVM
    array-literal lookup over the checkpointed rows — cheap enough that
    downstream consumers need no second materialization.

    Equivalent to one global row_number with no single-partition
    bottleneck (SURVEY.md §4 item 4) and no SECOND shuffle: a
    ``Window.partitionBy`` re-shuffle here was getting AQE-coalesced into
    ~64 MB chunks, silently capping every downstream map stage's
    parallelism at 2-3 tasks regardless of core count.  The checkpoint
    also freezes the range partitioning: boundaries come from SAMPLING, so
    separate executions of the same lineage can land rows in different
    partitions — offsets and positions must come from ONE frozen
    execution or doc_ids collide (observed at 40k docs).  At real scale
    this materialization is a staging write to durable storage.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    key = ["repo", "path", "commit"]
    sc = docs.sparkSession.sparkContext
    nparts = key_partitions or sc.defaultParallelism

    ranged = docs.repartitionByRange(nparts, *key).withColumn(
        "_pid", F.spark_partition_id())
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ranged.schema.fields
    )

    counts_acc = sc.accumulator({}, MergeDicts())

    def _position(batches):
        import pyarrow as pa

        seen = 0
        pid = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if pid is None:
                pid = b.column(b.schema.get_field_index("_pid"))[0].as_py()
            ids = pa.array(range(seen, seen + b.num_rows), type=pa.int64())
            seen += b.num_rows
            yield b.append_column(pa.field("_lpos", pa.int64()), ids)
        if pid is not None:
            counts_acc.add({int(pid): seen})

    staged = (
        ranged.sortWithinPartitions(*key)
        .mapInArrow(_position, schema=f"{out_fields}, _lpos long")
        .withColumn("sha256", F.sha2(F.col("content"), 256))
        .localCheckpoint()  # the ONLY corpus materialization in ingest
    )
    counts = dict(counts_acc.value)
    offsets, acc = [], 0
    for pid in range(staged.rdd.getNumPartitions()):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    # offset-by-pid as a JVM array-literal lookup (0-based getItem) — on a
    # 10k+-partition cluster build this would be a broadcast join instead
    off = F.array(*[F.lit(o) for o in offsets]) if offsets else F.array(F.lit(0))
    return (
        staged.withColumn("doc_id", (F.col("_lpos") + off[F.col("_pid")])
                          .cast(LongType()))
        .select(*docs.columns, "doc_id", "sha256")
    ), acc


def sha256_invariant_ok(ingested: DataFrame) -> bool:
    """Per-row invariant (BASELINE.json input_hint): stored sha256 equals
    sha256 of the content actually read."""
    from pyspark.sql import functions as F

    bad = ingested.filter(F.sha2(F.col("content"), 256) != F.col("sha256")).limit(1).count()
    return bad == 0
