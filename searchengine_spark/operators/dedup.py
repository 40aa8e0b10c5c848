"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is the crawl visited-set (ParseHtml.java:28-29,
F5 — exact URL dedup via a shared mutable set), replaced here by shuffle
dedup; the rest are first-class scale extensions:

- exact          content-hash groupBy (one shuffle, map-side combine)
- ngram_jaccard  exact word-shingle Jaccard similarity pairs (self-join on
                 shingle; the brute-force oracle for the sketch methods)
- minhash_lsh    MinHash signatures + LSH banding: candidate pairs meet in
                 band buckets (equi-join on (band, bucket)) instead of an
                 all-pairs cross join — the 100 TB path.
- simhash        60-bit SimHash fingerprints + hamming-distance candidate
                 pairs bucketed by 15-bit slices (index permutation trick).

Hash family (PORTABLE, engine-agnostic — lets the DuckDB gate oracle run
the IDENTICAL pipeline value-for-value): base value of a string s is the
first 15 hex chars of md5(s) as a 60-bit integer; the k MinHash functions
are the classic universal family h_i(x) = (a_i·(x mod P) + b_i) mod P with
P = 2^31 - 1 and seeded (a_i, b_i) — one md5 per string plus k
multiply-mods, cheaper than k string hashes and exactly expressible in
ANSI SQL.  MinHash signatures are one Arrow batch function
(:func:`_minhash_wide_arrow`); everything else is built-in-function
DataFrame code.
"""

from __future__ import annotations

import random
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

MERSENNE_P = 2_147_483_647  # 2^31 - 1
_rng = random.Random(1337)
MINHASH_A = [_rng.randrange(1, MERSENNE_P) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, MERSENNE_P) for _ in range(64)]
del _rng


def md5_60bit_col(col: Column) -> Column:
    """First 15 hex chars of md5 as a 60-bit BIGINT — the portable base
    hash.  DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _shingle_col(text_col: str, n: int):
    """array<string> of distinct word n-grams, JVM-side.

    Guarded: ``sequence(0, size-n)`` would DESCEND for docs shorter than n
    tokens (Spark sequence semantics), so short docs map to array() instead.
    Splits on a single space to mirror the oracle's ``string_split``.
    """
    arr = f"split({text_col}, ' ')"
    grams = F.expr(
        f"CASE WHEN size({arr}) >= {n} THEN "
        f"transform(sequence(0, size({arr}) - {n}), "
        f"i -> concat_ws(' ', slice({arr}, i + 1, {n}))) "
        f"ELSE array() END"
    )
    return F.array_distinct(grams)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fp, keep_id, n_dups): one row per distinct content hash; keep the
    smallest id (deterministic winner).  Single hash-aggregate shuffle."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-grams per doc (empty for short docs)."""
    grams = _shingle_col(text_col, n)
    return (
        docs.select(id_col, F.explode(grams).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard pairs (a < b) over word n-gram sets.

    Self-equi-join on shingle -> per-pair intersection counts -> sizes join.
    O(Σ postings²) per hot shingle: correct at test scale and the oracle for
    the LSH path; at 100 TB use :func:`minhash_lsh_pairs` instead.
    """
    sh = shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_wide_arrow(docs: DataFrame, text_col: str, id_col: str, n: int,
                        num_hashes: int) -> DataFrame:
    """(id, _h0.._h{k-1}) — _hi = min over the doc's distinct word
    n-grams (as :func:`_shingle_col` forms them) of the portable universal
    hash h_i (module docstring); docs without an n-gram get no row.

    A doc's shingles all live in its own input row, so the whole signature
    is computable map-side inside one Arrow batch: tokenize, build word
    n-grams, md5→60-bit base value, and a (num_hashes × shingles) numpy
    broadcast of ``(a·x + b) % P`` min-reduced per doc.  No explode, no
    shuffle, no interpreted higher-order functions.  Values are EXACTLY
    the portable family, so the DuckDB gate oracle checks them value for
    value, and tests/test_gate.py against a plain-Python evaluation.

    uint64 is overflow-safe: a,x < 2^31 so a·x + b < 2^62 + 2^31.
    """
    import numpy as np

    schema = f"{id_col} long, " + ", ".join(f"_h{i} long" for i in range(num_hashes))
    A = np.array(MINHASH_A[:num_hashes], dtype=np.uint64).reshape(-1, 1)
    B = np.array(MINHASH_B[:num_hashes], dtype=np.uint64).reshape(-1, 1)
    names = [id_col] + [f"_h{i}" for i in range(num_hashes)]
    narrowed = docs.select(id_col, text_col)

    def _batches(it):
        import hashlib

        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            if batch.num_rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            row_idx: list[int] = []
            sigs: list[np.ndarray] = []
            for i, txt in enumerate(texts):
                toks = (txt or "").split(" ")
                if len(toks) < n:
                    continue  # too short for one n-gram
                # set(): min is dup-invariant, and dedup halves the md5 calls
                grams = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
                grams.discard("")  # as shingles() drops empty grams
                if not grams:
                    continue
                xs = np.fromiter(
                    (int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MERSENNE_P
                     for g in grams),
                    dtype=np.uint64, count=len(grams),
                )
                row_idx.append(i)
                sigs.append(((A * xs + B) % MERSENNE_P).min(axis=1))
            if not sigs:
                continue
            mins = np.stack(sigs)  # (rows, k)
            ids = pc.cast(pc.take(batch.column(0), pa.array(row_idx, pa.int32())),
                          pa.int64())
            cols = [ids] + [pa.array(mins[:, k].astype(np.int64))
                            for k in range(num_hashes)]
            yield pa.record_batch(cols, names=names)

    return narrowed.mapInArrow(_batches, schema=schema)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5, verify: bool = True,
                      ) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    num_hashes/bands rows per band; two docs collide if any band signature
    matches (equi-join on (band, hash-of-rows)).  ``verify=True`` re-checks
    candidates with exact n-gram Jaccard (no false positives; recall is the
    usual LSH S-curve).  The band join is the scale path: shuffle keyed on
    (band, bucket) — hot buckets are bounded by band width.  Signatures
    are computed map-side by :func:`_minhash_wide_arrow`.
    """
    rows_per_band = num_hashes // bands
    # materialize signatures before banding/self-join: projection collapse
    # would otherwise inline the 64-hash expression into every band column
    # on BOTH join sides (and the doubled tree falls out of codegen)
    wide = _minhash_wide_arrow(docs, text_col, id_col, n, num_hashes).cache()
    # band bucket = comma-joined signature slice (plain concat_ws over the
    # wide columns — no interpreted higher-order functions anywhere)
    band_structs = [
        F.struct(
            F.lit(bidx).alias("band"),
            F.concat_ws(",", *[
                F.col(f"_h{bidx * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ]).alias("bucket"),
        )
        for bidx in range(bands)
    ]
    banded = wide.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return cand
    # verify ONLY the candidate pairs: join the pair list to the RAW texts
    # (a cheap columnar (id, text) scan — no shingle work on non-candidate
    # rows) and evaluate the exact-Jaccard shingle expressions on the
    # joined pairs, i.e. O(|candidates|) interpreted-HOF evaluations
    # instead of O(corpus) on each side.  The candidate side is tiny after
    # banding, so AQE turns both joins into broadcasts at runtime (never
    # forced — at 100 TB a pathological corpus could make it large, and
    # then it must shuffle).  The projections computing _sha/_shb sit
    # ABOVE the joins by construction, so Catalyst cannot push the shingle
    # work below the pair filter.
    ta = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    joined = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("_sha", F.array_remove(F.array_distinct(_shingle_col("_ta", n)), ""))
        .withColumn("_shb", F.array_remove(F.array_distinct(_shingle_col("_tb", n)), ""))
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
    return (
        joined.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 60  # the portable base hash is 60 bits (15 hex chars of md5)


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: long) — 60-bit SimHash over word tokens.

    Per bit i: sum over tokens of ±1 by bit i of the portable 60-bit md5
    hash (module docstring); bit set if the sum > 0.  The DuckDB gate
    oracle computes the identical fingerprint in SQL."""
    # Explode tokens and run 60 plain conditional-sum aggregates over the
    # token hash — nested higher-order functions would be interpreted
    # (µs/eval); this shape is whole-stage codegen with map-side combine.
    toks = docs.select(
        id_col,
        F.explode(F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t <> '')")).alias("_t"),
    ).select(id_col, md5_60bit_col(F.col("_t")).alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    packed = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        packed = packed.bitwiseOR(
            F.when(F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select(id_col, packed.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup candidate pairs by SimHash hamming distance <= max_hamming.

    Block trick: split the 60-bit fingerprint into 4 x 15-bit slices; any
    pair within hamming<=3 shares at least one exact slice -> equi-join on
    (block_idx, block_value), then verify the true hamming distance with
    bit_count.  Avoids the all-pairs cross join at scale.
    """
    # materialize before the self-join (both sides would re-derive the
    # 60-aggregate fingerprint plan otherwise)
    sh = simhash64(docs, text_col, id_col).cache()
    exploded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> "
                "struct(i AS blk, shiftright(simhash, i * 15) & 32767 AS val))"
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.blk", "b.val")
    a = exploded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "blk", "val")
    b = exploded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "blk", "val")
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_components(pairs: DataFrame, id_a: str = "doc_a",
                     id_b: str = "doc_b", max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (id, component), where
    ``component`` is the SMALLEST doc id reachable through the pair graph
    — the deterministic cluster representative every dedup policy needs
    (drop-all-but-one, keep-longest-then-min-id, etc.).

    The pair producers (``ngram_jaccard_pairs``, ``minhash_lsh_pairs``,
    ``simhash_pairs``) emit transitive evidence: A~B and B~C without A~C.
    Collapsing on raw pairs would keep one doc per PAIR, not per cluster;
    components close the transitivity.

    Shape (min-label propagation): labels start as self; each round every
    node takes the min of its own and its neighbours' labels — one
    shuffle join + min-aggregate per round, converging in O(cluster
    diameter) rounds.  Near-dup graphs are quasi-cliques (LSH bands put
    similar docs in shared buckets), so diameters are tiny; ``max_iter``
    caps pathological chains.  Each round materializes via
    localCheckpoint (bounded lineage — iterative algorithms must not
    stack ``max_iter`` joins into one plan), and convergence is detected
    by the label SUM: labels only ever decrease, so an unchanged sum is
    exactly a fixpoint — one cheap scalar agg per round, no extra join.
    Everything is O(pairs + nodes-in-pairs); docs outside any pair never
    enter the computation."""
    e = pairs.select(F.col(id_a).cast("long").alias("src"),
                     F.col(id_b).cast("long").alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("component", F.col("id"))
              .localCheckpoint())
    prev = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("_nmin"))
        )
        labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce("_nmin", "component")).alias("component"),
            )
            .localCheckpoint()
        )
        cur = labels.agg(F.sum("component")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels


def collapse_near_dups(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id",
                       id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Drop every clustered doc except its component representative (the
    cluster's min id); docs in no near-dup pair pass through untouched.
    One anti-join against the (small — clustered docs only) loser set."""
    comp = dedup_components(pairs, id_a, id_b)
    losers = (comp.filter(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")
