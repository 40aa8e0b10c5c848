"""Driver-gate replica: every oracle-backed query must match DuckDB at
sf0.01 (row count, columns, order-insensitive values), and the entry
contract must hold.  Mirrors what the driver records in CORRECTNESS_r{N}."""

from __future__ import annotations

import pytest

from tests.gate_check import compare, duck_conn

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    return duck_conn(SF_DIR)


def _names():
    from searchengine_spark.gate import QUERIES

    return list(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_gate_query_matches_oracle(spark, con, name):
    ok, msg = compare(name, spark, con, SF_DIR)
    assert ok, msg


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns == ["doc_id", "score"]
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_minhash_lsh_no_false_positives_and_recall(spark):
    """LSH candidates verified by exact Jaccard ⊆ exact pairs; at this scale
    the band settings should recall most true pairs."""
    from searchengine_spark.gate import q_dedup_jaccard, q_dedup_minhash

    exact = {(r["doc_a"], r["doc_b"]) for r in q_dedup_jaccard(spark, SF_DIR).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in q_dedup_minhash(spark, SF_DIR).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_ann_lsh_subset_of_bruteforce_universe(spark):
    """LSH top-k similarities must be <= the brute-force top-1 and all ids
    must exist; recall is config-dependent so only sanity is asserted."""
    from searchengine_spark.gate import q_ann_cosine, q_ann_lsh

    bf = q_ann_cosine(spark, SF_DIR).collect()
    lsh = q_ann_lsh(spark, SF_DIR).collect()
    assert bf
    top = bf[0]["cos_sim"]
    for r in lsh:
        assert r["cos_sim"] <= top + 1e-9


def test_embed_lsh_pairs_subset_of_exact(spark):
    """LSH near-dup pairs ⊆ exact pairs (no false positives; verified
    similarity identical)."""
    from searchengine_spark.gate import q_embed_dedup, q_embed_dedup_lsh

    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in q_embed_dedup(spark, SF_DIR).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in q_embed_dedup_lsh(spark, SF_DIR).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]


def test_html_text_and_title_units(spark):
    """Jsoup-analog extraction edge cases (functions/html.py)."""
    from searchengine_spark.functions.html import html_text, html_title
    from pyspark.sql import functions as F

    rows = [
        ("<html><head><title>A &amp; B</title></head>"
         "<body><p>x<b>y</b>z</p><script>if(1<2){a();}</script></body></html>",),
        ("<p>no title &lt;here&gt;   much\n space</p>",),
        ("<style>h1 {color: blue}</style>text <!-- hidden -->after",),
        ("plain text, no markup",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "html string")
    got = df.select(
        html_title(F.col("html")).alias("t"),
        html_text(F.col("html")).alias("x"),
    ).collect()
    assert [(r["t"], r["x"]) for r in got] == [
        ("A & B", "A & B x y z"),  # every tag is a separator (pinned subset)
        ("", "no title <here> much space"),
        ("", "text after"),
        ("", "plain text, no markup"),
        ("", ""),
    ]


def _minhash_reference(text, n=3, k=64):
    """The portable md5 universal-hash family in plain Python: the
    signature of ``text``'s distinct space-split word n-grams, or None
    when it has none."""
    import hashlib

    from searchengine_spark.operators.dedup import (
        MERSENNE_P,
        MINHASH_A,
        MINHASH_B,
    )

    toks = (text or "").split(" ")
    grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)} - {""}
    if not grams:
        return None
    xs = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
          % MERSENNE_P for g in grams]
    return tuple(min((a * x + b) % MERSENNE_P for x in xs)
                 for a, b in zip(MINHASH_A[:k], MINHASH_B[:k]))


def test_minhash_arrow_jvm_signature_parity(spark):
    """The zero-shuffle Arrow signature path must agree VALUE-FOR-VALUE
    with a plain-Python evaluation of the portable md5 universal-hash
    family (the one the DuckDB oracle runs) — including on adversarial
    texts: empty, null, multi-space runs, short docs, unicode, duplicate
    grams."""
    from searchengine_spark.operators.dedup import _minhash_wide_arrow

    adversarial = [
        (1000, ""), (1001, None), (1002, "one two"),            # too short
        (1003, "a b c"), (1004, "a  b  c d"),                   # empty tokens
        (1005, "x y z x y z x y z"),                            # duplicate grams
        (1006, "héllo wörld übung straße ñandú"),               # unicode utf-8
        (1007, " leading and trailing spaces "),
        (1008, "\tTAB seperated\tnot space split here"),
    ]
    real = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(50).collect()
    )
    rows = adversarial + [(r["doc_id"], r["text"]) for r in real]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {i: sig for i, t in rows
            if (sig := _minhash_reference(t)) is not None}
    arrow = {r["doc_id"]: tuple(r[i] for i in range(1, 65))
             for r in _minhash_wide_arrow(docs, "text", "doc_id", 3, 64).collect()}
    assert {1000, 1001, 1002}.isdisjoint(want) and 1003 in want
    assert arrow == want


def test_dedup_components_transitive_chain_and_collapse(spark):
    """r5: connected components must close PAIR transitivity (a long chain
    where only adjacent docs pair up collapses to ONE cluster — several
    propagation rounds, not one), labels are the min reachable id, and
    collapse keeps exactly one representative per cluster plus every
    unpaired doc."""
    from searchengine_spark.operators.dedup import (
        collapse_near_dups,
        dedup_components,
    )

    # chain 10-11-...-17 (diameter 7), a 2-cluster {30, 31}, isolated 99
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)] + [(30, 31)],
        "doc_a long, doc_b long")
    comp = {r["id"]: r["component"]
            for r in dedup_components(pairs).collect()}
    assert comp == {**{i: 10 for i in range(10, 18)}, 30: 30, 31: 30}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in list(range(10, 18)) + [30, 31, 99]],
        "doc_id long, text string")
    kept = sorted(r["doc_id"]
                  for r in collapse_near_dups(docs, pairs).collect())
    assert kept == [10, 30, 99]  # one rep per cluster + the unpaired doc

    # empty pair set: nothing collapses
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_components(empty).count() == 0
    assert collapse_near_dups(docs, empty).count() == docs.count()
