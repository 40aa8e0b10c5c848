from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from searchengine_spark.corpus import gen_corpus_local, ingest  # noqa: E402
from searchengine_spark.session import get_spark  # noqa: E402

N_SMOKE = 200  # FIXTURES.md t1 scale


@pytest.fixture(scope="session")
def spark():
    # the whole suite shares one Spark JVM whose heap grows lazily; the
    # test data fits a 4g heap (the benchmark runs with the same cap), which
    # leaves the rest of a shared host to everything else.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_rows():
    return gen_corpus_local(N_SMOKE)


@pytest.fixture(scope="session")
def docs(spark, corpus_rows):
    from searchengine_spark.schema import DOCS_SCHEMA

    df = ingest(spark.createDataFrame(corpus_rows, DOCS_SCHEMA)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def oracle(corpus_rows):
    from tests.oracle import Oracle

    return Oracle(corpus_rows)


@pytest.fixture(scope="session")
def logical_index(docs):
    from searchengine_spark.operators.tf_df import build_logical_index

    tf, lemmas = build_logical_index(docs)
    tf = tf.cache()
    lemmas = lemmas.cache()
    tf.count(), lemmas.count()
    return tf, lemmas
