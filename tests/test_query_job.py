"""jobs/query.py in-process: the ``--batch`` shapes print what the library
serves for each query, and bad flags fail before Spark starts."""

from __future__ import annotations

import json

import pytest

from searchengine_spark.corpus import gen_corpus_local
from searchengine_spark.index.builder import build_index
from searchengine_spark.index.serve import enrich_hits
from searchengine_spark.index.wand import QueryEngine
from searchengine_spark.schema import DOCS_SCHEMA
from searchengine_spark.streaming.store import init_store, read_store

QUERIES = ["tamok velsor", "kw_rare_xyzzy", "sorvel", "zz_nope_zz"]
PHRASES = ["kw_pair_alpha kw_pair_beta", "sorvel tamok", "zz_nope_zz tamok"]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("query_job")
    store = str(root / "store")
    init_store(spark.createDataFrame(gen_corpus_local(120), DOCS_SCHEMA),
               store)
    idx = str(root / "idx")
    build_index(read_store(spark, store), idx, n_segments=2, salt=2,
                n_buckets=4, resume=False)
    return root, store, idx


def _run(monkeypatch, capsys, argv) -> list[dict]:
    import jobs.query as job

    monkeypatch.setattr("sys.argv", ["query.py"] + argv)
    job.main()
    return [json.loads(ln) for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")]


def test_batch_store_matches_engine_and_enrich_hits(spark, env, monkeypatch,
                                                    capsys):
    root, store, idx = env
    qfile = root / "queries.txt"
    qfile.write_text("\n".join(QUERIES) + "\n")
    out = _run(monkeypatch, capsys, ["--index", idx, "--batch", str(qfile),
                                     "--store", store, "-k", "5"])
    assert out[0]["n_queries"] == len(QUERIES)
    eng = QueryEngine(spark, idx)
    for q, line in zip(QUERIES, out[1:], strict=True):
        want = [{**r.asDict(), "relevance": round(r["relevance"], 4)}
                for r in enrich_hits(spark, store, q, eng.topk_rows(
                    q, 5, mode="maxscore")).collect()]
        assert line == {"query": q, "hits": want}
    assert out[1]["hits"] and not out[-1]["hits"]


def test_batch_phrase_matches_engine(spark, env, monkeypatch, capsys):
    root, _, idx = env
    pfile = root / "phrases.txt"
    pfile.write_text("\n".join(PHRASES) + "\n")
    out = _run(monkeypatch, capsys, ["--index", idx, "--batch", str(pfile),
                                     "--phrase", "-k", "5"])
    assert out[0]["n_phrases"] == len(PHRASES)
    eng = QueryEngine(spark, idx)
    for ph, line in zip(PHRASES, out[1:], strict=True):
        want = [{"doc_id": d, "phrase_tf": t}
                for d, t in eng.phrase_rows(ph, 5)]
        assert line == {"phrase": ph, "hits": want}
    assert out[1]["hits"]


def test_single_phrase_matches_engine(spark, env, monkeypatch, capsys):
    """``--phrase`` without ``--batch`` serves each query from the index's
    positions: one line per phrase, the engine's rows."""
    _, _, idx = env
    argv = ["--index", idx, "--phrase", "-k", "5"]
    for ph in PHRASES:
        argv += ["--query", ph]
    out = _run(monkeypatch, capsys, argv)
    eng = QueryEngine(spark, idx)
    for ph, line in zip(PHRASES, out, strict=True):
        want = [{"doc_id": d, "phrase_tf": t}
                for d, t in eng.phrase_rows(ph, 5)]
        assert line["phrase"] == ph and line["hits"] == want
    assert out[0]["hits"]


@pytest.mark.parametrize("argv,msg", [
    (["-k", "0"], "-k must be >= 1"),
    (["--offset", "-1"], "--offset must be >= 0"),
    (["--phrase", "--store", "unused"], "it takes no --store"),
])
def test_query_job_validated_before_spark(monkeypatch, capsys, argv, msg):
    import jobs.query as job

    def _no_spark(*a, **k):
        raise AssertionError("Spark started before argument validation")

    monkeypatch.setattr("searchengine_spark.session.get_spark", _no_spark)
    monkeypatch.setattr("sys.argv", ["query.py", "--index", "unused",
                                     "--query", "tamok"] + argv)
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert msg in capsys.readouterr().err
