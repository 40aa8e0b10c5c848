"""jobs/ann.py — the ANN spark-submit surface: layout build + top-k serving
(single and batch paths), validation, and parity with the library calls."""

from __future__ import annotations

import json

import pytest

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _run(monkeypatch, capsys, argv):
    import jobs.ann as job

    monkeypatch.setattr("sys.argv", ["ann.py"] + argv)
    job.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_build_ivf_then_batch_query_matches_single(spark, tmp_path,
                                                   monkeypatch, capsys):
    out = str(tmp_path / "ivf")
    built = _run(monkeypatch, capsys, [
        "--emb", EMB, "--build", "ivf", "--out", out,
        "--query-id", "5", "--query-id", "17", "-k", "5", "--cores", "8",
    ])
    assert built["build"]["n_vectors"] == 500
    assert built["n_queries"] == 2
    batch = built["results"]
    assert set(batch) == {"id:5", "id:17"}
    for qid, hits in batch.items():
        assert len(hits) == 5
        assert int(qid.split(":")[1]) not in {h["vec_id"] for h in hits}
        sims = [h["cos_sim"] for h in hits]
        assert sims == sorted(sims, reverse=True)

    # per qid identical to the single-query path over the same layout
    for qid in ("5", "17"):
        single = _run(monkeypatch, capsys, [
            "--emb", EMB, "--index", out, "--layout", "ivf",
            "--query-id", qid, "-k", "5", "--cores", "8",
        ])
        assert single["results"][f"id:{qid}"] == batch[f"id:{qid}"]


def test_brute_layout_matches_library(spark, monkeypatch, capsys):
    from searchengine_spark.operators.ann import brute_force_topk

    got = _run(monkeypatch, capsys, [
        "--emb", EMB, "--query-id", "3", "-k", "4", "--cores", "8",
    ])
    assert got["layout"] == "brute"
    emb = spark.read.parquet(EMB)
    want = [(int(r["vec_id"]), float(r["cos_sim"]))
            for r in brute_force_topk(
                emb, list(emb.filter("vec_id = 3").first()["embedding"]),
                4, exclude_id=3).collect()]
    assert [(h["vec_id"], h["cos_sim"])
            for h in got["results"]["id:3"]] == want


def test_lsh_build_and_literal_vector(spark, tmp_path, monkeypatch, capsys):
    out = str(tmp_path / "lsh")
    emb = spark.read.parquet(EMB)
    vec = ",".join(str(float(x))
                   for x in emb.filter("vec_id = 9").first()["embedding"])
    got = _run(monkeypatch, capsys, [
        "--emb", EMB, "--build", "lsh", "--out", out,
        f"--vector={vec}", "-k", "3", "--nprobe", "2", "--cores", "8",
    ])
    hits = got["results"]["vec:0"]
    assert hits and hits[0]["vec_id"] == 9  # its own vector: cos_sim 1.0
    assert hits[0]["cos_sim"] == pytest.approx(1.0)

    # --index without --layout: inferred from the layout's meta sidecar
    # (an LSH table must not be served through the IVF reader)
    again = _run(monkeypatch, capsys, [
        "--emb", EMB, "--index", out, f"--vector={vec}", "-k", "3",
        "--nprobe", "2", "--cores", "8",
    ])
    assert again["layout"] == "lsh"
    assert again["results"]["vec:0"] == hits


@pytest.mark.parametrize("argv", [
    ["--emb", EMB],                                    # nothing to do
    ["--emb", EMB, "--build", "ivf"],                  # --build sans --out
    ["--emb", EMB, "--layout", "ivf", "--query-id", "1"],  # no --index
    ["--emb", EMB, "--build", "lsh", "--out", "/tmp/x",
     "--layout", "ivf"],                               # mismatched serve
    ["--emb", EMB, "--query-id", "999999"],            # unknown vec_id
])
def test_arg_validation(spark, monkeypatch, capsys, argv):
    import jobs.ann as job

    monkeypatch.setattr("sys.argv", ["ann.py"] + argv + ["--cores", "8"])
    with pytest.raises(SystemExit):
        job.main()


@pytest.mark.parametrize("vector,msg", [
    ("0.1,abc,0.3", "finite numbers"),      # malformed component
    ("0.1,,0.3", "finite numbers"),         # empty component
    ("0.1,nan", "finite numbers"),          # non-finite component
    ("0.1,0.2,0.3", "components"),          # wrong dimension
])
def test_vector_validated_before_spark(monkeypatch, capsys, vector, msg):
    """A bad --vector is an argparse error raised before any Spark work:
    the session factory must never be reached."""
    import jobs.ann as job

    def _no_spark(*a, **k):
        raise AssertionError("Spark started before --vector validation")

    monkeypatch.setattr("searchengine_spark.session.get_spark", _no_spark)
    monkeypatch.setattr("sys.argv", ["ann.py", "--emb", EMB,
                                     f"--vector={vector}"])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert msg in capsys.readouterr().err
