"""Per-layer metrics of a traced run.

Spans carry their job group's Spark totals (executor CPU, tasks, input and
shuffle bytes, whether a Python-UDF plan ran).  Layers are the engine's
modules: ``corpus``, ``index.builder`` (with ``index.codec`` and
``index.positions``, whose sizes come from the built index), ``index.wand``,
``streaming.store`` and ``streaming.incremental``.  A layer the workload
does not call reports zero.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import group_totals
from perfbench.workloads import pct, serving

BUILD_PHASES = ("analyze_plan_s", "avgdl_s", "merge_write_s", "dict_s",
                "sites_s", "manifests_s", "positions_s")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _p50_ms(xs: list[float]) -> float:
    return pct(xs, 0.5) * 1000 if xs else 0.0


def per_layer(run, tracer, groups: dict, e2e: dict,
              untraced: dict | None) -> dict[str, float]:
    spans = tracer.spans
    group_totals(spans, groups)

    def layer_sum(layer: str, field: str) -> float:
        return sum(s["spark"][field] for s in spans if s["layer"] == layer)

    out: dict[str, float] = {
        "corpus.ingest_s": run.values.get("corpus.ingest_s", 0.0),
        "corpus.cpu_s": layer_sum("corpus", "cpu_s"),
        "builder.cpu_s": layer_sum("index.builder", "cpu_s"),
        "builder.tasks": layer_sum("index.builder", "tasks"),
        "builder.shuffle_write_bytes": layer_sum("index.builder",
                                                 "shuffle_write_bytes"),
        "builder.shuffle_read_bytes": layer_sum("index.builder",
                                                "shuffle_read_bytes"),
        "store.cpu_s": layer_sum("streaming.store", "cpu_s"),
        "incremental.cpu_s": layer_sum("streaming.incremental", "cpu_s"),
    }
    for phase in BUILD_PHASES:
        out[f"builder.{phase}"] = run.values.get(f"builder.{phase}", 0.0)
    for name in ("codec.data_bytes", "codec.dict_bytes", "positions.bytes",
                 "codec.bytes_per_posting"):
        out[name] = run.values[name]
    for name in ("wand.prefetch_s", "wand.reload_ms", "store.merge_batch_s",
                 "store.affected_kbs", "incremental.rebuild_s",
                 "incremental.dirty_segments", "commit_visible_s",
                 "commit_cpu_s"):
        xs = run.lists.get(name)
        out[name] = statistics.median(xs) if xs else 0.0

    # serving: one record per stream operation, joined to its span
    by_id = {s["id"]: s for s in spans}
    ops = [(o, by_id[o["span"]]["spark"]) for o in run.ops
           if o["span"] is not None]
    topk = [(o, sp) for o, sp in ops if o["kind"] == "topk"]
    phrase = [(o, sp) for o, sp in ops if o["kind"] == "phrase"]
    hits = [o["s"] for o, sp in topk if sp["jobs"] == 0]
    misses = [(o, sp) for o, sp in topk if sp["jobs"] > 0]
    out.update({
        "wand.jobs_per_query": _mean([sp["jobs"] for _, sp in topk]),
        "wand.zero_job_share": len(hits) / len(topk) if topk else 0.0,
        "wand.hit_p50_ms": _p50_ms(hits),
        "wand.miss_p50_ms": _p50_ms([o["s"] for o, _ in misses]),
        "wand.tasks_per_miss": _mean([sp["tasks"] for _, sp in misses]),
        "wand.input_bytes_per_miss": _mean([sp["input_bytes"]
                                            for _, sp in misses]),
        "wand.distributed_share": (sum(sp["python"] for _, sp in topk)
                                   / len(topk) if topk else 0.0),
        "wand.phrase_jobs_per_query": _mean([sp["jobs"] for _, sp in phrase]),
        "wand.phrase_miss_p50_ms": _p50_ms([o["s"] for o, sp in phrase
                                            if sp["jobs"] > 0]),
    })
    out.update(serving(run))
    out["wand.phrase_p50_ms"] = _p50_ms(run.samples["stream.phrase"])
    b = by_id.get(run.values.get("batch_span", -1))
    out["wand.batch_cpu_s"] = b["spark"]["cpu_s"] if b else 0.0
    out["wand.batch_shuffle_bytes"] = (
        b["spark"]["shuffle_write_bytes"] if b else 0)

    # tracing overhead: this run's figures minus the untraced run's of the
    # same workload and seed (zero when no such run preceded this one)
    out["trace.span_overhead_us"] = (
        tracer.bookkeeping_s / max(1, len(spans)) * 1e6)
    out["trace.build_files_per_s"] = e2e["build_files_per_s"]
    out["trace.batch_queries_per_s"] = out["serve.batch_queries_per_s"]
    for name in ("build_s", "batch_s"):
        base = (untraced or {}).get(name)
        out[f"trace.{name[:-2]}_delta_s"] = (
            run.values.get(name, 0.0) - base if base is not None else 0.0)
    return out
