"""Per-layer metrics from a traced run's spans and stage counters.

Every workload reports the same metric names; a layer a workload does
not exercise reports 0 (the sink, for instance, only runs in
live_mixed).  Per-epoch and per-query values are medians over the
measured units unless the name says otherwise; counts are per unit.
"""

from __future__ import annotations

import json
import os
import statistics

import workloads
from spans import commit_shape

UNITS: dict[str, str] = {
    "pipeline.window_summary.wall_s": "s",
    "pipeline.window_summary.cpu_s": "s",
    "pipeline.window_summary.input_records": "count",
    "merge.plan_s": "s",
    "merge.sidecar_share": "ratio",
    "state.commit.wall_s": "s",
    "state.commit.cpu_s": "s",
    "state.commit.shuffle_bytes": "B",
    "state.commit.bytes_written": "B",
    "state.commit.files_written": "count",
    "state.layers_per_bucket": "count",
    "state.dv_bytes": "B",
    "state.read_manifest.calls": "count",
    "state.read_manifest.wall_s": "s",
    "state.manifest_bytes": "B",
    "cursors.write.calls": "count",
    "cursors.write.wall_s": "s",
    "sink.write_batch.wall_s": "s",
    "sink.statements": "count",
    "sink.bytes_posted": "B",
    "sink.post_failures": "count",
    "stream.overhead_s": "s",
    "engine.read.plan_s": "s",
    "engine.read.exec_s": "s",
    "engine.read.tasks": "count",
    "dialect.translate_s": "s",
    "query.build_s": "s",
    "query.cold_build_s": "s",
    **{
        f"query.{q}.{m}": u
        for q in workloads.HEADLINE
        for m, u in (("exec_s", "s"), ("cpu_s", "s"), ("shuffle_bytes", "B"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "session.start_s": "s",
    "tables.warm_s": "s",
    "state.initial_load_s": "s",
    "e2e.setup_s": "s",
    "e2e.unit_p50_s": "s",
    "e2e.unit_tail_s": "s",
    "e2e.throughput_per_s": "1/s",
    "e2e.peak_rss_mb": "MB",
    "e2e.read_p50_s": "s",
    "e2e.read_tail_s": "s",
    "e2e.query_vs_duckdb": "ratio",
    "e2e.error_share": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summarize(tracer, res, report: dict, e2e: dict) -> dict:
    """{"metrics": {name: value}, "checks": [failed trace checks]}."""
    tracer.attribute(tracer.stages())
    tracer.self_times()
    spans = tracer.spans
    kids = tracer.children()

    def subtree(root):
        return tracer.subtree(root, kids)

    def stage_sum(roots, key) -> float:
        return sum(st[key] for r in roots for s in subtree(r) for st in s["stages"])

    windows = [(s["start"], s["end"]) for s in spans if s["name"] == "measure"]

    def measured(s) -> bool:
        return any(lo <= s["start"] <= hi for lo, hi in windows)

    epochs = [s for s in spans if s["name"] == "pipeline.process_batch" and measured(s)]
    queries = [s for s in spans if s["name"] == "query.exec" and measured(s)]
    reads = [s for s in spans if s["name"] == "engine.read" and measured(s)]
    units = epochs or queries
    checks: list[str] = []
    for root in units:
        residual = tracer.subtree_residual(root, kids)
        if residual > 1e-6:
            checks.append(f"{root['name']} {root['unit']}: self times miss the wall by {residual:.6f} s")
        if not any(st["tasks"] for s in subtree(root) for st in s["stages"]):
            checks.append(f"{root['name']} {root['unit']}: launched no task")
    for r in reads:
        if not any(st["tasks"] for s in subtree(r) for st in s["stages"]):
            checks.append(f"engine.read at {r['start']:.3f}: launched no task")

    def named(root, prefix):
        return [s for s in subtree(root) if s["name"].startswith(prefix)]

    m: dict[str, float] = {k: 0.0 for k in UNITS}
    if epochs:
        m["pipeline.window_summary.wall_s"] = _med(e["self_s"] for e in epochs)
        m["pipeline.window_summary.cpu_s"] = _med(sum(st["cpu_s"] for st in e["stages"]) for e in epochs)
        m["pipeline.window_summary.input_records"] = _med(sum(st["input_records"] for st in e["stages"]) for e in epochs)
        m["merge.plan_s"] = _med(sum(s["wall_s"] for s in named(e, "merge.plan")) for e in epochs)
        applies = [s for e in epochs for s in named(e, "merge.plan.") if s["name"] in ("merge.plan.rewrite", "merge.plan.sidecar")]
        m["merge.sidecar_share"] = sum(s["name"] == "merge.plan.sidecar" for s in applies) / max(1, len(applies))
        commits = [c for e in epochs for c in named(e, "state.commit")]
        m["state.commit.wall_s"] = _med(c["wall_s"] for c in commits)
        m["state.commit.cpu_s"] = _med(stage_sum([c], "cpu_s") for c in commits)
        m["state.commit.shuffle_bytes"] = _med(stage_sum([c], "shuffle_bytes") for c in commits)
        m["state.commit.bytes_written"] = _med(stage_sum([c], "output_bytes") for c in commits)
        manifests: dict[str, dict] = {}
        for c in commits:
            if c["warehouse"] not in manifests:
                with open(os.path.join(c["warehouse"], "manifest.json"), encoding="utf-8") as fh:
                    manifests[c["warehouse"]] = json.load(fh)
        shapes = [
            commit_shape(c["warehouse"], c["unit"], manifests[c["warehouse"]])
            for c in commits if not c.get("failed")
        ]
        m["state.commit.files_written"] = _med(s["files_written"] for s in shapes)
        m["state.layers_per_bucket"] = _mean(s["layers_per_bucket"] for s in shapes)
        m["state.dv_bytes"] = _mean(s["dv_bytes"] for s in shapes)
        m["state.manifest_bytes"] = max((s["manifest_bytes"] for s in shapes), default=0)
        m["state.read_manifest.calls"] = _mean(len(named(e, "state.read_manifest")) for e in epochs)
        m["state.read_manifest.wall_s"] = _med(sum(s["wall_s"] for s in named(e, "state.read_manifest")) for e in epochs)
        m["cursors.write.calls"] = _mean(len(named(e, "cursors.write")) for e in epochs)
        m["cursors.write.wall_s"] = _med(sum(s["wall_s"] for s in named(e, "cursors.write")) for e in epochs)
        m["sink.write_batch.wall_s"] = _med(sum(s["wall_s"] for s in named(e, "sink.write_batch")) for e in epochs)
        # driver-side calls only: the executors post through their own,
        # unwrapped copy of the sink, and a post that fails there fails
        # its write_batch
        m["sink.post_failures"] = sum(1 for e in epochs for s in named(e, "sink.") if s.get("failed"))
        sink = res.extra.get("sink_counts")
        if sink:
            m["sink.statements"] = sink["statements"] / len(epochs)
            m["sink.bytes_posted"] = sink["bytes"] / len(epochs)
        ordered = sorted(epochs, key=lambda s: s["start"])
        gaps = [
            b["start"] - a["end"]
            for a, b in zip(ordered, ordered[1:])
            if isinstance(a["unit"], int) and b["unit"] == a["unit"] + 1
        ]
        m["stream.overhead_s"] = _med(gaps)
    if reads:
        m["engine.read.plan_s"] = _med(sum(s["wall_s"] for s in named(r, "engine.read.plan")) for r in reads)
        m["engine.read.exec_s"] = _med(r["wall_s"] - sum(s["wall_s"] for s in named(r, "engine.read.plan")) for r in reads)
        m["engine.read.tasks"] = _med(stage_sum([r], "tasks") for r in reads)
        translated = [sum(s["wall_s"] for s in named(r, "dialect.translate")) for r in reads]
        m["dialect.translate_s"] = _med(t for t in translated if t)
    if queries:
        m["query.build_s"] = _med(s["wall_s"] for q in queries for s in named(q, "query.build"))
        m["query.cold_build_s"] = _med(s["wall_s"] for s in spans if s["name"] == "query.cold_build")
        for q in workloads.HEADLINE:
            mine = [s for s in queries if str(s["unit"]).split("#")[0] == q]
            m[f"query.{q}.exec_s"] = _med(s["wall_s"] for s in mine)
            m[f"query.{q}.cpu_s"] = _med(stage_sum([s], "cpu_s") for s in mine)
            m[f"query.{q}.shuffle_bytes"] = _med(stage_sum([s], "shuffle_bytes") for s in mine)
    if units:
        m["spark.jobs"] = _mean(len({st["job"] for s in subtree(u) for st in s["stages"]}) for u in units)
        m["spark.stages"] = _mean(sum(len(s["stages"]) for s in subtree(u)) for u in units)
        m["spark.tasks"] = _mean(stage_sum([u], "tasks") for u in units)
    m["session.start_s"] = report["setup"]["session_start_s"]
    m["tables.warm_s"] = report["setup"].get("tables_warm_s", 0.0)
    m["state.initial_load_s"] = sum(
        v for k, v in report["setup"].items() if k in ("warmup_s", "initial_load_and_warmup_s")
    )
    for k, v in e2e.items():
        m["e2e." + k] = v["value"]
    m["e2e.unit_tail_s"] = report["unit_tail_s"]
    m["e2e.peak_rss_mb"] = report["peak_rss_mb"]
    m["e2e.read_p50_s"] = report.get("read_p50_s", 0.0)
    m["e2e.read_tail_s"] = report.get("read_tail_s", 0.0)
    m["e2e.query_vs_duckdb"] = report.get("query_vs_duckdb", 0.0)
    m["e2e.error_share"] = report["error_share"]
    return {"metrics": m, "checks": checks}
