"""Spans around the engine's layer boundaries, for the traced run.

The tracer wraps public functions of each layer from the outside (the
package itself is not changed) and records one span per call: name,
start, end, parent span, thread and the unit of work (epoch or query)
it belongs to.  After the run, Spark stage counters from the status
store (which works with the UI off) are attributed to spans: by job
group where the caller set one, else to the innermost span of the
submitting time window.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


def _snapshot_as_of(entry: dict, epoch: int) -> tuple[dict | None, list[dict]]:
    """(bucket-map snapshot current at ``epoch``, the older snapshots)
    of one manifest table entry; ``history`` holds every earlier one."""
    snaps = sorted(
        entry.get("history", []) + [{"epoch": entry["epoch"], "buckets": entry["buckets"]}],
        key=lambda h: h["epoch"],
    )
    upto = [h for h in snaps if h["epoch"] <= epoch]
    return (upto[-1], upto[:-1]) if upto else (None, [])


def commit_shape(warehouse: str, epoch: int, manifest: dict) -> dict:
    """Storage shape right after ``epoch`` committed: files the epoch
    wrote, data layers per bucket, deletion-vector bytes and the
    manifest's size at that epoch.  Rebuilt after the run from the final
    manifest (its per-table history) and the version directories, so no
    probe runs inside a timed or traced window."""
    files = layers = buckets = dv_bytes = 0
    tables = {}
    for name, entry in manifest["tables"].items():
        for sub in (f"v{epoch}", f"dv{epoch}"):
            for _, _, names in os.walk(os.path.join(warehouse, name, sub)):
                files += sum(n.endswith(".parquet") for n in names)
        cur, older = _snapshot_as_of(entry, epoch)
        if cur is None:
            continue
        tables[name] = {"epoch": cur["epoch"], "buckets": cur["buckets"], "history": older,
                        "n_buckets": entry["n_buckets"]}
        for val in cur["buckets"].values():
            if val is None:
                continue
            buckets += 1
            layers += 1 if isinstance(val, str) else len(val.get("files", []))
            dv = val.get("dv") if isinstance(val, dict) else None
            if dv and os.path.isdir(dv):
                dv_bytes += sum(os.path.getsize(os.path.join(dv, f)) for f in os.listdir(dv))
    as_of = {"tables": tables, "applied_epochs": [e for e in manifest["applied_epochs"] if e <= epoch]}
    if "epoch_blocks" in manifest:
        as_of["epoch_blocks"] = {k: v for k, v in manifest["epoch_blocks"].items() if int(k) <= epoch}
    return {
        "files_written": files,
        "layers_per_bucket": layers / max(1, buckets),
        "dv_bytes": dv_bytes,
        # the store writes the manifest with json.dump's defaults
        "manifest_bytes": len(json.dumps(as_of)),
    }


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, unit=None, group: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": parent["id"] if parent else None,
                "unit": unit if unit is not None else (parent["unit"] if parent else None),
                "thread": threading.get_ident(),
                "group": group,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def mark(self, name: str, start: float, end: float) -> None:
        """Record a window measured elsewhere as a parentless span."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None, "unit": None,
                               "thread": None, "group": None, "start": start, "end": end})

    def wrap(self, owner, attr: str, name: str, unit_arg: int | None = None, note=None) -> None:
        """Replace ``owner.attr`` with a spanned version.  ``unit_arg``
        is the index of the positional argument (``self`` is 0 for
        methods) that carries the epoch id; ``note(args)`` returns
        fields to keep on the span (attribute reads only, no I/O)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            unit = args[unit_arg] if unit_arg is not None and len(args) > unit_arg else None
            with tracer.span(name, unit=unit) as rec:
                if note is not None:
                    rec.update(note(args))
                try:
                    return original(*args, **kwargs)
                except Exception:
                    rec["failed"] = True
                    raise

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics name."""
        from substreams_sink_clickhouse_spark import engine
        from substreams_sink_clickhouse_spark.functions import dialect
        from substreams_sink_clickhouse_spark.sinks import clickhouse
        from substreams_sink_clickhouse_spark.streaming import cursors, pipeline

        self.wrap(pipeline.ChangesIngestPipeline, "process_batch", "pipeline.process_batch", unit_arg=2)
        self.wrap(pipeline, "reduce_changes", "merge.plan.reduce")
        self.wrap(pipeline, "guard_merge_errors", "merge.plan.guard")
        self.wrap(pipeline, "apply_table_ops", "merge.plan.rewrite")
        self.wrap(pipeline, "apply_table_ops_delta", "merge.plan.sidecar")
        self.wrap(pipeline.TableStateStore, "bucket_state", "state.bucket_state")
        self.wrap(pipeline.TableStateStore, "commit_epoch", "state.commit", unit_arg=1,
                  note=lambda args: {"warehouse": args[0].warehouse_dir})
        self.wrap(pipeline.TableStateStore, "read_manifest", "state.read_manifest")
        self.wrap(cursors.CursorStore, "write_cursor", "cursors.write")
        self.wrap(clickhouse.ClickHouseHTTPSink, "write_batch", "sink.write_batch")
        self.wrap(clickhouse.ClickHouseHTTPSink, "execute_statement", "sink.execute_statement")
        self.wrap(engine.Engine, "table", "engine.read.plan")
        self.wrap(engine.Engine, "sql", "engine.read.plan")
        self.wrap(dialect, "clickhouse_to_spark_sql", "dialect.translate")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------ stage counters
    def stages(self) -> list[dict]:
        """Completed stages with their job group (None when unset)."""
        jvm = self.spark.sparkContext._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        groups: dict[int, tuple[str | None, int]] = {}
        jobs = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            ids = job.stageIds()
            for k in range(ids.size()):
                groups[int(ids.apply(k))] = (group, int(job.jobId()))
        out = []
        stage_list = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        for i in range(stage_list.size()):
            s = stage_list.apply(i)
            sub = s.submissionTime()
            if not sub.isDefined():
                continue
            sid = int(s.stageId())
            out.append(
                {
                    "stage": sid,
                    "submitted": sub.get().getTime() / 1000.0,
                    "tasks": int(s.numTasks()),
                    "cpu_s": int(s.executorCpuTime()) / 1e9,
                    "input_records": int(s.inputRecords()),
                    "output_bytes": int(s.outputBytes()),
                    "shuffle_bytes": int(s.shuffleWriteBytes()),
                    "group": groups.get(sid, (None, None))[0],
                    "job": groups.get(sid, (None, None))[1],
                }
            )
        return out

    def attribute(self, stages: list[dict]) -> None:
        """Attach each stage to a span: its job group's span if any,
        else the innermost span whose window holds the submission."""
        by_group = {s["group"]: s for s in self.spans if s.get("group")}
        for sp in self.spans:
            sp["stages"] = []
        for st in stages:
            owner = by_group.get(st["group"])
            if owner is not None:
                # innermost descendant of the group span in that window
                cands = [
                    s for s in self.spans
                    if s["thread"] == owner["thread"]
                    and s["start"] <= st["submitted"] <= (s["end"] or 1e18)
                    and owner["start"] <= s["start"]
                ]
            else:
                cands = [
                    s for s in self.spans
                    if not s.get("group") and s["start"] <= st["submitted"] <= (s["end"] or 1e18)
                ]
            if cands:
                max(cands, key=lambda s: s["start"])["stages"].append(st)

    # ---------------------------------------------------- self time
    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def subtree(self, root: dict, kids: dict[int, list[dict]]) -> list[dict]:
        todo, out = [root], []
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def self_times(self) -> None:
        """``self_s`` = wall minus the union of the children's windows."""
        kids = self.children()
        for s in self.spans:
            wall = s["end"] - s["start"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            s["wall_s"] = wall
            s["self_s"] = wall - covered

    def subtree_residual(self, root: dict, kids: dict[int, list[dict]]) -> float:
        """|root wall - sum of self times over the subtree|: zero when
        the spans of one unit nest properly."""
        return abs(root["wall_s"] - sum(s["self_s"] for s in self.subtree(root, kids)))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items() if k != "thread"}) + "\n")
