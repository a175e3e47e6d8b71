"""Sink benchmark: catch-up backfill, live tail with read-after-write,
and the headline query mix.

    python3 perfbench/run.py --workload <backfill|live_mixed|query_mix> \
        --seed N --seconds S --trace <0|1>
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root.  One run starts one local Spark session
on every core, generates its inputs from ``--seed`` under
``perfbench/.work/``, measures for ``--seconds`` seconds, checks every
result, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(layer wrappers on, spans written to ``perfbench/.work/out/``).
``--workload all`` runs every workload untraced and traced in child
processes, plus a single-core backfill baseline, and prints the
end-to-end metrics of each and the tracing overhead.
It exits non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: percentiles a tail may be reported at, highest first
TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it (nearest rank)."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PCTS[:-1]:
        if n * (100 - p) / 100 >= 10:
            return p, xs[min(n - 1, int(-(-n * p // 100)) - 1)]
    return 50.0, statistics.median(xs)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this process, in MB."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm(jvm) + hwm("self")) / 1024


class Context:
    def __init__(self, args, spark, tracer, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.spark = spark
        self.tracer = tracer
        self.work = work

    def span(self, name, **kw):
        return self.tracer.span(name, **kw) if self.tracer is not None else nullcontext()

    def mark(self, name, start, end):
        if self.tracer is not None:
            self.tracer.mark(name, start, end)


def start_spark(cores: int, work: str, trace: bool):
    from substreams_sink_clickhouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    # the launcher JVM, too, must not write under /tmp, and an inherited
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "unit_p50_s": {"value": statistics.median(res.samples), "unit": "s"},
        "throughput_per_s": {"value": res.ops / res.busy_s, "unit": "1/s"},
    }


def run_one(args) -> int:
    import workloads

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        t0 = time.time()
        spark = start_spark(args.cores, work, bool(args.trace))
        session_s = time.time() - t0
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = Context(args, spark, tracer, work)
        res = workloads.WORKLOADS[args.workload](ctx)
        setup_s = session_s + sum(res.setup.values())
        rss = peak_rss_mb(spark)
        if not res.samples:
            res.attempted += 1
            res.fail("no sample was measured")
        e2e = end_to_end(res, setup_s) if res.samples else {}
        pct, tail_v = tail(res.samples) if res.samples else (50.0, 0.0)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": args.cores,
            "unit": res.unit,
            "samples": len(res.samples),
            "unit_tail_pct": pct,
            "unit_tail_s": tail_v,
            "setup": {"session_start_s": session_s, **res.setup},
            "error_share": res.failed / max(1, res.attempted),
            "peak_rss_mb": rss,
            **{k: v for k, v in res.extra.items() if k in ("query_vs_duckdb", "clients", "measured_epochs", "epochs_per_run", "ops_per_run", "inputs_s")},
        }
        if res.reads:
            rp, rt = tail(res.reads)
            report.update({"read_p50_s": statistics.median(res.reads), "read_tail_pct": rp, "read_tail_s": rt, "reads": len(res.reads)})
        for key, val in report.items():
            print(f"[perfbench] {key} = {val}")
        for problem in res.problems:
            print(f"[perfbench] CHECK FAILED: {problem}")
        metrics = dict(e2e)
        correct = res.failed == 0
        if tracer is not None:
            import layers

            tracer.uninstall()
            out = os.path.join(WORK, "out")
            os.makedirs(out, exist_ok=True)
            summary = layers.summarize(tracer, res, report, e2e)
            stem = os.path.join(out, f"{args.workload}-s{args.seed}")
            tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w", encoding="utf-8") as fh:
                json.dump({"report": report, "e2e": e2e, "layers": summary["metrics"], "checks": summary["checks"]}, fh, indent=1, default=str)
            for problem in summary["checks"]:
                print(f"[perfbench] TRACE CHECK FAILED: {problem}")
            correct = correct and not summary["checks"]
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in summary["metrics"].items()}
        else:
            with open(os.path.join(WORK, f"last-{args.workload}.json"), "w", encoding="utf-8") as fh:
                json.dump({"report": report, "e2e": e2e, "samples_s": res.samples, "reads_s": res.reads,
                           **{k: v for k, v in res.extra.items() if k in ("per_entry_p50_s", "duckdb_s")}}, fh, indent=1, default=str)
        print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Every workload untraced and traced, plus the local[1] backfill."""
    rows = []
    code = 0
    plan = [(w, t, args.cores) for w in ("backfill", "live_mixed", "query_mix") for t in (0, 1)]
    plan.append(("backfill", 0, 1))
    for workload, trace, cores in plan:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(trace), "--cores", str(cores)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"  {workload} trace={trace} cores={cores} {line}")
        code = code or proc.returncode
        last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        rows.append((workload, trace, cores, last, lines))
    print("\nend-to-end metrics (untraced):")
    for workload, trace, cores, last, _ in rows:
        if trace == 0:
            for name, m in last.get("metrics", {}).items():
                print(f"  {workload:<10} cores={cores:<2} {name:<18} {m['value']:.4f} {m['unit']}")
    print("\ntracing overhead (traced minus untraced end-to-end, same seed):")
    for workload in ("backfill", "live_mixed", "query_mix"):
        untraced = next(r[3] for r in rows if r[0] == workload and r[1] == 0 and r[2] == args.cores)
        traced = next(r[3] for r in rows if r[0] == workload and r[1] == 1)
        for name, m in untraced.get("metrics", {}).items():
            t = traced.get("metrics", {}).get("e2e." + name)
            if t is not None:
                print(f"  {workload:<10} {name:<18} {t['value'] - m['value']:+.4f} {m['unit']}")
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "live_mixed", "query_mix", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] width (default: every core); --workload all adds a 1-core backfill")
    args = p.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    try:
        import substreams_sink_clickhouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
