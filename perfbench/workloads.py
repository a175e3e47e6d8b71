"""The three benchmark workloads, each a closed loop driven from one
process through the engine's public entry points.

Every workload returns a ``Result``: samples of its unit of work, the
set-up time, attempted/failed counts and the checks it made.  Timed
regions hold only the call under test; generation, checking and
warm-up sit outside them (warm-up is counted in set-up).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import gen

#: Per-workload generator constants (recorded in BENCHMARK.json's
#: ``why`` lines and README.md; only the seed varies between runs).
BACKFILL = {
    "orders_rows": 20_000,  # initial load of the UPDATE/DELETE-heavy table
    "blocks": 48,
    "orders_ops_per_block": 500,  # CREATE 10% / UPDATE 70% / DELETE 20%, Zipf 1.3
    "events_ops_per_block": 250,  # append-only
    "blocks_per_file": 8,
    "files_per_trigger": 2,
}
LIVE = {
    "rows": 50_000,  # populated before the measured tail
    "ops_per_block": 1000,  # CREATE 10% / UPDATE 80% / DELETE 10%, uniform keys
    # one light epoch after the initial load compiles the sidecar path
    # (the initial load compiled decode, fold, rewrite and sink); the
    # first rewrite of populated buckets falls in the measured cycle
    "warmup_epochs": 1,
    "warmup_ops_per_block": 250,  # light, but still touches all 16 buckets
    # epoch pace on a 4-core box; only sets how many cycles fill --seconds
    "nominal_epoch_s": 4.0,
    "cycle": 4,  # MAX_SIDECAR_LAYERS: 3 sidecar epochs, then a rewrite
    "load_timeout_s": 60,  # stream timeout allowance for the initial load
}
QUERY = {"sf": 0.02, "min_loops": 1}

N_BUCKETS = 16


@dataclass
class Result:
    unit: str  # what one sample of ``samples`` is
    samples: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    ops: int = 0  # change ops (ingest) or queries committed in ``busy_s``
    busy_s: float = 0.0
    setup: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def catalog_for(names: list[str]):
    from pyspark.sql import types as T

    from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo

    types = {"string": T.StringType(), "double": T.DoubleType(), "long": T.LongType()}
    cat = Catalog()
    for name in names:
        cat.register(
            TableInfo(
                name,
                T.StructType([T.StructField(c, types[k], c != "id") for c, k in gen.TABLES[name]]),
                primary_key="id",
            )
        )
    return cat


def state_matches(df, model: gen.Model, table: str) -> str | None:
    """None when the engine's table equals the model by row count and
    order-independent value hash, else what differs."""
    from tools.check_correctness import value_hash

    cols, want = model.typed_rows(table)
    pdf = df.select(*cols).toPandas()
    got = list(zip(*[pdf[c].tolist() for c in cols])) if len(pdf) else []
    got = [tuple(None if isinstance(v, float) and v != v else v for v in r) for r in got]
    if len(got) != len(want):
        return f"{table}: {len(got)} rows, model has {len(want)}"
    if value_hash(cols, got) != value_hash(cols, want):
        return f"{table}: value hash differs from the model"
    return None


def stop_unfinished(spark) -> int:
    """Stop every stream still running and return how many there were.
    ``run_*_to_completion`` returns once its timeout passes, whether or
    not the stream finished."""
    active = spark.streams.active
    for query in active:
        query.stop()
    return len(active)


# ------------------------------------------------------------ backfill

def backfill(ctx) -> Result:
    """Catch-up from a JSONL backlog (the CLI's availableNow path).

    Each repetition ingests the same seeded backlog into a fresh
    warehouse: the first epoch is the initial load, later epochs
    reconcile against committed state.  One sample = stream start to
    the final epoch's commit callback."""
    from substreams_sink_clickhouse_spark.streaming.pipeline import ChangesIngestPipeline

    cfg = BACKFILL
    rng = np.random.default_rng(ctx.seed)
    model = gen.Model()
    blocks = [gen.initial_load(rng, model, "orders_b", cfg["orders_rows"], 1)]
    orders = gen.ChangeGen(rng, model, "orders_b", {"CREATE": 0.1, "UPDATE": 0.7, "DELETE": 0.2}, zipf=1.3)
    events = gen.ChangeGen(rng, model, "events_b", {"CREATE": 1.0})
    blocks += gen.make_blocks(
        [(orders, cfg["orders_ops_per_block"]), (events, cfg["events_ops_per_block"])],
        cfg["blocks"], 2, model,
    )
    n_ops = sum(len(b[2]) for b in blocks)
    backlog = os.path.join(ctx.work, "backlog")
    gen.write_jsonl(blocks, backlog, cfg["blocks_per_file"])
    cat = catalog_for(["orders_b", "events_b"])
    res = Result(unit="catch-up run")
    res.extra["ops_per_run"] = n_ops

    def one_run(i: int) -> tuple[float, object]:
        commits: list[float] = []
        pipe = ChangesIngestPipeline(
            ctx.spark, cat,
            warehouse_dir=os.path.join(ctx.work, f"wh{i}"),
            checkpoint_dir=os.path.join(ctx.work, f"ck{i}"),
            n_buckets=N_BUCKETS,
            on_batch=lambda epoch, n: commits.append(time.time()),
        )
        t0 = time.time()
        pipe.run_to_completion(backlog, timeout_s=170, max_files_per_trigger=cfg["files_per_trigger"])
        if stop_unfinished(ctx.spark):
            raise TimeoutError("catch-up did not finish within 170 s")
        if not commits:
            raise RuntimeError("stream committed no epoch")
        res.extra["epochs_per_run"] = len(commits)
        return commits[-1] - t0, pipe

    def checked(i: int) -> float | None:
        res.attempted += 1
        try:
            wall, pipe = one_run(i)
        except Exception as exc:  # a failed epoch is a counted failure
            res.fail(f"run {i}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        for table in ("orders_b", "events_b"):
            problem = state_matches(pipe.table(table), model, table)
            if problem:
                res.fail(f"run {i}: {problem}")
                return None
        return wall

    # warm-up: the backlog's first two files, one epoch each (initial
    # load, then a reconcile) -- codegen, file-source classes, workers
    warm = os.path.join(ctx.work, "warm")
    os.makedirs(warm)
    for name in sorted(os.listdir(backlog))[:2]:
        shutil.copy(os.path.join(backlog, name), warm)
    with ctx.span("state.initial_load"):
        t0 = time.time()
        ChangesIngestPipeline(
            ctx.spark, cat,
            warehouse_dir=os.path.join(ctx.work, "wh-warm"),
            checkpoint_dir=os.path.join(ctx.work, "ck-warm"),
            n_buckets=N_BUCKETS,
        ).run_to_completion(warm, timeout_s=170, max_files_per_trigger=1)
        res.setup["warmup_s"] = time.time() - t0
    if stop_unfinished(ctx.spark):
        res.attempted += 1
        res.fail("warm-up catch-up did not finish within 170 s")
    deadline = time.time() + ctx.seconds
    i = 1
    while i == 1 or time.time() < deadline:  # at least one measured run
        with ctx.span("measure"):
            wall = checked(i)
        if wall is not None:
            res.samples.append(wall)
            res.ops += n_ops
            res.busy_s += wall
        i += 1
    return res


# ---------------------------------------------------------- live_mixed

def live_mixed(ctx) -> Result:
    """Tail of a populated table over the binary wire path.

    Each block is one spool file, one epoch.  After each commit the
    ``on_batch`` hook runs a pk point lookup and a status aggregate
    and checks both, and the stub sink's counts, against the model at
    that epoch.  One sample = end of the previous epoch's reads to this
    epoch's commit callback."""
    from pyspark.sql import functions as F

    from substreams_sink_clickhouse_spark.config import EngineConfig
    from substreams_sink_clickhouse_spark.engine import Engine
    from stub_clickhouse import StubClickHouse

    cfg = LIVE
    t_inputs = time.time()
    rng = np.random.default_rng(ctx.seed)
    model = gen.Model()
    spool = os.path.join(ctx.work, "spool")
    seq = 0
    expect: dict[int, dict] = {}

    def publish(blocks) -> None:
        nonlocal seq
        gen.write_spool(blocks, spool, seq)
        changes_in_window = [c for b in blocks for c in b[2]]
        # file-source order is by modification time: make it strict
        path = os.path.join(spool, f"spool-{seq:08d}.parquet")
        os.utime(path, (1_700_000_000 + seq, 1_700_000_000 + seq))
        rows = model.tables.get("live_t", {})
        pk = changes_in_window[int(rng.integers(len(changes_in_window)))]["pk"]
        expect[seq] = {
            "sink": gen.reduced_counts(changes_in_window),
            "status": model.status_counts("live_t"),
            "pk": pk,
            "row": dict(rows[pk]) if pk in rows else None,
        }
        seq += 1

    # the initial load is one spool file of ten 10%-blocks
    step = cfg["rows"] // 10
    publish([gen.initial_load(rng, model, "live_t", step, b) for b in range(1, 11)])
    live_gen = gen.ChangeGen(rng, model, "live_t", {"CREATE": 0.1, "UPDATE": 0.8, "DELETE": 0.1})
    next_block = 11

    def add_blocks(n: int, ops: int) -> None:
        nonlocal next_block
        for _ in range(n):  # one at a time: each expectation is the model after its block
            publish(gen.make_blocks([(live_gen, ops)], 1, next_block, model))
            next_block += 1

    add_blocks(cfg["warmup_epochs"], cfg["warmup_ops_per_block"])
    # the measured whole compaction cycles, published up front so one
    # stream runs warm-up and measured epochs without a restart between
    n_measured = cfg["cycle"] * max(1, round(ctx.seconds / (cfg["cycle"] * cfg["nominal_epoch_s"])))
    add_blocks(n_measured, cfg["ops_per_block"])
    res = Result(unit="block flush")
    res.extra["inputs_s"] = time.time() - t_inputs
    with StubClickHouse() as stub:
        eng = Engine(ctx.spark, EngineConfig(
            warehouse_dir=os.path.join(ctx.work, "wh"),
            checkpoint_dir=os.path.join(ctx.work, "ck"),
            n_buckets=N_BUCKETS,
            clickhouse_dsn=stub.dsn,
        ))
        pipe = eng.pipeline(catalog_for(["live_t"]))
        state = {"mark": 0.0, "last_sink": stub.snapshot()}
        cast = {"string": str, "double": float, "long": int}
        kinds = dict(gen.TABLES["live_t"])

        def read(fn):
            t0 = time.time()
            with ctx.span("engine.read"):
                out = fn()
            dt = time.time() - t0
            if "timed_from" in state:
                res.reads.append(dt)
            return out

        def on_batch(epoch: int, n_entries: int) -> None:
            t_commit = time.time()
            with ctx.span("bench.on_batch"):
                problems = verify(epoch)
            res.attempted += 1
            if problems:
                res.fail("; ".join(problems))
            if epoch > cfg["warmup_epochs"]:
                res.samples.append(t_commit - state["mark"])
                res.ops += cfg["ops_per_block"]
            state["mark"] = time.time()
            if epoch == cfg["warmup_epochs"]:  # set-up ends with the last warm-up epoch's reads
                state["timed_from"] = state["mark"]
                state["timed_sink"] = stub.snapshot()

        def verify(epoch: int) -> list[str]:
            """The sink's statements, a point lookup and the status
            aggregate against the model after this epoch's block."""
            want = expect.get(epoch)
            if want is None:
                return [f"epoch {epoch}: no such block was published"]
            problems = []
            snap = stub.snapshot()
            got_sink = {k: snap[k] - state["last_sink"][k] for k in ("INSERT_ROWS", "UPDATE", "DELETE", "CURSOR")}
            state["last_sink"] = snap
            want_sink = {**{k: want["sink"].get(k, 0) for k in ("INSERT_ROWS", "UPDATE", "DELETE")}, "CURSOR": 1}
            if got_sink != want_sink:
                problems.append(f"epoch {epoch}: sink {got_sink} != {want_sink}")
            try:
                rows = read(lambda: eng.table("live_t").filter(F.col("id") == want["pk"]).collect())
                got_row = rows[0].asDict() if len(rows) == 1 else None
                exp_row = want["row"]
                if exp_row is not None:
                    exp_row = {c: cast[kinds[c]](v) for c, v in exp_row.items()}
                if len(rows) > 1 or (got_row and {c: got_row[c] for c in exp_row or {}}) != exp_row:
                    problems.append(f"epoch {epoch}: lookup {want['pk']} -> {rows}")

                def agg():
                    eng.table("live_t").createOrReplaceTempView("live_t")
                    return eng.sql(
                        "SELECT status, count() AS n FROM live_t GROUP BY status",
                        dialect="clickhouse",
                    ).collect()

                if {r["status"]: r["n"] for r in read(agg)} != want["status"]:
                    problems.append(f"epoch {epoch}: status counts differ")
            except Exception as exc:  # a read that raised is a failed read
                problems.append(f"epoch {epoch}: {type(exc).__name__}: {str(exc)[:200]}")
            return problems

        pipe.on_batch = on_batch
        # generous: a stream that outlives this is stopped and failed
        timeout_s = int(cfg["load_timeout_s"] + 3 * cfg["nominal_epoch_s"] * (cfg["warmup_epochs"] + n_measured))
        t0 = state["mark"] = time.time()
        try:
            pipe.run_protobuf_to_completion(spool, timeout_s=timeout_s, max_files_per_trigger=1)
        except Exception as exc:
            res.fail(f"stream: {type(exc).__name__}: {str(exc)[:200]}")
        if stop_unfinished(ctx.spark):
            res.attempted += 1
            res.fail(f"stream: still running after {timeout_s} s")
        t_end = state["mark"]
        t1 = state.get("timed_from", t_end)
        res.setup["initial_load_and_warmup_s"] = t1 - t0
        res.busy_s = t_end - t1
        ctx.mark("state.initial_load", t0, t1)
        ctx.mark("measure", t1, t_end)
        end = stub.snapshot()
        res.extra["sink_counts"] = {k: end[k] - state["timed_sink"][k] for k in ("statements", "bytes")} if "timed_sink" in state else {}
        missing = n_measured - len(res.samples)
        if missing:
            res.attempted += missing
            res.fail(f"{missing} measured epochs never committed")
        res.extra["measured_epochs"] = len(res.samples)
    return res


# ----------------------------------------------------------- query_mix

HEADLINE = [
    "q03_filter", "q04_agg", "q05_count_distinct", "q07_star_join",
    "q08_outer_join", "q12_window_rank", "q14_topk", "q16_correlated",
    "q18_dates", "q22_json", "q23_tumbling_window", "q24_session_window",
    "q26_last_op", "cdc_merge", "dedup_exact", "dedup_minhash", "sim_topk",
    "text_fingerprint", "multimodal_features", "corpus_prep",
]  # bench.HEADLINE, copied so the benchmark never imports bench.py

ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def evict_dedup_cores() -> None:
    """Drop the dedup shared-core memo so every timed call computes its
    whole pipeline from the inputs (as bench.py does)."""
    from substreams_sink_clickhouse_spark.operators import dedup

    for key, df in list(dedup._CORE_CACHE.items()):
        df.unpersist()
        dedup._CORE_CACHE.pop(key, None)


def query_mix(ctx) -> Result:
    """The 20 headline registry entries on warmed, seeded fixture
    tables, run by one closed-loop client in whole loops of a seeded
    order.  One sample = one fresh execution."""
    import duckdb

    import __spark_entry__ as entry_mod
    from substreams_sink_clickhouse_spark.engine import Engine
    from tools.check_correctness import value_hash

    data = os.path.join(ctx.work, "fixtures")
    gen.write_fixtures(ctx.seed, data, QUERY["sf"])
    res = Result(unit="query")
    eng = Engine(ctx.spark)
    t0 = time.time()
    with ctx.span("tables.warm"):
        eng.warm(data)
    res.setup["tables_warm_s"] = time.time() - t0
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    conn = duckdb.connect()
    conn.execute("SET threads TO %d" % ctx.cores)
    conn.execute(f"SET temp_directory = '{ctx.work}/tmp'")
    for name in ORACLE_TABLES:
        conn.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")

    # warm-up loop, which is also the correctness check (once per run,
    # outside the timed region): Spark result hash == DuckDB oracle hash.
    # One thread per core: first executions are mostly driver-side
    # planning and codegen, which overlap well.
    def check(name: str) -> str | None:
        # the registry memoizes each entry's plan: this first call is
        # the only one that builds it
        with ctx.span("query.cold_build"):
            df = queries[name](ctx.spark, data)
        # both sides through Arrow, so values arrive with the same
        # Python types (the gate's type-faithful comparison)
        got_tbl = df.toArrow()
        got = list(zip(*[c.to_pylist() for c in got_tbl.columns])) if got_tbl.num_columns else []
        tbl = conn.cursor().sql(oracles[name]).arrow()
        want = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        if len(got) != len(want) or value_hash(got_tbl.column_names, got) != value_hash(tbl.column_names, want):
            return f"{name}: result differs from the DuckDB oracle ({len(got)} vs {len(want)} rows)"
        return None

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        futures = {name: pool.submit(check, name) for name in HEADLINE}
    for name, fut in futures.items():
        res.attempted += 1
        try:
            problem = fut.result()
        except Exception as exc:
            problem = f"{name}: {type(exc).__name__}: {str(exc)[:200]}"
        if problem:
            res.fail(problem)
    res.setup["warmup_loop_s"] = time.time() - t0

    # one closed-loop client; whole loops, so every run has the same
    # entry mix
    per_entry: dict[str, list[float]] = {n: [] for n in HEADLINE}
    order = list(HEADLINE)
    crng = np.random.default_rng(ctx.seed)
    deadline = time.time() + ctx.seconds
    loops = 0
    t1 = time.time()
    with ctx.span("measure"):
        while time.time() < deadline or loops < QUERY["min_loops"]:
            loops += 1
            crng.shuffle(order)
            for name in order:
                qid = f"{name}#{res.attempted}"
                res.attempted += 1
                evict_dedup_cores()
                t = time.time()
                try:
                    with ctx.span("query.exec", unit=qid, group=qid):
                        if ctx.tracer is not None:
                            ctx.spark.sparkContext.setJobGroup(qid, name)
                        with ctx.span("query.build"):
                            df = queries[name](ctx.spark, data)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    res.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                res.samples.append(time.time() - t)
                per_entry[name].append(res.samples[-1])
    res.busy_s = time.time() - t1
    res.ops = len(res.samples)
    if ctx.tracer is not None:
        ctx.spark.sparkContext.setJobGroup("", "")

    # paired oracle, back-to-back in the same run (one pass per entry)
    duck: dict[str, float] = {}
    for name in HEADLINE:
        t = time.time()
        conn.sql(oracles[name]).arrow()
        duck[name] = time.time() - t
    conn.close()
    engine_sum = sum(statistics.median(v) for v in per_entry.values() if v)
    res.extra["query_vs_duckdb"] = engine_sum / sum(duck.values())
    res.extra["per_entry_p50_s"] = {n: statistics.median(v) for n, v in per_entry.items() if v}
    res.extra["duckdb_s"] = duck
    res.extra["clients"] = 1
    return res


WORKLOADS = {"backfill": backfill, "live_mixed": live_mixed, "query_mix": query_mix}
