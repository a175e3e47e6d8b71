"""SparkSession construction + session tuning.

The engine assumes a handful of session-level settings (UTC timestamps,
nanos-parquet compatibility, last-wins map merge).  Because callers (and
the correctness driver) may hand us an externally built session,
``tune_session`` applies the runtime-settable subset idempotently and is
called from every public query builder.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from substreams_sink_clickhouse_spark.errors import EnvVarError

#: Runtime-settable confs every engine query depends on.
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics regardless of host timezone —
    # required for oracle parity (DuckDB reads parquet timestamps naive).
    "spark.sql.session.timeZone": "UTC",
    # The driver's `events` fixture is written with TIMESTAMP(NANOS);
    # Spark has no nanos timestamp type, so read as long and convert
    # (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reference merge semantics are last-writer-wins per field
    # (/root/reference/db/operations.go:64-73).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # NOTE: spark.sql.adaptive.enabled is deliberately NOT forced here.
    # It defaults to true (and get_spark sets it explicitly), but a
    # per-plan execution profile may disable it on a child session
    # (see interactive_session) — tune_session must not stomp that.
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Immutable in this deployment — accept the session's value.
            pass
    try:
        # An externally built session often still carries Spark's stock
        # shuffle.partitions=200 — 6x task overhead on a 32-core local
        # box, and AQE coalescing alone can't fix the map side.  Only
        # retune when the value is exactly the stock default, so a
        # deliberate setting (any cluster deployment) is never touched.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(32, cores)))
    except Exception:
        pass
    return spark


def interactive_session(spark: SparkSession, shuffle_partitions: int = 8) -> SparkSession:
    """A child session tuned for sub-second prepared plans.

    ``newSession()`` shares the SparkContext and the cache manager
    (the warm buffer pool is visible) but carries its OWN SQLConf, so
    profiles never race across threads.  AQE is disabled and the
    static shuffle width kept small: for plans whose physical strategy
    is already fixed (narrow scans, single aggregates, explicit
    broadcasts) AQE's stage-by-stage materialization jobs are pure
    added latency (measured 1.5-2x on sf0.1 point queries), while
    join-shapes that profit from runtime re-planning stay on the
    parent adaptive session.  At cluster scale everything runs
    adaptive; this profile exists for the interactive small-result
    regime.
    """
    child = spark.newSession()
    tune_session(child)
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return child


#: applicationId -> memoized trainer child session (see iterate_session).
_ITERATE_SESSIONS: dict[str, SparkSession] = {}


def iterate_session(spark: SparkSession) -> SparkSession:
    """Child session for the INTERMEDIATE actions of iterative trainers
    (Lloyd seed collect + refinement steps): those plans are fixed
    narrow scans plus one partial-aggregated shuffle whose result is a
    k x d float matrix, so AQE's stage-by-stage materialization jobs
    are pure per-action latency — the same argument as the bench's
    interactive profile (A/B at sf0.1: dedup_semantic noop 4.2 s
    adaptive vs 2.6 s with training on this profile).  Only training
    actions run here; the RETURNED plan of every entry stays on the
    caller's session, so cluster-scale executions of the entry itself
    remain adaptive.  Memoized per application so repeated query
    builds reuse one child instead of accumulating session state."""
    app = spark.sparkContext.applicationId
    got = _ITERATE_SESSIONS.get(app)
    if got is None:
        for stale in [k for k in _ITERATE_SESSIONS if k != app]:
            del _ITERATE_SESSIONS[stale]
        got = interactive_session(spark)
        _ITERATE_SESSIONS[app] = got
    return got


def _env_positive_int(name: str, default: int) -> int:
    """The positive integer in environment variable ``name``, or
    ``default`` when it is unset or empty.  Any other value raises
    ``EnvVarError`` naming the variable and the value."""
    raw = os.environ.get(name)
    if not raw:
        return default
    try:
        value = int(raw)
        if value < 1:
            raise ValueError(value)
    except ValueError:
        raise EnvVarError(f"${name} must be a positive integer, got {raw!r}") from None
    return value


#: applicationId -> memoized streaming child session (see stream_session).
_STREAM_SESSIONS: dict[str, SparkSession] = {}


def stream_session(spark: SparkSession) -> SparkSession:
    """Child session for micro-batch replays.  Stateful streaming
    disables AQE, so ``spark.sql.shuffle.partitions`` IS the
    state-store partition count — and per-partition store
    open/commit/maintenance runs every micro-batch, so the width is a
    deployment knob that must scale with the cluster, not a constant.
    Default: the context's core count (``defaultParallelism``);
    override with ``$SPARK_GRAFT_STREAM_SHUFFLE`` for deployments
    where state volume, not CPU, should pick the width.

    Measured at sf0.1 on an 8-core context (executor CPU summed over
    completed stages, 32 -> 8 partitions): stream-stream join
    41.2 -> 21.8 s, streaming dedup 14.0 -> 5.4 s, stateful merge
    45.3 -> 28.3 s, watermarked agg 18.9 -> 13.8 s — results
    hash-identical at every width (hash partitioning only moves
    state, never changes it).  On a 32-core context the default width
    is 32, exactly the previous fixed value."""
    app = spark.sparkContext.applicationId
    got = _STREAM_SESSIONS.get(app)
    if got is None:
        for stale in [k for k in _STREAM_SESSIONS if k != app]:
            del _STREAM_SESSIONS[stale]
        width = _env_positive_int(
            "SPARK_GRAFT_STREAM_SHUFFLE", spark.sparkContext.defaultParallelism
        )
        got = tune_session(spark.newSession())
        got.conf.set("spark.sql.shuffle.partitions", str(width))
        _STREAM_SESSIONS[app] = got
    return got


def get_spark(
    app_name: str = "substreams-sink-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local testing runs ``local[N]``; on a real cluster the same settings
    hold — AQE picks shuffle parallelism at runtime, so the static
    ``shuffle.partitions`` is only an upper bound for tiny local runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = _env_positive_int("SPARK_GRAFT_SHUFFLE", 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return tune_session(builder.getOrCreate())
