"""Parquet fixture-table loading.

All query-surface operators read the driver's TPC-H-ish parquet tables
(TESTDATA.md).  The ``events`` fixture's ``ts`` physical type varies by
generation run: TIMESTAMP(NANOS) (which Spark's vectorized reader
rejects — read via ``spark.sql.legacy.parquet.nanosAsLong`` and
convert, losslessly, since the data is microsecond-granular) or plain
TIMESTAMP(MICROS) (read natively).  The conversion is applied only
when the column actually resolves as bigint, so both shapes work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark import memo
from substreams_sink_clickhouse_spark.session import tune_session

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Columns that arrive as long nanos under ``nanosAsLong`` and must be
#: converted back to TimestampType.
_NANOS_COLUMNS = {"events": ["ts"]}

#: Tables worth pinning, and their in-memory partition fan-out.  Only
#: the compute-dense corpus tables qualify: their per-row work
#: (shingling, minhashing, tokenization, Arrow decode) dwarfs scan
#: cost, so spreading them across cores pays for itself — a parquet
#: row group scans as ONE Spark task, so the single-row-group fixtures
#: otherwise run those stages single-threaded.  Relational tables stay
#: cold on purpose: their queries are scan-bound, and a wide cached
#: layout just multiplies per-task dispatch overhead on a local box
#: (measured: a 32-partition cached `orders` made date queries 3×
#: slower).  (The warm pool mirrors what any resident engine does:
#: ClickHouse keeps MergeTree parts hot and parallelizes by granule;
#: DuckDB re-reads these same files from the OS page cache.)
_HOT_LAYOUT = {
    "documents": 16,
    "embeddings": 8,
    # Medium facts: 8-way — enough to parallelize their scan-plus-
    # compute stages (JSON parse, window sort, join probe) without
    # drowning sub-second queries in 32-way task dispatch (measured
    # A/B at sf0.1: 8-way beats both 1 cold split and 32-way cache
    # on every fact-side headline query).
    "events": 8,
    "orders": 8,
    "lineitem": 8,
    # Dimensions: 1-2 partitions — cached mainly so broadcast builds
    # read from memory and carry exact size statistics for the static
    # planner (wider layouts measurably hurt: a 5-row scan shouldn't
    # launch 32 tasks).
    "customer": 2,
    "part": 2,
    "supplier": 1,
    "nation": 1,
    "region": 1,
}


def warm_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> None:
    """Pin the compute-dense corpus tables in memory with a
    scan-parallel layout.

    Opt-in (the benchmark and any long-running server call this once
    at startup); the cold path — the correctness gate, tests, one-shot
    scripts — is unaffected.  Results are identical either way: every
    pinned query surface here is partition-deterministic.
    """
    for name in names if names is not None else list(_HOT_LAYOUT):
        n = _HOT_LAYOUT.get(name)
        if n is None:
            continue
        df = load_table(spark, sf_dir, name)
        if df.is_cached:  # pinned already
            continue
        hot = df.repartition(n).cache()
        hot.count()  # materialize now, not on first query
        memo.put(spark, "tables", (sf_dir, name), hot)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalize nano-timestamp columns.
    Memoized per (session, dir, table), since a re-read re-lists files
    and parquet footers (~100 ms); after ``warm_tables``, the pinned one.

    Compute-dense callers should wrap the result in
    ``functions.skew.ensure_parallelism`` — a parquet row group is one
    Spark task, so a small single-row-group file scans single-threaded
    regardless of cluster size."""
    tune_session(spark)
    return memo.per_session(
        spark, "tables", (sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_COLUMNS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            # integer nanos -> micros (exact: fixture is micro-granular)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for ``spark.sql`` queries."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
