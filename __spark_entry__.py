"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the star-join revenue rollup)
at sf0.001; ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 via the engine's central registry
(``substreams_sink_clickhouse_spark/registry.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from substreams_sink_clickhouse_spark import memo
from substreams_sink_clickhouse_spark.registry import all_specs
from substreams_sink_clickhouse_spark.session import tune_session

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from substreams_sink_clickhouse_spark.operators.relational import _q07

    tune_session(spark)
    return _q07(spark, _SMOKE_SF_DIR)


def _rotation_order(specs: list) -> list:
    """Order the registry by the COMMITTED ``GATE_ORDER.json``.

    The driver checks a ~50-entry prefix of ``queries()`` per round;
    ordering that prefix is how every gate family gets a driver-side
    signal over successive rounds.  The order itself is decided by an
    explicit tool run (``tools/write_gate_order.py``) and committed, so
    the public interface is byte-deterministic across checkouts — it
    never depends on which evaluation artifacts happen to sit on disk
    (round-5 advisory).  Registry entries not yet in the file (added
    after the last ``write_gate_order`` run) append in registry order;
    stale names in the file are ignored.  A missing file degrades to
    plain registry order.
    """
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "GATE_ORDER.json")
    if not os.path.exists(path):
        return list(specs)
    with open(path, encoding="utf-8") as fh:
        rank = {name: i for i, name in enumerate(json.load(fh))}
    indexed = sorted(
        enumerate(specs),
        key=lambda pair: (rank.get(pair[1].name, len(rank)), pair[0]),
    )
    return [spec for _, spec in indexed]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (ordered
    for driver-sample rotation — see _rotation_order)."""

    # Prepared plans, per session + data dir: building one costs 0.1-0.4 s
    # of py4j + Catalyst analysis, which a repeated query skips the way
    # a database reuses a prepared statement.
    def wrap(name, builder):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return memo.per_session(
                spark, "registry_plans", (sf_dir, name),
                lambda: builder(tune_session(spark), sf_dir),
            )

        return run

    return {
        spec.name: wrap(spec.name, spec.builder)
        for spec in _rotation_order(all_specs())
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL ops).
    Same key order as :func:`queries` (the driver pairs by name, but a
    consistent order keeps any order-sensitive consumer coherent)."""
    return {
        spec.name: spec.oracle
        for spec in _rotation_order(all_specs())
        if spec.oracle is not None
    }
