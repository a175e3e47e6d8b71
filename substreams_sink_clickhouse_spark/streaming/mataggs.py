"""Incrementally-maintained aggregates — the Spark answer to the
ClickHouse materialized-view / AggregatingMergeTree pattern the
reference's users rely on (sink a stream, keep rollups current without
rescanning).

``IncrementalAggregate`` describes a rollup: its table name, group
keys and algebraic measures (count / sum / min / max; avg = sum÷count
at read).  Its partials are a table of a ``TableStateStore``: each
batch's partials fold into the stored ones with one full outer join,
and the result is staged through ``commit_epoch(new_states=...)``, so
the epoch's one manifest swap commits table state, cursor and rollups
together, and history, reorg rollback, time travel and vacuum cover
rollups with no code of their own.

Scale notes: the combine join shuffles on the group key only; batch
partials are map-side-combined by Catalyst before they ever reach the
join.  Rollups are usually small, so every epoch rewrites all of a
rollup's buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import TableInfo
from substreams_sink_clickhouse_spark.functions.localdata import empty_df

#: measure spec -> (batch partial, combine(old, new))
_ALGEBRAIC = {
    "count": (
        lambda col: F.count(F.lit(1)),
        lambda o, n: F.coalesce(o, F.lit(0)) + F.coalesce(n, F.lit(0)),
    ),
    "sum": (
        lambda col: F.sum(col),
        lambda o, n: F.when(o.isNull(), n).when(n.isNull(), o).otherwise(o + n),
    ),
    "min": (
        lambda col: F.min(col),
        lambda o, n: F.when(o.isNull(), n).when(n.isNull(), o).otherwise(F.least(o, n)),
    ),
    "max": (
        lambda col: F.max(col),
        lambda o, n: F.when(o.isNull(), n).when(n.isNull(), o).otherwise(F.greatest(o, n)),
    ),
}


class IncrementalAggregate:
    """A continuously-maintained grouped aggregate, stored as table
    ``name``.

    ``measures`` maps output column -> ("sum"|"count"|"min"|"max",
    input column); ``count`` ignores its input column.
    """

    def __init__(self, name: str, keys: list[str], measures: dict[str, tuple[str, str]]):
        for measure, (kind, _) in measures.items():
            if kind not in _ALGEBRAIC:
                raise ValueError(f"unsupported measure {measure}: {kind}")
        self.name = name
        self.keys = keys
        self.measures = measures

    def _batch_partials(self, batch: DataFrame) -> DataFrame:
        aggs = [
            _ALGEBRAIC[kind][0](col).alias(name)
            for name, (kind, col) in self.measures.items()
        ]
        return batch.groupBy(*self.keys).agg(*aggs)

    def table_info(self, spark: SparkSession, source: T.StructType) -> TableInfo:
        """The rollup's store table over rows of schema ``source``: the
        partials' columns, bucketed on the first of them."""
        schema = self._batch_partials(empty_df(spark, source)).schema
        return TableInfo(self.name, schema, schema.fieldNames()[0])

    def next_state(self, store, batch: DataFrame) -> tuple[DataFrame, list[int]]:
        """``store.commit_epoch`` ``new_states`` value that folds
        ``batch`` into the stored partials: every bucket rewritten."""
        o = store.table_state(self.name).alias("o")
        n = self._batch_partials(batch).alias("n")
        # keys=[] is a global rollup: one stored row, combine 1:1
        cond = [o[k].eqNullSafe(n[k]) for k in self.keys] if self.keys else F.lit(True)
        merged = o.join(n, cond, "full_outer").select(
            *[F.coalesce(o[k], n[k]).alias(k) for k in self.keys],
            *[
                # e.g. decimal sums widen on +: keep the stored type
                _ALGEBRAIC[kind][1](o[name], n[name]).cast(n.schema[name].dataType).alias(name)
                for name, (kind, _) in self.measures.items()
            ],
        )
        return merged, list(range(store.table_n_buckets(self.name)))
