"""Incrementally-maintained aggregates (ClickHouse materialized-view /
AggregatingMergeTree parity): folding batches one at a time, each
committed by a ``TableStateStore`` manifest swap, must equal
aggregating everything at once."""

import pytest
from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark.catalog import Catalog
from substreams_sink_clickhouse_spark.streaming.mataggs import IncrementalAggregate
from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore


def _rows(spark, data):
    return spark.createDataFrame(data, "k: string, v: double")


def _fold(spark, path, agg, batches):
    """Commit each batch into ``agg`` as one epoch of a fresh store;
    return the store."""
    store = TableStateStore(spark, str(path), Catalog(), n_buckets=4)
    store.catalog.register(agg.table_info(spark, _rows(spark, []).schema))
    for epoch, batch in enumerate(batches):
        store.commit_epoch(epoch, {agg.name: agg.next_state(store, _rows(spark, batch))}, None)
    return store


def test_incremental_equals_batch(spark, tmp_path):
    agg = IncrementalAggregate(
        "agg",
        keys=["k"],
        measures={
            "cnt": ("count", "v"),
            "sv": ("sum", "v"),
            "mn": ("min", "v"),
            "mx": ("max", "v"),
        },
    )
    b1 = [("a", 1.0), ("a", 2.0), ("b", 10.0)]
    b2 = [("a", 4.0), ("c", -1.0)]
    b3 = [("b", 0.5), ("c", 7.0), ("c", 3.0)]
    store = _fold(spark, tmp_path / "wh", agg, [b1, b2, b3])
    got = {
        r["k"]: (r["cnt"], r["sv"], r["mn"], r["mx"])
        for r in store.table_state("agg").collect()
    }
    full = _rows(spark, b1 + b2 + b3).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("v").alias("sv"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    want = {r["k"]: (r["cnt"], r["sv"], r["mn"], r["mx"]) for r in full.collect()}
    assert got == want
    assert store.read_manifest()["applied_epochs"] == [0, 1, 2]


def test_new_groups_and_untouched_groups(spark, tmp_path):
    agg = IncrementalAggregate("agg2", keys=["k"], measures={"cnt": ("count", "v")})
    # 'a' untouched by the second batch, 'b' new
    store = _fold(spark, tmp_path / "wh", agg, [[("a", 1.0)], [("b", 1.0)]])
    got = {r["k"]: r["cnt"] for r in store.table_state("agg2").collect()}
    assert got == {"a": 1, "b": 1}


def test_rejects_unknown_measure():
    with pytest.raises(ValueError, match="unsupported measure"):
        IncrementalAggregate("agg3", keys=["k"], measures={"x": ("median", "v")})


def test_rollup_attached_to_pipeline(spark, tmp_path):
    """A rollup attached to an ingest table is maintained per epoch
    from that epoch's inserted rows (materialized-view semantics), as
    a table of the pipeline's store."""
    import json as _json

    from substreams_sink_clickhouse_spark.catalog import (
        BLOCK_META_SCHEMA,
        TableInfo,
    )
    from substreams_sink_clickhouse_spark.streaming.pipeline import (
        ChangesIngestPipeline,
    )

    def msg(block, pk, number):
        return _json.dumps(
            {
                "block_num": block,
                "block_id": f"0x{block}",
                "table_changes": [
                    {
                        "table": "block_meta",
                        "pk": pk,
                        "ordinal": 1,
                        "operation": "CREATE",
                        "fields": [
                            {"name": "number", "new_value": str(number), "old_value": None}
                        ],
                    }
                ],
            }
        )

    stream = tmp_path / "changes"
    stream.mkdir()
    cat = Catalog()
    cat.register(TableInfo("block_meta", BLOCK_META_SCHEMA, "id"))
    pipe = ChangesIngestPipeline(
        spark,
        cat,
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    rollup = IncrementalAggregate(
        "block_meta_rollup",
        keys=[],
        measures={"cnt": ("count", "number"), "mx": ("max", "number")},
    )
    pipe.attach_rollup("block_meta", rollup)
    with pytest.raises(ValueError, match="already a table"):
        pipe.attach_rollup("block_meta", IncrementalAggregate("block_meta", [], {}))

    (stream / "b1.jsonl").write_text("\n".join([msg(1, "k1", 10), msg(2, "k2", 20)]))
    pipe.run_to_completion(str(stream))
    (stream / "b2.jsonl").write_text(msg(3, "k3", 5))
    pipe.run_to_completion(str(stream))

    row = pipe.table("block_meta_rollup").collect()[0]
    assert row["cnt"] == 3 and row["mx"] == 20
