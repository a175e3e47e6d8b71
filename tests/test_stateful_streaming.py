"""Cross-batch stateful streaming merge (applyInPandasWithState) and
skew-mitigation helper tests."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_streaming_state_folds_across_batches(spark, tmp_path):
    """CREATE in micro-batch 1 + UPDATE in micro-batch 2 must fold
    field-wise through persisted state — the reference's buffer
    surviving between flushes."""
    from substreams_sink_clickhouse_spark.sources.changes import decode_database_changes
    from substreams_sink_clickhouse_spark.streaming.stateful import streaming_pending_ops

    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()

    def msg(block_num, table, pk, ordinal, op, fields):
        return json.dumps(
            {
                "block_num": block_num,
                "block_id": f"0x{block_num:x}",
                "table_changes": [
                    {
                        "table": table,
                        "pk": pk,
                        "ordinal": ordinal,
                        "operation": op,
                        "fields": [
                            {"name": n, "new_value": v, "old_value": None}
                            for n, v in fields.items()
                        ],
                    }
                ],
            }
        )

    # two files -> two micro-batches (maxFilesPerTrigger=1); the file
    # source orders by modification time, so pin distinct mtimes
    import os
    import time

    f1 = stream_dir / "a_b1.jsonl"
    f1.write_text(msg(1, "t", "k1", 1, "CREATE", {"x": "1", "y": "a"}))
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    f2 = stream_dir / "b_b2.jsonl"
    f2.write_text(
        "\n".join(
            [
                msg(2, "t", "k1", 1, "UPDATE", {"x": "2"}),
                msg(2, "t", "k2", 2, "CREATE", {"x": "9"}),
            ]
        )
    )
    os.utime(f2, (now, now))

    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .text(str(stream_dir))
    )
    pending = streaming_pending_ops(decode_database_changes(raw, "value"))
    query = (
        pending.writeStream.format("memory")
        .queryName("pending_ops_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)

    emitted = spark.table("pending_ops_test").collect()
    # k1 appears twice (once per batch); the LAST emission carries the
    # cross-batch folded state
    k1_states = [r for r in emitted if r["pk"] == "k1"]
    assert len(k1_states) == 2
    final_k1 = json.loads(k1_states[-1]["fields_json"])
    assert k1_states[-1]["op"] == "CREATE"
    assert final_k1 == {"x": "2", "y": "a", "__pk__": "k1"}
    k2 = [r for r in emitted if r["pk"] == "k2"][-1]
    assert k2["op"] == "CREATE" and json.loads(k2["fields_json"])["x"] == "9"


def test_salted_join_matches_plain_join(spark):
    from substreams_sink_clickhouse_spark.functions.skew import salted_join

    left = spark.range(0, 10000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )  # heavy skew: 5 keys
    right = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "k long, name string")
    plain = left.join(right, ["k"]).agg(F.count(F.lit(1)), F.sum("v")).collect()[0]
    salted = salted_join(left, right, ["k"], n_salts=8).agg(
        F.count(F.lit(1)), F.sum("v")
    ).collect()[0]
    assert tuple(plain) == tuple(salted)


def test_salted_outer_join_matches(spark):
    from substreams_sink_clickhouse_spark.functions.skew import salted_join

    left = spark.range(0, 1000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(0, "a"), (1, "b"), (99, "z")], "k long, name string")
    plain = left.join(right, ["k"], "left").groupBy("name").count()
    salted = salted_join(left, right, ["k"], n_salts=4, how="left").groupBy("name").count()
    key = lambda t: (t[0] is None, t)  # None sorts first, avoids None<str
    assert sorted(map(tuple, plain.collect()), key=key) == sorted(
        map(tuple, salted.collect()), key=key
    )


def test_two_phase_agg_matches(spark):
    from substreams_sink_clickhouse_spark.functions.skew import two_phase_agg

    df = spark.range(0, 5000).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    plain = {
        (r["k"]): (r["c"], r["s"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("c"), F.sum("v").alias("s")).collect()
    }
    two = {
        (r["k"]): (r["c"], r["s"])
        for r in two_phase_agg(
            df,
            ["k"],
            partial_aggs=[F.count(F.lit(1)).alias("pc"), F.sum("v").alias("ps")],
            final_aggs=[F.sum("pc").alias("c"), F.sum("ps").alias("s")],
        ).collect()
    }
    assert plain == two
