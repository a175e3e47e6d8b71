"""Warm buffer pool semantics: results are identical hot vs cold, the
pool is per-session, and the interactive child session sees it."""

from __future__ import annotations

from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark.engine import Engine
from substreams_sink_clickhouse_spark.session import interactive_session
from substreams_sink_clickhouse_spark.sources import tables as tmod

SF = "/root/testdata/sf0.001"


def test_warm_tables_preserve_results(spark):
    cold = (
        tmod.load_table(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cold_rows = {(r["lang"], r["n"]) for r in cold.collect()}

    tmod.warm_tables(spark, SF, ["documents"])
    hot_df = tmod.load_table(spark, SF, "documents")
    assert hot_df.rdd.getNumPartitions() == tmod._HOT_LAYOUT["documents"]
    hot = hot_df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    assert {(r["lang"], r["n"]) for r in hot.collect()} == cold_rows


def test_interactive_session_shares_data_not_conf(spark):
    inter = interactive_session(spark, shuffle_partitions=4)
    assert inter.conf.get("spark.sql.adaptive.enabled") == "false"
    assert inter.conf.get("spark.sql.shuffle.partitions") == "4"
    # parent conf untouched
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # data + catalog context shared
    assert inter.sparkContext is spark.sparkContext
    n_parent = tmod.load_table(spark, SF, "region").count()
    n_child = tmod.load_table(inter, SF, "region").count()
    assert n_parent == n_child == 5


def test_engine_warm_and_interactive(spark):
    eng = Engine(spark).warm(SF, ["embeddings"])
    assert tmod.load_table(spark, SF, "embeddings").is_cached
    child = eng.interactive()
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
