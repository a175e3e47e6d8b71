"""The session-scoped memo: per-session entries stay apart between a
parent session and its ``newSession()`` child, other applications'
entries are dropped (and unpersisted) on insert, the entry bound drops
the oldest, ``clear`` unpersists, and the dedup-core mapping the
benchmark pops is the memo's live namespace."""

from __future__ import annotations

import sys
import threading

from pyspark import StorageLevel
from pyspark.sql.types import LongType, StructField, StructType

import __spark_entry__ as entry_mod
from substreams_sink_clickhouse_spark import memo
from substreams_sink_clickhouse_spark.functions.localdata import empty_df
from substreams_sink_clickhouse_spark.operators import dedup
from substreams_sink_clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _uuid(df):
    return df._jdf.sparkSession().sessionUUID()


def test_parent_and_child_sessions_get_their_own_frames(spark):
    child = spark.newSession()
    schema = StructType([StructField("a", LongType())])
    plan = entry_mod.queries()["q01_scan"]
    for make in (
        lambda s: empty_df(s, schema),
        lambda s: load_table(s, SF, "region"),
        lambda s: plan(s, SF),
    ):
        parent_df, child_df = make(spark), make(child)
        assert parent_df is not child_df
        assert make(spark) is parent_df and make(child) is child_df
        assert _uuid(parent_df) == spark._jsparkSession.sessionUUID()
        assert _uuid(child_df) == child._jsparkSession.sessionUUID()
        assert _uuid(parent_df) != _uuid(child_df)


def test_other_application_entries_are_dropped_and_unpersisted(spark):
    stale = spark.range(3).cache()
    stale.count()
    memo.namespace("test_apps")[("app-of-a-stopped-context", "k")] = stale
    memo.per_app(spark, "test_apps", ("k",), lambda: 1)
    assert list(memo.namespace("test_apps")) == [(spark.sparkContext.applicationId, "k")]
    assert stale.storageLevel == StorageLevel.NONE
    memo.clear("test_apps")


def test_bound_drops_the_oldest_entry_and_unpersists_it(spark, monkeypatch):
    monkeypatch.setattr(memo, "MAX_ENTRIES", 2)
    oldest = memo.per_session(spark, "test_bound", (0,), lambda: spark.range(1).cache())
    oldest.count()
    for i in (1, 2):
        memo.per_session(spark, "test_bound", (i,), lambda: i)
    assert [k[-1] for k in memo.namespace("test_bound")] == [1, 2]
    assert oldest.storageLevel == StorageLevel.NONE
    memo.clear("test_bound")


def test_clear_unpersists(spark):
    df = memo.per_session(spark, "test_clear", ("k",), lambda: spark.range(5).cache())
    df.count()
    assert df.storageLevel != StorageLevel.NONE
    memo.clear("test_clear")
    assert df.storageLevel == StorageLevel.NONE
    assert not memo.namespace("test_clear")


def test_popping_the_core_cache_forces_a_rebuild(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(2)

    first = dedup._shared_core(spark, "sf-memo-test", "probe", build)
    assert dedup._shared_core(spark, "sf-memo-test", "probe", build) is first
    assert len(builds) == 1
    # what the benchmark does before every timed call
    for key, df in list(dedup._CORE_CACHE.items()):
        df.unpersist()
        dedup._CORE_CACHE.pop(key, None)
    second = dedup._shared_core(spark, "sf-memo-test", "probe", build)
    assert second is not first and len(builds) == 2
    memo.clear("dedup_cores")


def test_concurrent_lookups_keep_the_bound_and_the_values(spark, monkeypatch):
    monkeypatch.setattr(memo, "MAX_ENTRIES", 8)
    errors: list[BaseException] = []

    def client(seed: int) -> None:
        try:
            for i in range(300):
                k = (seed * 7 + i) % 32
                got = memo.per_session(spark, "test_threads", (k,), lambda k=k: k)
                assert got == k
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert len(memo.namespace("test_threads")) <= 8
    memo.clear("test_threads")
