"""Round-12 session-profile helpers: the streaming replay child scales
its state-store width with cores (env-overridable), the trainer child
is an AQE-off sibling, and both are memoized per application so
repeated query builds never accumulate session state."""

from __future__ import annotations

import os

import substreams_sink_clickhouse_spark.session as S


def test_stream_session_width_defaults_to_cores(spark):
    S._STREAM_SESSIONS.clear()
    old = os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
    try:
        ss = S.stream_session(spark)
        assert ss is not spark
        assert ss.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
        # memoized: the same child serves every build in the app
        assert S.stream_session(spark) is ss
    finally:
        if old is not None:
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = old
        S._STREAM_SESSIONS.clear()


def test_stream_session_width_env_override(spark):
    S._STREAM_SESSIONS.clear()
    old = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "6"
    try:
        ss = S.stream_session(spark)
        assert ss.conf.get("spark.sql.shuffle.partitions") == "6"
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_STREAM_SHUFFLE"]
        else:
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = old
        S._STREAM_SESSIONS.clear()


def test_iterate_session_is_memoized_aqe_off_child(spark):
    it = S.iterate_session(spark)
    assert it is not spark
    assert it.conf.get("spark.sql.adaptive.enabled") == "false"
    assert S.iterate_session(spark) is it
    # the parent's conf is untouched
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bad_shuffle_env_vars_raise_a_named_error(spark, monkeypatch):
    import pytest

    from substreams_sink_clickhouse_spark.errors import EnvVarError

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "lots")
    with pytest.raises(EnvVarError, match=r"\$SPARK_GRAFT_SHUFFLE .*'lots'"):
        S.get_spark("bad-env")
    monkeypatch.setattr(S, "_STREAM_SESSIONS", {})
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "0")
    with pytest.raises(EnvVarError, match=r"\$SPARK_GRAFT_STREAM_SHUFFLE .*'0'"):
        S.stream_session(spark)
