"""Storage-maintenance parity: OPTIMIZE TABLE FINAL (bucket
compaction), TTL mutations (row expiry), system.parts introspection."""

import json
import os

from substreams_sink_clickhouse_spark.catalog import BLOCK_META_SCHEMA, Catalog, TableInfo
from substreams_sink_clickhouse_spark.config import EngineConfig
from substreams_sink_clickhouse_spark.engine import Engine


def _msg(block_num, changes):
    return json.dumps(
        {
            "block_num": block_num,
            "block_id": f"0x{block_num:04x}",
            "table_changes": [
                {
                    "table": t,
                    "pk": pk,
                    "ordinal": o,
                    "operation": op,
                    "fields": [
                        {"name": n, "new_value": v, "old_value": None}
                        for n, v in (fields or {}).items()
                    ],
                }
                for (t, pk, o, op, fields) in changes
            ],
        }
    )


def _catalog():
    cat = Catalog()
    cat.register(TableInfo("block_meta", BLOCK_META_SCHEMA, "id"))
    return cat


def _engine_with_epochs(spark, tmp_path, n_epochs=3, keys_per_epoch=6):
    """n_epochs flushes over an overlapping key set -> several files
    accumulate per bucket."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    pipe = None
    block = 0
    for e in range(n_epochs):
        block += 1
        lines = []
        for k in range(keys_per_epoch):
            op = "CREATE" if e == 0 else "UPDATE"
            lines.append(
                _msg(
                    block,
                    [
                        (
                            "block_meta",
                            f"k{k}",
                            1,
                            op,
                            {"number": str(e * 100 + k), "timestamp": str(1700000000 + e * 86400)},
                        )
                    ],
                )
            )
        (stream / f"b{e}.jsonl").write_text("\n".join(lines))
        pipe = eng.ingest(str(stream), cat)
    return eng, pipe


def test_optimize_compacts_to_one_file_per_bucket(spark, tmp_path):
    # Fragment the bucket files (as a size-capped writer would at
    # scale), then OPTIMIZE back to one file per bucket.
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=1, keys_per_epoch=12)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    before = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    parts_before = pipe.state.parts("block_meta")
    assert sum(p["n_files"] for p in parts_before) > len(parts_before), (
        "fixture should accumulate multiple files per bucket"
    )
    stats = pipe.state.optimize("block_meta")
    parts_after = pipe.state.parts("block_meta")
    assert all(p["n_files"] == 1 for p in parts_after), parts_after
    assert stats["files_after"] < stats["files_before"]
    # content unchanged
    after = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert after == before
    # superseded versions are vacuumable, table still readable after
    pipe.state.vacuum(keep_epochs=0)
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == before


def test_rebucket_rescales_and_ingest_continues(spark, tmp_path):
    """rebucket rewrites under the new modulus; the NEXT epoch buckets
    by the manifest modulus and the bounded-rewrite contract holds."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=2, keys_per_epoch=8)
    before = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    stats = pipe.state.rebucket("block_meta", 4)
    assert stats == {"n_buckets_before": 16, "n_buckets_after": 4}
    assert pipe.state.table_n_buckets("block_meta") == 4
    entry = pipe.state.read_manifest()["tables"]["block_meta"]
    assert set(int(b) for b in entry["buckets"]) <= set(range(4))
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == before
    # rebucket to the same modulus is a no-op
    assert pipe.state.rebucket("block_meta", 4) is None
    # next epoch: update ONE key -> only that key's NEW-modulus bucket rewrites
    stream = tmp_path / "changes"
    (stream / "b_post.jsonl").write_text(
        _msg(99, [("block_meta", "k0", 1, "UPDATE", {"number": "777"})])
    )
    mb_before = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    pipe = eng.ingest(str(stream), _catalog())
    mb_after = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    touched = int(
        spark.sql("SELECT pmod(xxhash64(cast('k0' as string)), 4) AS b").collect()[0]["b"]
    )
    assert mb_after[str(touched)] != mb_before.get(str(touched))
    for b, p in mb_before.items():
        if b != str(touched):
            assert mb_after[b] == p, f"bucket {b} rewritten after rebucket"
    rows = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert rows["k0"] == 777 and len(rows) == 8


def test_reorg_rollback_restores_rebucketed_modulus(spark, tmp_path):
    """History snapshots carry their modulus: rolling back to an epoch
    committed after a rebucket restores the 4-bucket map together with
    its modulus, so the next epoch hashes every key to the bucket that
    holds it and every update lands."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=2, keys_per_epoch=8)
    pipe.state.rebucket("block_meta", 4)
    stream = tmp_path / "changes"

    def update_all(block):
        (stream / f"b_post{block}.jsonl").write_text(
            _msg(
                block,
                [("block_meta", f"k{k}", 1, "UPDATE", {"number": str(block * 100 + k)})
                 for k in range(8)],
            )
        )
        return eng.ingest(str(stream), _catalog())

    update_all(3)
    pipe = update_all(4)
    pipe.handle_block_undo_signal(last_valid_block=3)
    assert pipe.state.table_n_buckets("block_meta") == 4
    entry = pipe.state.read_manifest()["tables"]["block_meta"]
    assert set(int(b) for b in entry["buckets"]) <= set(range(4))
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == {
        f"k{k}": 300 + k for k in range(8)
    }
    pipe = update_all(5)
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == {
        f"k{k}": 500 + k for k in range(8)
    }


def test_optimize_sorts_by_pk_within_bucket(spark, tmp_path):
    import pyarrow.parquet as pq

    eng, pipe = _engine_with_epochs(spark, tmp_path, keys_per_epoch=12)
    pipe.state.optimize("block_meta")
    for p in pipe.state.parts("block_meta"):
        files = [f for f in os.listdir(p["path"]) if f.endswith(".parquet")]
        assert len(files) == 1
        ids = pq.read_table(os.path.join(p["path"], files[0]), columns=["id"])[
            "id"
        ].to_pylist()
        assert ids == sorted(ids), f"bucket {p['bucket']} not pk-sorted"


def test_ttl_expires_only_matching_rows(spark, tmp_path):
    """TTL on the timestamp column: epochs wrote increasing timestamps
    per key; expire rows older than a cutoff."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=1, keys_per_epoch=8)
    # make timestamps differ per key: re-ingest updates with spread ts
    stream = tmp_path / "changes"
    (stream / "b_ttl.jsonl").write_text(
        "\n".join(
            _msg(
                10 + k,
                [
                    (
                        "block_meta",
                        f"k{k}",
                        1,
                        "UPDATE",
                        {"timestamp": str(1700000000 + k * 86400)},
                    )
                ],
            )
            for k in range(8)
        )
    )
    pipe = eng.ingest(str(stream), _catalog())
    cutoff = "timestamp < to_timestamp(1700000000 + 4 * 86400)"
    manifest_before = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    n = pipe.state.apply_ttl("block_meta", cutoff)
    assert n == 4
    rows = {r["id"] for r in pipe.table("block_meta").collect()}
    assert rows == {f"k{k}" for k in range(4, 8)}
    # idempotent second run: nothing left to expire, no rewrite
    manifest_mid = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    assert pipe.state.apply_ttl("block_meta", cutoff) == 0
    assert dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"]) == manifest_mid
    # only buckets holding expired keys were rewritten
    expired_buckets = {
        int(r["b"])
        for r in spark.sql(
            "SELECT pmod(xxhash64(cast(concat('k', id) as string)), 16) AS b "
            "FROM range(0, 4) AS t(id)"
        ).collect()
    }
    for b, path in manifest_before.items():
        if int(b) not in expired_buckets and path is not None:
            assert manifest_mid[b] == path, f"untouched bucket {b} was rewritten"


def test_add_column_schema_evolution(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: metadata-only — existing rows read NULL,
    the next flush coerces the new field from incoming changes, and no
    pre-ALTER file is rewritten."""
    import pytest

    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=1, keys_per_epoch=4)
    buckets_before = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    info = eng.add_column("block_meta", "gas_used", "bigint")
    assert info.schema["gas_used"].dataType.typeName() == "long"
    # old state: new column readable as NULL, nothing rewritten
    rows = {r["id"]: r["gas_used"] for r in pipe.table("block_meta").collect()}
    assert rows == {f"k{k}": None for k in range(4)}
    assert dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"]) == buckets_before
    # duplicate / pk-colliding ALTERs refused
    with pytest.raises(ValueError, match="already exists"):
        eng.add_column("block_meta", "gas_used", "bigint")
    # next flush carries the new field
    stream = tmp_path / "changes"
    (stream / "b_alter.jsonl").write_text(
        _msg(50, [("block_meta", "k1", 1, "UPDATE", {"gas_used": "12345"})])
    )
    pipe.run_to_completion(str(stream))
    got = {r["id"]: r["gas_used"] for r in pipe.table("block_meta").collect()}
    assert got == {"k0": None, "k1": 12345, "k2": None, "k3": None}
    # SQL view exposes the widened schema
    assert "gas_used" in eng.table("block_meta").columns


def test_parts_metadata_and_engine_df(spark, tmp_path):
    eng, pipe = _engine_with_epochs(spark, tmp_path)
    parts = pipe.state.parts("block_meta")
    assert parts and all(p["rows"] > 0 and p["bytes"] > 0 for p in parts)
    # physical rows minus deletion-vector-masked rows == visible rows
    assert (
        sum(p["rows"] - p.get("dv_rows", 0) for p in parts)
        == pipe.table("block_meta").count()
    )
    df = eng.parts("block_meta")
    got = {(r["bucket"], r["n_files"], r["rows"]) for r in df.collect()}
    want = {(p["bucket"], p["n_files"], p["rows"]) for p in parts}
    assert got == want


def test_zorder_key_interleaves(spark):
    from substreams_sink_clickhouse_spark.functions.zorder import zorder_key

    df = spark.range(256).selectExpr("id % 16 AS a", "CAST(id / 16 AS INT) AS b")
    keyed = df.select("a", "b", zorder_key(df, ["a", "b"], bits=4).alias("z")).collect()
    # spot-check the Morton interleave: a-bits at even positions,
    # b-bits at odd positions
    for r in keyed:
        expect = 0
        for i in range(4):
            expect |= ((r["a"] >> i) & 1) << (2 * i)
            expect |= ((r["b"] >> i) & 1) << (2 * i + 1)
        assert r["z"] == expect, (r["a"], r["b"], r["z"], expect)


def test_optimize_zorder_narrows_file_ranges(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (x, y), per-file min/max spread on the
    SECOND column must be materially narrower than a pk-only sort —
    the property parquet row-group skipping depends on."""
    import glob

    from pyspark.sql import functions as F

    from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("x", T.LongType(), True),
            T.StructField("y", T.LongType(), True),
        ]
    )
    cat = Catalog()
    cat.register(TableInfo("pts", schema, "id"))
    store = TableStateStore(spark, str(tmp_path / "wh"), cat, n_buckets=1)
    # pk uncorrelated with (x, y): pk-clustered files sample y
    # uniformly, z-clustered files cover narrow Morton ranges
    rows = spark.range(4096).selectExpr(
        "CAST(hash(id) AS STRING) AS id", "id % 64 AS x", "CAST(id / 64 AS LONG) AS y"
    )
    store.commit_epoch(1, {"pts": (rows, [0])}, None, None)
    # fragment each optimize output into ~16 files so per-file min/max
    # stats are observable (the row-group granularity stand-in)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")

    def y_spread(paths):
        import os as _os

        spreads = []
        paths = [
            _os.path.join(d, f)
            for d in paths
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        ]
        for f in paths:
            agg = spark.read.parquet(f).agg(
                (F.max("y") - F.min("y")).alias("s")
            ).first()
            spreads.append(agg["s"])
        return sum(spreads) / len(spreads)

    store.optimize("pts")  # pk clustering
    pk_files = glob.glob(str(tmp_path / "wh" / "pts" / "opt*" / "__b=*" ))
    pk_spread = y_spread(pk_files)

    store.optimize("pts", zorder=["x", "y"])
    z_files = glob.glob(str(tmp_path / "wh" / "pts" / "opt*" / "__b=*"))
    # latest mutation dir only
    z_latest = sorted(z_files)[-1:]
    z_spread = y_spread(z_latest)
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    # a z-clustered file covers a narrow band of y; a pk-clustered one
    # samples the full range
    assert z_spread < pk_spread / 2, (z_spread, pk_spread)
    # content unchanged
    assert store.table_state("pts").count() == 4096


def test_optimize_deduplicate_drops_identical_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    cat = Catalog()
    cat.register(TableInfo("dups", schema, "id"))
    store = TableStateStore(spark, str(tmp_path / "wh"), cat, n_buckets=2)
    rows = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("b", 3)], schema
    )
    store.commit_epoch(1, {"dups": (rows, [0, 1])}, None, None)
    assert store.table_state("dups").count() == 4
    store.optimize("dups", deduplicate=True)
    got = sorted(tuple(r) for r in store.table_state("dups").collect())
    # fully-identical rows collapse; same-pk-different-value rows stay
    assert got == [("a", 1), ("b", 2), ("b", 3)]


def test_zorder_rejects_bit_overflow(spark):
    import pytest

    from substreams_sink_clickhouse_spark.functions.zorder import zorder_key

    df = spark.range(4).selectExpr("id AS a", "id AS b", "id AS c", "id AS d")
    # 16 bits x 4 cols = positions up to 63 -> long saturation; reject
    with pytest.raises(ValueError, match="bits"):
        zorder_key(df, ["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError, match="bits"):
        zorder_key(df, ["a", "b"], bits=0)
    # 15 bits x 4 cols = 60 positions: fine
    assert df.select(zorder_key(df, ["a", "b", "c", "d"], bits=15)).count() == 4


def test_maintenance_sql_statements_route(spark, tmp_path):
    """A reference deployment's operational SQL runs unchanged through
    Engine.sql(dialect='clickhouse'): OPTIMIZE TABLE ... FINAL routes
    to Engine.optimize, ALTER TABLE ... DELETE WHERE (the mutation
    shape the reference emits, db/operations.go:93-111) routes to the
    predicate-delete path; both return status frames."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=3, keys_per_epoch=6)
    st = eng.sql("OPTIMIZE TABLE block_meta FINAL", dialect="clickhouse").collect()[0]
    assert st.table == "block_meta"
    assert st.files_after <= st.files_before
    # ClickHouse-dialect predicate (toInt64OrZero is round-6 dialect)
    d = eng.sql(
        "ALTER TABLE block_meta DELETE WHERE toInt64OrZero(id) = 0 AND id IN ('k0', 'k1')",
        dialect="clickhouse",
    ).collect()[0]
    assert d.table == "block_meta" and d.n_deleted == 2
    remaining = {r.id for r in eng.table("block_meta").select("id").collect()}
    assert remaining == {f"k{k}" for k in range(2, 6)}
    # a plain SELECT is untouched by the router
    n = eng.sql(
        "SELECT uniqExact(id) AS n FROM block_meta", dialect="clickhouse"
    ).collect()[0].n
    assert n == 4


def test_alter_update_mutation(spark, tmp_path):
    """ALTER TABLE ... UPDATE (the reference's other mutation shape,
    db/operations.go:93-111): matching rows rewritten in place,
    untouched buckets carried forward, pk assignment refused."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=2, keys_per_epoch=6)
    st = eng.sql(
        "ALTER TABLE block_meta UPDATE number = toInt64(number) + 1000 "
        "WHERE id IN ('k0', 'k3')",
        dialect="clickhouse",
    ).collect()[0]
    assert st.n_updated == 2
    rows = {r.id: r.number for r in eng.table("block_meta").collect()}
    assert rows["k0"] == 1100 and rows["k3"] == 1103  # epoch-1 values + 1000
    assert rows["k1"] == 101  # untouched
    # SQL view sees the mutation immediately
    n = eng.sql(
        "SELECT countIf(toInt64(number) >= 1000) AS n FROM block_meta",
        dialect="clickhouse",
    ).collect()[0].n
    assert n == 2
    import pytest

    with pytest.raises(ValueError, match="primary key"):
        eng.apply_update("block_meta", {"id": "'x'"}, "true")
    with pytest.raises(ValueError, match="unknown column"):
        eng.apply_update("block_meta", {"nope": "1"}, "true")


def test_alter_update_where_inside_literal(spark, tmp_path):
    """The assignment/predicate split must find the WHERE at paren
    depth 0 OUTSIDE string literals — an assignment whose literal
    contains ' WHERE ' or a comma, or a parenthesized conditional,
    must not capture the split (round-6 advisory, engine.py)."""
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=1, keys_per_epoch=4)
    st = eng.sql(
        "ALTER TABLE block_meta UPDATE "
        "number = number + toInt64(length('x WHERE y, z')), "
        "timestamp = if(id = 'a, WHERE b', now(), timestamp) "
        "WHERE id = 'k0'",
        dialect="clickhouse",
    ).collect()[0]
    assert st.n_updated == 1
    rows = {r.id: r.number for r in eng.table("block_meta").collect()}
    assert rows["k0"] == 12  # 0 + length('x WHERE y, z')
    assert rows["k1"] == 1  # untouched
    # missing WHERE is rejected (mutations are always predicated)
    import pytest

    with pytest.raises(ValueError, match="WHERE"):
        eng.sql(
            "ALTER TABLE block_meta UPDATE number = '1'",
            dialect="clickhouse",
        )


def test_truncate_table_statement(spark, tmp_path):
    eng, pipe = _engine_with_epochs(spark, tmp_path, n_epochs=1, keys_per_epoch=5)
    st = eng.sql("TRUNCATE TABLE block_meta", dialect="clickhouse").collect()[0]
    assert st.n_deleted == 5
    assert eng.table("block_meta").count() == 0
    assert eng.sql("SELECT count(*) AS n FROM block_meta").collect()[0].n == 0
