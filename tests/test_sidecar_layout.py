"""Sidecar (deletion-vector) epoch layout: the apply join broadcasts the
window, not the bucket state; an epoch writes one delta file and one
dv file per table; warehouses holding the older per-bucket sidecar
layout read the same and move to the new one on their next sidecar
epoch; vacuum reclaims every unreferenced version directory and never
one a commit is still writing."""

import os
import shutil
import threading

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.errors import ManifestConflictError
from substreams_sink_clickhouse_spark.operators.merge import apply_table_ops_delta, reduce_changes
from substreams_sink_clickhouse_spark.streaming import pipeline
from substreams_sink_clickhouse_spark.streaming.pipeline import (
    ChangesIngestPipeline,
    TableStateStore,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("number", T.LongType(), True),
    ]
)
KEYS = [f"k{i}" for i in range(16)]


def _pipe(spark, wh):
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    return ChangesIngestPipeline(
        spark, cat, warehouse_dir=str(wh), checkpoint_dir=f"{wh}_ckpt", n_buckets=4
    )


def _window(spark, block, ops):
    """One epoch's changes at ``block``: ``ops`` are (pk, op, number)."""
    return spark.createDataFrame(
        [
            (block, f"0x{block:04x}", i, "kv", pk, op, {} if n is None else {"number": str(n)})
            for i, (pk, op, n) in enumerate(ops)
        ],
        "block_num long, block_id string, ordinal long, table string, "
        "pk string, op string, fields map<string,string>",
    )


def _rows(pipe):
    return {r["id"]: r["number"] for r in pipe.table("kv").collect()}


def _loaded(spark, wh):
    pipe = _pipe(spark, wh)
    pipe.process_batch(_window(spark, 1, [(k, "CREATE", i) for i, k in enumerate(KEYS)]), 0)
    return pipe


def _plan_nodes(plan):
    """Every node of a physical plan, through adaptive wrappers and
    into cached relations."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    if plan.getClass().getSimpleName() == "InMemoryTableScanExec":
        yield from _plan_nodes(plan.relation().cachedPlan())
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _kind(node):
    return node.getClass().getSimpleName()


def test_sidecar_apply_broadcasts_the_window_ops(spark, tmp_path):
    """The bucket state streams through the join; only the window's
    ops are broadcast (a hint on the preserved side of an outer join
    is ignored, and the state would be broadcast instead)."""
    pipe = _loaded(spark, tmp_path / "wh")
    target = pipe.state.bucket_state("kv", [0, 1, 2, 3], with_src=True)
    ops = reduce_changes(
        _window(spark, 2, [("k1", "UPDATE", 100), ("k2", "DELETE", None), ("k99", "CREATE", 9)]),
        {"kv": "id"},
    )
    delta, mask, cached = apply_table_ops_delta(target, ops, pipe.catalog.get("kv"))
    try:
        for df in (delta, mask):
            nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
            broadcasts = [n for n in nodes if _kind(n) == "BroadcastExchangeExec"]
            assert broadcasts
            for b in broadcasts:
                under = [_kind(n) for n in _plan_nodes(b)]
                assert "FileSourceScanExec" not in under, under
            assert "FileSourceScanExec" in [_kind(n) for n in nodes]  # the state streams
        assert sorted(r["pk"] for r in mask.collect()) == ["k1", "k2"]
        assert sorted((r["id"], r["number"]) for r in delta.collect()) == [
            ("k1", 100), ("k99", 9)
        ]
    finally:
        cached.unpersist()


def test_sidecar_epoch_writes_one_delta_and_one_dv_file(spark, tmp_path):
    """A sidecar epoch over every bucket writes two files, not two per
    bucket; each touched bucket points at the shared directories with
    its own row counts, and ``parts`` attributes them per bucket."""
    pipe = _loaded(spark, tmp_path / "wh")
    ops = [(k, "UPDATE", 100 + i) for i, k in enumerate(KEYS[:8])] + [
        (k, "DELETE", None) for k in KEYS[8:12]
    ] + [("new", "CREATE", 7)]
    pipe.process_batch(_window(spark, 2, ops), 1)
    want = {k: (100 + i if i < 8 else i) for i, k in enumerate(KEYS) if not 8 <= i < 12}
    assert _rows(pipe) == {**want, "new": 7}
    table_dir = tmp_path / "wh" / "kv"
    for d in ("v1", "dv1"):
        files = [f for f in os.listdir(table_dir / d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, os.listdir(table_dir / d))
    entry = pipe.state.read_manifest()["tables"]["kv"]
    vals = [v for v in entry["buckets"].values() if isinstance(v, dict)]
    assert vals
    masked = sum(v.get("masked", 0) for v in vals)
    assert masked == 12  # 8 updated + 4 deleted old rows
    assert all(v["dv"] == str(table_dir / "dv1") and v["dv_shared"] for v in vals if v["dv"])
    delta_rows = sum(layer["rows"] for v in vals for layer in v["files"] if layer.get("shared"))
    assert delta_rows == 9  # 8 updated rows + 1 created
    parts = pipe.state.parts("kv")
    assert sum(p["rows"] - p["dv_rows"] for p in parts) == len(want) + 1
    assert all(p["bytes"] > 0 for p in parts)


def test_older_per_bucket_sidecar_layout_reads_and_moves_forward(spark, tmp_path):
    """A warehouse whose sidecar epoch was written one directory per
    bucket (``v<e>/__b=<k>``, ``dv<e>/__b=<k>``) reads the same with
    no bucket filter; the next sidecar epoch carries the touched
    buckets' old dv rows into its shared dv file and leaves the
    untouched buckets' directories in place."""
    pipe = _loaded(spark, tmp_path / "wh")
    store = pipe.state
    buckets = {
        r["id"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in KEYS], "id string")
        .select("id", store.bucket_expr("id", 4).alias("b"))
        .collect()
    }
    # the older engine's sidecar epoch 1: k0 updated, k1 deleted
    old = ["k0", "k1"]
    table_dir = os.path.join(store.warehouse_dir, "kv")
    v1, dv1 = os.path.join(table_dir, "v1"), os.path.join(table_dir, "dv1")
    store._write_buckets(spark.createDataFrame([("k0", 1000)], SCHEMA), v1, "id", 4, 4)
    store._write_buckets(
        spark.createDataFrame([(-1, k) for k in old], "src long, pk string"), dv1, "pk", 4, 4
    )
    with store.edit_manifest() as manifest:
        prior = manifest["tables"]["kv"]
        bmap = dict(prior["buckets"])
        for k in old:
            b = str(buckets[k])
            layers = store._entry_layers(prior["buckets"][b])
            if k == "k0":
                layers.append({"epoch": 1, "path": os.path.join(v1, f"__b={b}")})
            bmap[b] = {"files": layers, "dv": os.path.join(dv1, f"__b={b}")}
        manifest["tables"]["kv"] = store._table_entry(1, bmap, 4, prior=prior)
        manifest["applied_epochs"].append(1)
        manifest["epoch_blocks"]["1"] = 2
    want = {k: i for i, k in enumerate(KEYS) if k != "k1"} | {"k0": 1000}
    assert _rows(pipe) == want
    plan = pipe.table("kv")._jdf.queryExecution().executedPlan().toString()
    assert "__b" not in plan

    # touch k0's bucket only (unless k1 shares it): the new shared dv
    # must still mask k0's base row and, in that bucket, k1's
    touched = next(k for k in KEYS[2:] if buckets[k] == buckets["k0"])
    pipe.process_batch(_window(spark, 3, [("k0", "UPDATE", 2000), (touched, "DELETE", None)]), 2)
    want = {k: v for k, v in want.items() if k != touched} | {"k0": 2000}
    assert _rows(pipe) == want
    bmap = store.read_manifest()["tables"]["kv"]["buckets"]
    b0 = bmap[str(buckets["k0"])]
    assert b0["dv"] == os.path.join(table_dir, "dv2") and b0["dv_shared"]
    carried = 2 if buckets["k1"] == buckets["k0"] else 1
    assert b0["masked"] == carried + 2  # old dv rows + k0's epoch-1 row + the delete
    if buckets["k1"] != buckets["k0"]:
        assert bmap[str(buckets["k1"])]["dv"] == os.path.join(dv1, f"__b={buckets['k1']}")
    assert sum(p["rows"] - p["dv_rows"] for p in store.parts("kv")) == len(want)


def test_vacuum_reclaims_every_unreferenced_version_dir(spark, tmp_path):
    """Maintenance directories (``opt…``) and shared sidecar epoch
    directories are reclaimed like per-bucket epoch directories: after
    three OPTIMIZE runs only the last one's directory is left."""
    pipe = _loaded(spark, tmp_path / "wh")
    pipe.process_batch(_window(spark, 2, [("k3", "UPDATE", 30), ("k4", "DELETE", None)]), 1)
    rows = _rows(pipe)
    table_dir = tmp_path / "wh" / "kv"
    assert {"v1", "dv1"} <= set(os.listdir(table_dir))
    for _ in range(3):
        pipe.state.optimize("kv")
    assert len([d for d in os.listdir(table_dir) if d.startswith("opt")]) == 3
    deleted = pipe.state.vacuum(keep_epochs=0)
    live = {
        os.path.dirname(p)
        for p in pipe.state.read_manifest()["tables"]["kv"]["buckets"].values()
        if p
    }
    assert [str(table_dir / d) for d in os.listdir(table_dir)] == sorted(live)
    assert live.pop().split(os.sep)[-1].startswith("opt3-")
    assert str(table_dir / "dv1") in deleted
    assert _rows(pipe) == rows


def test_sidecar_epoch_written_in_several_blocks(spark, tmp_path, monkeypatch):
    """A window of more ops than ``SIDECAR_WRITE_BLOCK_OPS`` writes its
    shared files from several tasks: rows per bucket are summed across
    the files, and ``parts`` counts each file once."""
    monkeypatch.setattr(pipeline, "SIDECAR_WRITE_BLOCK_OPS", 2)
    pipe = _loaded(spark, tmp_path / "wh")
    ops = [(k, "UPDATE", 100 + i) for i, k in enumerate(KEYS[:8])] + [
        (k, "DELETE", None) for k in KEYS[8:12]
    ] + [(f"new{i}", "CREATE", i) for i in range(4)]
    pipe.process_batch(_window(spark, 2, ops), 1)
    want = {k: (100 + i if i < 8 else i) for i, k in enumerate(KEYS) if not 8 <= i < 12}
    want |= {f"new{i}": i for i in range(4)}
    assert _rows(pipe) == want
    table_dir = tmp_path / "wh" / "kv"
    n_files = {d: len([f for f in os.listdir(table_dir / d) if f.endswith(".parquet")])
               for d in ("v1", "dv1")}
    assert n_files["v1"] > 1 and n_files["dv1"] > 1, n_files
    vals = [v for v in pipe.state.read_manifest()["tables"]["kv"]["buckets"].values() if v]
    assert sum(v.get("masked", 0) for v in vals) == 12
    assert sum(layer["rows"] for v in vals for layer in v["files"] if layer.get("shared")) == 12
    parts = pipe.state.parts("kv")
    assert sum(p["rows"] - p["dv_rows"] for p in parts) == len(want)
    live = {layer["path"] for v in vals for layer in v["files"]}
    on_disk = sum(
        len([f for f in os.listdir(p) if f.endswith(".parquet")]) for p in live
    )
    assert sum(p["n_files"] for p in parts) == on_disk


def test_vacuum_waits_for_a_sidecar_commit_in_flight(spark, tmp_path, monkeypatch):
    """A vacuum started between a sidecar epoch's file write and its
    swap waits for the swap: the epoch's files are neither deleted nor
    read back as empty, and the vacuum then reclaims what the epoch
    superseded."""
    pipe = _loaded(spark, tmp_path / "wh")
    count = TableStateStore._bucket_rows
    vacuums: list[threading.Thread] = []

    def bucket_rows_with_vacuum(vdir):
        if not vacuums:
            vacuums.append(threading.Thread(target=pipe.state.vacuum, args=(0,)))
            vacuums[0].start()
            vacuums[0].join(timeout=1.0)
            assert vacuums[0].is_alive(), "vacuum ran while a commit was in flight"
        return count(vdir)

    monkeypatch.setattr(TableStateStore, "_bucket_rows", staticmethod(bucket_rows_with_vacuum))
    pipe.process_batch(_window(spark, 2, [("k3", "UPDATE", 30), ("k4", "DELETE", None)]), 1)
    vacuums[0].join(timeout=60)
    assert not vacuums[0].is_alive()
    want = {k: i for i, k in enumerate(KEYS) if k != "k4"} | {"k3": 30}
    assert _rows(pipe) == want
    assert {"v1", "dv1"} <= set(os.listdir(tmp_path / "wh" / "kv"))


def test_directory_removed_after_its_write_is_a_conflict(spark, tmp_path, monkeypatch):
    """A version directory deleted right after Spark wrote it (by a
    process that does not take the write lock) fails the commit with
    ``ManifestConflictError`` instead of reading as a write with no
    rows, and the table is left as it was."""
    pipe = _loaded(spark, tmp_path / "wh")
    rows = _rows(pipe)
    manifest = pipe.state.read_manifest()
    write = DataFrameWriter.parquet

    def write_then_remove(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        shutil.rmtree(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_remove)
    with pytest.raises(ManifestConflictError):
        pipe.state.optimize("kv")
    monkeypatch.undo()
    assert pipe.state.read_manifest()["tables"] == manifest["tables"]
    assert _rows(pipe) == rows
