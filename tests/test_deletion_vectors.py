"""Deletion-vector (merge-on-read sidecar) commits: equivalence with
full-rewrite commits on mixed CREATE/UPDATE/DELETE replays, layer-cap
compaction, write-amplification reduction, time travel and reorg
across sidecar epochs.

Read-path semantics under test (streaming/pipeline.py
``_read_bmap_subset``): a bucket is [base, delta...] data layers plus
ONE current deletion vector of (src, pk) rows; visible state = union
of layers minus dv rows, where ``src`` is the epoch tag of the layer
holding the superseded physical row.
"""

import json
import os

import pytest
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.streaming.pipeline import (
    MAX_SIDECAR_LAYERS,
    ChangesIngestPipeline,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("s", T.StringType(), True),
    ]
)


def _msg(block_num, changes):
    return json.dumps(
        {
            "block_num": block_num,
            "block_id": f"0x{block_num:04x}",
            "table_changes": [
                {
                    "table": t,
                    "pk": pk,
                    "ordinal": ordinal,
                    "operation": op,
                    "fields": [
                        {"name": n, "new_value": val, "old_value": None}
                        for n, val in (fields or {}).items()
                    ],
                }
                for (t, pk, ordinal, op, fields) in changes
            ],
        }
    )


def _catalog():
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    return cat


def _pipe(spark, tmp_path, name, write_mode):
    return ChangesIngestPipeline(
        spark,
        _catalog(),
        warehouse_dir=str(tmp_path / f"{name}_wh"),
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        n_buckets=4,
        write_mode=write_mode,
    )


def _replay(spark, tmp_path, name, write_mode, epochs):
    stream = tmp_path / f"{name}_stream"
    stream.mkdir()
    pipe = _pipe(spark, tmp_path, name, write_mode)
    for i, changes in enumerate(epochs, start=1):
        (stream / f"b{i:03d}.jsonl").write_text(_msg(i, changes))
        pipe.run_to_completion(str(stream))
    return pipe


#: epoch 1: 40 creates; epoch 2: update a third, delete a seventh,
#: create a few new; epoch 3: update over the deltas + upsert-CREATE
#: over an existing pk (mask-the-delta and mask-the-base paths).
EPOCHS = [
    [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": f"a{i}"}) for i in range(40)],
    [("kv", f"k{i}", i, "UPDATE", {"v": str(i + 100)}) for i in range(0, 40, 3)]
    + [("kv", f"k{i}", 100 + i, "DELETE", None) for i in range(0, 40, 7)]
    + [("kv", f"n{i}", 200 + i, "CREATE", {"v": str(i), "s": "new"}) for i in range(3)],
    [("kv", f"k{i}", i, "UPDATE", {"s": "upd2"}) for i in range(0, 40, 3)]
    + [("kv", "n1", 300, "UPDATE", {"v": "999"})]
    + [("kv", "k11", 301, "DELETE", None)]
    + [("kv", "k2", 302, "CREATE", {"v": "7", "s": "recreated"})],
]


def _rows(pipe):
    return sorted(
        (r["id"], r["v"], r["s"]) for r in pipe.table("kv").collect()
    )


def test_sidecar_state_equals_rewrite_state(spark, tmp_path):
    """The hard equivalence: an identical replay committed as
    deletion-vector sidecars and as full rewrites must read back the
    SAME visible state, epoch by epoch (time travel compared too)."""
    auto = _replay(spark, tmp_path, "auto", "auto", EPOCHS)
    rw = _replay(spark, tmp_path, "rw", "rewrite", EPOCHS)
    assert _rows(auto) == _rows(rw)
    # sidecar layout actually engaged (dict entries with dv)
    entry = auto.state.read_manifest()["tables"]["kv"]
    assert any(isinstance(v, dict) and v.get("dv") for v in entry["buckets"].values())
    # rewrite layout stayed plain
    entry_rw = rw.state.read_manifest()["tables"]["kv"]
    assert all(v is None or isinstance(v, str) for v in entry_rw["buckets"].values())
    # time travel agrees at every epoch
    for epoch in (0, 1, 2):
        a = sorted(map(tuple, auto.state.table_state_as_of("kv", epoch).collect()))
        b = sorted(map(tuple, rw.state.table_state_as_of("kv", epoch).collect()))
        assert a == b, f"epoch {epoch}"


def test_sidecar_reduces_bytes_written(spark, tmp_path):
    """The point of deletion vectors: an update-heavy epoch writes
    O(changed rows), not O(bucket).  Compare bytes written by epoch 2+
    under both modes (epoch 1, the initial load, is identical)."""

    def bytes_written(pipe, prefixes):
        total = 0
        table_dir = os.path.join(pipe.state.warehouse_dir, "kv")
        for vname in os.listdir(table_dir):
            if any(vname.startswith(p) for p in prefixes):
                for root, _, files in os.walk(os.path.join(table_dir, vname)):
                    total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    wide = [
        [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": "x" * 64}) for i in range(4000)],
        [("kv", "k7", 10000, "UPDATE", {"v": "9999"}),
         ("kv", "k13", 10001, "DELETE", None)],
    ]
    auto = _replay(spark, tmp_path, "ba", "auto", wide)
    rw = _replay(spark, tmp_path, "br", "rewrite", wide)
    assert _rows(auto) == _rows(rw)
    # bytes for the epoch-2 commit only (v1/dv1 of the SECOND epoch:
    # epochs are 0-indexed internally -> the non-initial versions)
    auto_dirs = {d for d in os.listdir(os.path.join(auto.state.warehouse_dir, "kv"))}
    assert any(d.startswith("dv") for d in auto_dirs)
    a = bytes_written(auto, ("v1", "dv1"))
    r = bytes_written(rw, ("v1",))
    assert a < r / 3, f"sidecar wrote {a} bytes vs rewrite {r}"


def test_layer_cap_triggers_compacting_rewrite(spark, tmp_path):
    """After MAX_SIDECAR_LAYERS data layers accumulate on a bucket,
    the next epoch falls back to a full rewrite, compacting the entry
    back to a plain path."""
    epochs = [[("kv", "a", 1, "CREATE", {"v": "0", "s": "s"})]]
    for i in range(1, MAX_SIDECAR_LAYERS + 1):
        epochs.append([("kv", "a", i + 1, "UPDATE", {"v": str(i)})])
    pipe = _replay(spark, tmp_path, "cap", "auto", epochs)
    entry = pipe.state.read_manifest()["tables"]["kv"]
    live = [v for v in entry["buckets"].values() if v]
    assert len(live) == 1
    # updates 1..MAX-1 grew sidecar layers up to the cap; the MAX-th
    # update hit the cap and compacted: plain path again, no dv
    assert isinstance(live[0], str)
    assert _rows(pipe) == [("a", MAX_SIDECAR_LAYERS, "s")]


def test_dv_byte_budget_triggers_compacting_rewrite(spark, tmp_path, monkeypatch):
    """Pure-delete epochs grow the dv without adding data layers, so
    the layer cap never fires; the dv BYTE budget must force the next
    touch onto the full-rewrite path, clearing the dv (round-5
    advisory: unbounded dv growth risks the read-side broadcast)."""
    import substreams_sink_clickhouse_spark.streaming.pipeline as P

    monkeypatch.setattr(P, "MAX_DV_BYTES_PER_BUCKET", 1)  # any dv is over
    epochs = [
        [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": "x"}) for i in range(10)],
        [("kv", "k3", 100, "DELETE", None)],   # sidecar: dv appears
        [("kv", "k5", 101, "DELETE", None)],   # over budget -> rewrite
    ]
    pipe = _replay(spark, tmp_path, "dvb", "auto", epochs)
    assert sorted(r[0] for r in _rows(pipe)) == sorted(
        f"k{i}" for i in range(10) if i not in (3, 5)
    )
    entry = pipe.state.read_manifest()["tables"]["kv"]
    # the over-budget bucket compacted back to a plain path (dv gone);
    # untouched buckets may still carry their sidecar entries
    assert all(
        not (isinstance(v, dict) and v.get("dv")) or "k5-bucket" not in str(v)
        for v in entry["buckets"].values()
    )
    # specifically: no bucket carries BOTH a dv and membership of k5's
    # pk — read back must not rely on any dv for the rewritten bucket
    live = pipe.state.table_state("kv")
    assert live.filter("id = 'k5'").count() == 0
    assert live.filter("id = 'k3'").count() == 0


def test_oversized_dv_read_falls_back_to_shuffle_antijoin(spark, tmp_path, monkeypatch):
    """A dv already past the broadcast budget must still read correctly
    — via a shuffle anti-join instead of a broadcast."""
    import substreams_sink_clickhouse_spark.streaming.pipeline as P

    epochs = [
        [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": "x"}) for i in range(10)],
        [("kv", "k3", 100, "DELETE", None), ("kv", "k5", 101, "DELETE", None)],
    ]
    pipe = _replay(spark, tmp_path, "dvs", "auto", epochs)
    # with auto-broadcast off, only the reader's EXPLICIT hint can
    # produce a broadcast join — so the hint's presence/absence is
    # observable in the physical plan (AQE would otherwise re-choose
    # broadcast at runtime for this tiny fixture dv regardless)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = pipe.state.table_state("kv")
        assert "BroadcastHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()
        monkeypatch.setattr(P, "MAX_DV_BYTES_BROADCAST_TOTAL", 1)
        df = pipe.state.table_state("kv")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert sorted(r[0] for r in df.collect()) == sorted(
            f"k{i}" for i in range(10) if i not in (3, 5)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_delete_only_epoch_writes_no_data_layer(spark, tmp_path):
    """A pure-DELETE window adds only deletion-vector rows — zero data
    bytes."""
    epochs = [
        [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": "x"}) for i in range(10)],
        [("kv", "k3", 100, "DELETE", None), ("kv", "k5", 101, "DELETE", None)],
    ]
    pipe = _replay(spark, tmp_path, "del", "auto", epochs)
    assert sorted(r[0] for r in _rows(pipe)) == sorted(
        f"k{i}" for i in range(10) if i not in (3, 5)
    )
    table_dir = os.path.join(pipe.state.warehouse_dir, "kv")
    # the delete epoch added NO data layer (its version dir holds no
    # bucket subdirs — vacuum reclaims the empty shell), only dv rows
    assert any(d.startswith("dv") for d in os.listdir(table_dir))
    v1 = os.path.join(table_dir, "v1")
    assert not os.path.isdir(v1) or not any(
        d.startswith("__b=") for d in os.listdir(v1)
    )
    entry = pipe.state.read_manifest()["tables"]["kv"]
    assert all(
        len(pipe.state._entry_layers(v)) == 1
        for v in entry["buckets"].values()
        if v
    )


def test_reorg_rollback_across_sidecar_epochs(spark, tmp_path):
    """Undo semantics (O17) must hold over sidecar commits: rolling
    back to the pre-update block restores the pre-update state."""
    pipe = _replay(spark, tmp_path, "undo", "auto", EPOCHS[:2])
    before = _rows(pipe)
    stream = tmp_path / "undo_stream"
    (stream / "b003.jsonl").write_text(
        _msg(3, [("kv", "k1", 500, "UPDATE", {"v": "777"})])
    )
    pipe.run_to_completion(str(stream))
    assert ("k1", 777, "a1") in _rows(pipe)
    pipe.handle_block_undo_signal(last_valid_block=2)
    assert _rows(pipe) == before


def test_optimize_compacts_deletion_vectors(spark, tmp_path):
    pipe = _replay(spark, tmp_path, "opt", "auto", EPOCHS)
    before = _rows(pipe)
    stats = pipe.state.optimize("kv")
    assert stats["files_after"] <= stats["files_before"]
    entry = pipe.state.read_manifest()["tables"]["kv"]
    assert all(v is None or isinstance(v, str) for v in entry["buckets"].values())
    assert _rows(pipe) == before
    # parts reports no residual dv
    assert all(p["dv_rows"] == 0 for p in pipe.state.parts("kv"))


def test_merge_error_still_raises_in_sidecar_mode(spark, tmp_path):
    epochs = [[("kv", "a", 1, "CREATE", {"v": "1", "s": "s"})]]
    pipe = _replay(spark, tmp_path, "err", "auto", epochs)
    stream = tmp_path / "err_stream"
    (stream / "b002.jsonl").write_text(
        _msg(
            2,
            [
                ("kv", "a", 10, "DELETE", None),
                ("kv", "a", 11, "UPDATE", {"v": "2"}),
            ],
        )
    )
    with pytest.raises(Exception, match="invalid change sequence"):
        pipe.run_to_completion(str(stream))


def test_multi_table_window_mixes_sidecar_and_rewrite(spark, tmp_path):
    """One window touching TWO tables: an existing table commits as a
    sidecar while a brand-new table takes the initial-load rewrite
    path, in the same epoch."""
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    cat.register(TableInfo("kv2", SCHEMA, "id"))
    pipe = ChangesIngestPipeline(
        spark,
        cat,
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        write_mode="auto",
    )
    stream = tmp_path / "stream"
    stream.mkdir()
    (stream / "b1.jsonl").write_text(
        _msg(1, [("kv", f"k{i}", i, "CREATE", {"v": str(i), "s": "x"}) for i in range(8)])
    )
    pipe.run_to_completion(str(stream))
    (stream / "b2.jsonl").write_text(
        _msg(
            2,
            [("kv", "k1", 100, "UPDATE", {"v": "999"})]
            + [("kv2", f"p{i}", i, "CREATE", {"v": str(i), "s": "y"}) for i in range(4)],
        )
    )
    pipe.run_to_completion(str(stream))
    man = pipe.state.read_manifest()["tables"]
    assert any(isinstance(v, dict) for v in man["kv"]["buckets"].values())
    assert all(v is None or isinstance(v, str) for v in man["kv2"]["buckets"].values())
    kv = {(r["id"], r["v"]) for r in pipe.table("kv").collect()}
    assert ("k1", 999) in kv and len(kv) == 8
    assert pipe.table("kv2").count() == 4


def test_two_table_epoch_failing_in_commit_leaves_no_trace(spark, tmp_path, changes_df):
    """A window over TWO tables whose commit fails: ``kv`` takes the
    sidecar path while ``kv2`` (initial load) takes the rewrite path
    with a duplicate CREATE, so the merge guard raises from inside the
    epoch's bucket writes.  Neither table's manifest entry nor the
    cursor may move; replaying the corrected window then lands it
    exactly once."""
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    cat.register(TableInfo("kv2", SCHEMA, "id"))
    pipe = ChangesIngestPipeline(
        spark,
        cat,
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        module_hash="m",
        n_buckets=4,
        write_mode="auto",
    )

    def row(block, ordinal, table, pk, op, v):
        return (block, f"0x{block}", ordinal, table, pk, op, {"v": v, "s": "x"})

    pipe.process_batch(
        changes_df([row(1, i, "kv", f"k{i}", "CREATE", str(i)) for i in range(8)]),
        epoch_id=0,
    )
    manifest_before = pipe.state.read_manifest()
    update = row(2, 1, "kv", "k1", "UPDATE", "999")
    with pytest.raises(Exception, match="invalid change sequence"):
        pipe.process_batch(
            changes_df([update, row(2, 2, "kv2", "p1", "CREATE", "1"),
                        row(2, 3, "kv2", "p1", "CREATE", "2")]),
            epoch_id=1,
        )
    assert pipe.state.read_manifest() == manifest_before
    assert pipe.cursors.get_cursor("m").block_num == 1
    assert pipe.stats.flush_count == 1

    corrected = changes_df([update, row(2, 2, "kv2", "p1", "CREATE", "1")])
    pipe.process_batch(corrected, epoch_id=1)
    pipe.process_batch(corrected, epoch_id=1)  # replay: a no-op
    assert pipe.stats.flush_count == 2
    man = pipe.state.read_manifest()
    assert man["applied_epochs"] == [0, 1]
    assert any(isinstance(v, dict) for v in man["tables"]["kv"]["buckets"].values())
    assert all(v is None or isinstance(v, str) for v in man["tables"]["kv2"]["buckets"].values())
    assert pipe.cursors.get_cursor("m").block_num == 2
    kv = {(r["id"], r["v"]) for r in pipe.table("kv").collect()}
    assert kv == {(f"k{i}", 999 if i == 1 else i) for i in range(8)}
    assert {(r["id"], r["v"]) for r in pipe.table("kv2").collect()} == {("p1", 1)}


def test_bucket_subset_read_through_dv(spark, tmp_path):
    """bucket_state on a SUBSET of buckets must apply each bucket's dv
    (the reconcile-join read path at the next epoch)."""
    pipe = _replay(spark, tmp_path, "subset", "auto", EPOCHS[:2])
    info = pipe.catalog.get("kv")
    full = {(r["id"], r["v"]) for r in pipe.state.table_state("kv").collect()}
    got = set()
    for b in range(4):
        rows = pipe.state.bucket_state("kv", [b]).collect()
        got |= {(r["id"], r["v"]) for r in rows}
    assert got == full
    # with_src variant exposes the layer tag used by mask computation
    tagged = pipe.state.bucket_state("kv", None, with_src=True)
    assert "__src" in tagged.columns
    assert tagged.count() == len(full)


def test_optimize_only_fragmented_compacts_sidecar_buckets(spark, tmp_path):
    """Incremental compaction: only buckets carrying sidecar layers /
    deletion vectors rewrite; pristine single-file buckets keep their
    EXACT paths (carried by reference), and visible state is
    unchanged."""
    pipe = _replay(spark, tmp_path, "ofrag", "auto", EPOCHS)
    before_rows = _rows(pipe)
    entry = pipe.state.read_manifest()["tables"]["kv"]
    plain_before = {
        b: v for b, v in entry["buckets"].items() if isinstance(v, str)
    }
    frag = [
        b for b, v in entry["buckets"].items() if isinstance(v, dict)
    ]
    assert frag, "fixture should produce fragmented buckets"
    stats = pipe.state.optimize("kv", only_fragmented=True)
    assert stats is not None
    entry2 = pipe.state.read_manifest()["tables"]["kv"]
    # fragmented buckets compacted to plain paths, no dv left
    for b in frag:
        assert isinstance(entry2["buckets"][b], str)
    # untouched buckets carried forward BY REFERENCE
    for b, p in plain_before.items():
        assert entry2["buckets"][b] == p
    assert _rows(pipe) == before_rows
    # nothing fragmented anymore -> no-op
    assert pipe.state.optimize("kv", only_fragmented=True) is None
    import pytest

    with pytest.raises(ValueError, match="deduplicate"):
        pipe.state.optimize("kv", only_fragmented=True, deduplicate=True)
