"""One commit point per epoch: the cursor row is committed by the same
manifest swap as the epoch's table state, every manifest edit runs
under one lock, and reorg rollback rewinds state, cursor and history
together.

Crash points and concurrent writers are injected by wrapping the
store's own steps (``_write_buckets``, ``os.replace``) around
``process_batch`` on in-memory change frames."""

import os
import sys
import threading

import pytest
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark import errors
from substreams_sink_clickhouse_spark.catalog import CURSORS_SCHEMA, Catalog, TableInfo
from substreams_sink_clickhouse_spark.functions.localdata import local_df
from substreams_sink_clickhouse_spark.streaming.cursors import Cursor, CursorStore
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


class Crash(Exception):
    """The injected failure."""


def _pipe(spark, wh):
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    return ChangesIngestPipeline(
        spark, cat, warehouse_dir=str(wh), checkpoint_dir=f"{wh}_ckpt",
        module_hash="m", n_buckets=4,
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


def _block(pipe):
    return pipe.cursors.get_cursor("m").block_num


def _set_all(spark, block, number, op="UPDATE"):
    return _window(spark, block, [(f"k{i}", op, number) for i in range(4)])


def test_undo_rewinds_the_cursor_and_a_second_reorg_stays_on_the_new_fork(spark, tmp_path):
    """Epochs 0/1/2 at blocks 10/20/30 set ``number`` to 1/2/3.  The
    rollback to block 15 must rewind the cursor with the state and
    forget epochs 1 and 2 (their blocks and history snapshots);
    otherwise a second rollback, to block 22 after a new-fork epoch at
    block 25, resolves to orphaned epoch 1 and restores its rows."""
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.process_batch(_set_all(spark, 10, 1, op="CREATE"), 0)
    pipe.process_batch(_set_all(spark, 20, 2), 1)
    pipe.process_batch(_set_all(spark, 30, 3), 2)
    pipe.handle_block_undo_signal(last_valid_block=15)
    assert set(_rows(pipe).values()) == {1}
    cursor = pipe.cursors.get_cursor("m")
    assert (cursor.block_num, cursor.block_id) == (10, "0x000a")
    assert pipe.state.read_manifest()["epoch_blocks"] == {"0": 10}

    pipe.process_batch(_set_all(spark, 25, 4), 3)  # the new fork
    assert set(_rows(pipe).values()) == {4}
    pipe.handle_block_undo_signal(last_valid_block=22)
    assert set(_rows(pipe).values()) == {1}
    as_of = pipe.state.table_state_as_of("kv", pipe.state.epoch_for_block(22))
    assert {r["number"] for r in as_of.collect()} == {1}
    assert _block(pipe) == 10


# -------------------------------------------------- crash-point matrix

EPOCH0 = [(f"k{i}", "CREATE", i) for i in range(8)]
EPOCH1 = [("k1", "UPDATE", 100), ("k2", "DELETE", None), ("k8", "CREATE", 8)]


def _outcome(pipe):
    man = pipe.state.read_manifest()
    return _rows(pipe), pipe.cursors.get_cursor("m"), man["applied_epochs"], man["epoch_blocks"]


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    pipe = _pipe(spark, tmp_path_factory.mktemp("ref") / "wh")
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    return _outcome(pipe)


def _crash_after_bucket_write(n):
    """``_write_buckets`` that raises once its ``n``-th call has
    written: 1 = the epoch's delta, 2 = its deletion vector."""
    real = TableStateStore._write_buckets
    calls = []

    def write(self, *args, **kwargs):
        written = real(self, *args, **kwargs)
        calls.append(1)
        if len(calls) == n:
            raise Crash(f"after bucket write {n}")
        return written

    return TableStateStore, "_write_buckets", write


def _crash_at_swap(after):
    """``os.replace`` that raises on the manifest swap, before or
    after the rename."""
    real = os.replace

    def replace(src, dst):
        if str(dst).endswith("manifest.json"):
            if after:
                real(src, dst)
            raise Crash("at the manifest swap")
        real(src, dst)

    return os, "replace", replace


CRASH_POINTS = {
    "after_delta_write": (lambda: _crash_after_bucket_write(1), False),
    "after_dv_write": (lambda: _crash_after_bucket_write(2), False),
    "in_swap_before_replace": (lambda: _crash_at_swap(after=False), False),
    "right_after_swap": (lambda: _crash_at_swap(after=True), True),
}


@pytest.mark.parametrize("point", list(CRASH_POINTS))
def test_crash_point_leaves_state_and_cursor_together(
    spark, tmp_path, monkeypatch, uninterrupted, point
):
    patch, committed = CRASH_POINTS[point]
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    epoch1 = _window(spark, 2, EPOCH1)
    monkeypatch.setattr(*patch())
    with pytest.raises(Crash):
        pipe.process_batch(epoch1, 1)
    monkeypatch.undo()
    # the manifest and the cursor are both at epoch 0 or both at epoch 1
    assert pipe.state.epoch_applied(1) is committed
    assert _block(pipe) == (2 if committed else 1)
    pipe.process_batch(epoch1, 1)  # the stream's replay
    assert _outcome(pipe) == uninterrupted


# ---------------------------------------------------- concurrent writers

def _run_during_bucket_write(monkeypatch, when, action):
    """Run ``action`` once, right after the first ``_write_buckets``
    call whose directory name satisfies ``when`` — between that
    commit's staging and its manifest swap."""
    real = TableStateStore._write_buckets
    done = []

    def write(self, df, vdir, *args, **kwargs):
        written = real(self, df, vdir, *args, **kwargs)
        if not done and when(os.path.basename(vdir)):
            done.append(1)
            action()
        return written

    monkeypatch.setattr(TableStateStore, "_write_buckets", write)


def test_epoch_committed_during_rebucket_is_not_lost(spark, tmp_path, monkeypatch):
    """``rebucket`` runs without stopping ingest: an epoch that commits
    between its staging and its swap must survive, so the rebucket
    (planned on the older entry) raises rather than overwrite it."""
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.process_batch(_set_all(spark, 1, 0, op="CREATE"), 0)
    _run_during_bucket_write(
        monkeypatch, lambda d: d.startswith("rbk"),
        lambda: pipe.process_batch(_set_all(spark, 2, 1), 1),
    )
    try:
        pipe.state.rebucket("kv", 2)
    except errors.ManifestConflictError:
        assert pipe.state.table_n_buckets("kv") == 4
    monkeypatch.undo()
    assert pipe.state.read_manifest()["applied_epochs"] == [0, 1]
    assert _rows(pipe) == {f"k{i}": 1 for i in range(4)}
    assert _block(pipe) == 2
    pipe.state.rebucket("kv", 2)  # re-planned on the current entry
    assert pipe.state.table_n_buckets("kv") == 2
    assert _rows(pipe) == {f"k{i}": 1 for i in range(4)}


def test_mutation_that_loses_the_swap_leaves_the_winner_intact(spark, tmp_path, monkeypatch):
    """Mutation B is planned, then mutation A on the same table runs to
    completion, then B writes and swaps: B must raise without touching
    the files A committed."""
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.process_batch(_window(spark, 1, [("k0", "CREATE", 0), ("k1", "CREATE", 0)]), 0)
    real = TableStateStore._write_buckets
    ran = []

    def write(self, *args, **kwargs):
        if not ran:
            ran.append(1)
            pipe.state.apply_update("kv", {"number": "100"}, "id = 'k0'")  # A
        return real(self, *args, **kwargs)

    monkeypatch.setattr(TableStateStore, "_write_buckets", write)
    with pytest.raises(errors.ManifestConflictError):
        pipe.state.apply_update("kv", {"number": "200"}, "id = 'k1'")  # B
    monkeypatch.undo()
    assert _rows(pipe) == {"k0": 100, "k1": 0}


def test_cursor_delete_during_an_epoch_keeps_both(spark, tmp_path, monkeypatch):
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.cursors.write_cursor(Cursor("other", "c", 5, "0x5"))
    _run_during_bucket_write(
        monkeypatch, lambda d: True, lambda: pipe.cursors.delete_cursor("other"),
    )
    pipe.process_batch(_set_all(spark, 1, 0, op="CREATE"), 0)
    assert pipe.state.epoch_applied(0)
    assert set(pipe.cursors.all_cursors()) == {"m"}
    assert _block(pipe) == 1


def test_concurrent_cursor_writers_lose_no_update(spark, tmp_path):
    store = CursorStore(TableStateStore(spark, str(tmp_path / "wh"), Catalog()))
    n_threads, per_thread = (os.cpu_count() or 4) + 2, 10
    failures = []

    def writer(t):
        try:
            for i in range(per_thread):
                store.write_cursor(Cursor(f"t{t}-{i}", "c", i, "0x0"))
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert below
            failures.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert failures == []
    assert len(store.all_cursors()) == n_threads * per_thread


# ------------------------------------------------------ older warehouses

def test_legacy_cursors_table_is_read_then_carried_into_the_manifest(spark, tmp_path):
    wh = tmp_path / "wh"
    legacy = str(wh / "cursors")
    local_df(spark, [("old", "c9", 9, "0x9")], CURSORS_SCHEMA).coalesce(1).write.parquet(legacy)
    before = sorted(os.listdir(legacy))
    pipe = _pipe(spark, wh)
    assert pipe.cursors.get_cursor("old").block_num == 9
    pipe.process_batch(_set_all(spark, 1, 0, op="CREATE"), 0)
    assert pipe.state.read_manifest()["cursors"]["old"] == {
        "cursor": "c9", "block_num": 9, "block_id": "0x9",
    }
    assert set(pipe.cursors.all_cursors()) == {"old", "m"}
    assert sorted(os.listdir(legacy)) == before  # read-only

    bad = tmp_path / "bad"
    spark.range(1).write.parquet(str(bad / "cursors"))
    with pytest.raises(errors.CursorTableError):
        CursorStore(TableStateStore(spark, str(bad), Catalog())).all_cursors()
