"""One commit point per epoch: the cursor row and the attached rollup
are committed by the same manifest swap as the epoch's table state,
every manifest edit runs under one lock, and reorg rollback rewinds
state, cursor, rollup and history together.

Crash points and concurrent writers are injected by wrapping the
store's own steps (``_write_buckets``, ``os.replace``) around
``process_batch`` on in-memory change frames.  The wire sink posts to
a loopback ClickHouse that records every statement and can reject
one."""

import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark import errors
from substreams_sink_clickhouse_spark.catalog import CURSORS_SCHEMA, Catalog, TableInfo
from substreams_sink_clickhouse_spark.functions.localdata import local_df
from substreams_sink_clickhouse_spark.sinks.clickhouse import ClickHouseHTTPSink
from substreams_sink_clickhouse_spark.streaming.cursors import Cursor, CursorStore
from substreams_sink_clickhouse_spark.streaming.mataggs import IncrementalAggregate
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


def _pipe(spark, wh, **kwargs):
    cat = Catalog()
    cat.register(TableInfo("kv", SCHEMA, "id"))
    pipe = ChangesIngestPipeline(
        spark, cat, warehouse_dir=str(wh), checkpoint_dir=f"{wh}_ckpt",
        module_hash="m", n_buckets=4, **kwargs,
    )
    pipe.attach_rollup("kv", IncrementalAggregate(
        "kv_rollup", keys=["number"],
        measures={"n": ("count", "id"), "lo": ("min", "id"), "hi": ("max", "id")},
    ))
    return pipe


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


def _rollup(pipe):
    return {r["number"]: (r["n"], r["lo"], r["hi"]) for r in pipe.table("kv_rollup").collect()}


def _one_shot(*windows):
    """The rollup as one aggregate over the windows' CREATE rows."""
    out = {}
    for ops in windows:
        for pk, op, n in ops:
            if op == "CREATE":
                count, lo, hi = out.get(n, (0, pk, pk))
                out[n] = (count + 1, min(lo, pk), max(hi, pk))
    return out


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
    return (
        _rows(pipe), _rollup(pipe), pipe.cursors.get_cursor("m"),
        man["applied_epochs"], man["epoch_blocks"],
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    pipe = _pipe(spark, tmp_path_factory.mktemp("ref") / "wh")
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    return _outcome(pipe)


def _crash_after_bucket_write(table, name):
    """``_write_buckets`` that raises once it has written
    ``<table>/<name>``: ``kv/v1`` is epoch 1's delta, ``kv/dv1`` its
    deletion vector and ``kv_rollup/v1`` the rollup's partials.  The
    epoch writes them side by side, so their order is not fixed."""
    real = TableStateStore._write_buckets

    def write(self, df, vdir, *args, **kwargs):
        written = real(self, df, vdir, *args, **kwargs)
        if (os.path.basename(os.path.dirname(vdir)), os.path.basename(vdir)) == (table, name):
            raise Crash(f"after writing {table}/{name}")
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
    "after_delta_write": (lambda: _crash_after_bucket_write("kv", "v1"), False),
    "after_dv_write": (lambda: _crash_after_bucket_write("kv", "dv1"), False),
    "after_rollup_stage": (lambda: _crash_after_bucket_write("kv_rollup", "v1"), False),
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
    # the manifest, the cursor and the rollup are all at epoch 0 or
    # all at epoch 1
    assert pipe.state.epoch_applied(1) is committed
    assert _block(pipe) == (2 if committed else 1)
    assert _rollup(pipe) == _one_shot(EPOCH0, *([EPOCH1] if committed else []))
    pipe.process_batch(epoch1, 1)  # the stream's replay
    assert _outcome(pipe) == uninterrupted
    assert _rollup(pipe) == _one_shot(EPOCH0, EPOCH1)


# ------------------------------------------------------------ rollups

def test_undo_rewinds_the_rollup_to_the_surviving_epochs(spark, tmp_path):
    pipe = _pipe(spark, tmp_path / "wh")
    e0 = [(f"k{i}", "CREATE", 1) for i in range(4)]
    e1 = [("k4", "CREATE", 2), ("k5", "CREATE", 1), ("k0", "UPDATE", 9)]
    e2 = [("k6", "CREATE", 3), ("k1", "DELETE", None)]
    fork = [("k7", "CREATE", 4), ("k8", "CREATE", 1)]
    for epoch, (block, ops) in enumerate([(10, e0), (20, e1), (30, e2)]):
        pipe.process_batch(_window(spark, block, ops), epoch)
    assert _rollup(pipe) == _one_shot(e0, e1, e2)
    pipe.handle_block_undo_signal(last_valid_block=15)
    assert _rollup(pipe) == _one_shot(e0)
    pipe.process_batch(_window(spark, 25, fork), 3)  # the new fork
    assert _rollup(pipe) == _one_shot(e0, fork)


def test_vacuum_reclaims_superseded_rollup_versions(spark, tmp_path):
    pipe = _pipe(spark, tmp_path / "wh")
    windows = [[(f"k{e}{i}", "CREATE", e % 2) for i in range(2)] for e in range(4)]
    for epoch, ops in enumerate(windows):
        pipe.process_batch(_window(spark, epoch + 1, ops), epoch)
    rollup_dir = tmp_path / "wh" / "kv_rollup"
    assert sorted(os.listdir(rollup_dir)) == ["v0", "v1", "v2", "v3"]
    deleted = pipe.state.vacuum(keep_epochs=1)
    assert {str(rollup_dir / "v0"), str(rollup_dir / "v1")} <= set(deleted)
    assert sorted(os.listdir(rollup_dir)) == ["v2", "v3"]
    assert _rollup(pipe) == _one_shot(*windows)
    as_of = pipe.state.table_state_as_of("kv_rollup", 2).collect()
    assert {r["number"]: (r["n"], r["lo"], r["hi"]) for r in as_of} == _one_shot(*windows[:3])


def test_a_change_naming_the_rollup_table_is_unknown(spark, tmp_path):
    pipe = _pipe(spark, tmp_path / "wh")
    window = _window(spark, 1, [("k0", "CREATE", 1)]).withColumn("table", F.lit("kv_rollup"))
    with pytest.raises(errors.UnknownTableError) as raised:
        pipe.process_batch(window, 0)
    assert raised.value.available == ["kv"]
    assert not pipe.state.epoch_applied(0)


# ------------------------------------------- one pass over the window

def _epoch_dirs(wh, epoch):
    """The version directories epoch ``epoch`` wrote, in any table."""
    return sorted(
        os.path.join(t, d)
        for t in os.listdir(wh) if os.path.isdir(os.path.join(wh, t))
        for d in os.listdir(os.path.join(wh, t)) if d in (f"v{epoch}", f"dv{epoch}")
    )


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


#: EPOCH1 plus a duplicate CREATE, which the fold rejects
BAD_EPOCH1 = EPOCH1 + [("k9", "CREATE", 9), ("k9", "CREATE", 10)]


def test_merge_violation_raises_before_any_epoch_directory(spark, tmp_path):
    """The summary materializes the guarded fold, so a duplicate CREATE
    raises before the sidecar epoch writes a delta, a dv or a rollup
    directory, and the manifest is left as it was."""
    wh = tmp_path / "wh"
    pipe = _pipe(spark, wh)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    before = pipe.state.read_manifest()
    with pytest.raises(Exception, match="invalid change sequence"):
        pipe.process_batch(_window(spark, 2, BAD_EPOCH1), 1)
    assert _epoch_dirs(wh, 1) == []
    assert pipe.state.read_manifest() == before


def test_unknown_table_raises_with_nothing_written(spark, tmp_path):
    wh = tmp_path / "wh"
    pipe = _pipe(spark, wh)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    before = pipe.state.read_manifest()
    window = _window(spark, 2, EPOCH1).unionByName(
        _window(spark, 2, [("x", "CREATE", 1)]).withColumn("table", F.lit("mystery"))
    )
    with pytest.raises(errors.UnknownTableError):
        pipe.process_batch(window, 1)
    assert _epoch_dirs(wh, 1) == []
    assert pipe.state.read_manifest() == before


@pytest.mark.parametrize("write_mode", ["auto", "rewrite"])
def test_flushed_entries_count_the_reduced_ops(spark, tmp_path, write_mode):
    """``n_entries`` is the window's reduced op count, as the
    reference counts its flushed entries, on an initial load and on a
    sidecar or rewrite epoch alike."""
    seen = []
    pipe = _pipe(spark, tmp_path / "wh", write_mode=write_mode,
                 on_batch=lambda epoch, n: seen.append(n))
    # 8 CREATEs (one updated in the same window) and a DELETE of an
    # absent pk: 9 reduced ops, 8 rows written
    load = EPOCH0 + [("k0", "UPDATE", 50), ("k9", "DELETE", None)]
    pipe.process_batch(_window(spark, 1, load), 0)
    pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    assert seen == [9, 3]
    assert pipe.stats.flushed_entries == 12
    layers = [v for v in pipe.state.read_manifest()["tables"]["kv"]["buckets"].values()
              if isinstance(v, dict)]
    assert bool(layers) is (write_mode == "auto")  # the epoch took the path asked for


@pytest.mark.parametrize("outcome", ["committed", "merge_violation", "crash_in_commit"])
def test_epoch_releases_every_cache_it_made(spark, tmp_path, monkeypatch, clickhouse, outcome):
    """...and every thread: the wire sink's worker and the commit's
    writers have all returned when the epoch does."""
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.clickhouse_sink = ClickHouseHTTPSink(clickhouse.dsn, pipe.catalog)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    window = _window(spark, 2, BAD_EPOCH1 if outcome == "merge_violation" else EPOCH1)
    if outcome == "crash_in_commit":
        monkeypatch.setattr(*_crash_after_bucket_write("kv", "v1"))
    before = _persistent_rdds(spark), threading.active_count()
    if outcome == "committed":
        pipe.process_batch(window, 1)
    else:
        with pytest.raises(Exception):
            pipe.process_batch(window, 1)
    assert (_persistent_rdds(spark), threading.active_count()) == before


# ----------------------------------------------------- the wire sink

#: what ClickHouse answers a statement it rejects
CLICKHOUSE_ERROR = "Code: 62. DB::Exception: Syntax error: failed at position 1. " + "x" * 600


class LoopbackClickHouse:
    """ClickHouse's HTTP interface on a loopback port: records every
    posted statement in arrival order, and answers statement number
    ``fail_at`` (counting from 1) with HTTP 500 and ClickHouse's
    error text."""

    def __init__(self):
        self.statements: list[str] = []
        self.fail_at = None
        lock = threading.Lock()
        ch = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server naming)
                sql = self.rfile.read(int(self.headers["Content-Length"])).decode()
                with lock:
                    ch.statements.append(sql)
                    failed = len(ch.statements) == ch.fail_at
                body = CLICKHOUSE_ERROR.encode() if failed else b""
                self.send_response(500 if failed else 200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        class Server(HTTPServer):
            request_queue_size = 16  # every executor core may post at once

        self.server = Server(("127.0.0.1", 0), Handler)
        self.dsn = f"clickhouse://default:@127.0.0.1:{self.server.server_address[1]}/default"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
        assert not self.thread.is_alive()


@pytest.fixture()
def clickhouse():
    server = LoopbackClickHouse()
    yield server
    server.close()


def _is_cursor(sql):
    return sql.startswith('ALTER TABLE "cursors"')


def test_a_failed_post_names_clickhouses_error(clickhouse):
    clickhouse.fail_at = 1
    sink = ClickHouseHTTPSink(clickhouse.dsn, Catalog())
    with pytest.raises(errors.ClickHouseHTTPError) as raised:
        sink.execute_statement("SELEC 1")
    assert raised.value.status == 500
    assert raised.value.body == CLICKHOUSE_ERROR[:500]
    assert "HTTP 500: Code: 62. DB::Exception: Syntax error" in str(raised.value)


def test_a_failed_post_leaves_the_epoch_uncommitted_and_the_replay_posts_it(
    spark, tmp_path, clickhouse, uninterrupted
):
    """The swap waits for the posts: an epoch whose post fails is not
    applied and posts no cursor statement, so the stream's replay
    posts it again (at-least-once delivery) and commits it."""
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.clickhouse_sink = ClickHouseHTTPSink(clickhouse.dsn, pipe.catalog)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    posted = len(clickhouse.statements)
    clickhouse.fail_at = posted + 1
    epoch1 = _window(spark, 2, EPOCH1)
    # the epoch's statements are posted from Spark tasks: Spark's task
    # error carries the ClickHouseHTTPError's text, not its type
    with pytest.raises(Exception, match="ClickHouse answered HTTP 500: Code: 62. DB::Exception"):
        pipe.process_batch(epoch1, 1)
    assert not pipe.state.epoch_applied(1)
    assert _block(pipe) == 1
    assert not any(_is_cursor(s) for s in clickhouse.statements[posted:])

    clickhouse.fail_at = None
    replayed = len(clickhouse.statements)
    pipe.process_batch(epoch1, 1)
    assert _outcome(pipe) == uninterrupted
    kinds = sorted(s.split(" ")[0] for s in clickhouse.statements[replayed:-1])
    assert kinds == ["ALTER", "DELETE", "INSERT"]  # k1's UPDATE, k2's DELETE, k8's CREATE
    assert _is_cursor(clickhouse.statements[-1])


def test_the_cursor_statement_ends_each_epoch(spark, tmp_path, clickhouse):
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.clickhouse_sink = ClickHouseHTTPSink(clickhouse.dsn, pipe.catalog)
    for epoch, (block, ops) in enumerate([(1, EPOCH0), (2, EPOCH1)]):
        posted = len(clickhouse.statements)
        pipe.process_batch(_window(spark, block, ops), epoch)
        cursors = [i for i, s in enumerate(clickhouse.statements[posted:]) if _is_cursor(s)]
        assert cursors == [len(clickhouse.statements) - posted - 1]


def test_a_crash_in_one_write_raises_after_every_worker_returned(
    spark, tmp_path, monkeypatch, clickhouse
):
    """The delta write raises at once while the deletion-vector write
    and the sink's posts are still running: ``process_batch`` raises
    the crash only after both have returned, and leaves no thread and
    no cache behind."""
    finished = []

    class SlowSink(ClickHouseHTTPSink):
        def write_batch(self, reduced, epoch_id=0):
            time.sleep(1)
            super().write_batch(reduced, epoch_id)
            finished.append("sink")

    pipe = _pipe(spark, tmp_path / "wh")
    pipe.clickhouse_sink = SlowSink(clickhouse.dsn, pipe.catalog)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    finished.clear()
    real = TableStateStore._write_buckets

    def write(self, df, vdir, *args, **kwargs):
        name = os.path.basename(vdir)
        if name == "v1" and os.path.basename(os.path.dirname(vdir)) == "kv":
            raise Crash("the delta write")
        if name == "dv1":
            time.sleep(1)
        written = real(self, df, vdir, *args, **kwargs)
        finished.append(name)
        return written

    monkeypatch.setattr(TableStateStore, "_write_buckets", write)
    before = _persistent_rdds(spark), threading.active_count()
    with pytest.raises(Crash):
        pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    assert sorted(finished) == ["dv1", "sink", "v1"]  # the rollup's v1, the dv, the posts
    assert (_persistent_rdds(spark), threading.active_count()) == before
    assert not pipe.state.epoch_applied(1)


def test_every_job_of_the_epoch_runs_in_the_callers_job_group(
    spark, tmp_path, monkeypatch, clickhouse
):
    """Workers take the calling thread's job group, so cancelling the
    group (as a stream stop does) reaches their jobs too: the writes
    and the posts run in it, and no job of the epoch runs outside it."""
    sc = spark.sparkContext
    groups = {}

    class GroupSink(ClickHouseHTTPSink):
        def write_batch(self, reduced, epoch_id=0):
            groups["sink"] = reduced.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
            super().write_batch(reduced, epoch_id)

    pipe = _pipe(spark, tmp_path / "wh")
    pipe.clickhouse_sink = GroupSink(clickhouse.dsn, pipe.catalog)
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    real = TableStateStore._write_buckets

    def write(self, df, vdir, *args, **kwargs):
        groups[os.path.relpath(vdir, self.warehouse_dir)] = sc.getLocalProperty("spark.jobGroup.id")
        return real(self, df, vdir, *args, **kwargs)

    monkeypatch.setattr(TableStateStore, "_write_buckets", write)
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("epoch-1", "the epoch under test")
    try:
        pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert groups == {
        "sink": "epoch-1",
        os.path.join("kv", "v1"): "epoch-1",
        os.path.join("kv", "dv1"): "epoch-1",
        os.path.join("kv_rollup", "v1"): "epoch-1",
    }
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    assert tracker.getJobIdsForGroup("epoch-1")


def test_the_epochs_caches_are_filled_before_any_write_starts(spark, tmp_path, monkeypatch):
    """The window and the sidecar table's ops⋈state match are both
    cached and filled when the side-by-side writes start, so the delta
    and the deletion-vector write read the match's cache and neither
    runs the state scan that fills it."""
    jsc = spark.sparkContext._jsc
    pipe = _pipe(spark, tmp_path / "wh")
    pipe.process_batch(_window(spark, 1, EPOCH0), 0)
    before = set(jsc.getPersistentRDDs().keySet())
    real = TableStateStore._write_buckets
    seen = {}

    def write(self, df, vdir, *args, **kwargs):
        made = set(jsc.getPersistentRDDs().keySet()) - before
        filled = {
            info.id() for info in jsc.sc().getRDDStorageInfo()
            if info.numCachedPartitions() == info.numPartitions()
        }
        seen[os.path.relpath(vdir, self.warehouse_dir)] = (len(made), made <= filled)
        return real(self, df, vdir, *args, **kwargs)

    monkeypatch.setattr(TableStateStore, "_write_buckets", write)
    pipe.process_batch(_window(spark, 2, EPOCH1), 1)
    assert seen == {
        os.path.join(table, name): (2, True)  # the window and the match
        for table, name in [("kv", "v1"), ("kv", "dv1"), ("kv_rollup", "v1")]
    }


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
