"""Streaming CDC ingest pipeline (reference run-loop, SURVEY §3.1).

``readStream`` (JSONL/parquet DatabaseChanges) → decode → validate →
distributed merge (operators/merge.py) → per-epoch versioned parquet
table state + cursor row.  An epoch decodes and folds its window once:
the reduced ops are cached, the window summary that materializes them
raises on any merge-rule violation before a file is written, and every
table's apply, the rollups and the wire sink read that one frame.

The reference's single DB transaction per flush
(reference ``db/flush.go:12-69``) has no parquet analog, so
effectively-once is achieved the way Spark sinks do it:

* every micro-batch (epoch) writes each affected table's NEW state to
  a fresh versioned directory ``<warehouse>/<table>/v<epoch>`` — the
  touched buckets' full state in one ``__b=<k>`` directory each, or,
  for a deletion-vector (sidecar) epoch, one delta file plus one
  ``dv<epoch>`` deletion-vector file shared by every touched bucket;
* a tiny JSON manifest is then swapped atomically (``os.replace``) to
  point readers at the new versions and record the applied epoch, its
  head block and the module's cursor row — the epoch's one commit
  point, so the cursor can never run ahead of the state.  Attached
  rollups (``attach_rollup``) are tables of the same store, staged
  with the epoch, so the swap commits them too;
* on restart/replay of an epoch the manifest shows it already applied
  and the batch becomes a no-op (idempotent replay over the
  at-least-once file source — same net semantics as the reference's
  transactional cursor).

An epoch's Spark actions that only read the cached window run side by
side on worker threads, which inherit the caller's job group: the wire
sink's posts (``ClickHouseHTTPSink.write_batch``) start once the window
has passed its checks, and the commit writes all of the epoch's files at
once.  The swap waits for every write and for the posts, so a failed
post leaves the epoch uncommitted and the replay posts it again:
delivery to ClickHouse is at-least-once, as in the reference, which
re-sends from its stored cursor.  The cursor statement is posted after
the swap.  Workers run actions only (a write also builds its own
bucketing projection).  Every cache and conf change is made on the
calling thread, the window's conf-scoped ``_cache`` before any worker
starts, and every worker has returned before the epoch releases its
caches.

Every manifest edit — epoch commit, maintenance, vacuum, reorg
rollback, cursor edit — goes through ``TableStateStore.edit_manifest``:
read, edit and swap under one ``flock`` on ``<warehouse>/manifest.lock``.
Commits stage their bucket files first and apply their entries onto the
manifest as re-read under the lock; one whose table changed since it
was planned raises ``ManifestConflictError`` rather than overwrite.
Commits hold ``<warehouse>/write.lock`` shared from their first write
through their swap and ``vacuum`` holds it exclusive, so a vacuum never
deletes a directory that a commit is still writing or has yet to swap in.

Flush cadence (O9): the reference flushes every 1000 blocks during
catch-up and every block when live (sinker/sinker.go:19-22,180-194).
In Structured Streaming the micro-batch IS the flush window:
``availableNow`` batches the whole backlog (catch-up), a
``processingTime`` trigger approximates live cadence.

Scale: merge-on-write is BOUNDED — state is hash-bucketed by pk and an
epoch reads/rewrites only the buckets its window touched (see
``TableStateStore``), so per-flush cost is O(affected buckets), not
O(table).  The versioned-directory + manifest scheme is exactly what
Delta/Iceberg formalize; we keep it explicit and dependency-free.
"""

from __future__ import annotations

import fcntl
import functools
import json
import os
import shutil
import tempfile
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog
from substreams_sink_clickhouse_spark.functions.coercion import coerce_fields
from substreams_sink_clickhouse_spark.functions.localdata import empty_df
from substreams_sink_clickhouse_spark.operators.merge import (
    apply_table_ops,
    apply_table_ops_delta,
    guard_merge_errors,
    reduce_changes,
)
from substreams_sink_clickhouse_spark.errors import ManifestConflictError, UnknownTableError
from substreams_sink_clickhouse_spark.sinks.clickhouse import cursor_update_statement
from substreams_sink_clickhouse_spark.streaming.cursors import (
    Cursor,
    CursorStore,
    legacy_cursor_rows,
)
from substreams_sink_clickhouse_spark.streaming.metrics import SinkStats

#: Deletion-vector layer cap: a bucket carrying this many data layers
#: is compacted by the next epoch's full rewrite instead of growing
#: another sidecar (bounds read-side union/anti-join width; OPTIMIZE
#: compacts eagerly).
MAX_SIDECAR_LAYERS = 4

#: Sidecar windows broadcast the window's ops against the bucket
#: state; a window with more ops than this takes the shuffle-based
#: full-rewrite reconcile instead (a 2M-op broadcast is ~hundreds of
#: MB with field maps — past the point where a hash-probe beats the
#: sort-merge reconcile anyway).
MAX_SIDECAR_WINDOW_OPS = 2_000_000

#: A sidecar commit writes its delta rows and its deletion vector as
#: ONE file each for the whole table (not one directory per bucket),
#: with no shuffle, from at most one task per this many window ops
#: (``coalesce`` never adds tasks).  Writing a file costs per
#: directory, not per row: 1000 rows into 16 ``__b=`` directories
#: measured 0.6-0.9 s from 1 task or from 16, the same rows as one
#: file 0.21-0.24 s.  The value itself is not measured: the windows
#: measured so far hold ~1k ops.
SIDECAR_WRITE_BLOCK_OPS = 100_000

#: Accumulated deletion-vector byte budget per bucket.  The layer cap
#: (MAX_SIDECAR_LAYERS) bounds DATA-layer growth, but pure-delete
#: epochs grow only the dv — no new layer — so without this cap the dv
#: can approach the bucket's physical row count and (a) blow the
#: read-side broadcast, (b) make every read anti-join against a mask
#: as large as the data.  A bucket whose dv exceeds the budget takes
#: the full-rewrite reconcile on its next touch, which rewrites the
#: visible rows and CLEARS the dv (the manifest entry is replaced
#: whole).  Reads over an already-oversized dv fall back from
#: broadcast to a shuffle anti-join rather than failing.
MAX_DV_BYTES_PER_BUCKET = 32 * 1024 * 1024

#: Read-side broadcast budget for the UNION of deletion vectors across
#: every probed bucket.  Distinct from the per-bucket cap above: that
#: one is a compaction trigger, and comparing a MULTI-bucket read's
#: total dv against it would demote perfectly healthy full-table reads
#: (64 buckets × a few hundred KB each) to a shuffle anti-join
#: (round-6 advisory).  256 MB is comfortably under Spark's broadcast
#: ceiling while still catching genuinely oversized masks.
MAX_DV_BYTES_BROADCAST_TOTAL = 256 * 1024 * 1024


#: Schema of a deletion-vector file: the epoch tag of the layer
#: holding a superseded row, and that row's pk.
_DV_SCHEMA = T.StructType(
    [T.StructField("src", T.LongType()), T.StructField("pk", T.StringType())]
)

#: The deletion-vector fields of a layered bucket entry.
_DV_KEYS = ("dv", "dv_shared", "masked")


def _union(dfs) -> DataFrame:
    """Union by name of one or more DataFrames."""
    return functools.reduce(DataFrame.unionByName, dfs)


def _parquet_files(path: str | None) -> list[str]:
    """The .parquet files directly under ``path`` ([] for
    missing/None)."""
    if not path or not os.path.isdir(path):
        return []
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def _parquet_dir_bytes(path: str | None) -> int:
    """Total bytes of the .parquet files directly under ``path`` (0 for
    missing/None).  Driver-side manifest bookkeeping — file sizes only,
    no footer reads."""
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def _dir_stats(path: str | None, memo: dict) -> tuple[int, int, int]:
    """(files, rows, bytes) of the .parquet files directly under
    ``path``, rows from the footers (driver-side metadata, no Spark
    job); read once per path and kept in ``memo``."""
    import pyarrow.parquet as pq

    if path not in memo:
        files = _parquet_files(path)
        memo[path] = (
            len(files),
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files),
        )
    return memo[path]


def _share(n_bytes: int, rows: int, total: int) -> int:
    """A bucket's bytes of a shared file: in proportion to its rows."""
    return -(-n_bytes * rows // total) if total else 0


def _bucket_dv_bytes(val, memo: dict) -> int:
    """Deletion-vector bytes charged to one bucket entry: its own dv
    directory, or its row share of a shared epoch dv file (footers
    read once per file through ``memo``)."""
    dv = TableStateStore._entry_dv(val)
    if not dv:
        return 0
    if val.get("dv_shared"):
        _, total, n_bytes = _dir_stats(dv, memo)
        return _share(n_bytes, val["masked"], total)
    return _parquet_dir_bytes(dv)


def _cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, planned so that AQE may coalesce its shuffle
    output: a window of a few hundred ops then reads back in one task,
    not one per shuffle partition.  The conf is read when the cache
    entry is built, so it is set for the ``cache()`` call only."""
    conf = df.sparkSession.conf
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prior = conf.get(key)
    conf.set(key, "true")
    try:
        return df.cache()
    finally:
        conf.set(key, prior)


class _Staged(NamedTuple):
    """One table's commit, written to disk but not yet in the
    manifest: its next entry's epoch, bucket map and modulus, the
    entry it was planned from (``base``) and the directories it
    wrote."""

    name: str
    base: dict | None
    epoch: int
    buckets: dict
    n_buckets: int
    paths: list[str]


class _Pending(NamedTuple):
    """One table's commit, planned but not written: the
    ``_write_buckets`` argument tuples of its files, and ``finish``,
    which builds the ``_Staged`` entry from their results, in order."""

    writes: list[tuple]
    finish: Callable[[list[dict]], _Staged]


def _entry_state(entry: dict | None):
    """What a staged commit depends on in a table entry: everything
    but its history, which vacuum may prune meanwhile."""
    return None if entry is None else (entry["epoch"], entry.get("n_buckets"), entry["buckets"])


class TableStateStore:
    """Versioned, hash-bucketed parquet table state with an atomic JSON
    manifest.

    Layout: every table's rows hash into ``n_buckets`` pk-buckets
    (``pmod(xxhash64(pk), n)``); a committed epoch writes version
    directories ONLY for the buckets its change window touched, and
    the manifest maps ``bucket -> current path``.  Untouched buckets
    keep their existing files — so per-epoch rewrite cost is
    O(affected buckets), not O(table).  At 100 TB this is the
    difference between a sink that keeps up and one that rewrites the
    world every flush; it answers SURVEY §7's "updates/deletes on
    immutable files" hazard.  (Delta/Iceberg formalize the same idea
    as file-level rewrite + snapshot manifest; we keep it explicit and
    dependency-free.)

    ``history`` holds full bucket-map snapshots, each with the bucket
    modulus it was written under (``n_buckets``), so reorg rollback (a
    manifest edit) restores the modulus with the map, and vacuum (drop
    unreferenced bucket dirs) works unchanged on the bucketed layout.

    One write path: every commit — epoch (rewrite or sidecar) and
    maintenance (OPTIMIZE / TTL / UPDATE / REBUCKET) — plans each
    table's files with ``_plan_table``, writes them with
    ``_write_staged`` (one ``_write_buckets`` call per file, all of a
    commit's files side by side), then applies it with ``_commit_staged``
    inside ``edit_manifest``, the one manifest writer; reorg rollback
    builds its entry with ``_table_entry`` too.

    Round 5 adds DELETION-VECTOR commits (Delta/Iceberg
    merge-on-read, dependency-free): a bucket value may be a layered
    entry — base + per-epoch delta layers plus one ``(src, pk)``
    deletion vector — so an update/delete-heavy epoch writes
    O(changed rows) instead of rewriting whole buckets (measured 31×
    byte reduction, tools/bench_dv.py).  A sidecar epoch writes ONE
    delta file (``v<epoch>``) and ONE dv file (``dv<epoch>``) per
    table, rows sorted by an INT ``__b`` bucket column; the touched
    buckets' layers and dvs point at those shared directories (marked
    ``shared``), and a reader filters each shared file to the buckets
    that point at it.  Rewrite and maintenance commits keep one
    directory per bucket.  See ``_entry_layers`` /
    ``_read_bmap_subset`` / ``commit_epoch(sidecar_states=...)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        catalog: Catalog,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.catalog = catalog
        self.n_buckets = n_buckets
        os.makedirs(warehouse_dir, exist_ok=True)

    def bucket_expr(self, pk_col: str, n: int | None = None):
        """Deterministic pk-bucket: stable across engines, sessions,
        and partitionings (never rand())."""
        return F.pmod(
            F.xxhash64(F.col(pk_col).cast("string")), F.lit(n or self.n_buckets)
        )

    def _entry_n_buckets(self, entry: dict | None) -> int:
        """Bucket modulus of a manifest table entry (set by
        ``rebucket``), defaulting to the store-wide setting.  Bucket
        count must scale with the table — 16 buckets bounding epoch
        rewrites at GB scale become multi-TB rewrite units at 100 TB —
        so it is table state, not engine config."""
        if entry and "n_buckets" in entry:
            return int(entry["n_buckets"])
        return self.n_buckets

    def table_n_buckets(self, name: str) -> int:
        """Per-table bucket fan-out, read from the manifest."""
        return self._entry_n_buckets(self.read_manifest()["tables"].get(name))

    def batch_bucket_expr(self, tables: list[str], entries: dict):
        """Bucket id for a mixed-table changes batch (column ``pk``
        against column ``table``), honoring each table's own modulus
        as recorded in ``entries`` (the manifest's table map).
        Collapses to a single literal when all modulî agree (the
        common case — no per-row branching in the plan)."""
        moduli = {t: self._entry_n_buckets(entries.get(t)) for t in tables}
        values = set(moduli.values())
        if len(values) <= 1:
            n = values.pop() if values else self.n_buckets
            return self.bucket_expr("pk", n)
        mapping = F.create_map(
            *[x for t, n in moduli.items() for x in (F.lit(t), F.lit(n))]
        )
        modulus = F.coalesce(mapping[F.col("table")], F.lit(self.n_buckets))
        return F.pmod(F.xxhash64(F.col("pk").cast("string")), modulus)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.warehouse_dir, "manifest.json")

    def read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"tables": {}, "applied_epochs": []}
        with open(self._manifest_path, encoding="utf-8") as fh:
            return json.load(fh)

    @contextmanager
    def _write_lock(self, exclusive: bool = False):
        """``flock`` on ``<warehouse>/write.lock``: commits hold it
        shared from their first file write through their swap, so they
        run side by side, and ``vacuum`` holds it exclusive, so it
        never deletes a directory a commit is writing or has yet to
        swap in."""
        with open(os.path.join(self.warehouse_dir, "write.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
            yield

    @contextmanager
    def edit_manifest(self):
        """The one manifest writer: yields the manifest, read under an
        exclusive ``flock`` on ``<warehouse>/manifest.lock``, for the
        caller to edit in place, then swaps it in atomically before
        releasing the lock.  Writers in this process and in others
        take turns, each editing what the last one committed; an
        exception in the edit commits nothing.  A manifest without a
        ``cursors`` map gets the legacy cursors table's rows."""
        with open(os.path.join(self.warehouse_dir, "manifest.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
            manifest = self.read_manifest()
            if "cursors" not in manifest:
                manifest["cursors"] = legacy_cursor_rows(self.spark, self.warehouse_dir)
            yield manifest
            fd, tmp = tempfile.mkstemp(dir=self.warehouse_dir, suffix=".manifest")
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # --------------------------------------------------- write path

    def _plan_table(
        self,
        prior: dict | None,
        name: str,
        rows: DataFrame,
        affected: list[int],
        epoch: int,
        tag: str,
        mask: DataFrame | None = None,
        sort=None,
        new_n_buckets: int | None = None,
        window_ops: int = 0,
    ) -> _Pending:
        """Plan one table's new bucket files under ``<table>/<tag>`` on
        top of its ``prior`` manifest entry; ``_write_staged`` writes
        them and builds the staged entry for ``_commit_staged``.  Every
        epoch and maintenance commit goes through here.  ``rows``
        replace the affected buckets' state, one directory per bucket,
        or, with ``mask``, are appended to them as a sidecar layer while
        the masked (src, pk) rows join each bucket's deletion vector:
        one shared delta file and one shared dv file for the table,
        independent of each other, written from at most one task per
        ``SIDECAR_WRITE_BLOCK_OPS`` of the window's ``window_ops``.
        With ``new_n_buckets`` the bucket map is rebuilt under that
        modulus."""
        n_b = new_n_buckets or self._entry_n_buckets(prior)
        bmap = dict(prior["buckets"]) if prior and not new_n_buckets else {}
        vdir = os.path.join(self.warehouse_dir, name, tag)
        key = self.catalog.get(name).primary_key
        if mask is None:

            def finish(results: list[dict]) -> _Staged:
                [written] = results
                for b in affected:
                    # a bucket whose rows were all deleted writes no dir
                    bmap[str(b)] = os.path.join(vdir, f"__b={b}") if b in written else None
                return _Staged(name, prior, epoch, bmap, n_b, [vdir])

            return _Pending([(rows, vdir, key, n_b, len(affected), sort)], finish)
        n_tasks = max(1, -(-window_ops // SIDECAR_WRITE_BLOCK_OPS))
        # deletion vectors: new masks ∪ the affected buckets' existing
        # dv rows (ONE current dv per bucket)
        mask = _union([mask, *self._scans(_DV_SCHEMA, self._dv_refs(bmap, affected))])
        dvdir = os.path.join(self.warehouse_dir, name, f"dv{epoch}")

        def finish_sidecar(results: list[dict]) -> _Staged:
            written, dv_written = results
            for b in affected:
                old = bmap.get(str(b))
                layers = self._entry_layers(old)
                if b in written:
                    layers.append({"epoch": epoch, "path": vdir, "shared": True, "rows": written[b]})
                if b in dv_written:
                    dv = {"dv": dvdir, "dv_shared": True, "masked": dv_written[b]}
                else:
                    dv = {k: old[k] for k in _DV_KEYS if k in old} if self._entry_dv(old) else {}
                bmap[str(b)] = {"files": layers, "dv": None, **dv} if layers or dv else None
            return _Staged(name, prior, epoch, bmap, n_b, [vdir, dvdir])

        return _Pending(
            [
                (rows, vdir, key, n_b, n_tasks, None, True),
                (mask, dvdir, "pk", n_b, n_tasks, None, True),
            ],
            finish_sidecar,
        )

    def _write_staged(self, pending: list[_Pending]) -> list[_Staged]:
        """Write every planned file of ``pending`` at once, one
        ``_write_buckets`` call each, at most ``defaultParallelism`` at
        a time, and return the tables' staged entries.  Each write runs
        on a worker thread that takes the calling thread's Spark job
        group, tags and local properties (so a stream stop cancels its
        jobs too).  Every write has returned before this does, and the
        first failed one's error is then raised as it was."""
        calls = [
            functools.partial(self._write_buckets, *args) for p in pending for args in p.writes
        ]
        limit = max(1, min(len(calls), self.spark.sparkContext.defaultParallelism))
        with ThreadPoolExecutor(max_workers=limit) as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(c)) for c in calls]
        done = (f.result() for f in futures)
        return [p.finish([next(done) for _ in p.writes]) for p in pending]

    def _commit_staged(self, manifest: dict, staged: _Staged) -> None:
        """Apply a staged table entry onto ``manifest``, as read inside
        ``edit_manifest``.  If the table's entry is no longer the one
        the commit was planned from (another commit, maintenance or
        rollback swapped in between), or a directory it wrote is gone
        (deleted by a process outside ``_write_lock``), raise
        ``ManifestConflictError``: applying it would drop that edit or
        point at missing files."""
        current = manifest["tables"].get(staged.name)
        if _entry_state(current) != _entry_state(staged.base):
            raise ManifestConflictError(
                f"table {staged.name!r} changed while a commit was staged on it "
                f"(planned at epoch {staged.base and staged.base['epoch']}, "
                f"now epoch {current and current['epoch']}); nothing was committed"
            )
        missing = [p for p in staged.paths if not os.path.isdir(p)]
        if missing:
            raise ManifestConflictError(
                f"files staged for table {staged.name!r} were removed before the "
                f"commit: {missing[:3]}; nothing was committed"
            )
        manifest["tables"][staged.name] = self._table_entry(
            staged.epoch, staged.buckets, staged.n_buckets, prior=current
        )

    def _write_buckets(
        self,
        df: DataFrame,
        vdir: str,
        key_col: str,
        n_b: int,
        n_parts: int,
        sort=None,
        shared: bool = False,
    ) -> dict[int, int | None]:
        """Hash ``df`` into ``n_b`` buckets on ``key_col``, write it
        under ``vdir`` and return ``{bucket id: rows}`` for every
        bucket that got rows.

        By default each bucket gets its own ``vdir/__b=<id>``
        directory, written from ``max(2, n_parts)`` tasks (rows are
        not counted: None).  Pre-sorting by ``(__b, sort)`` satisfies
        the file writer's required ordering, so no extra sort is
        inserted and rows land ``sort``-clustered inside each bucket
        file.

        ``shared=True`` writes one file from each of ``n_parts`` tasks
        with no shuffle (``coalesce``), rows sorted by ``__b``, which
        stays in the file as an INT column so row-group statistics
        prune by bucket.  The per-bucket row counts come from the
        written files' ``__b`` column, read on the driver.

        A write with no rows still leaves ``vdir`` (vacuum reclaims
        it); a ``vdir`` missing after the write was deleted by someone
        else, and raises ``ManifestConflictError`` rather than read as
        a write with no rows."""
        out = df.withColumn("__b", self.bucket_expr(key_col, n_b).cast("int"))
        if shared:
            out.coalesce(n_parts).sortWithinPartitions("__b").write.mode("overwrite").parquet(vdir)
        else:
            out = out.repartition(max(2, n_parts), F.col("__b"))
            if sort is not None:
                out = out.sortWithinPartitions("__b", sort)
            out.write.mode("overwrite").partitionBy("__b").parquet(vdir)
        if not os.path.isdir(vdir):
            raise ManifestConflictError(
                f"{vdir} was removed right after it was written; nothing was committed"
            )
        if shared:
            return self._bucket_rows(vdir)
        return {int(d.split("=", 1)[1]): None for d in os.listdir(vdir) if d.startswith("__b=")}

    @staticmethod
    def _bucket_rows(vdir: str) -> dict[int, int]:
        """Rows per bucket in a shared epoch directory, from its files'
        ``__b`` column."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rows: dict[int, int] = {}
        for f in _parquet_files(vdir):
            for vc in pc.value_counts(pq.read_table(f, columns=["__b"]).column("__b")).to_pylist():
                rows[vc["values"]] = rows.get(vc["values"], 0) + vc["counts"]
        return rows

    @staticmethod
    def _table_entry(
        epoch: int,
        buckets: dict,
        n_buckets: int | None,
        prior: dict | None = None,
        history: list[dict] | None = None,
    ) -> dict:
        """A table's next manifest entry.  ``prior`` is snapshotted
        onto the history with its modulus, so reorg rollback restores
        both.  Rollback passes the retained ``history`` instead: it
        moves back along the history, not forward.  Snapshots from
        before the modulus was recorded carry none; restoring one falls
        back to the store-wide default."""
        if history is None:
            history = list(prior.get("history", [])) if prior else []
            if prior is not None:
                snap = {"epoch": prior["epoch"], "buckets": dict(prior["buckets"])}
                if "n_buckets" in prior:
                    snap["n_buckets"] = prior["n_buckets"]
                history.append(snap)
        entry = {"epoch": epoch, "buckets": buckets, "history": history}
        if n_buckets is not None:
            entry["n_buckets"] = n_buckets
        return entry

    # ------------------------------------------ bucket-entry helpers
    #
    # A manifest bucket value is either
    #   * a PATH string — one current data dir, no sidecars (what a
    #     full-rewrite or maintenance commit writes; the only form
    #     before round 5), or
    #   * a dict {"files": [{"epoch": e, "path": p}, ...], "dv": p-or-None}
    #     — merge-on-READ layers: base + per-epoch delta layers plus ONE
    #     current deletion vector of (src, pk) rows naming the
    #     superseded physical rows (src = the epoch tag of the layer
    #     holding the dead row; base layers are tagged -1).
    #     A reader subtracts the dv with an anti-join; OPTIMIZE (or the
    #     next full-rewrite commit) compacts the entry back to a plain
    #     path.
    #
    # A sidecar epoch's layer is ``{"epoch", "path": <table>/v<e>,
    # "shared": true, "rows": n}``: ``path`` is the epoch's one delta
    # directory, shared by every bucket it touched, ``rows`` this
    # bucket's rows in it.  Its dv is ``"dv": <table>/dv<e>,
    # "dv_shared": true, "masked": n`` — this bucket's n rows of the
    # shared dv file.  Layers and dvs without ``shared`` are one
    # bucket's own ``__b=<k>`` directory (rewrites, maintenance, and
    # sidecar epochs of older engines), read whole.

    @staticmethod
    def _entry_layers(val) -> list[dict]:
        """Normalize a bucket value to its layer list."""
        if val is None:
            return []
        if isinstance(val, str):
            return [{"epoch": -1, "path": val}]
        return list(val.get("files", []))

    @staticmethod
    def _entry_dv(val) -> str | None:
        return val.get("dv") if isinstance(val, dict) else None

    @classmethod
    def _dv_refs(cls, bmap: dict, buckets) -> list[tuple[int, str, bool]]:
        """(bucket, dv path, shared) of the given buckets that carry a
        deletion vector."""
        return [
            (int(b), dv, bool(bmap[str(b)].get("dv_shared")))
            for b in buckets
            if (dv := cls._entry_dv(bmap.get(str(b))))
        ]

    def _scans(self, schema: T.StructType, refs: list[tuple[int, str, bool]]) -> list[DataFrame]:
        """Scans of (bucket, path, shared) references: the per-bucket
        directories in one multi-path read, each shared epoch
        directory read once and filtered to the buckets that point at
        it."""
        own = sorted({p for _, p, shared in refs if not shared})
        by_path: dict[str, set[int]] = {}
        for b, p, shared in refs:
            if shared:
                by_path.setdefault(p, set()).add(b)
        out = [self.spark.read.schema(schema).parquet(*own)] if own else []
        with_b = T.StructType(schema.fields + [T.StructField("__b", T.IntegerType())])
        for p, buckets in sorted(by_path.items()):
            out.append(
                self.spark.read.schema(with_b)
                .parquet(p)
                .where(F.col("__b").isin(sorted(buckets)))
                .drop("__b")
            )
        return out

    def _read_bmap_subset(
        self, info, bmap: dict, keys: list[str], with_src: bool = False
    ) -> DataFrame:
        """Visible rows of the given bucket entries: union the data
        layers (one scan per layer generation, see ``_scans``), then
        anti-join away deletion-vector rows on (src, pk).  ``with_src``
        keeps the ``__src`` epoch-tag column (the sidecar apply path
        needs it to name the superseded physical rows)."""
        by_epoch: dict[int, list[tuple[int, str, bool]]] = {}
        for k in keys:
            for layer in self._entry_layers(bmap.get(k)):
                by_epoch.setdefault(int(layer["epoch"]), []).append(
                    (int(k), layer["path"], bool(layer.get("shared")))
                )
        dv_refs = self._dv_refs(bmap, keys)
        if not by_epoch:
            df = empty_df(self.spark, info.schema)
            return df.selectExpr("*", "CAST(NULL AS LONG) AS __src") if with_src else df
        if not dv_refs and not with_src:
            # fast path — no tagging, no join: every per-bucket
            # directory in one multi-path scan (the pre-deletion-vector
            # reader), plus one scan per shared epoch file
            return _union(self._scans(info.schema, [r for rs in by_epoch.values() for r in rs]))
        df = _union(
            scan.selectExpr("*", f"CAST({epoch} AS LONG) AS __src")
            for epoch, refs in sorted(by_epoch.items())
            for scan in self._scans(info.schema, refs)
        )
        if dv_refs:
            dv = _union(self._scans(_DV_SCHEMA, dv_refs)).selectExpr(
                "src AS __dv_src", "pk AS __dv_pk"
            )
            # broadcast only within budget: an oversized TOTAL dv
            # (across all probed buckets) takes a shuffle anti-join
            # instead of risking the broadcast limit.  The total cap,
            # not the per-bucket compaction trigger, governs here — a
            # many-bucket read of healthy buckets must keep its
            # broadcast (round-6 advisory).
            if (
                sum(_parquet_dir_bytes(p) for p in {p for _, p, _ in dv_refs})
                <= MAX_DV_BYTES_BROADCAST_TOTAL
            ):
                dv = F.broadcast(dv)
            pk = info.primary_key.replace("`", "``")
            df = df.join(
                dv,
                F.expr(f"__src = __dv_src AND CAST(`{pk}` AS STRING) = __dv_pk"),
                "left_anti",
            )
        return df if with_src else df.drop("__src")

    def table_state(self, name: str) -> DataFrame:
        """Current full state of a table (empty DF with catalog schema
        if never written)."""
        return self.bucket_state(name, None)

    def bucket_state(
        self, name: str, buckets: list[int] | None, with_src: bool = False
    ) -> DataFrame:
        """State restricted to the given pk-buckets — what the
        reconcile join reads, so a flush window touching 3 of 16
        buckets scans 3/16 of the table."""
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            df = empty_df(self.spark, info.schema)
            return df.selectExpr("*", "CAST(NULL AS LONG) AS __src") if with_src else df
        bmap = entry["buckets"]
        keys = [str(b) for b in buckets] if buckets is not None else list(bmap)
        return self._read_bmap_subset(info, bmap, keys, with_src=with_src)

    def table_state_as_of(self, name: str, epoch_id: int) -> DataFrame:
        """Time travel: the table's state as of a committed epoch —
        free with snapshot history (subject to vacuum retention).
        Raises if no snapshot at or below ``epoch_id`` survives."""
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return empty_df(self.spark, info.schema)
        candidates = [h for h in entry.get("history", []) if h["epoch"] <= epoch_id]
        if entry["epoch"] <= epoch_id:
            bmap = entry["buckets"]
        elif candidates:
            bmap = max(candidates, key=lambda h: h["epoch"])["buckets"]
        else:
            raise ValueError(
                f"no retained snapshot of '{name}' at or below epoch "
                f"{epoch_id} (vacuumed?)"
            )
        return self._read_bmap_subset(info, bmap, list(bmap))

    def epoch_for_block(self, block_num: int) -> int:
        """Resolve a BLOCK number to the committed epoch visible at it:
        the highest epoch whose cursor block is <= ``block_num`` (the
        cursor records each flush's highest applied block — reference
        analog db/cursor.go:120-125, cursor-at-block provenance).
        Granularity is the flush epoch, exactly as in the reference: a
        block inside a multi-block flush window resolves to the last
        state that does not read past it."""
        blocks = self.read_manifest().get("epoch_blocks", {})
        cands = [int(e) for e, b in blocks.items() if b <= block_num]
        if not cands:
            raise ValueError(
                f"no committed epoch at or below block {block_num} "
                f"(recorded epoch blocks: {sorted(blocks.items())})"
            )
        return max(cands)

    def epoch_applied(self, epoch_id: int) -> bool:
        return epoch_id in self.read_manifest()["applied_epochs"]

    def commit_epoch(
        self,
        epoch_id: int,
        new_states: dict[str, tuple[DataFrame, list[int]]],
        cursor: Cursor | None,
        sidecar_states: dict[str, tuple[DataFrame, DataFrame, list[int], int]] | None = None,
        base: dict | None = None,
        before_swap: Callable[[], object] | None = None,
    ) -> None:
        """Write each affected bucket's new state, then commit the
        epoch with one manifest swap: its table entries, its applied
        mark, its head block and the cursor row.  Every file of the
        epoch is planned on the calling thread and then written at
        once — each sidecar table's delta and dv files, each rewritten
        table's and rollup's buckets — at most ``defaultParallelism``
        at a time (``_write_staged``).  The swap waits for all of them
        and then for ``before_swap`` (the pipeline's wire sink), and is
        skipped if any of them raised.  The write lock is held shared
        throughout, so a slow ``before_swap`` holds ``vacuum`` off
        too.  ``new_states`` maps
        table -> (bucket-subset state DF, affected bucket ids) — the
        full-rewrite path.  ``sidecar_states`` maps table -> (delta
        rows DF, (src, pk) mask DF, affected bucket ids, window op
        count) — the deletion-vector path: the table gets ONE delta
        file, which adds a layer to each affected bucket that got
        rows, and ONE dv file, which replaces each affected bucket's
        deletion vector with (old dv rows ∪ new masks), so bytes
        written are O(changed rows), not O(bucket) (see
        _read_bmap_subset for the read side).
        Untouched buckets are carried forward by reference, never
        rewritten.  ``base`` is the manifest table map the epoch was
        planned from (default: read now); the swap raises
        ``ManifestConflictError`` if any staged table changed since."""
        if base is None:
            base = self.read_manifest()["tables"]
        tag = f"v{epoch_id}"
        with self._write_lock():
            staged = self._write_staged([
                self._plan_table(
                    base.get(name), name, delta, affected, epoch_id, tag, mask=mask,
                    window_ops=n_ops,
                )
                for name, (delta, mask, affected, n_ops) in (sidecar_states or {}).items()
            ] + [
                self._plan_table(base.get(name), name, df, affected, epoch_id, tag)
                for name, (df, affected) in new_states.items()
            ])
            if before_swap is not None:
                before_swap()
            with self.edit_manifest() as manifest:
                for s in staged:
                    self._commit_staged(manifest, s)
                manifest["applied_epochs"] = sorted(set(manifest["applied_epochs"]) | {epoch_id})
                if cursor is not None:
                    manifest.setdefault("epoch_blocks", {})[str(epoch_id)] = cursor.block_num
                    manifest.setdefault("epoch_block_ids", {})[str(epoch_id)] = cursor.block_id
                    manifest["cursors"][cursor.id] = cursor.row()

    def vacuum(self, keep_epochs: int = 2) -> list[str]:
        """Garbage-collect unreferenced table versions (the
        operational cost of versioned merge-on-write — what Delta
        calls VACUUM).

        Keeps every directory referenced by the live bucket map or by
        the newest ``keep_epochs`` history snapshots (the
        reorg-rollback window): a bucket's own ``__b=<k>`` directory,
        or a whole shared sidecar epoch directory.  Every other
        version directory under a table — epoch (``v``/``dv``) and
        maintenance (``opt``/``ttl``/``upd``/``rbk``) alike — is
        deleted, or, while some of its bucket directories are still
        referenced, the rest of them.  Waits for the commits in flight
        to swap, and holds new ones off until it is done (see
        ``_write_lock``); a commit in flight swaps only after its
        ``before_swap``, so vacuum also waits for the wire sink's
        posts.  Returns the deleted paths.
        Retention bounds storage regardless of how many epochs have
        run."""
        deleted: list[str] = []

        def _bmap_paths(bmap: dict) -> set[str]:
            refs: set[str] = set()
            for val in bmap.values():
                for layer in self._entry_layers(val):
                    refs.add(layer["path"])
                dv = self._entry_dv(val)
                if dv:
                    refs.add(dv)
            return refs

        def _drop(path: str) -> None:
            shutil.rmtree(path, ignore_errors=True)
            deleted.append(path)

        # with no commit writing or swapping meanwhile: no directory
        # this pass deletes is in flight or about to be referenced
        with self._write_lock(exclusive=True), self.edit_manifest() as manifest:
            for name, entry in manifest["tables"].items():
                history = entry.get("history", [])
                keep = (
                    sorted(history, key=lambda h: h["epoch"])[-keep_epochs:]
                    if keep_epochs
                    else []
                )
                referenced = _bmap_paths(entry["buckets"])
                for snap in keep:
                    referenced |= _bmap_paths(snap["buckets"])
                table_dir = os.path.join(self.warehouse_dir, name)
                if os.path.isdir(table_dir):
                    for vname in sorted(os.listdir(table_dir)):
                        vdir = os.path.join(table_dir, vname)
                        if not os.path.isdir(vdir) or vdir in referenced:
                            continue
                        subdirs = [os.path.join(vdir, b) for b in sorted(os.listdir(vdir))]
                        if not any(d in referenced for d in subdirs):
                            _drop(vdir)
                            continue
                        for bdir in subdirs:
                            if os.path.basename(bdir).startswith("__b=") and bdir not in referenced:
                                _drop(bdir)
                entry["history"] = keep
        return deleted

    # ------------------------------------------- storage maintenance
    # ClickHouse counterparts: OPTIMIZE TABLE ... FINAL (background
    # part merges forced to completion), TTL mutations (row expiry),
    # and the system.parts catalog.  The reference's sunk tables rely
    # on all three server-side; here they are explicit store
    # operations on the same versioned-bucket layout.

    def _commit_maintenance(
        self,
        name: str,
        entry: dict,
        df: DataFrame,
        affected: list[int],
        kind: str,
        sort=None,
        new_n_buckets: int | None = None,
    ) -> None:
        """Shared commit path for non-epoch mutations (OPTIMIZE / TTL /
        REBUCKET): write the affected buckets' new state under
        ``<table>/<kind><seq>-<id>``, snapshot the prior bucket map to
        history, swap the manifest atomically.  ``entry`` is the table
        entry the mutation was planned from; if an epoch (or another
        mutation) commits to the table first, the swap raises
        ``ManifestConflictError`` instead of overwriting it.
        ``applied_epochs`` is untouched — mutations are storage
        maintenance, not stream progress, so epoch replay/idempotency
        semantics are unaffected.  With ``new_n_buckets`` the bucket
        map is REPLACED under the new modulus (``affected`` then lists
        the new bucket ids)."""
        # the sequence number orders the directories; the random
        # suffix keeps a concurrent mutation that read the same number
        # from overwriting the files of the one that wins the swap
        seq = int(self.read_manifest().get("mutation_seq", 0)) + 1
        with self._write_lock():
            [staged] = self._write_staged([self._plan_table(
                entry, name, df, affected, entry["epoch"], f"{kind}{seq}-{uuid.uuid4().hex[:8]}",
                sort=sort, new_n_buckets=new_n_buckets,
            )])
            with self.edit_manifest() as manifest:
                self._commit_staged(manifest, staged)
                manifest["mutation_seq"] = int(manifest.get("mutation_seq", 0)) + 1

    def optimize(
        self,
        name: str,
        zorder: list[str] | None = None,
        deduplicate: bool = False,
        only_fragmented: bool = False,
    ) -> dict | None:
        """``OPTIMIZE TABLE <name> FINAL`` parity: compact every live
        bucket to ONE pk-sorted file.  With ``zorder=[c1, c2, ...]``
        the bucket files cluster by the Morton key over those columns
        instead (OPTIMIZE ... ZORDER BY parity): min/max row-group
        stats stay narrow on every listed column, so post-compaction
        scans skip files for predicates on ANY of them — the
        data-skipping lever that matters once a bucket holds many
        row groups at 100 TB.

        Epoch commits append one file per touched bucket per flush, so
        a long-running ingest accumulates many small files per bucket
        (ClickHouse accumulates parts the same way and merges them in
        the background).  Compaction rewrites each bucket's current
        rows into a single file, clustered by primary key — restoring
        scan locality and bounding open-file cost.  Content is
        unchanged; superseded versions stay reclaimable via
        ``vacuum``.  Returns ``{"files_before": n, "files_after": m}``
        or None for an empty/unknown table.

        Scale: cost is one full-table read + write, but per-bucket
        parallel and shuffle-free (the bucket column is derived, not
        exchanged — ``repartition`` on the precomputed ``__b`` is a
        hash exchange on n_buckets keys, the minimal movement that
        achieves one-file-per-bucket).  Run it on the cadence ClickHouse
        runs background merges, not per flush.

        ``only_fragmented=True`` compacts ONLY the buckets that carry
        deletion-vector sidecar layers (>1 data layer or a dv) —
        the natural post-ingest cadence with ``write_mode="auto"``:
        cost scales with FRAGMENTATION, not table size, and pristine
        single-file buckets are carried forward by reference,
        untouched (incompatible with ``deduplicate``, which must see
        the whole table).  Returns None when nothing is fragmented.
        """
        if only_fragmented and deduplicate:
            raise ValueError("only_fragmented cannot combine with deduplicate")
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return None
        if only_fragmented:
            affected = [
                int(b)
                for b, v in entry["buckets"].items()
                if v and (len(self._entry_layers(v)) > 1 or self._entry_dv(v))
            ]
        else:
            affected = [int(b) for b, p in entry["buckets"].items() if p]
        if not affected:
            return None
        before = sum(p["n_files"] for p in self.parts(name))
        info = self.catalog.get(name)
        state = (
            self.bucket_state(name, affected)
            if only_fragmented
            else self.table_state(name)
        )
        if deduplicate:
            # OPTIMIZE ... DEDUPLICATE parity: drop fully-identical
            # rows during the compaction rewrite (one extra exchange
            # on the full row, the same cost class as the rewrite)
            state = state.distinct()
        sort = info.primary_key
        if zorder:
            from substreams_sink_clickhouse_spark.functions.zorder import zorder_key

            # Z-order maintenance: cluster inside each bucket by the
            # Morton key so row-group min/max stats stay narrow on
            # EVERY participating column (functions/zorder.py).
            sort = zorder_key(state, zorder)
        self._commit_maintenance(name, entry, state, affected, "opt", sort=sort)
        after = sum(p["n_files"] for p in self.parts(name))
        return {"files_before": before, "files_after": after}

    def apply_ttl(self, name: str, expire_predicate: str) -> int:
        """ClickHouse ``TTL`` parity: delete rows where
        ``expire_predicate`` (SQL, e.g. ``ts < TIMESTAMP '2024-02-01'``)
        holds, rewriting ONLY the buckets that contain expired rows.
        The cutoff is explicit rather than ``now()`` so expiry is
        deterministic and replayable.  Returns the expired-row count.

        Scale: one metadata-light scan computes per-bucket expiry
        counts (aggregate on the derived bucket id — map-side partial,
        n_buckets result rows); untouched buckets are carried forward
        by reference exactly as in epoch commits.
        """
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return 0
        state = self.table_state(name)
        n_b = self._entry_n_buckets(entry)
        per_bucket = (
            state.groupBy(self.bucket_expr(info.primary_key, n_b).alias("__b"))
            .agg(
                F.sum(F.expr(expire_predicate).cast("long")).alias("n_exp")
            )
            .filter(F.col("n_exp") > 0)
            .collect()
        )
        if not per_bucket:
            return 0
        affected = [int(r["__b"]) for r in per_bucket]
        n_expired = sum(int(r["n_exp"]) for r in per_bucket)
        kept = self.bucket_state(name, affected).filter(f"NOT ({expire_predicate})")
        self._commit_maintenance(name, entry, kept, affected, "ttl")
        return n_expired

    def apply_update(
        self, name: str, assignments: dict[str, str], predicate: str
    ) -> int:
        """ClickHouse ``ALTER TABLE ... UPDATE col = expr WHERE pred``
        parity — the OTHER mutation shape the reference emits
        (db/operations.go:93-111).  Rewrites ONLY the buckets holding
        matching rows, replacing each assigned column with its
        expression on matching rows; untouched buckets carry forward by
        reference like epoch commits.  Returns the matched-row count.

        Scale: same shape as :meth:`apply_ttl` — one metadata-light
        per-bucket match count, then a rewrite of the affected buckets
        only.  The pk must not be assigned (a pk rewrite is a
        delete+insert, not a mutation — ClickHouse refuses it too)."""
        info = self.catalog.get(name)
        if info.primary_key in assignments:
            raise ValueError(
                f"cannot UPDATE the primary key column "
                f"{info.primary_key!r}; delete and re-insert instead"
            )
        unknown = [c for c in assignments if c not in info.schema.fieldNames()]
        if unknown:
            raise ValueError(f"UPDATE of unknown column(s) {unknown} on {name!r}")
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return 0
        state = self.table_state(name)
        n_b = self._entry_n_buckets(entry)
        per_bucket = (
            state.groupBy(self.bucket_expr(info.primary_key, n_b).alias("__b"))
            .agg(F.sum(F.expr(predicate).cast("long")).alias("n_hit"))
            .filter(F.col("n_hit") > 0)
            .collect()
        )
        if not per_bucket:
            return 0
        affected = [int(r["__b"]) for r in per_bucket]
        n_hit = sum(int(r["n_hit"]) for r in per_bucket)
        mutated = self.bucket_state(name, affected).select(
            *[
                F.when(F.expr(predicate), F.expr(expr).cast(info.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c, expr in (
                    (fld, assignments.get(fld)) for fld in info.schema.fieldNames()
                )
            ]
        )
        self._commit_maintenance(name, entry, mutated, affected, "upd")
        return n_hit

    def rebucket(self, name: str, new_n_buckets: int) -> dict | None:
        """Online bucket-count rescaling — the maintenance op that keeps
        the bounded-merge contract true as a table grows.

        The pk-bucket is the epoch rewrite unit: with N buckets a flush
        rewrites O(touched buckets × table_size/N).  A fan-out chosen
        at GB scale makes each bucket a multi-TB rewrite unit at
        100 TB, so the fan-out must be re-scalable WITHOUT stopping
        ingest.  This rewrites the table once under the new modulus and
        records it in the manifest; the next epoch's bucket math picks
        it up automatically (``batch_bucket_expr`` reads per-table
        modulî).  One full-table shuffle-light pass (hash exchange on
        the derived bucket id only), exactly like ClickHouse resharding
        a MergeTree by re-inserting.  Returns ``{"n_buckets_before",
        "n_buckets_after"}``; no-op (None) if the modulus is unchanged
        or the table is empty/unknown."""
        entry = self.read_manifest()["tables"].get(name)
        before = self._entry_n_buckets(entry)
        if entry is None or new_n_buckets == before:
            return None
        self._commit_maintenance(
            name,
            entry,
            self.table_state(name),
            list(range(new_n_buckets)),
            "rbk",
            sort=self.catalog.get(name).primary_key,
            new_n_buckets=new_n_buckets,
        )
        return {"n_buckets_before": before, "n_buckets_after": new_n_buckets}

    def parts(self, name: str) -> list[dict]:
        """``system.parts`` parity: per-bucket storage metadata of the
        LIVE table state — file count, bytes, rows — read from parquet
        footers and the filesystem (pure metadata, no Spark job), the
        same way ClickHouse serves system.parts from part headers.  A
        shared sidecar epoch file counts for each bucket that points
        at it with that bucket's rows (from the manifest) and their
        share of its bytes; its files count once, at the lowest bucket
        that points at it, so ``n_files`` sums to the files on disk."""
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return []
        out: list[dict] = []
        memo: dict = {}
        files_at: dict[str, int] = {}  # shared path -> bucket counting its files

        for b, val in sorted(entry["buckets"].items(), key=lambda kv: int(kv[0])):
            layers = self._entry_layers(val)
            dv_path = self._entry_dv(val)
            if not layers and not dv_path:
                continue
            n_files = n_bytes = n_rows = 0
            for layer in layers:
                nf, nr, nb = _dir_stats(layer["path"], memo)
                if layer.get("shared"):
                    # this bucket's rows of a shared sidecar epoch file
                    nf = nf if files_at.setdefault(layer["path"], int(b)) == int(b) else 0
                    nb = _share(nb, layer["rows"], nr)
                    nr = layer["rows"]
                n_files += nf
                n_bytes += nb
                n_rows += nr
            dv_shared = dv_path and val.get("dv_shared")
            dv_rows = val["masked"] if dv_shared else _dir_stats(dv_path, memo)[1]
            out.append(
                {
                    "table": name,
                    "bucket": int(b),
                    "path": layers[-1]["path"] if layers else dv_path,
                    "n_files": n_files,
                    "bytes": n_bytes,
                    "rows": n_rows,  # physical rows incl. dv-masked
                    "n_layers": len(layers),
                    "dv_rows": dv_rows,
                    "dv_bytes": _bucket_dv_bytes(val, memo),
                }
            )
        return out


class ChangesIngestPipeline:
    """The reference's sinker loop on Structured Streaming."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        warehouse_dir: str,
        checkpoint_dir: str,
        module_hash: str = "default",
        on_batch: Callable[[int, int], None] | None = None,
        n_buckets: int = 16,
        clickhouse_sink=None,
        on_decode_error: str = "fail",
        dead_letter_dir: str | None = None,
        start_block: int | None = None,
        stop_block: int | None = None,
        write_mode: str = "auto",
    ):
        self.spark = spark
        # Duplicate field names within one change must resolve
        # last-wins in BOTH decode paths (the wire codec is last-wins
        # by construction, mirroring sinker.go's map assignment; the
        # JSON path's map_from_entries would THROW under Spark's stock
        # EXCEPTION dedup policy).  Pin it here so the pipeline is
        # correct on an externally built session, not only behind
        # tune_session.
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        self.catalog = catalog
        #: Block-range bounds (reference positional ``[<start>:<stop>]``,
        #: run.go:22,53-60): changes outside [start_block, stop_block)
        #: are dropped before the merge — a narrow filter on the decoded
        #: stream, applied before any shuffle.
        self.start_block = start_block
        self.stop_block = stop_block
        self.state = TableStateStore(spark, warehouse_dir, catalog, n_buckets=n_buckets)
        #: Epoch write strategy: "auto" commits a window as deletion-
        #: vector sidecars (one small delta file + one dv file per
        #: table — bytes written O(changed rows)) whenever every
        #: touched bucket has fewer than MAX_SIDECAR_LAYERS data
        #: layers, falling back to the full bucket rewrite (which also
        #: compacts the layers away).  "rewrite" always rewrites —
        #: the pre-round-5 behavior.
        if write_mode not in ("auto", "rewrite"):
            raise ValueError("write_mode must be 'auto' or 'rewrite'")
        self.write_mode = write_mode
        #: Malformed-payload policy ("fail" | "drop"); with
        #: dead_letter_dir set, malformed payloads are preserved under
        #: <dir>/epoch=<id> and the stream continues.
        self.on_decode_error = on_decode_error
        self.dead_letter_dir = dead_letter_dir
        #: Optional wire-parity sink: when set (a
        #: sinks.clickhouse.ClickHouseHTTPSink), every epoch's reduced
        #: ops are also posted as the reference's three SQL statement
        #: shapes to a live ClickHouse before the epoch commits, and its
        #: cursor statement after.
        self.clickhouse_sink = clickhouse_sink
        #: table name -> attached IncrementalAggregate rollups,
        #: updated with each epoch's CREATE rows (ClickHouse
        #: materialized-view semantics: MVs see inserted rows).
        self._rollups: dict[str, list] = {}
        self.cursors = CursorStore(self.state)
        self.checkpoint_dir = checkpoint_dir
        self.module_hash = module_hash
        self.on_batch = on_batch
        #: the sink's one stats object: flush counters, last committed
        #: block and per-phase seconds (served by serve_metrics)
        self.stats = SinkStats()

    def attach_rollup(self, table: str, rollup) -> None:
        """Attach an :class:`~...streaming.mataggs.IncrementalAggregate`
        to a table: every epoch folds its inserted rows into the
        rollup, a table of this pipeline's store (``table(rollup.name)``)
        committed by the epoch's manifest swap — the ClickHouse
        materialized-view pattern (updates/deletes are not retracted,
        exactly like ClickHouse MVs over a MergeTree insert stream).
        Changes naming the rollup's table stay unknown."""
        if rollup.name in self.catalog.tables:
            raise ValueError(f"rollup {rollup.name!r} is already a table")
        self.catalog.register(rollup.table_info(self.spark, self.catalog.get(table).schema))
        self._rollups.setdefault(table, []).append(rollup)

    # -- batch kernel -------------------------------------------------

    def process_batch(self, changes: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: one flush window
        (reference ``db/flush.go:12-69`` + ``sinker.go:119-131``).

        One pass over the window: ``live``, its reduced and
        error-guarded ops, is cached, and the window summary is the
        action that materializes it, so the decode and the fold run
        once and a merge-rule violation raises there, before anything
        is written.  Every other consumer (each table's apply, the
        rollups and the wire sink) reads that one frame, which the
        epoch releases on its way out.

        Once the window has passed its checks, the wire sink posts it
        from a worker thread while this thread plans each table's
        apply and ``commit_epoch`` writes the epoch's files; the swap
        waits for the posts, and the cursor statement follows the swap.
        A failed post or write raises here with the epoch uncommitted,
        after every worker has returned.  The posts run in Spark tasks,
        so a statement ClickHouse rejects raises Spark's job error,
        whose message holds the ``ClickHouseHTTPError`` text; a rejected
        cursor statement raises ``ClickHouseHTTPError`` itself."""
        t0 = time.time()
        phases = self.stats.phase_seconds

        def mark(phase: str, since: float) -> float:
            now = time.time()
            phases[phase] = phases.get(phase, 0.0) + (now - since)
            return now

        # the epoch's one manifest read: replay check, bucket moduli
        # and sidecar eligibility all come from it
        manifest = self.state.read_manifest()
        if epoch_id in manifest["applied_epochs"]:
            return  # replay after restart: already committed
        manifest_tables = manifest["tables"]
        if self.start_block is not None:
            changes = changes.filter(F.col("block_num") >= self.start_block)
        if self.stop_block is not None:
            # exclusive stop, matching the reference's range convention
            changes = changes.filter(F.col("block_num") < self.stop_block)
        # the cursor head rides along the decode: reduced ops carry no
        # block numbers
        head = Observation()
        changes = changes.observe(
            head, F.max("block_num").alias("num"), F.max_by("block_id", "block_num").alias("id")
        )
        live = _cache(guard_merge_errors(reduce_changes(changes, self.catalog.primary_keys())))
        cached = [live]
        side = ThreadPoolExecutor(max_workers=1)  # the wire sink's worker
        try:
            # ONE summary per (table, pk-bucket) of the reduced ops
            # yields the affected buckets, each table's op count and the
            # table-name domain, checked against the catalog (the
            # validate_change_tables contract).  Rollup tables are
            # written by their rollups only.
            rollups = {r.name for rs in self._rollups.values() for r in rs}
            known = [t for t in self.catalog.tables if t not in rollups]
            bucket = self.state.batch_bucket_expr(known, manifest_tables).alias("b")
            summary = live.groupBy("table", bucket).count().collect()
            tp = mark("window_summary", t0)
            if not summary:
                return
            unknown = sorted({r["table"] for r in summary} - set(known))
            if unknown:
                raise UnknownTableError(unknown[0], known)
            posted = None
            if self.clickhouse_sink is not None:
                # wire parity: the window as the reference's SQL
                # (INSERT / ALTER UPDATE / DELETE, db/flush.go:12-63),
                # posted beside the planning and the writes; the swap
                # waits for it
                posted = side.submit(
                    inheritable_thread_target(self.spark)(self.clickhouse_sink.write_batch),
                    live, epoch_id,
                )
            # the reconcile then scans O(affected buckets) of each
            # table and the commit rewrites the same subset
            affected: dict[str, list[int]] = {}
            window_ops: dict[str, int] = {}
            for row in summary:
                affected.setdefault(row["table"], []).append(int(row["b"]))
                window_ops[row["table"]] = window_ops.get(row["table"], 0) + row["count"]

            def sidecar_eligible(name: str, buckets: list[int]) -> bool:
                """Deletion-vector commit iff the table has committed
                state, no touched bucket is at the layer cap or over
                its dv byte budget, and the window is small enough to
                BROADCAST — the sidecar apply streams the bucket state
                through a hash join whose broadcast build side is the
                window's ops (apply_table_ops_delta), so an op count
                past the broadcast budget must take the shuffle-based
                full-rewrite reconcile instead.  Sidecar writes are
                O(changed rows) whenever they apply; the layer cap
                bounds read-side width, and the rewrite fallback
                doubles as compaction."""
                if self.write_mode != "auto":
                    return False
                if window_ops.get(name, 0) > MAX_SIDECAR_WINDOW_OPS:
                    return False
                entry = manifest_tables.get(name)
                if entry is None:
                    return False  # initial load: CREATE fast path is cheaper
                bmap = entry["buckets"]
                if not any(bmap.get(str(b)) for b in bmap):
                    return False
                # dv byte budget: pure-delete epochs grow the dv with
                # no new data layer, so the layer cap alone never
                # triggers compaction — an over-budget dv forces this
                # bucket onto the full-rewrite path, which clears it
                memo: dict = {}
                if any(
                    _bucket_dv_bytes(bmap.get(str(b)), memo) > MAX_DV_BYTES_PER_BUCKET
                    for b in buckets
                ):
                    return False
                return all(
                    len(TableStateStore._entry_layers(bmap.get(str(b))))
                    < MAX_SIDECAR_LAYERS
                    for b in buckets
                )

            new_states: dict[str, tuple[DataFrame, list[int]]] = {}
            sidecar_states: dict[str, tuple[DataFrame, DataFrame, list[int], int]] = {}
            for name, buckets in affected.items():
                info = self.catalog.get(name)
                ops = live.filter(F.col("table") == name)
                if sidecar_eligible(name, buckets):
                    target = self.state.bucket_state(name, buckets, with_src=True)
                    delta, mask, matched = apply_table_ops_delta(target, ops, info)
                    cached.append(matched)
                    # fill its cache now, on this thread: toRdd() has
                    # AQE materialize the cached plan's query stage,
                    # which runs the one job that scans the state and
                    # fills every partition of the cache (no action on
                    # top).  Left unfilled, the delta and dv writes
                    # would each run that job beside the other.
                    # test_the_epochs_caches_are_filled_before_any_write_starts
                    # pins it.
                    matched._jdf.queryExecution().toRdd()
                    sidecar_states[name] = (delta, mask, buckets, window_ops[name])
                else:
                    target = self.state.bucket_state(name, buckets)
                    new_states[name] = (apply_table_ops(target, ops, info), buckets)
            for name, attached in self._rollups.items():
                if name in affected:
                    # the epoch's inserted rows, typed like the table's
                    rows = live.filter((F.col("table") == name) & (F.col("op") == "CREATE")).select(
                        *coerce_fields(F.col("fields"), self.catalog.get(name).schema)
                    )
                    new_states.update((r.name, r.next_state(self.state, rows)) for r in attached)
            got = head.get
            cursor = Cursor.at_epoch(self.module_hash, epoch_id, got["num"], got["id"])
            tp = mark("plan", tp)
            self.state.commit_epoch(
                epoch_id, new_states, cursor,
                sidecar_states=sidecar_states or None, base=manifest_tables,
                before_swap=posted.result if posted is not None else None,
            )
            tp = mark("commit", tp)
            if posted is not None:
                # the reference's cursor update ends the flush
                self.clickhouse_sink.execute_statement(
                    cursor_update_statement(
                        cursor.id, cursor.cursor, cursor.block_num, cursor.block_id
                    )
                )
        finally:
            side.shutdown()  # waits: no worker outlives the epoch
            for df in cached:
                df.unpersist()
        # the reduced ops, as the reference counts its flushed entries
        n_entries = sum(window_ops.values())
        self.stats.record_flush(n_entries, time.time() - t0, cursor.block_num)
        if self.on_batch:
            self.on_batch(epoch_id, n_entries)

    # -- stream wiring ------------------------------------------------

    def _process_raw_batch(self, raw: DataFrame, epoch_id: int) -> None:
        """Decode one raw-text micro-batch with the configured error
        policy, route malformed payloads to the dead-letter directory
        when one is set, then run the normal flush kernel."""
        from substreams_sink_clickhouse_spark.sources.changes import (
            decode_database_changes,
            malformed_changes,
        )

        on_error = self.on_decode_error
        if self.dead_letter_dir:
            on_error = "drop"
            if not self.state.epoch_applied(epoch_id):
                (
                    malformed_changes(raw, "value")
                    .write.mode("overwrite")
                    .text(os.path.join(self.dead_letter_dir, f"epoch={epoch_id}"))
                )
        self.process_batch(decode_database_changes(raw, "value", on_error), epoch_id)

    def start(
        self,
        changes_path: str,
        live: bool = False,
        max_files_per_trigger: int | None = None,
    ):
        """Run the ingest stream over a JSONL DatabaseChanges directory.

        ``live=False`` → ``availableNow`` (catch-up: batch the backlog,
        the analog of the 1000-block historical flush); ``live=True`` →
        processing-time trigger (per-arrival flush, the analog of the
        reference's every-block live flush).

        Malformed payloads follow ``on_decode_error`` ("fail" = stop
        the stream with the offending payload, the reference's decode
        contract; "drop" = skip); with ``dead_letter_dir`` set they are
        instead preserved under ``<dir>/epoch=<id>`` and the stream
        continues — at scale, one poison message must not stall a
        100k-blocks/s backfill, but must stay replayable.
        """
        return self._start_stream(
            "text", "value string", changes_path, self._process_raw_batch,
            live, max_files_per_trigger,
        )

    def start_protobuf(
        self,
        changes_path: str,
        live: bool = False,
        max_files_per_trigger: int | None = None,
    ):
        """Run the ingest stream over the reference's BINARY wire
        format: a parquet stream of BlockScopedData-shaped rows
        ``(block_num long, block_id string, value binary)`` where
        ``value`` is a serialized ``DatabaseChanges`` message
        (sinker/sinker.go:95-113), decoded by the dependency-free wire
        codec (``sources/protobuf_wire.py``).  Duplicate field names
        within a change resolve last-wins (pinned at pipeline init),
        matching sinker.go's map assignment.  The flush kernel
        downstream is identical to the JSONL path."""
        from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
            decode_database_changes_protobuf_pure,
        )

        def process(raw_df: DataFrame, epoch_id: int) -> None:
            self.process_batch(decode_database_changes_protobuf_pure(raw_df), epoch_id)

        return self._start_stream(
            "parquet", "block_num long, block_id string, value binary",
            changes_path, process, live, max_files_per_trigger,
        )

    def _start_stream(
        self,
        fmt: str,
        schema: str,
        changes_path: str,
        process: Callable[[DataFrame, int], None],
        live: bool,
        max_files_per_trigger: int | None,
    ):
        """Run ``process`` per micro-batch of a checkpointed file
        stream; the trigger sets the flush window."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        writer = (
            reader.format(fmt)
            .load(changes_path)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if live:
            writer = writer.trigger(processingTime="1 second")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, changes_path: str, timeout_s: int = 600, **kwargs) -> None:
        query = self.start(changes_path, **kwargs)
        query.awaitTermination(timeout_s)

    def run_with_retries(
        self,
        changes_path: str,
        max_restarts: int = 5,
        backoff_s: float = 0.5,
        backoff_cap_s: float = 30.0,
        timeout_s: int = 600,
        on_restart: Callable[[int, Exception], None] | None = None,
        **kwargs,
    ) -> int:
        """Supervised ingest: restart-on-failure with capped exponential
        backoff, resuming from the streaming checkpoint.

        This is the liveness policy the reference outsources to its
        ``substreams-sink`` library (run.go:92-98: the sinker loops on
        stream errors with backoff, resuming from the stored cursor).
        The engine's analog composes three existing guarantees:

        * the file source checkpoint replays the in-flight epoch
          after a crash (exactly-once source progress);
        * ``process_batch`` commits are idempotent per epoch (the
          manifest is the commit point — a replayed epoch rewrites the
          same buckets or no-ops), so the retry loop can never
          double-apply a flush;
        * the cursor row is part of that same manifest swap, so it
          advances exactly when the epoch's state does.

        Together: no loss, no duplication of table state, across any
        number of restarts (a wire sink's posts are at-least-once: an
        epoch that failed before its swap posts again on replay).
        Returns the number of restarts performed.  Raises
        the final error when ``max_restarts`` is exhausted or the
        deadline passes.
        """
        import time as _time

        restarts = 0
        deadline = _time.time() + timeout_s
        while True:
            query = self.start(changes_path, **kwargs)
            # A failed query surfaces either as a raise from
            # awaitTermination (failure while waiting) or, depending on
            # timing, as a normal return with query.exception() set —
            # handle both.
            exc: Exception | None = None
            terminated = True
            try:
                terminated = query.awaitTermination(
                    max(1.0, deadline - _time.time())
                )
            except Exception as wait_exc:  # noqa: BLE001
                exc = wait_exc
            if exc is None:
                exc = query.exception()
            if exc is None:
                if terminated:
                    return restarts
                query.stop()
                raise TimeoutError(
                    f"ingest stream did not complete within {timeout_s}s"
                )
            try:
                query.stop()
            except Exception:
                pass
            restarts += 1
            if restarts > max_restarts or _time.time() >= deadline:
                raise exc
            if on_restart is not None:
                on_restart(restarts, exc)
            _time.sleep(min(backoff_s * 2 ** (restarts - 1), backoff_cap_s))

    def run_protobuf_to_completion(
        self, changes_path: str, timeout_s: int = 600, **kwargs
    ) -> None:
        query = self.start_protobuf(changes_path, **kwargs)
        query.awaitTermination(timeout_s)

    def table(self, name: str) -> DataFrame:
        return self.state.table_state(name)

    # -- reorg / undo -------------------------------------------------

    def handle_block_undo_signal(self, last_valid_block: int) -> None:
        """Reorg handling.

        The reference stubs this out entirely — its handler returns an
        error and relies on the upstream ``--undo-buffer-size`` to only
        deliver final blocks (/root/reference/sinker/sinker.go:176-178).
        Our versioned table state can do better: every committed epoch
        retains its predecessor's directories, so rolling back to the
        newest epoch at-or-below the fork point is one manifest edit.
        That edit also forgets the abandoned fork — its epochs' blocks
        and every history snapshot newer than the target, so a later
        rollback or time-travel read cannot land on them — and rewinds
        this module's cursor row to the target epoch's head.
        """
        with self.state.edit_manifest() as manifest:
            blocks = manifest.get("epoch_blocks", {})
            valid = [int(e) for e, b in blocks.items() if b <= last_valid_block]
            if not valid:
                raise RuntimeError(
                    f"no committed epoch at or below block {last_valid_block}; "
                    "re-sync from genesis (reference behavior: error out, "
                    "sinker.go:176-178)"
                )
            target = max(valid)
            for name, entry in list(manifest["tables"].items()):
                # history is chronological, so once the abandoned
                # fork's snapshots are gone the last one left is the
                # table's state as of the target epoch
                kept = [h for h in entry.get("history", []) if h["epoch"] <= target]
                if entry["epoch"] <= target:
                    entry["history"] = kept
                elif kept:
                    newest = kept.pop()
                    manifest["tables"][name] = TableStateStore._table_entry(
                        newest["epoch"],
                        dict(newest["buckets"]),
                        newest.get("n_buckets"),
                        history=kept,
                    )
                else:
                    del manifest["tables"][name]
            manifest["applied_epochs"] = [e for e in manifest["applied_epochs"] if e <= target]
            head_id = manifest.get("epoch_block_ids", {}).get(str(target), "")
            for key in ("epoch_blocks", "epoch_block_ids"):
                manifest[key] = {e: v for e, v in manifest.get(key, {}).items() if int(e) <= target}
            manifest["cursors"][self.module_hash] = Cursor.at_epoch(
                self.module_hash, target, blocks[str(target)], head_id
            ).row()
