"""Stream cursors (reference O10/O11).

The reference keeps one cursor row per output-module hash in a
``cursors(id, cursor, block_num, block_id)`` table, updated in the same
transaction as each flush (/root/reference/db/cursor.go:120-125,
db/flush.go:52-58).  Here the rows live in the warehouse manifest, as
``cursors: {module_hash: {cursor, block_num, block_id}}``, so an
epoch's cursor is committed by the same manifest swap as its table
state: there is one commit point, and a crash can never leave the
cursor ahead of the data.  ``CursorStore`` is a view over that map; it
gives the *queryable* stream position and the module-hash mismatch
policy, while Structured Streaming's checkpoint gives restart offsets.

Warehouses written before the cursors moved kept them in a parquet
table at ``<warehouse>/cursors``.  While the manifest has no
``cursors`` key that table is read (read-only, shape-checked); the next
manifest edit carries its rows into the manifest.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from substreams_sink_clickhouse_spark.catalog import validate_cursors_schema
from substreams_sink_clickhouse_spark.errors import EngineError


@dataclass
class Cursor:
    id: str
    cursor: str
    block_num: int
    block_id: str

    @classmethod
    def at_epoch(cls, module_hash: str, epoch_id: int, block_num: int, block_id: str) -> "Cursor":
        """The cursor a committed epoch leaves: its head block."""
        return cls(module_hash, f"epoch:{epoch_id}:block:{block_num}", block_num, block_id)

    def row(self) -> dict:
        """This cursor's value in the manifest's ``cursors`` map."""
        return {"cursor": self.cursor, "block_num": self.block_num, "block_id": self.block_id}


class ModuleHashMismatch(EngineError):
    """No cursor for the requested module hash, but others exist
    (policy 'error', /root/reference/db/cursor.go:48-90)."""


def legacy_cursor_rows(spark: SparkSession, warehouse_dir: str) -> dict[str, dict]:
    """Rows of an older warehouse's parquet cursors table
    (``<warehouse>/cursors``), keyed by module hash; ``{}`` when there
    is none.  Raises ``CursorTableError`` on a malformed table."""
    path = os.path.join(warehouse_dir, "cursors")
    if not (os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path))):
        return {}
    df = spark.read.parquet(path)
    validate_cursors_schema(df.schema)
    return {r["id"]: Cursor(*r).row() for r in df.collect()}


class CursorStore:
    """The cursors table, as a view over a ``TableStateStore``'s
    manifest; every edit goes through its locked manifest writer."""

    def __init__(self, state):
        self.state = state

    def all_cursors(self) -> dict[str, Cursor]:
        """GetAllCursors (db/cursor.go:26-46)."""
        rows = self.state.read_manifest().get("cursors")
        if rows is None:
            rows = legacy_cursor_rows(self.state.spark, self.state.warehouse_dir)
        return {k: Cursor(k, **v) for k, v in rows.items()}

    def get_cursor(self, module_hash: str, on_mismatch: str = "error") -> Cursor | None:
        """GetCursor with mismatch policy (db/cursor.go:48-101).

        Exact module-hash match wins; otherwise the cursor at the
        HIGHEST block is chosen under ``warn``/``ignore`` policy
        (``ignore`` starts fresh; ``error`` raises).
        """
        cursors = self.all_cursors()
        if module_hash in cursors:
            return cursors[module_hash]
        if not cursors:
            return None
        if on_mismatch == "error":
            raise ModuleHashMismatch(
                f"no cursor for module {module_hash!r}; cursors exist for "
                f"{sorted(cursors)} (use warn/ignore policy to proceed)"
            )
        if on_mismatch == "ignore":
            return None
        # warn: cursor at highest block (db/cursor.go:92-101) — a tiny
        # driver-side max; the distributed form is max_by(id, block_num).
        return max(cursors.values(), key=lambda c: (c.block_num, c.id))

    def write_cursor(self, cursor: Cursor) -> None:
        """Upsert one cursor row (InsertCursor/UpdateCursor,
        db/cursor.go:104-125)."""
        with self.state.edit_manifest() as manifest:
            manifest["cursors"][cursor.id] = cursor.row()

    def delete_cursor(self, module_hash: str) -> None:
        """DeleteCursor (db/cursor.go:127-135)."""
        with self.state.edit_manifest() as manifest:
            manifest["cursors"].pop(module_hash, None)

    def delete_all(self) -> None:
        """DeleteAllCursors (db/cursor.go:137-143)."""
        with self.state.edit_manifest() as manifest:
            manifest["cursors"] = {}
