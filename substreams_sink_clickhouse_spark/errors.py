"""Engine error hierarchy.

Mirrors the application-level error surface of the reference:

* unknown table in a change batch   -> /root/reference/sinker/sinker.go:138-145
* duplicate CREATE for a pending pk -> /root/reference/db/ops.go:29-31
* UPDATE after DELETE for a pk      -> /root/reference/db/ops.go:65-67
* malformed cursors table           -> /root/reference/db/db.go:140-178
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for engine errors."""


class UnknownTableError(EngineError):
    """A change batch referenced a table absent from the catalog."""

    def __init__(self, table: str, available: list[str]):
        self.table = table
        self.available = sorted(available)
        super().__init__(
            f"unknown table {table!r}: no table registered with this name, "
            f"available tables are {', '.join(self.available)}"
        )


class MergeSemanticsError(EngineError):
    """A change sequence violated the reference's buffer invariants
    (duplicate insert / update-after-delete)."""


class CursorTableError(EngineError):
    """The cursors table does not have the required shape."""


class DSNError(EngineError):
    """Malformed ClickHouse DSN."""


class ManifestConflictError(EngineError):
    """A staged commit's base manifest entry changed before its swap:
    another writer committed to the same table in between.  Nothing
    was committed; re-plan from the current manifest and retry."""


class EnvVarError(EngineError):
    """An environment variable holds a value the engine cannot use."""
