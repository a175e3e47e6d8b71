"""ClickHouse text-SQL sink: statement generation + optional HTTP
execution (reference O6/O8/O15 parity).

For users who want the reference's actual behavior — sink the merged
CDC operations into a live ClickHouse — this module generates the same
three statement shapes the reference emits
(/root/reference/db/operations.go:75-116):

* ``INSERT INTO <t> (<cols>) VALUES (<vals>)``
* ``ALTER TABLE <t> UPDATE c=v, ... WHERE <pk> = '<k>'``
* ``DELETE FROM <t> WHERE <pk> = '<k>'``

with the reference's value typing (string quoted/escaped, bool quoted,
numerics raw, timestamp Unix-seconds→RFC3339;
db/operations.go:140-193) and identifier/value escaping
(db/operations.go:195-209).

Improvements over the reference, which it explicitly wishes for
(README.md:88-92 "worse performances", one statement per op,
db/flush.go:33-45):

* inserts are batched into multi-row ``VALUES`` statements;
* execution can run from executors (``foreachPartition``), not a
  single driver connection.

Statement *generation* is pure and unit-testable; *execution* needs a
reachable ClickHouse and degrades to returning the statements.

Delivery is at-least-once, as in the reference, which re-sends from its
stored cursor: the ingest pipeline posts an epoch's statements before
it commits the epoch and the cursor statement after.  A failed post
leaves the epoch uncommitted, so the stream's replay posts it again; a
ReplacingMergeTree target absorbs the INSERT rows a replay repeats.
``execute_statement`` raises ``ClickHouseHTTPError`` (HTTP status plus
the start of ClickHouse's exception text) for a rejected statement.
``write_batch`` posts from Spark tasks, so there the caller gets
Spark's job error, whose message holds that error's text but not its
type; only the cursor statement, posted from the driver, raises
``ClickHouseHTTPError`` itself.
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.config import ClickHouseDSN
from substreams_sink_clickhouse_spark.errors import ClickHouseHTTPError
from substreams_sink_clickhouse_spark.functions.escaping import (
    escape_identifier,
    escape_value,
)

_UNIX_RE = re.compile(r"^\d+$")

#: Characters of an error response kept in ``ClickHouseHTTPError``:
#: ClickHouse puts its exception text at the start of the body.
ERROR_BODY_CHARS = 500


def literal_for(value: str | None, dtype: T.DataType) -> str:
    """Render a wire-string value as a ClickHouse SQL literal with the
    reference's typing rules (db/operations.go:140-193)."""
    if value is None:
        return "NULL"
    if isinstance(dtype, T.BooleanType):
        return f"'{value}'"
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        if _UNIX_RE.match(value):
            stamp = datetime.datetime.fromtimestamp(int(value), tz=datetime.timezone.utc)
            return escape_value(stamp.strftime("%Y-%m-%dT%H:%M:%SZ"))
        return escape_value(value)
    if isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType),
    ):
        return value  # unquoted pass-through
    if isinstance(dtype, T.StringType):
        return escape_value(value)
    return value  # unknown type: sender's responsibility


def _cols_vals(info: TableInfo, fields: dict[str, str]) -> tuple[list[str], list[str]]:
    columns, values = [], []
    for name in sorted(fields):
        dtype = info.column_types.get(name)
        if dtype is None:
            continue  # unknown column: ClickHouse would reject; drop like a pruned projection
        columns.append(escape_identifier(name))
        values.append(literal_for(fields[name], dtype))
    return columns, values


def update_statement(info: TableInfo, pk: str, fields: dict[str, str]) -> str:
    columns, values = _cols_vals(info, fields)
    sets = ", ".join(f"{c}={v}" for c, v in zip(columns, values))
    return (
        f"ALTER TABLE {escape_identifier(info.name)} UPDATE {sets} "
        f"WHERE {escape_identifier(info.primary_key)} = {escape_value(pk)}"
    )


def delete_statement(info: TableInfo, pk: str) -> str:
    return (
        f"DELETE FROM {escape_identifier(info.name)} "
        f"WHERE {escape_identifier(info.primary_key)} = {escape_value(pk)}"
    )


def insert_statement(info: TableInfo, rows: list[dict[str, str]]) -> str:
    """Multi-row INSERT over the union of the rows' columns (absent
    fields -> NULL)."""
    all_cols = sorted({name for row in rows for name in row if name in info.column_types})
    col_sql = ",".join(escape_identifier(c) for c in all_cols)
    tuples = []
    for row in rows:
        vals = ",".join(
            literal_for(row[c], info.column_types[c]) if c in row else "NULL"
            for c in all_cols
        )
        tuples.append(f"({vals})")
    return f"INSERT INTO {escape_identifier(info.name)} ({col_sql}) VALUES {','.join(tuples)}"


def statements_for_ops(
    ops: Iterable[dict],
    catalog: Catalog,
    insert_batch_size: int = 1000,
) -> Iterator[str]:
    """Generate statements for reduced ops (rows with table/pk/op/
    fields).  Inserts batch per table; updates/deletes emit per op like
    the reference (ClickHouse has no batched mutation form)."""
    pending_inserts: dict[str, list[dict[str, str]]] = {}

    def flush_inserts(table: str) -> Iterator[str]:
        rows = pending_inserts.pop(table, [])
        for i in range(0, len(rows), insert_batch_size):
            yield insert_statement(catalog.get(table), rows[i : i + insert_batch_size])

    for op in ops:
        table, kind = op["table"], op["op"]
        info = catalog.get(table)
        if kind == "CREATE":
            pending_inserts.setdefault(table, []).append(dict(op["fields"] or {}))
            if len(pending_inserts[table]) >= insert_batch_size:
                yield from flush_inserts(table)
        elif kind == "UPDATE":
            yield update_statement(info, op["pk"], dict(op["fields"] or {}))
        elif kind == "DELETE":
            yield delete_statement(info, op["pk"])
    for table in list(pending_inserts):
        yield from flush_inserts(table)


def cursor_update_statement(module_hash: str, cursor: str, block_num: int, block_id: str) -> str:
    """The reference's in-transaction cursor write
    (db/cursor.go:120-125)."""
    return (
        'ALTER TABLE "cursors" UPDATE '
        f'"cursor"={escape_value(cursor)}, "block_num"={block_num}, '
        f'"block_id"={escape_value(block_id)} '
        f'WHERE "id" = {escape_value(module_hash)}'
    )


class ClickHouseHTTPSink:
    """Executes generated statements over the ClickHouse HTTP
    interface (the reference's transport, db/db.go:50).  stdlib-only;
    per-partition execution for distributed writes."""

    def __init__(self, dsn: str | ClickHouseDSN, catalog: Catalog, timeout_s: int = 30):
        self.dsn = ClickHouseDSN.parse(dsn) if isinstance(dsn, str) else dsn
        self.catalog = catalog
        self.timeout_s = timeout_s

    def execute_statement(self, sql: str) -> None:
        """POST one statement; an HTTP error status raises
        ``ClickHouseHTTPError`` with the start of ClickHouse's answer."""
        import urllib.error
        import urllib.parse
        import urllib.request

        params = urllib.parse.urlencode(
            {"database": self.dsn.database, "user": self.dsn.username, "password": self.dsn.password}
        )
        req = urllib.request.Request(
            f"{self.dsn.http_url}/?{params}", data=sql.encode(), method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                resp.read()
        except urllib.error.HTTPError as exc:
            body = exc.read().decode("utf-8", "replace")[:ERROR_BODY_CHARS]
            raise ClickHouseHTTPError(exc.code, body) from exc

    def write_batch(self, reduced: DataFrame, epoch_id: int = 0) -> None:
        """foreachBatch-compatible: generate + execute per partition on
        the executors (vs the reference's single driver connection)."""
        catalog = self.catalog
        sink = self

        def handle_partition(rows):
            stmts = statements_for_ops((r.asDict() for r in rows), catalog)
            for stmt in stmts:
                sink.execute_statement(stmt)

        reduced.foreachPartition(handle_partition)
