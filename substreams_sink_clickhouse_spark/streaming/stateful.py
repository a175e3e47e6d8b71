"""Custom stateful streaming operator: the reference's keyed-upsert
buffer (O5) as a *true* streaming operator with cross-batch state.

The batch kernel in ``operators/merge.py`` folds within one flush
window.  This operator maintains the pending-op state *across*
micro-batches with ``applyInPandasWithState`` — the Spark primitive for
user-defined streaming state — so a CREATE in batch 1 and an UPDATE in
batch 7 still fold field-wise, exactly like the reference's in-memory
buffer surviving between flushes (/root/reference/db/ops.go:11-122).

State per key is one small dict (op + fields) — executor memory is
O(live keys per partition), the same bound as the reference's
``map[pk]*Operation``.  Output mode is ``update``: each batch emits
only the keys it touched.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd

#: Emitted row: the key's current pending operation after this batch.
PENDING_OP_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), False),
        T.StructField("pk", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("fields_json", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)

#: State: (op, fields_json, err)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("fields_json", T.StringType()),
        T.StructField("err", T.StringType()),
    ]
)


def _fold_pending(
    key: tuple,
    batches: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    """Fold this key's new ops into the persisted pending-op state —
    the reference's Insert/Update/Delete rules (db/ops.go)."""
    import json

    import pandas as pd

    table, pk = key
    if state.exists:
        op, fields_json, err = state.get
        fields = json.loads(fields_json) if fields_json else {}
    else:
        op, fields, err = "NONE", {}, None

    rows = pd.concat(list(batches), ignore_index=True)
    rows = rows.sort_values(["block_num", "ordinal"])
    op, fields, err = _fold_rows(op, fields, err, rows)
    state.update((op, json.dumps(fields), err))
    yield pd.DataFrame(
        [{"table": table, "pk": pk, "op": op, "fields_json": json.dumps(fields), "err": err}]
    )


def streaming_pending_ops(changes_stream: DataFrame) -> DataFrame:
    """Canonical changes stream -> continuously folded pending ops."""
    return (
        changes_stream.withColumn("op", F.upper("op"))
        .filter(F.col("op").isin("CREATE", "UPDATE", "DELETE"))
        .groupBy("table", "pk")
        .applyInPandasWithState(
            _fold_pending,
            outputStructType=PENDING_OP_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _fold_rows(op, fields, err, rows) -> tuple:
    """Pure fold of ordered change rows onto (op, fields, err) state."""
    for _, row in rows.iterrows():
        kind = str(row["op"]).upper()
        new_fields = dict(row["fields"] or {})
        if err is not None:
            break
        if kind == "CREATE":
            if op != "NONE":
                err = f"duplicate insert: pk already has a pending {op}"
            else:
                op, fields = "CREATE", {**new_fields, "__pk__": row["pk"]}
        elif kind == "UPDATE":
            if op == "DELETE":
                err = "update a deleted row"
            elif op == "NONE":
                op, fields = "UPDATE", new_fields
            else:
                fields = {**fields, **new_fields}
        elif kind == "DELETE":
            op, fields = "DELETE", {}
    return op, fields, err
