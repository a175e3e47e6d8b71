"""Property-based merge-kernel test: random op sequences vs a sequential
Python reference model of /root/reference/db/ops.go semantics.

The model replays ops per pk in (block, ordinal) order with the exact
buffer rules; the kernel must agree on both final state AND whether the
sequence errors.  One Spark run per example would be minutes-slow, so
each example bundles many keys into a single changes DataFrame.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.errors import MergeSemanticsError
from substreams_sink_clickhouse_spark.operators.merge import merge_changes

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("x", T.StringType(), True),
        T.StructField("y", T.StringType(), True),
    ]
)

_OP = st.sampled_from(["CREATE", "UPDATE", "DELETE", "UNSET"])
_FIELDS = st.dictionaries(
    st.sampled_from(["x", "y"]), st.text(alphabet="ab'c", max_size=3), max_size=2
)
_SEQ = st.lists(st.tuples(_OP, _FIELDS), min_size=1, max_size=5)


def _model(seq):
    """Sequential reference model -> ('err', None) | (op, fields)."""
    pending = None  # (op, fields)
    for op, fields in seq:
        if op == "UNSET":
            continue
        if op == "CREATE":
            if pending is not None:
                return ("err", None)
            pending = ("CREATE", dict(fields))
        elif op == "UPDATE":
            if pending is None:
                pending = ("UPDATE", dict(fields))
            elif pending[0] == "DELETE":
                return ("err", None)
            else:
                pending = (pending[0], {**pending[1], **fields})
        elif op == "DELETE":
            pending = ("DELETE", {})
    return pending or ("none", None)


def _expected_state(seq):
    kind, fields = _model(seq)
    if kind == "err":
        return "err"
    if kind in ("none", "DELETE", "UPDATE"):
        # UPDATE against an empty target is a no-op
        return None
    return fields


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_SEQ, min_size=1, max_size=20))
def test_kernel_matches_model(spark, changes_df, key_seqs):
    catalog = Catalog()
    catalog.register(TableInfo("t", SCHEMA, "id"))
    rows = []
    expected: dict[str, object] = {}
    any_err = False
    for i, seq in enumerate(key_seqs):
        pk = f"k{i}"
        exp = _expected_state(seq)
        if exp == "err":
            any_err = True
        elif exp is not None:
            expected[pk] = exp
        for ordinal, (op, fields) in enumerate(seq):
            rows.append((1, "b", ordinal, "t", pk, op, fields or None))
    changes = changes_df(rows)
    empty = spark.createDataFrame([], SCHEMA)

    if any_err:
        try:
            merge_changes(changes, {"t": empty}, catalog)["t"].collect()
            raise AssertionError("expected MergeSemanticsError")
        except MergeSemanticsError:
            return
    out = merge_changes(changes, {"t": empty}, catalog)["t"].collect()
    got = {r["id"]: {k: v for k, v in {"x": r["x"], "y": r["y"]}.items() if v is not None} for r in out}
    want = {pk: {k: v for k, v in fields.items()} for pk, fields in expected.items()}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # target rows: (pk, x, y)
        st.tuples(st.integers(0, 30), st.text(alphabet="ab", max_size=2),
                  st.text(alphabet="cd", max_size=2)),
        min_size=0, max_size=25, unique_by=lambda t: t[0],
    ),
    st.lists(  # reduced ops: (pk, op, fields)
        st.tuples(st.integers(0, 30), st.sampled_from(["CREATE", "UPDATE", "DELETE"]),
                  _FIELDS),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
)
def test_delta_apply_equals_rewrite_apply(spark, target_rows, ops_rows):
    """Deletion-vector apply vs full-rewrite apply: for any current
    state and any reduced op set, (target − mask) ∪ delta must equal
    apply_table_ops(target, ops) row-for-row."""
    from pyspark.sql import functions as F

    from substreams_sink_clickhouse_spark.catalog import TableInfo
    from substreams_sink_clickhouse_spark.operators.merge import (
        apply_table_ops,
        apply_table_ops_delta,
    )

    info = TableInfo("t", SCHEMA, "id")
    target = spark.createDataFrame(
        [(f"k{p}", x, y) for p, x, y in target_rows], SCHEMA
    )
    # reduced-op shape (post reduce_changes): CREATE carries its pk in
    # the field map (db/ops.go:37-39)
    ops = spark.createDataFrame(
        [
            (
                "t",
                f"k{p}",
                "id",
                op,
                ({**fields, "id": f"k{p}"} if op == "CREATE" else dict(fields))
                if op != "DELETE"
                else {},
                None,
            )
            for p, op, fields in ops_rows
        ],
        "table STRING, pk STRING, pk_name STRING, op STRING, "
        "fields MAP<STRING, STRING>, err STRING",
    )
    expected = {
        (r["id"], r["x"], r["y"])
        for r in apply_table_ops(target, ops, info).collect()
    }
    tagged = target.selectExpr("*", "CAST(42 AS LONG) AS __src")
    delta, mask, matched = apply_table_ops_delta(tagged, ops, info)
    mask_rows = {(r["src"], r["pk"]) for r in mask.collect()}
    assert all(src == 42 for src, _ in mask_rows)
    survivors = {
        (r["id"], r["x"], r["y"])
        for r in target.collect()
        if (42, r["id"]) not in mask_rows
    }
    got = survivors | {(r["id"], r["x"], r["y"]) for r in delta.collect()}
    matched.unpersist()
    assert got == expected
