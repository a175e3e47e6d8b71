"""Changes decode + validation tests (O2/O3/O4)."""

import json

import pytest
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.errors import UnknownTableError
from substreams_sink_clickhouse_spark.sources.changes import (
    decode_database_changes,
    read_changes_jsonl,
    validate_change_tables,
)


def _msg(block_num=1, table="t", pk="k", op="CREATE", fields=None):
    return {
        "block_num": block_num,
        "block_id": f"0x{block_num:x}",
        "table_changes": [
            {
                "table": table,
                "pk": pk,
                "ordinal": 1,
                "operation": op,
                "fields": [
                    {"name": n, "new_value": v, "old_value": None}
                    for n, v in (fields or {"a": "1"}).items()
                ],
            }
        ],
    }


def test_decode_flattens_and_projects_new_values(spark):
    raw = spark.createDataFrame([(json.dumps(_msg(fields={"a": "1", "b": "x"})),)], "value string")
    rows = decode_database_changes(raw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["block_num"], r["table"], r["pk"], r["op"]) == (1, "t", "k", "CREATE")
    # old_value dropped, new values kept (sinker.go:147-151)
    assert r["fields"] == {"a": "1", "b": "x"}


def test_read_jsonl(spark, tmp_path):
    path = tmp_path / "changes.jsonl"
    path.write_text("\n".join(json.dumps(_msg(block_num=i)) for i in range(1, 4)))
    rows = read_changes_jsonl(spark, str(path)).collect()
    assert sorted(r["block_num"] for r in rows) == [1, 2, 3]


def test_validate_unknown_table_raises(spark, changes_df):
    cat = Catalog()
    cat.register(TableInfo("known", T.StructType([T.StructField("id", T.StringType())]), "id"))
    changes = changes_df([(1, "b", 1, "nope", "k", "CREATE", {"id": "1"})])
    with pytest.raises(UnknownTableError, match="nope"):
        validate_change_tables(changes, cat)


def test_validate_known_table_passes(spark, changes_df):
    cat = Catalog()
    cat.register(TableInfo("known", T.StructType([T.StructField("id", T.StringType())]), "id"))
    changes = changes_df([(1, "b", 1, "known", "k", "CREATE", {"id": "1"})])
    validate_change_tables(changes, cat)  # no raise


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("on_error", ["fail", "drop"])
def test_decode_explode_carries_only_the_block_fields(spark, on_error):
    """The explode's input holds the block number, the block id and
    the (guarded) change array, not the whole parsed message, which
    would otherwise ride along in every exploded row."""
    msgs = [_msg(1, pk="a"), _msg(2, pk="b", op="UPDATE", fields={"a": "2", "b": "y"})]
    raw = spark.createDataFrame([(json.dumps(m),) for m in msgs], "value string")
    decoded = decode_database_changes(raw, "value", on_error)
    plan = decoded._jdf.queryExecution().optimizedPlan()
    generates = [n for n in _plan_nodes(plan) if n.nodeName() == "Generate"]
    assert len(generates) == 1
    out = generates[0].child().output()
    assert sorted(out.apply(i).name() for i in range(out.size())) == [
        "__tc", "block_id", "block_num",
    ]
    assert sorted(tuple(r) for r in decoded.collect()) == [
        (1, "0x1", 1, "t", "a", "CREATE", {"a": "1"}),
        (2, "0x2", 1, "t", "b", "UPDATE", {"a": "2", "b": "y"}),
    ]


def test_protobuf_wire_roundtrip_pure_python():
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
        parse_database_changes,
    )

    changes = [
        {"table": "block_meta", "pk": "b1", "ordinal": 1, "op": "CREATE",
         "fields": {"number": "100", "hash": "0xabc"}},
        {"table": "block_meta", "pk": "b1", "ordinal": 2, "op": "UPDATE",
         "fields": {"hash": "0xdef"}},
        {"table": "block_meta", "pk": "b2", "ordinal": 3, "op": "DELETE",
         "fields": {}},
    ]
    wire = encode_database_changes(changes)
    parsed = parse_database_changes(wire)
    assert parsed == changes


def test_protobuf_wire_cross_checked_against_google_protobuf():
    # when the real protobuf runtime is available, our hand-rolled
    # encoding must parse identically through it (schema-less probe)
    pytest.importorskip("google.protobuf")
    from google.protobuf.internal import decoder  # noqa: F401 (presence check)

    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_table_change,
        parse_table_change,
    )

    tc = encode_table_change("t", "k", 7, "UPDATE", {"a": "1"})
    assert parse_table_change(tc) == {
        "table": "t", "pk": "k", "ordinal": 7, "op": "UPDATE",
        "fields": {"a": "1"},
    }


def test_protobuf_decode_matches_json_decode(spark):
    import json

    from substreams_sink_clickhouse_spark.sources.changes import (
        decode_database_changes,
    )
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        decode_database_changes_protobuf_pure,
        encode_database_changes,
    )

    changes = [
        {"table": "block_meta", "pk": "b1", "ordinal": 1, "op": "CREATE",
         "fields": {"number": "100", "ts": "1700000000"}},
        {"table": "block_meta", "pk": "b2", "ordinal": 2, "op": "UPDATE",
         "fields": {"number": "101"}},
    ]
    # binary path
    wire = encode_database_changes(changes)
    raw_bin = spark.createDataFrame(
        [(5, "0xb5", bytearray(wire))], "block_num long, block_id string, value binary"
    )
    via_proto = decode_database_changes_protobuf_pure(raw_bin).collect()
    # JSON path on the equivalent payload
    msg = {
        "block_num": 5, "block_id": "0xb5",
        "table_changes": [
            {"table": c["table"], "pk": c["pk"], "ordinal": c["ordinal"],
             "operation": c["op"],
             "fields": [{"name": k, "new_value": v, "old_value": None}
                        for k, v in c["fields"].items()]}
            for c in changes
        ],
    }
    raw_json = spark.createDataFrame([(json.dumps(msg),)], "value string")
    via_json = decode_database_changes(raw_json).collect()
    key = lambda r: (r["block_num"], r["ordinal"])
    assert sorted([r.asDict() for r in via_proto], key=key) == sorted(
        [r.asDict() for r in via_json], key=key
    )


def test_protobuf_wire_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
        parse_database_changes,
    )

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    )
    change = st.fixed_dictionaries(
        {
            "table": st.sampled_from(["t1", "t2", "block_meta"]),
            "pk": text,
            "ordinal": st.integers(min_value=0, max_value=2**63 - 1),
            "op": st.sampled_from(["UNSET", "CREATE", "UPDATE", "DELETE"]),
            "fields": st.dictionaries(
                st.text(min_size=1, max_size=10), text, max_size=4
            ),
        }
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(change, max_size=6))
    def roundtrip(changes):
        assert parse_database_changes(encode_database_changes(changes)) == changes

    roundtrip()


def test_varint_rejects_negative():
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import _varint

    with pytest.raises(ValueError, match="non-negative"):
        _varint(-1)


def test_wire_encoder_bytes_are_pinned():
    """The encoder builds each message with one join instead of
    growing it per change; its bytes must stay exactly what the
    per-change concatenation produced: unicode names and values, empty
    values and a zero ordinal (both omitted on the wire), a change with
    one field name repeated, the same change twice, no fields at all."""
    import hashlib

    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
    )

    class Pairs(list):  # field pairs with a repeated name
        def items(self):
            return iter(self)

    repeated = {"table": "t", "pk": "", "ordinal": 300, "op": "UPDATE",
                "fields": Pairs([("v", "1"), ("v", "2"), ("v", "")])}
    changes = [
        {"table": "tökens", "pk": "0xé€", "ordinal": 0, "op": "CREATE",
         "fields": {"name": "Ünïcødé ✓", "empty": "", "n": "1"}},
        repeated,
        repeated,
        {"table": "", "pk": "k", "ordinal": 2**40, "op": "DELETE", "fields": {}},
        {"table": "t", "pk": "u", "ordinal": 1, "op": "UNSET"},
    ]
    assert encode_database_changes(changes[:1]).hex() == (
        "0a3e0a0774c3b66b656e7312073078c3a9e282ac20012a170a046e616d65120fc39c6ec3"
        "af63c3b864c3a920e29c932a070a05656d7074792a060a016e120131"
    )
    wire = encode_database_changes(changes)
    assert len(wire) == 156
    assert hashlib.sha256(wire).hexdigest() == (
        "735bee64024783bb84f741ca4c8f48ec26bc9ba4c00375527a80246c5f295745"
    )


def test_missing_table_and_pk_normalize_to_proto3_defaults(spark):
    """A JSON change OMITTING table/pk decodes to empty strings (the
    proto3 wire default, pb/.../database.pb.go:122-132) — a NULL there
    would crash the flush summary's bucket math instead of raising the
    clean unknown-table error."""
    import json as _json

    from substreams_sink_clickhouse_spark.sources.changes import (
        decode_database_changes,
    )

    msg = _json.dumps(
        {
            "block_num": 1,
            "block_id": "b1",
            "table_changes": [
                {"ordinal": 1, "operation": "CREATE",
                 "fields": [{"name": "x", "new_value": "1", "old_value": None}]}
            ],
        }
    )
    df = spark.createDataFrame([(msg,)], "value string")
    row = decode_database_changes(df, "value").collect()[0]
    assert row["table"] == "" and row["pk"] == ""
