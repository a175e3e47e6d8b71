"""Dependency-free protobuf wire codec for ``DatabaseChanges``.

The reference's actual wire format is the binary protobuf message
``sf.substreams.sink.database.v1.DatabaseChanges`` delivered inside
each ``BlockScopedData`` (decode at /root/reference/sinker/sinker.go:102-113).
Spark's ``from_protobuf`` needs the spark-protobuf connector jar plus a
compiled descriptor set — neither ships in every environment — so this
module implements the message's wire layout directly (proto3 wire
format is stable and tiny for this schema):

    DatabaseChanges { repeated TableChange table_changes = 1; }
    TableChange     { string table = 1; string pk = 2;
                      uint64 ordinal = 3; Operation operation = 4;
                      repeated Field fields = 5; }
    Field           { string name = 1; string new_value = 2;
                      string old_value = 3; }

(field tags from the generated Go:
/root/reference/pb/substreams/sink/database/v1/database.pb.go:80,127-131,206-208;
operation enum UNSET/CREATE/UPDATE/DELETE at :23-30.)

``decode_database_changes_protobuf_pure`` runs the parser as an
Arrow-batched ``mapInPandas`` — the right boundary for a byte-twiddling
decode Spark has no builtin for: one Python roundtrip per Arrow batch,
not per row, and the output is the SAME flattened changes schema the
JSON path produces, so everything downstream (validate → merge →
commit) is format-agnostic.  Scale: decode is map-only (no shuffle);
batches are bounded by Arrow batch size, not partition size.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame

from substreams_sink_clickhouse_spark.sources.changes import CHANGES_SCHEMA

#: operation enum values (database.pb.go:23-30)
OP_NAMES = {0: "UNSET", 1: "CREATE", 2: "UPDATE", 3: "DELETE"}
OP_CODES = {v: k for k, v in OP_NAMES.items()}


# ---------------------------------------------------------------- encoding
# (used by tests and fixture generators: build real wire bytes without
# any protobuf library)

def _varint(n: int) -> bytes:
    if n < 0:
        # proto varints encode uint64; Python's arithmetic right shift
        # never zeroes a negative, so this would loop forever
        raise ValueError(f"varint requires a non-negative integer, got {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_delim(tag: int, payload: bytes) -> bytes:
    return _varint((tag << 3) | 2) + _varint(len(payload)) + payload


def _varint_field(tag: int, value: int) -> bytes:
    if value == 0:  # proto3 default values are omitted on the wire
        return b""
    return _varint(tag << 3) + _varint(value)


# Each message is assembled with one ``b"".join`` over its parts:
# growing a bytes object with ``+=`` copies it every time, which made a
# 600k-change message quadratic (149 s to encode).

def encode_field(name: str, new_value: str, old_value: str = "") -> bytes:
    parts = [_len_delim(1, name.encode())]
    if new_value:
        parts.append(_len_delim(2, new_value.encode()))
    if old_value:
        parts.append(_len_delim(3, old_value.encode()))
    return b"".join(parts)


def encode_table_change(
    table: str, pk: str, ordinal: int, op: str, fields: dict[str, str]
) -> bytes:
    parts = [
        _len_delim(1, table.encode()),
        _len_delim(2, pk.encode()),
        _varint_field(3, ordinal),
        _varint_field(4, OP_CODES[op]),
    ]
    parts += [_len_delim(5, encode_field(name, value)) for name, value in fields.items()]
    return b"".join(parts)


def encode_database_changes(changes: Iterable[dict]) -> bytes:
    """``[{table, pk, ordinal, op, fields}, ...]`` → wire bytes."""
    return b"".join(
        _len_delim(
            1,
            encode_table_change(
                c["table"], c["pk"], c["ordinal"], c["op"], c.get("fields", {})
            ),
        )
        for c in changes
    )


# ---------------------------------------------------------------- decoding

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _fields_of(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (tag, wire_type, value) triples of one message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        tag, wt = key >> 3, key & 7
        if wt == 0:  # varint
            val, pos = _read_varint(buf, pos)
        elif wt == 2:  # length-delimited
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            if len(val) != ln:
                raise ValueError("truncated length-delimited field")
            pos += ln
        elif wt == 5:  # 32-bit (not used by this schema; skip)
            val = buf[pos : pos + 4]
            pos += 4
        elif wt == 1:  # 64-bit
            val = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield tag, wt, val


def parse_field(buf: bytes) -> tuple[str, str]:
    name = new_value = ""
    for tag, _, val in _fields_of(buf):
        if tag == 1:
            name = val.decode()
        elif tag == 2:
            new_value = val.decode()
        # old_value (3) is carried but never read (sinker.go:147-151)
    return name, new_value


def parse_table_change(buf: bytes) -> dict:
    out = {"table": "", "pk": "", "ordinal": 0, "op": "UNSET", "fields": {}}
    for tag, _, val in _fields_of(buf):
        if tag == 1:
            out["table"] = val.decode()
        elif tag == 2:
            out["pk"] = val.decode()
        elif tag == 3:
            out["ordinal"] = int(val)
        elif tag == 4:
            out["op"] = OP_NAMES.get(int(val), "UNSET")
        elif tag == 5:
            name, new_value = parse_field(val)
            out["fields"][name] = new_value
    return out


def parse_database_changes(buf: bytes) -> list[dict]:
    return [
        parse_table_change(val) for tag, _, val in _fields_of(buf) if tag == 1
    ]


# ------------------------------------------------------------ Spark wiring

def decode_database_changes_protobuf_pure(
    raw: DataFrame,
    binary_col: str = "value",
    block_num_col: str = "block_num",
    block_id_col: str = "block_id",
) -> DataFrame:
    """Binary ``DatabaseChanges`` payloads → the flattened changes
    DataFrame (same schema as the JSON path, so validate → merge →
    commit are format-agnostic).  ``block_num``/``block_id`` come from
    the enclosing BlockScopedData envelope, exactly as in the
    reference's handler (sinker/sinker.go:95-134)."""

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for bn, bid, payload in zip(
                pdf[block_num_col], pdf[block_id_col], pdf[binary_col]
            ):
                if payload is None:
                    continue
                for tc in parse_database_changes(bytes(payload)):
                    rows.append(
                        {
                            "block_num": int(bn),
                            "block_id": bid,
                            "ordinal": tc["ordinal"],
                            "table": tc["table"],
                            "pk": tc["pk"],
                            "op": tc["op"],
                            "fields": tc["fields"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in CHANGES_SCHEMA.fields]
            )

    return raw.mapInPandas(decode, schema=CHANGES_SCHEMA)
