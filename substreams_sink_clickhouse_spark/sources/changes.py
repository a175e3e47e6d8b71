"""The CDC ``changes`` model: schema, decode, validation.

Canonical flattened form of
``sf.substreams.sink.database.v1.DatabaseChanges``
(/root/reference/pb/substreams/sink/database/v1/database.pb.go:75-209):
one row per ``TableChange``:

    block_num long, block_id string, ordinal long,
    table string, pk string, op string, fields map<string,string>

``fields`` carries ``Field.name -> Field.new_value``; ``old_value`` is
carried on the wire but never read by the sink
(/root/reference/sinker/sinker.go:147-151), so we drop it at decode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog
from substreams_sink_clickhouse_spark.errors import UnknownTableError

#: Flattened TableChange schema (FIXTURES.md F1).
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("block_num", T.LongType(), False),
        T.StructField("block_id", T.StringType(), True),
        T.StructField("ordinal", T.LongType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("pk", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: JSON wire schema of one DatabaseChanges message: the raw proto shape
#: with the per-field struct list (database.pb.go:122-209).
DATABASE_CHANGES_JSON_SCHEMA = T.StructType(
    [
        T.StructField("block_num", T.LongType(), False),
        T.StructField("block_id", T.StringType(), True),
        T.StructField(
            "table_changes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("table", T.StringType(), False),
                        T.StructField("pk", T.StringType(), False),
                        T.StructField("ordinal", T.LongType(), False),
                        T.StructField("operation", T.StringType(), False),
                        T.StructField(
                            "fields",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType(), False),
                                        T.StructField("new_value", T.StringType(), True),
                                        T.StructField("old_value", T.StringType(), True),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def malformed_changes(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """Rows of ``raw`` that do NOT parse as ``DatabaseChanges`` JSON —
    the dead-letter side output.  A payload parses iff ``from_json``
    yields a message with a block number (the only non-null-able wire
    field); same predicate the decoder's ``on_error`` guard uses."""
    parsed = F.from_json(F.col(json_col).cast("string"), DATABASE_CHANGES_JSON_SCHEMA)
    return raw.filter(
        F.col(json_col).isNotNull() & parsed.getField("block_num").isNull()
    )


def decode_database_changes(
    raw: DataFrame, json_col: str = "value", on_error: str = "fail"
) -> DataFrame:
    """Decode serialized ``DatabaseChanges`` JSON into the flattened
    changes schema (the Spark analog of the proto decode at
    /root/reference/sinker/sinker.go:102-113 + field projection at
    :147-151).  Works identically on batch and streaming DataFrames.

    ``on_error`` controls malformed payloads (unparseable JSON / wrong
    message shape):

    * ``"fail"`` (default) — raise with the offending payload, the
      reference's behavior (its decode error stops the sink,
      sinker.go:102-113).  The check is an inline ``raise_error``
      guard — zero extra passes over the stream.
    * ``"drop"`` — skip malformed rows.  Pair with
      :func:`malformed_changes` to route them to a dead-letter
      location instead of losing them.
    """
    if on_error not in ("fail", "drop"):
        raise ValueError(f"on_error must be 'fail' or 'drop', got {on_error!r}")
    parsed = raw.select(
        F.col(json_col).cast("string").alias("__raw"),
        F.from_json(F.col(json_col).cast("string"), DATABASE_CHANGES_JSON_SCHEMA).alias("msg"),
    )
    bad = F.col("__raw").isNotNull() & F.col("msg.block_num").isNull()
    tc_array = F.col("msg.table_changes")
    if on_error == "fail":
        # Poison the explode INPUT (merge.py guard idiom): a malformed
        # row raises from whatever action first touches the stream —
        # explode would otherwise silently drop the null-array row, and
        # any guard on a plain projected column would be pruned away.
        tc_type = DATABASE_CHANGES_JSON_SCHEMA["table_changes"].dataType.simpleString()
        tc_array = F.when(
            bad,
            F.expr(
                "raise_error(concat('malformed DatabaseChanges message: ', "
                "substring(__raw, 1, 200)))"
            ).cast(tc_type),
        ).otherwise(tc_array)
    else:
        parsed = parsed.filter(~bad)
    # project the block fields and the array BEFORE the explode, so the
    # Generate carries neither the parsed message nor a second copy of
    # its table_changes into every exploded row
    exploded = parsed.select(
        F.col("msg.block_num").alias("block_num"),
        F.col("msg.block_id").alias("block_id"),
        tc_array.alias("__tc"),
    ).select("block_num", "block_id", F.explode("__tc").alias("tc"))
    return exploded.select(
        F.coalesce(F.col("block_num"), F.lit(0)).alias("block_num"),
        F.coalesce(F.col("block_id"), F.lit("")).alias("block_id"),
        F.coalesce(F.col("tc.ordinal"), F.lit(0)).alias("ordinal"),
        # proto3 string defaults: a change missing table/pk carries ""
        # on the wire (pb/.../database.pb.go:122-132), so a JSON payload
        # omitting them normalizes the same way — a NULL pk would
        # otherwise surface as an opaque null-bucket crash deep in the
        # flush summary instead of a clean unknown-table error
        F.coalesce(F.col("tc.table"), F.lit("")).alias("table"),
        F.coalesce(F.col("tc.pk"), F.lit("")).alias("pk"),
        F.col("tc.operation").alias("op"),
        # []Field{name,new_value} -> map[col -> value] (sinker.go:147-151)
        F.map_from_entries(
            F.expr("transform(tc.fields, f -> struct(f.name, f.new_value))")
        ).alias("fields"),
    )


def read_changes_jsonl(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """Read newline-delimited DatabaseChanges JSON (batch or stream)."""
    if streaming:
        raw = spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())])).text(path)
    else:
        raw = spark.read.text(path)
    return decode_database_changes(raw, "value")


def validate_change_tables(changes: DataFrame, catalog: Catalog) -> None:
    """Reject batches referencing unknown tables
    (/root/reference/sinker/sinker.go:138-145).  Distributed check: a
    distinct on the (tiny) table-name domain, no full collect."""
    known = list(catalog.tables)
    unknown = (
        changes.select("table")
        .distinct()
        .filter(~F.col("table").isin(known))
        .limit(1)
        .collect()
    )
    if unknown:
        raise UnknownTableError(unknown[0]["table"], known)
