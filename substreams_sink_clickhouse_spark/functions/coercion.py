"""Wire-string -> typed-column coercion.

The reference receives every field value as a string and types it
against the target column at SQL-generation time
(/root/reference/db/operations.go:118-193):

* string  -> quoted/escaped literal            (operations.go:152-153)
* bool    -> 'true'/'false'                    (operations.go:155-156)
* ints / floats -> passed through unquoted     (operations.go:158-165)
* timestamp: all-digits string -> parsed as Unix seconds
  (regex ``^\\d+$`` at operations.go:146, parse operations.go:167-180);
  anything else -> passed as a date/time string
* other types -> raw pass-through ("responsibility of the sender",
  operations.go:184-192)

Here each branch becomes a Catalyst column expression, so coercion
stays inside whole-stage codegen (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The reference's all-digits probe (db/operations.go:146).
UNIX_SECONDS_RE = r"^\d+$"


def coerce(col: Column, dtype: T.DataType) -> Column:
    """Coerce a wire string column to ``dtype`` with the reference's
    rules.  Invalid numeric strings raise under ANSI mode — the moral
    equivalent of the DB rejecting the generated literal."""
    if isinstance(dtype, T.TimestampType):
        return (
            F.when(col.isNull(), F.lit(None).cast(dtype))
            .when(col.rlike(UNIX_SECONDS_RE), F.timestamp_seconds(col.cast(T.LongType())))
            .otherwise(F.try_to_timestamp(col))
        )
    if isinstance(dtype, T.DateType):
        return (
            F.when(col.rlike(UNIX_SECONDS_RE), F.to_date(F.timestamp_seconds(col.cast(T.LongType()))))
            .otherwise(F.try_to_timestamp(col).cast(dtype))
        )
    if isinstance(dtype, T.BooleanType):
        # Reference quotes 'true'/'false' (operations.go:155-156);
        # accept any casing like ClickHouse would.
        return F.when(col.isNull(), F.lit(None).cast(dtype)).otherwise(
            F.lower(col) == F.lit("true")
        )
    if isinstance(dtype, T.StringType):
        return col
    # Numeric / decimal / anything castable: direct cast (unquoted
    # pass-through in the reference).
    return col.cast(dtype)


def coerce_sql(expr: str, dtype: T.DataType) -> str:
    """SQL-text twin of :func:`coerce` — identical semantics, emitted
    as one expression string so plan builders can compose a whole
    projection into a single ``selectExpr`` (one py4j round-trip)
    instead of assembling Column trees call-by-call.  Kept in lockstep
    with :func:`coerce`; tests/test_coercion.py pins the equivalence.
    """
    if isinstance(dtype, T.TimestampType):
        return (
            f"CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS TIMESTAMP) "
            f"WHEN ({expr}) RLIKE '^\\\\d+$' "
            f"THEN timestamp_seconds(CAST(({expr}) AS BIGINT)) "
            f"ELSE try_to_timestamp({expr}) END"
        )
    if isinstance(dtype, T.DateType):
        return (
            f"CASE WHEN ({expr}) RLIKE '^\\\\d+$' "
            f"THEN to_date(timestamp_seconds(CAST(({expr}) AS BIGINT))) "
            f"ELSE CAST(try_to_timestamp({expr}) AS DATE) END"
        )
    if isinstance(dtype, T.BooleanType):
        return (
            f"CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE lower({expr}) = 'true' END"
        )
    if isinstance(dtype, T.StringType):
        return f"({expr})"
    return f"CAST(({expr}) AS {dtype.simpleString()})"


def coerce_fields(fields_col: Column, schema: T.StructType) -> list[Column]:
    """Project a ``map<string,string>`` fields column into one typed
    column per schema field (missing keys -> null)."""
    return [coerce(fields_col.getItem(f.name), f.dataType).alias(f.name) for f in schema.fields]
