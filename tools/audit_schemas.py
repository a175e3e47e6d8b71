"""Audit every gate query's result schema for driver-hostile complex types.

The external driver canonicalizes results with pandas ``sort_values`` +
hashing, which crashes on array/map/struct columns (seen with
``q49_quantiles`` in round 1).  This tool builds every ``queries()`` plan
at sf0.001 and reports any result column whose type contains ArrayType,
MapType, or StructType.  Exit code 1 if any found.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType


def has_complex(dt) -> bool:
    if isinstance(dt, (ArrayType, MapType)):
        return True
    if isinstance(dt, StructType):
        return True
    return False


def main() -> int:
    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("schema-audit")
        .getOrCreate()
    )
    sf_dir = "/root/testdata/sf0.001"
    bad = []
    errs = []
    qs = entrymod.queries()
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, sf_dir)
            complex_cols = [
                f.name for f in df.schema.fields if has_complex(f.dataType)
            ]
            if complex_cols:
                bad.append((name, complex_cols, df.schema.simpleString()))
        except Exception as e:  # noqa: BLE001
            errs.append((name, repr(e)[:200]))
    for name, cols, schema in bad:
        print(f"COMPLEX {name}: {cols}")
    for name, err in errs:
        print(f"ERROR   {name}: {err}")
    print(f"\n{len(qs)} queries, {len(bad)} with complex output cols, {len(errs)} plan errors")
    spark.stop()
    return 1 if (bad or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
