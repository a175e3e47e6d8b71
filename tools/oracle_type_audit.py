"""Audit every oracle's DuckDB output schema for driver-hostile types.

DuckDB widens ``sum(BIGINT)`` to HUGEINT (int128).  The driver's hasher
fetches DuckDB results on a type-faithful path where HUGEINT renders as
``decimal128(38,0)`` / float64 — hashing differently from Spark's plain
bigint even when every value is identical (the round-5 red class:
rows_match + schema_match + hash_fail).  This sweep runs each oracle as
``SELECT * FROM (<oracle>) LIMIT 0`` against the sf0.001 views and fails
on any output column of a banned type, so the whole class is caught at
CI time instead of when the driver's sample rotation reaches the entry.

Banned output types:
  * HUGEINT / UHUGEINT  — cast the aggregate to BIGINT in the oracle
  * TIMESTAMP WITH TIME ZONE — naive-vs-aware renders differently

Usage: python tools/oracle_type_audit.py [--json out.json]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BANNED = ("HUGEINT", "UHUGEINT", "TIMESTAMP WITH TIME ZONE")


def is_banned(dtype: str) -> bool:
    """True if a rendered DuckDB type contains a banned type anywhere —
    including nested inside LIST/STRUCT/MAP ('HUGEINT[]',
    'STRUCT(x HUGEINT)'), which hash-diverge through array/struct
    columns just as surely as top-level ones (round-6 advisory)."""
    up = dtype.upper()
    return any(
        re.search(r"\b" + b.replace(" ", r"\s+") + r"\b", up) for b in BANNED
    )


def audit(sf_dir: str = "/root/testdata/sf0.001") -> dict[str, list[str]]:
    import duckdb

    import __spark_entry__ as entry_mod

    conn = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        conn.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    oracles = entry_mod.oracle_sql()
    for name, sql in sorted(oracles.items()):
        # LIMIT 0 keeps the plan (and output schema) but scans nothing.
        # Strip a trailing semicolon so the subquery wrap parses.
        wrapped = f"SELECT * FROM ({sql.rstrip().rstrip(';')}) _t LIMIT 0"
        try:
            rel = conn.sql(wrapped)
            bad = [
                f"{col}:{dtype}"
                for col, dtype in zip(rel.columns, map(str, rel.types))
                if is_banned(str(dtype))
            ]
        except Exception as exc:  # pragma: no cover - surfaced in report
            errors[name] = str(exc).splitlines()[0][:200]
            continue
        if bad:
            offenders[name] = bad
    for name, msg in errors.items():
        print(f"ERROR {name}: {msg}")
    for name, bad in offenders.items():
        print(f"BANNED {name}: {', '.join(bad)}")
    print(
        f"\n{len(oracles)} oracles audited, {len(offenders)} with banned "
        f"output types, {len(errors)} errors"
    )
    if errors:
        offenders.update({k: [f"error:{v}"] for k, v in errors.items()})
    return offenders


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    offenders = audit(args[0] if args else "/root/testdata/sf0.001")
    if json_out:
        import json

        with open(json_out, "w", encoding="utf-8") as fh:
            json.dump(offenders, fh, indent=1)
    return 1 if offenders else 0


if __name__ == "__main__":
    raise SystemExit(main())
