"""Known-value anchors for gate entries whose engine query and DuckDB
oracle share one formulation: the expected values here come from
neither engine, so a mistake shared by both still fails."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.parquet as pq

from substreams_sink_clickhouse_spark.operators.clickhouse_compat_ext3 import (
    _Q138_ORACLE,
    _q138_dialect_moments,
)
from substreams_sink_clickhouse_spark.operators.dictionary import _Q59_ORACLE, _q59_dict_get

SF = "/root/testdata/sf0.001"


def _expected_q59() -> dict[str, tuple[int, Decimal]]:
    """nation -> (customers, mean acctbal rounded half-up to cents), in
    exact decimal arithmetic over the parquet files."""
    nation = pq.read_table(f"{SF}/nation.parquet", columns=["n_nationkey", "n_name"])
    names = dict(zip(nation.column("n_nationkey").to_pylist(), nation.column("n_name").to_pylist()))
    cust = pq.read_table(f"{SF}/customer.parquet", columns=["c_nationkey", "c_acctbal"])
    groups: dict[str, list[Decimal]] = {}
    for key, bal in zip(cust.column("c_nationkey").to_pylist(), cust.column("c_acctbal").to_pylist()):
        groups.setdefault(names.get(key, "<unknown>"), []).append(Decimal(repr(bal)))
    return {
        name: (len(vals), (sum(vals) / len(vals)).quantize(Decimal("0.01"), ROUND_HALF_UP))
        for name, vals in groups.items()
    }


def test_q59_avg_bal_matches_exact_decimal_means(spark):
    want = _expected_q59()
    # the group whose mean sits exactly on a half cent
    assert want["NATION_17"] == (8, Decimal("4201.32"))
    engine = [(r["nation"], r["n_customers"], r["avg_bal"]) for r in _q59_dict_get(spark, SF).collect()]
    con = duckdb.connect()
    for table in ("customer", "nation"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{SF}/{table}.parquet'")
    oracle = con.execute(_Q59_ORACLE).fetchall()
    for rows in (engine, oracle):
        assert {nation: (n, Decimal(repr(avg))) for nation, n, avg in rows} == want


def test_q138_returns_no_negative_zero(spark):
    """Neither side may return -0.0 in sd/sk/ku.  Spark's moments land
    on +0.0 by themselves; DuckDB's round() keeps -0.0 on 48 rows at
    sf0.001 unless the oracle adds 0.0."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    oracle = [dict(zip(("h", "sd", "sk", "ku"), r)) for r in con.execute(_Q138_ORACLE).fetchall()]
    engine = _q138_dialect_moments(spark, SF).collect()
    assert len(engine) == len(oracle) > 0
    for rows in (engine, oracle):
        for r in rows:
            for col in ("sd", "sk", "ku"):
                v = r[col]
                assert v is None or v != 0.0 or math.copysign(1.0, v) > 0, (r["h"], col)
