"""Noop-sink isolation probe (optimization guide §1.4): time the pure
computation of named gate queries — plan build + execution, every column
of every row materialized, result discarded — with no collect/py4j row
fetch in the timed window.

Usage: python tools/probe_noop.py <query> [query ...]
       (env SPARK_GRAFT_SF_DIR picks the data dir, default sf0.1;
        env PROBE_REPS overrides the rep count, default 3)

Each rep evicts the dedup shared-core cache first, so every rep pays
the full pipeline from the parquet inputs; the registry memoizes the
plan, so only rep 1 builds it (best-of / per-rep walls are both
printed: rep1 vs repN separates plan build and codegen-compile cost
from steady state).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROBE_REPS", "3"))

    import __spark_entry__ as entry_mod
    from substreams_sink_clickhouse_spark import memo
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("probe-noop")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    for name in names:
        walls = []
        for _ in range(reps):
            memo.clear("dedup_cores")
            spark.sparkContext.setJobDescription(f"probe-noop: {name}")
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: best={min(walls)} reps={walls}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
