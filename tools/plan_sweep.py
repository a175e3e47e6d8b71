"""Plan sweep: physical-plan health metrics for EVERY gate entry.

Prints one line per query — exchange count, cartesian/BNLJ flags,
whole-stage codegen spans — and enforces the committed per-entry
exchange-count budgets in ``tools/exchange_budgets.json``:

    python tools/plan_sweep.py --record    # (re)write the budget file
    python tools/plan_sweep.py             # check mode: non-zero exit if
                                           #   - any plan has a CartesianProduct
                                           #   - any plan has a BroadcastNestedLoopJoin
                                           #     not justified in bnlj_allowlist.json
                                           #     (1-row scalar broadcasts only)
                                           #   - any entry exceeds its recorded
                                           #     exchange budget
                                           #   - any entry errors

Exchange count is the plan property that matters at 100 TB: a lost
broadcast or a dropped partial aggregate shows up as +1 exchange long
before it shows up in local wall-clock.  Budgets are recorded from a
known-good plan and committed; a regression fails CI mechanically
instead of relying on someone eyeballing the sweep output.  The
per-entry plan *narratives* live in PLANS.md; this is the fleet-wide
screen that catches a bad plan hiding among 250 good ones.

Usage: python tools/plan_sweep.py [--record] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGET_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "exchange_budgets.json"
)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    record = "--record" in args
    if record:
        args.remove("--record")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    import __spark_entry__ as E
    from substreams_sink_clickhouse_spark.plans.explain import (
        codegen_spans,
        count_shuffles,
        simple_plan,
    )
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(E.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = simple_plan(df)
            rows.append(
                {
                    "q": name,
                    "exchanges": count_shuffles(df),
                    "cartesian": "CartesianProduct" in plan,
                    "bnlj": "BroadcastNestedLoopJoin" in plan,
                    "codegen": codegen_spans(df),
                }
            )
        except Exception as exc:  # noqa: BLE001 - sweep must finish
            rows.append({"q": name, "error": str(exc)[:120]})
    for r in rows:
        print(r)

    allow_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bnlj_allowlist.json"
    )
    bnlj_ok: dict[str, str] = {}
    if os.path.exists(allow_path):
        with open(allow_path, encoding="utf-8") as fh:
            bnlj_ok = {k: v for k, v in json.load(fh).items() if not k.startswith("_")}

    bad = [r for r in rows if r.get("cartesian")]
    bnlj = [r for r in rows if r.get("bnlj") and r["q"] not in bnlj_ok]
    errs = [r for r in rows if "error" in r]

    if record:
        budgets = {r["q"]: r["exchanges"] for r in rows if "error" not in r}
        with open(BUDGET_PATH, "w", encoding="utf-8") as fh:
            json.dump(budgets, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"\nrecorded {len(budgets)} exchange budgets -> {BUDGET_PATH}")

    over: list[str] = []
    if os.path.exists(BUDGET_PATH) and not record:
        with open(BUDGET_PATH, encoding="utf-8") as fh:
            budgets = json.load(fh)
        for r in rows:
            b = budgets.get(r.get("q"))
            if b is not None and r.get("exchanges", 0) > b:
                over.append(f"{r['q']}: {r['exchanges']} exchanges > budget {b}")
        missing = [r["q"] for r in rows if "error" not in r and r["q"] not in budgets]
        if missing:
            # a FAILURE, not a note: every entry ships with a committed
            # budget row, or the sweep can't catch its regressions
            # (round-6 verdict item 8)
            over.extend(
                f"{q}: no committed budget in exchange_budgets.json "
                f"(run --record or add the row by hand)"
                for q in missing
            )

    print(
        f"\n== {len(rows)} plans; cartesian={len(bad)} bnlj={len(bnlj)} "
        f"over-budget={len(over)} errors={len(errs)}"
    )
    for r in bad:
        print("  CARTESIAN:", r)
    for r in bnlj:
        print("  BNLJ:", r)
    for line in over:
        print("  OVER-BUDGET:", line)
    for r in errs:
        print("  ERROR:", r)
    return 1 if (bad or bnlj or over or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
