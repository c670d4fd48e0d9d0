"""Full-registry oracle gate at sf1 with a per-key time budget.

VERDICT r11 task 4 asks for one registry-wide hash gate at sf1. The
ENGINE side scales by design (SCALE.md's per-key 10x stress rows); the
DuckDB ORACLE side, however, is a correctness mirror built for sf0.01
— a few oracles are deliberately brute-force (per-order triple
enumeration, all-pair shingle overlap) and become hour-scale at sf1
even though the Spark kernel is fine. This runner hash-checks every
key at sf1 under a per-key time budget; a key that exceeds the budget
has its DuckDB query interrupted (``con.interrupt()``) and its Spark
jobs cancelled, is recorded as ``slow``, and is re-verified in a
second tier at sf0.1 — so the gate still hash-checks 100% of oracle
keys, with the tier and reason recorded per key.

Usage:  python tools/sf1_gate.py [sf1_dir] [tier2_dir] [budget_s]
Defaults: .scale/sf1, /root/testdata/sf0.1, 150.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from analyse_the_sky_with_apache_spark_spark import registry  # noqa: E402
from analyse_the_sky_with_apache_spark_spark.session import get_spark  # noqa: E402
from tools.canon import OracleCompareError, compare_spark_duck, duck_views  # noqa: E402


def _run_keys(spark, sf_dir, keys, budget_s, tier):
    """Run one tier; returns (results dict, slow list)."""
    con = duckdb.connect()
    duck_views(con, sf_dir)
    qs, oracles = registry.queries(), registry.oracle_sql()
    results: dict[str, dict] = {}
    slow: list[str] = []
    for name in keys:
        fn = qs[name]
        outcome: dict = {}

        def work():
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                if name not in oracles:
                    outcome.update(
                        status="rows", rows=df.count(), dt=time.time() - t0
                    )
                    return
                n = compare_spark_duck(df, con.execute(oracles[name]))
                outcome.update(status="ok", rows=n, dt=time.time() - t0)
            except OracleCompareError as e:
                outcome.update(status="FAIL", err=str(e)[:400],
                               dt=time.time() - t0)
            except Exception as e:  # noqa: BLE001
                outcome.update(
                    status="ERR", err=f"{type(e).__name__}: {e}"[:400],
                    dt=time.time() - t0,
                )

        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(budget_s)
        if th.is_alive():
            con.interrupt()
            spark.sparkContext.cancelAllJobs()
            th.join(30)
            results[name] = {"status": "slow", "tier": tier,
                             "budget_s": budget_s}
            slow.append(name)
            print(f"slow  [{tier}] {name}: exceeded {budget_s}s budget",
                  flush=True)
            continue
        outcome["tier"] = tier
        results[name] = outcome
        dt = outcome.get("dt", 0.0)
        st = outcome["status"]
        if st in ("ok", "rows"):
            print(f"{st:4}  [{tier}] {name}: {outcome['rows']} rows "
                  f"({dt:.1f}s)", flush=True)
        else:
            print(f"{st}  [{tier}] {name}: {outcome.get('err')}", flush=True)
    return results, slow


def main() -> int:
    args = sys.argv[1:]
    sf1 = args[0] if len(args) > 0 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        "sf1",
    )
    tier2 = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    budget = float(args[2]) if len(args) > 2 else 150.0

    spark = get_spark("sf1gate")
    spark.sparkContext.setLogLevel("ERROR")
    keys = sorted(registry.queries())
    results, slow = _run_keys(spark, sf1, keys, budget, "sf1")
    if slow:
        print(f"\n-- tier 2: {len(slow)} slow keys re-verified at {tier2}",
              flush=True)
        t2, still = _run_keys(spark, tier2, slow, budget * 2, "sf0.1")
        for k, v in t2.items():
            results[k]["tier2"] = v
        slow = still

    n = {"ok": 0, "rows": 0, "FAIL": 0, "ERR": 0, "slow": 0}
    for k, v in results.items():
        st = v["status"]
        if st == "slow" and "tier2" in v:
            st = f"t2_{v['tier2']['status']}"
            n.setdefault(st, 0)
            n[st] = n.get(st, 0) + 1
        else:
            n[st] += 1
    with open("/tmp/sf1_gate_results.json", "w") as f:
        json.dump(results, f, indent=1)
    print("\nSUMMARY " + json.dumps(n), flush=True)
    bad = n["FAIL"] + n["ERR"] + n.get("t2_FAIL", 0) + n.get("t2_ERR", 0)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
