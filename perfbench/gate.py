"""Correctness gate of the benchmark, run once per checkout and cached.

Every query the workloads issue runs once in a fresh session over the
benchmark's own stage root. Its result is compared with its DuckDB oracle
by ``tools/diffcheck.compare(strict=True)``; then its digest (row count and
``xxhash64`` sum, see ``common.digest``) is recorded. Timed runs compare
each query's digest with the one recorded here.

Usage: python3 perfbench/gate.py    (writes .perfbench/gate-<hash>.json)
"""

from __future__ import annotations

import json
import os
import sys

import common


def gate_path() -> str:
    return os.path.join(common.STATE, f"gate-{common.source_hash()}.json")


def main() -> int:
    path = gate_path()
    common.isolate()
    from portofolio_maximizer_spark.plans import ORACLE, QUERIES
    from portofolio_maximizer_spark.plans.queries import render_oracle
    from tools.diffcheck import compare, duck_connection

    spark = common.start_session("perfbench-gate")
    common.check_workers(spark)
    con = duck_connection(common.SF_DIR)
    out = {"digests": {}, "failures": {}, "unchecked": []}
    for workload in common.WORKLOADS:
        for name in common.workload_queries(workload):
            try:
                df = QUERIES[name](spark, common.SF_DIR)
                issues = []
                if name in ORACLE:
                    oracle = render_oracle(ORACLE[name], common.SF_DIR)
                    issues = compare(df.toPandas(), con.sql(oracle).df(), strict=True)
                else:
                    out["unchecked"].append(name)
                out["digests"][name] = common.read_digest(common.digest(df))
            except Exception as e:  # noqa: BLE001 — a failed query fails the gate
                issues = [f"{type(e).__name__}: {e}"[:500]]
            if issues:
                out["failures"][name] = issues
            print(f"{'FAIL' if issues else 'OK'}  {workload} {name}", file=sys.stderr)
    con.close()
    common.stop(spark)
    os.makedirs(common.STATE, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return 1 if out["failures"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
