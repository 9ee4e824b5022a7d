#!/usr/bin/env python
"""Dump .explain("formatted") for named registry queries to plans/<outdir>/.

    python tools/dump_plans.py before tpch_q1 tpch_q5 ...

Writes plans/$SPARK_GRAFT_PLANS_DIR/<name>_<tag>.txt (default
plans/r13/). Uses the bench session preset
(local[$SPARK_GRAFT_CPUS], AQE on) so plan shape matches what the bench
executes.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r13"))
    os.makedirs(outdir, exist_ok=True)

    from minimised_impala_spark.session import local_test_session
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import fresh

    load_all()
    spark = local_test_session("mis-plan-dump")
    for n in names:
        df = fresh(n)(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(outdir, f"{n}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
