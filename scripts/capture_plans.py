#!/usr/bin/env python
"""Capture .explain("formatted") for every declared query into
plans/r15/<query>_<suffix>.txt (judge-checkable plan evidence for the
optimization round).  Driver-only: plans are compiled, never executed.

Usage: python scripts/capture_plans.py <suffix> [query ...]
  suffix: e.g. "before" / "after"
  query:  optional subset; default = all declared queries
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.queries import load_all  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    if not names:
        names = sorted(registry)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("KCP_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = bench.session("kcp-plan-capture")
    for name in names:
        try:
            df = registry[name].build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # record the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {ex}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
