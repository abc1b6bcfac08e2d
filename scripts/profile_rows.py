#!/usr/bin/env python
"""Per-row optimization profiler (round 15, guide §1).

For each named declared query: run through the noop sink (steady state,
best-of-3), record wall seconds, the number of Spark jobs the build and
the final write issued (counted in their bench.measure_row job groups),
and the POST-EXECUTION adaptive plan (isFinalPlan=true, showing AQE
stage reuse / skew splits that the static explain cannot).

Usage: [PROFILE_SUFFIX=runtime_before] python scripts/profile_rows.py out.json q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.queries import load_all  # noqa: E402


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = bench.session("kcp-profile")
    registry["agg_pricing_summary"].build(spark, sf_dir).count()  # warmup

    results: dict[str, dict] = {}
    for name in names:
        best = min(
            (bench.measure_row(
                spark, f"profile:{name}:{i}",
                lambda: registry[name].build(spark, sf_dir))
             for i in range(3)),
            key=lambda rec: rec["wall_s"])
        # post-execution adaptive plan: execute the query's OWN
        # QueryExecution (toRdd) so explain shows isFinalPlan=true with
        # AQE reuse/coalesce decisions, then render it
        try:
            df = registry[name].build(spark, sf_dir)
            qe = df._jdf.queryExecution()
            qe.toRdd().count()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as ex:
            plan = f"runtime plan capture failed: {ex}"
        results[name] = {"sec": best["wall_s"], "jobs": best["jobs"],
                         "build_jobs": best["build_jobs"],
                         "exec_jobs": best["exec_jobs"]}
        rp = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans", os.environ.get("KCP_PLANS_ROUND", "r16"),
            f"{name}_{os.environ.get('PROFILE_SUFFIX', 'runtime_before')}.txt",
        )
        with open(rp, "w") as f:
            f.write(plan)
        print(f"{name}: {best['wall_s']:.3f}s  jobs={best['build_jobs']}"
              f"+{best['exec_jobs']}",
              flush=True)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
