"""Profile the CurationSink micro-batch floor: per-phase wall breakdown.

Runs measure_funnel_cadence (the round-6/12 harness, full gate set) at
batch-200 and batch-1000 and prints the per-batch phase log the sink
records (guard / setup / load / funnel [fused_ckpt / substrate /
pairs] / append; the accepted write rides the append wave since
round 14) - the
feedback loop for the round-13 handle-cache floor work.

Usage: python scripts/funnel_floor_probe.py [batch_rows ...]
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.streaming.slo import (  # noqa: E402
    measure_funnel_cadence,
)


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [200, 1000]
    spark = bench.session("funnel-floor-probe")
    out = {}
    for rows in sizes:
        with tempfile.TemporaryDirectory() as d:
            r = measure_funnel_cadence(spark, d, batch_rows=rows)
        out[str(rows)] = r
        print(json.dumps({
            "batch_rows": rows, "p50_s": r["p50_s"], "p90_s": r["p90_s"],
            "rows_per_s": r["sustainable_rows_per_s"],
        }))
        for ph in r["phases"]:
            print(json.dumps(ph))
    with open("/tmp/funnel_floor.json", "w") as f:
        json.dump(out, f, indent=1)
    print("wrote /tmp/funnel_floor.json")


if __name__ == "__main__":
    main()
