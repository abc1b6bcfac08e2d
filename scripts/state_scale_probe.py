#!/usr/bin/env python
"""Stateful-watcher state-scale probe (round-12 verdict #6).

The change-notification SLO (BASELINE.md: p50 0.59 s single-key, 0.70 s
at 50k resident keys, 500 ms trigger) is measured far below the state
size a production watcher carries.  This probe runs the SAME harness
(:func:`..streaming.slo.measure_change_notification_latency`) with
500k-1M keys bulk-streamed into the state store first, across a grid of
state partition counts, and records the two numbers the 100 TB posture
needs:

1. WHERE the per-batch state maintenance breaks the 1 s reference
   target as resident keys grow (the HDFS-backed state store rewrites a
   delta + periodic snapshot per partition per batch - the term that
   grows with the watched key-set);
2. WHAT ``spark.sql.shuffle.partitions`` (pinned at query start = the
   state partition count) restores it - the documented sizing rule is
   "size state partitions to key cardinality"; this probe turns the
   rule into a measured curve.

Method notes: each cell uses a FRESH checkpoint dir (state partition
count is pinned in the checkpoint, it cannot be re-sized mid-query) and
its own source dir; per-change readings are isolated round-trips (the
harness waits for each delivery).  Results print one JSON line per cell
and a final summary line; recorded in BASELINE.md as a measurement
campaign (the scale_smoke.py policy), not a per-round gate.

Usage: python scripts/state_scale_probe.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.streaming.slo import (  # noqa: E402
    measure_change_notification_latency,
)

KEY_COUNTS = (50_000, 250_000, 500_000, 1_000_000)
PARTITIONS = (2, 8, 32)
TARGET_S = 1.0  # the reference envelope: listener fires <= 1 s after change


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = bench.session("state-scale-probe")
    cells = []
    for keys in KEY_COUNTS:
        for parts in PARTITIONS:
            work = tempfile.mkdtemp(prefix=f"stscale_{keys}_{parts}_")
            try:
                t0 = time.perf_counter()
                # timeout sized for the PRELOAD batch: the first
                # warmup event queues behind the bulk state-population
                # micro-batch (keys x per-group python calls + the
                # initial state write), which at 1M keys / 2 partitions
                # runs minutes; warmup events absorb it so the
                # measured readings are steady-state
                r = measure_change_notification_latency(
                    spark, work, n_events=8, warmup=2,
                    trigger_ms=500, state_partitions=parts,
                    preload_keys=keys, timeout_s=900.0,
                )
                wall = round(time.perf_counter() - t0, 1)
                cell = {
                    "resident_keys": keys, "state_partitions": parts,
                    "p50_s": r["p50_s"], "p90_s": r["p90_s"],
                    "max_s": r["max_s"], "cell_wall_s": wall,
                    "warmup_raw": r["raw"][:2],
                    "meets_1s": r["p90_s"] <= TARGET_S,
                }
            except Exception as exc:  # timeout = the breaking point
                cell = {
                    "resident_keys": keys, "state_partitions": parts,
                    "error": f"{type(exc).__name__}: {exc}"[:200],
                    "meets_1s": False,
                }
            cells.append(cell)
            print(json.dumps(cell), flush=True)
            shutil.rmtree(work, ignore_errors=True)
    summary = {
        "cells": cells,
        "breaks_at": [
            c for c in cells if not c["meets_1s"]
        ],
    }
    print(json.dumps({"state_scale_probe": summary}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
