#!/usr/bin/env python
"""Tiered-vs-full compact wall for the three light disk-backed stores.

The round-12 growth campaign (`index_growth_probe.py tiered`) measured
the tiered fold's flat wall for the three HEAVY stores (CommonnessIndex
/ FingerprintIndex / Bm25Index).  This probe closes the set: BloomIndex
/ NgramLM / WordHistogram accumulate the same batch-partition layout
through 20 appends x 50k docs (sf1 replicas, id-shifted / word-rotated
like the main campaign) and compact every 5 in BOTH modes, recording
the per-cadence compact wall.  Expected shape (same algebra as the main
campaign): full-mode wall grows with accumulated history, tiered-mode
wall is bounded by the 5 young batches per cadence with the one
`max_levels` full merge paying the history cost once.

Results print one JSON line per cadence and a summary; recorded in
BASELINE.md as a measurement campaign (scale_smoke.py policy).

Usage: python scripts/tiered_stores_probe.py [sf_dir=.scale/sf1] [mode=tiered|full]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.catalog import Catalog  # noqa: E402
from kafka_cassandra_plugin_spark.operators.bloom import BloomIndex  # noqa: E402
from kafka_cassandra_plugin_spark.operators.bpe import WordHistogram  # noqa: E402
from kafka_cassandra_plugin_spark.operators.lm import NgramLM  # noqa: E402

N_APPENDS = 20
COMPACT_EVERY = 5
BATCH_DOCS = 50_000


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "sf1")
    mode = sys.argv[2] if len(sys.argv) > 2 else "tiered"
    assert mode in ("tiered", "full")
    work = os.path.join(repo, ".scale", f"tiered_stores_{mode}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = bench.session("tiered-stores-probe")
    src = Catalog(spark, sf_dir).documents.select("doc_id", "text")

    bloom = BloomIndex.init(spark, os.path.join(work, "bloom"),
                            expected_items=5_000_000)
    lm = NgramLM.init(spark, os.path.join(work, "lm"), n=3, k=0.1)
    hist = WordHistogram.init(spark, os.path.join(work, "hist"))

    rows = []
    for i in range(N_APPENDS):
        rot = (i % 16) + 1
        batch = src.select(
            (F.col("doc_id") + (i + 1) * 10_000_000).alias("doc_id"),
            F.expr(
                f"concat_ws(' ', concat(slice(split(text, ' '), {rot} + 1, "
                f"greatest(size(split(text, ' ')) - {rot}, 0)), "
                f"slice(split(text, ' '), 1, {rot})))"
            ).alias("text"),
        ).limit(BATCH_DOCS).localCheckpoint()
        row = {"append": i}
        t0 = time.perf_counter()
        bloom.append_content(batch, i, "text")
        row["bloom_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        lm.append_batch(batch, i, "text", reload=False)
        row["lm_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        hist.append_batch(batch.select("text"), i, reload=False)
        row["hist_s"] = round(time.perf_counter() - t0, 2)
        if (i + 1) % COMPACT_EVERY == 0:
            for name, handle_loader, compact_full in (
                ("bloom",
                 lambda: BloomIndex.load(spark, os.path.join(work, "bloom")),
                 lambda h: h.compact(256)),
                ("lm",
                 lambda: NgramLM.load(spark, os.path.join(work, "lm")),
                 lambda h: h.compact()),
                ("hist",
                 lambda: WordHistogram.load(spark, os.path.join(work, "hist")),
                 lambda h: h.compact()),
            ):
                h = handle_loader()
                t0 = time.perf_counter()
                if mode == "tiered":
                    # max_levels=3: init's batch=-1 is level 1, so the
                    # 3rd cadence pays the full merge (campaign shape)
                    h.compact_tiered(max_levels=3)
                else:
                    compact_full(h)
                row[f"{name}_compact_s"] = round(time.perf_counter() - t0, 2)
        rows.append(row)
        print(json.dumps(row), flush=True)
        import gc

        gc.collect()
    print(json.dumps({"mode": mode, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
