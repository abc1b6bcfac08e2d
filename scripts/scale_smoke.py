#!/usr/bin/env python
"""One-off scale smoke at an arbitrary upsampled dataset (round 5).

`bench.py` smokes sf1 (10x the gated scale) every round; this script
runs the same single-pass wall measurement at ANY upsampled directory -
built for sf10 (100x: 60M lineitem, 500k documents, 200k embeddings,
`build_sf1.py --replicas 100`), where "would this survive a 100x
scale-up" stops being an extrapolation from 10x and becomes a number.
Single-run by design (smoke, not anchor); budget-bounded with explicit
skip markers, cheapest queries first so a truncation costs the least
information.  Results are recorded in BASELINE.md, not gated per-round
(a 100x run is a measurement campaign, not a regression test).

Usage: python scripts/build_sf1.py --replicas 100 --out .scale/sf10
       python scripts/scale_smoke.py /root/repo/.scale/sf10 [budget_s]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.queries import load_all  # noqa: E402

# cheap -> expensive (sf1 readings x10 as the cost prior)
DECLARED = [
    "agg_pricing_summary", "join_star_revenue", "agg_stats_profile",
    "cas_lifecycle", "dedup_ngram_jaccard", "dedup_simhash",
    "text_stats", "dedup_minhash_lsh",
]
DEPTH = [
    "stratified_sample", "shard_export[staging]", "mix_sources",
    "repetition_signals", "decontaminate_ngram13",
    "bloom_filter_new", "lm_perplexity",
    "decontaminate", "curation_funnel", "dedup_semantic",
    "dedup_substring", "dedup_lines",
    "bm25_topk", "dsir_select", "quality_classifier",
    "fingerprint_winnow",
    # round-9 ops (D27-D33): encode is the declared Python slow path,
    # the rest are built-in-only compositions
    "bpe_encode", "gopher_quality", "ccnet_buckets", "pack_examples",
    "soft_dedup", "contamination_report", "tokenizer_fertility",
    "commonness_weights",
]


def bloom_lifetime_row(spark, sf_dir) -> dict:
    """The Bloom probe with a LIFETIME-sized geometry (10^9 expected
    keys -> dense bound m/8 ~ 1.2 GB > the 64 MB broadcast threshold):
    the one configuration where the probe's broadcast/shuffle_hash
    switch actually takes the shuffle branch, so the at-scale join
    path is EXERCISED and its plan recorded, not just unit-asserted
    with max_broadcast_bytes=0."""
    from pyspark.sql import functions as F

    from kafka_cassandra_plugin_spark import plans as P
    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators.bloom import BloomIndex

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    accepted = docs.filter(F.col("doc_id") % 3 != 0)
    idx = BloomIndex.build(accepted, "doc_id",
                           expected_items=1_000_000_000, fpp=0.01)
    idx.words.persist().count()  # build once, like the bench row
    batch = docs.filter(F.col("doc_id") % 6 < 2)
    probe = idx.filter_new(batch)
    plan = P.formatted_plan(probe)
    wall = bench.measure_row(spark, "bloom_lifetime",
                             lambda: bench.materialize(probe))["wall_s"]
    idx.words.unpersist()
    return {
        "wall_s": wall,
        "expected_items": 1_000_000_000,
        "dense_bound_mb": round(idx.m / 8 / 2**20, 1),
        "probe_join": ("ShuffledHashJoin" if "ShuffledHashJoin" in plan
                       else "BroadcastHashJoin" if "BroadcastHashJoin"
                       in plan else "other"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf10"
    budget_s = float(sys.argv[2]) if len(sys.argv) > 2 else 1800.0
    registry = load_all()
    spark = bench.session("kcp-scale-smoke")
    registry["agg_pricing_summary"].build(spark, sf_dir).count()  # warmup

    # optional row subset: $SPARK_GRAFT_SMOKE_ROWS="a,b,c" runs only
    # those rows (targeted campaigns for newly-added ops; the full list
    # stays the default so a plain invocation reproduces prior rounds)
    rows = DECLARED + DEPTH
    subset = os.environ.get("SPARK_GRAFT_SMOKE_ROWS", "").strip()
    if subset:
        want = [n for n in subset.split(",") if n]
        rows = [n for n in rows if n in want]

    depth_fns = bench._depth_ops(sf_dir)
    # the one-off fits run first as their own rows (bench.FIT_ROWS), so
    # each depth row below measures only its recurring cost
    runs = {row: (lambda op=op: depth_fns[op](spark))
            for op, row in bench.FIT_ROWS if op in rows}
    runs.update({name: (lambda name=name: bench.materialize(
        registry[name].build(spark, sf_dir) if name in registry
        else depth_fns[name](spark))) for name in rows})
    start = time.perf_counter()
    times, skipped = {}, []
    for name, run in runs.items():
        if time.perf_counter() - start > budget_s:
            skipped.append(name)
            continue
        times[name] = bench.measure_row(spark, name, run)["wall_s"]
        print(f"  {name}: {times[name]} s", flush=True)
    out = {"sf_dir": sf_dir, "queries": times, "skipped": skipped,
           "total": round(sum(times.values()), 3)}
    # the bloom lifetime-geometry probe respects the row subset too: a
    # targeted campaign must not pay a ~1.2 GB dense-bound index build
    # it did not ask for
    want_bloom = (not subset) or ("bloom_lifetime" in subset)
    if want_bloom and time.perf_counter() - start <= budget_s:
        out["bloom_lifetime"] = bloom_lifetime_row(spark, sf_dir)
        print(f"  bloom_lifetime: {out['bloom_lifetime']}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
