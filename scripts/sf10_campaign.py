#!/usr/bin/env python
"""Full-declared-set sf10 campaign (round 13).

Prior rounds' sf10 evidence was selective (ANN, dedup tiers, bloom,
lm via scripts/scale_smoke.py); this runs ALL 50 declared queries at
100x the gated scale and records per-query growth vs a TEXT-MODE-
MATCHED sf1 denominator, so the "would this survive 100x" posture is
a table of numbers instead of an extrapolation.

Design choices that matter for reading the artifact:

- **perturb, not rotate, for the ratio pair.** ``build_sf1.py``'s
  rotate mode makes every replica group a true near-dup clique, so a
  rotate sf10 grows near-dup OUTPUT ~replicas^2/2 per doc (the round-5
  smoke measured that regime: 24.7M true pairs).  Growth ratios are
  only meaningful when numerator and denominator sit in the same
  duplication regime, so this campaign runs perturb sf1 (replicas are
  ~jaccard-0.2 distinct docs) against perturb sf10.  The continuity
  sf1 (rotate) stays the per-round bench smoke.
- **Same session, cheapest-first.** Both scales run in one JVM, each
  row through bench.measure_row (own job group, state released between
  rows - the round-5 lesson: localCheckpoint blocks accrete until a
  later broadcast build OOMs).  sf10 rows run cheapest-first by their
  sf1 wall so a budget truncation costs the most-extrapolatable
  information last.
- **Growth floor.** Rows with sf1 wall < FLOOR_S are dominated by
  fixed job-submission overhead; their ratios are reported but only
  rows with sf1 >= FLOOR_S can be flagged super-linear.  Flag
  threshold: wall growth > 3x the 10x data growth (ratio > 30).

Artifact: .scale/sf10_campaign.json — bench.py attaches it to the
per-round payload as ``sf10_queries`` (recorded campaign, not re-run:
a full sf10 pass is a measurement campaign, not a regression test).

Usage: python scripts/sf10_campaign.py [--sf10 .scale/sf10]
         [--sf1 .scale/sf1_perturb] [--budget 7200] [--only a,b,c]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.queries import load_all  # noqa: E402

FLOOR_S = 0.5     # sf1 walls under this are job-overhead-dominated
FLAG_RATIO = 30.0  # >3x super-linear vs the 10x data growth

# Written verdicts on rows whose cross-round swings were investigated
# (round-14 verdict #3 named these two); carried in the artifact so the
# next reader doesn't re-litigate them.
ROW_VERDICTS = {
    "join_star_revenue": (
        "r14's 43.9 s sf10 (15.2x growth) was a loaded-window artifact, "
        "not a regression: a round-15 fresh-JVM probe at calib 0.212 "
        "read 11.19 s (= r13's 11.2), and a deliberately co-tenant "
        "re-run (concurrent pytest + a second Spark JVM) reproduced "
        "23.8 s at calib 0.228 - co-tenancy, which the single-JVM calib "
        "probe cannot see, is the inflation mechanism."),
    "udf_scalar": (
        "r13's 4.6 s sf10 (1.7x growth) was NOT under-measured - the "
        "row is Python-worker-warmup-dominated: by the sf10 pass the "
        "daemon workers are warm from sf1, so sub-linear wall is the "
        "expected shape (round-15 probe: sf1 4.56 s, sf10 3.65 s quiet "
        "window / 15.5 s co-tenant). r14's 28.8 s was the same "
        "co-tenant artifact, not a regression."),
}


def run_rows(spark, runs, names, budget_s, start, label):
    """Wall seconds per row (None when it raised) of ``runs[name]()``
    through bench.measure_row; rows reached after ``budget_s`` are
    skipped by name."""
    times, skipped = {}, []
    for name in names:
        if time.perf_counter() - start > budget_s:
            skipped.append(name)
            continue
        try:
            times[name] = bench.measure_row(
                spark, f"{label}:{name}", runs[name])["wall_s"]
            print(f"  [{label}] {name}: {times[name]} s", flush=True)
        except Exception as exc:  # record, don't die mid-campaign
            times[name] = None
            print(f"  [{label}] {name}: ERROR {exc}", flush=True)
    return times, skipped


def cheapest_first(names, times):
    """``names`` ordered by their measured wall, failed rows last."""
    done = sorted((n for n in names if times.get(n) is not None),
                  key=lambda n: times[n])
    return done + [n for n in names if times.get(n) is None]


def growth_table(t1s: dict, t10s: dict, keys) -> tuple[dict, list]:
    growth, flagged = {}, []
    for name in keys:
        t1, t10 = t1s.get(name), t10s.get(name)
        # `is None` (not truthiness): a genuinely sub-ms wall is a
        # legitimate reading and must land in the table under the
        # FLOOR_S rule, not vanish (round-13 advice)
        if t1 is None or t10 is None:
            continue
        ratio = round(t10 / max(t1, 1e-3), 2)
        growth[name] = ratio
        if t1 >= FLOOR_S and ratio > FLAG_RATIO:
            flagged.append(name)
    return growth, flagged


# At-scale-default extras (round-14, verdict #2): a real 100 TB run
# executes the DEFAULT paths, not just the hash-matchable declared
# twins - adaptive-geometry LSH, learned-KMeans IVF, the funnel, the
# governed BM25 serving row, the learned quality/langid gates and DSIR.
# These come from bench.py's extras registry so the campaign measures
# exactly the per-round-benched builders.
DEFAULT_EXTRAS = ("sim_lsh_ann", "sim_ivf_ann_kmeans", "curation_funnel",
                  "bm25_topk[maxdf]", "quality_classifier", "langid",
                  "dsir_select")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf10", default=os.path.join(REPO, ".scale", "sf10"))
    ap.add_argument("--sf1",
                    default=os.path.join(REPO, ".scale", "sf1_perturb"))
    ap.add_argument("--budget", type=float, default=7200.0)
    ap.add_argument("--only", default="",
                    help="comma-separated declared-name subset")
    ap.add_argument("--extras", default=",".join(DEFAULT_EXTRAS),
                    help="comma-separated bench-extras names to run at "
                         "both scales ('' = none, 'all' = every extra)")
    ap.add_argument("--skip-declared", action="store_true",
                    help="run only the extras block (declared set "
                         "untouched; artifact goes to the partial path)")
    args = ap.parse_args()

    registry = load_all()
    names = sorted(registry)
    if args.only.strip():
        want = {n for n in args.only.split(",") if n}
        names = [n for n in names if n in want]
    if args.skip_declared:
        names = []

    # 48g, not the 8g session default: one long JVM runs ~115
    # materializations back to back, localCheckpoint blocks accrete
    # between the gc ticks, and at 8g the adaptive-LSH sf10 row failed
    # with UNABLE_TO_ACQUIRE_MEMORY.  Known cost: the declared ngram row
    # read 208 s in a fresh 48g JVM vs 63 s at 8g on the same data (a
    # GC cliff at local[32]), so compare that row only across campaigns
    # run at the same heap.  driver.memory is JVM-start-only, and this
    # script owns the first session of its process.
    spark = bench.session("kcp-sf10-campaign",
                          **{"spark.driver.memory": "48g"})
    registry["agg_pricing_summary"].build(spark, args.sf1).count()  # warmup
    start = time.perf_counter()

    def declared(sf_dir):
        return {n: (lambda q=registry[n]: bench.materialize(
            q.build(spark, sf_dir))) for n in names}

    sf1_times, sf1_skipped = run_rows(
        spark, declared(args.sf1), names, args.budget, start, "sf1")
    sf10_times, sf10_skipped = run_rows(
        spark, declared(args.sf10), cheapest_first(names, sf1_times),
        args.budget, start, "sf10")
    growth, flagged = growth_table(sf1_times, sf10_times, names)

    # ---- extras block: the at-scale-default paths (adaptive LSH,
    # learned IVF, funnel, governed BM25, learned gates), same budget
    # clock and flag rule as the declared set
    extras_out = {}
    extras_req = [n for n in args.extras.split(",") if n]
    if extras_req:
        x1 = {**bench._xxhash64_variants(args.sf1),
              **bench._depth_ops(args.sf1)}
        x10 = {**bench._xxhash64_variants(args.sf10),
               **bench._depth_ops(args.sf10)}
        xnames = (sorted(x1) if args.extras.strip() == "all"
                  else [n for n in extras_req if n in x1])
        # each scale's one-off fits run first as their own rows
        # (bench.FIT_ROWS), so the extras rows and their growth ratios
        # are the recurring cost only
        fits = [(op, row) for op, row in bench.FIT_ROWS if op in xnames]

        def extras(ops):
            runs = {n: (lambda fn=fn: bench.materialize(fn(spark)))
                    for n, fn in ops.items()}
            runs.update({row: (lambda op=op: ops[op](spark))
                         for op, row in fits})
            return runs

        fit_rows = [row for _, row in fits]
        ex1, ex1_skip = run_rows(spark, extras(x1), fit_rows + xnames,
                                 args.budget, start, "extras-sf1")
        ex10, ex10_skip = run_rows(
            spark, extras(x10),
            fit_rows + cheapest_first(xnames, ex1), args.budget, start,
            "extras-sf10")
        exg, exf = growth_table(ex1, ex10, xnames)
        extras_out = {
            "extras_sf1": ex1, "extras_sf10": ex10,
            "extras_growth": exg, "extras_flagged": exf,
            "extras_skipped": {"sf1": ex1_skip, "sf10": ex10_skip},
        }

    partial = bool(args.only.strip()) or args.skip_declared
    out = {
        "sf1_dir": args.sf1, "sf10_dir": args.sf10,
        "text_mode": "perturb", "floor_s": FLOOR_S,
        "flag_ratio": FLAG_RATIO,
        # a subset run is marked as such so bench.py's payload block
        # can never silently shadow a full campaign (round-13 advice)
        "n_queries": len(names), "registry_size": len(registry),
        "only": sorted(set(names)) if partial else None,
        "sf1": sf1_times, "sf10": sf10_times, "growth": growth,
        "flagged": flagged, "row_verdicts": ROW_VERDICTS,
        "skipped": {"sf1": sf1_skipped, "sf10": sf10_skipped},
        "sf1_total": round(
            sum(t for t in sf1_times.values() if t is not None), 3),
        "sf10_total": round(
            sum(t for t in sf10_times.values() if t is not None), 3),
        **extras_out,
    }
    scale_dir = os.path.dirname(os.path.abspath(args.sf10))
    if partial:
        # never clobber the full-campaign artifacts with a subset
        paths = [os.path.join(scale_dir, "sf10_campaign_partial.json")]
    else:
        paths = [os.path.join(scale_dir, "sf10_campaign.json"),
                 os.path.join(REPO, "SF10_CAMPAIGN.json")]
    for p in paths:
        with open(p, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("sf1_total", "sf10_total", "flagged")}))
    if extras_out:
        print(json.dumps({k: extras_out[k] for k in
                          ("extras_growth", "extras_flagged")}))
    print(f"artifact: {paths[0]}")
    spark.stop()


if __name__ == "__main__":
    main()
