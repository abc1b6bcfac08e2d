#!/usr/bin/env python
"""sf100-posture probe for the incremental indexes (round-10 verdict #7).

The append/compact discipline of Bm25Index / FingerprintIndex /
CommonnessIndex is proven at sf10 (500k docs, a handful of appends);
this campaign grows each index through ~50 appends x ~100k docs (= 5M
docs, one more decade) and records the three numbers the 100-TB
posture rests on:

1. per-append wall - must stay ~FLAT (append_batch is O(batch): it
   never re-reads history);
2. probe wall at checkpoints (weights / match_batch / topk on a
   FIXED-SIZE batch) - must stay ~flat too (probe cost is O(batch) +
   matched-content terms, not O(accumulated corpus));
3. file counts under each index dir - must stay BOUNDED by the
   compaction cadence (streaming appends are a small-files factory).

Batch content: sf1's 50k documents replicated with id shifts and a
word-rotation per replica so content is distinct across appends,
EXCEPT every 50th document which stays verbatim - a planted 2%
cross-append duplicate stream so commonness actually accumulates,
fingerprint probes actually match, and BM25 postings share terms.

Resumable: state (next append id, timings so far) persists to
``<workdir>/state.json`` after every append, so the campaign can run
in slices (kill + rerun continues).  Results print as one JSON line
and are recorded in BASELINE.md as a measurement campaign, not a
per-round gate (the scale_smoke.py policy).

Round-12 addition: ``mode=tiered`` runs the SAME campaign with
:meth:`compact_tiered` at each cadence instead of the full rewrite -
the answer to round 10's one honest growth term (full-compact wall
111 -> 176 s across the campaign, O(accumulated history)).  Tiered
folds write only the young batches appended since the last fold, so
their wall must stay FLAT across the campaign.  ``max_levels=4``
triggers the full-merge fallback at the FOURTH of the five cadences:
``init`` writes the stores' ``batch=-1`` history partition, which
counts as a level, so levels run 1 -> 2 -> 3 -> 4 across cadences 1-3
and cadence 4 sees the cap (the measured wall spike there IS the
amortized major compaction, matching the round-10 full-rewrite cost);
cadence 5 folds tiered again on the merged base.  One run therefore
shows both the flat tiered wall and the once-per-``max_levels``
O(history) merge.  State lives in ``index_growth_tiered/`` so the
two campaigns never share a workdir.

Usage: python scripts/index_growth_probe.py \
           [sf_dir=.scale/sf1] [n_appends=50] [batch_docs=100000] \
           [mode=full|tiered]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from kafka_cassandra_plugin_spark.catalog import Catalog  # noqa: E402
from kafka_cassandra_plugin_spark.operators.commonness import (  # noqa: E402
    CommonnessIndex,
)
from kafka_cassandra_plugin_spark.operators.fingerprint_index import (  # noqa: E402
    FingerprintIndex,
)
from kafka_cassandra_plugin_spark.operators.retrieval import (  # noqa: E402
    Bm25Index,
)

COMPACT_EVERY = 10
PROBE_AT = {1, 10, 20, 30, 40, 50}


def count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def make_batch(src, i: int, replicas: int):
    """Append ``i`` as ``replicas`` id-shifted copies of the source
    corpus: text rotated per copy (distinct content) EXCEPT every 50th
    doc verbatim (a 2% cross-append duplicate stream, so commonness
    counts actually accumulate), plus a per-document marker term
    ``mk<gen>_<id>`` (the synthetic corpus has a 31-word vocabulary -
    every natural term is a stopword by df, so rare-term BM25 probes
    need planted rare terms; markers are unique, df=1 forever)."""
    parts = []
    for r in range(replicas):
        gen = i * replicas + r
        rot = (gen % 16) + 1
        rotated = F.expr(
            f"concat_ws(' ', concat(slice(split(text, ' '), {rot} + 1, "
            f"greatest(size(split(text, ' ')) - {rot}, 0)), "
            f"slice(split(text, ' '), 1, {rot})))"
        )
        marker = F.concat(F.lit(f"mk{gen}_"), F.col("doc_id"))
        # verbatim stream carries NO marker (the marker would make
        # every copy distinct and kill the commonness accumulation)
        text = F.when(F.col("doc_id") % 50 == 0, F.col("text")) \
            .otherwise(F.concat_ws(" ", rotated, marker))
        parts.append(
            src.select(
                (F.col("doc_id") + (gen + 1) * 10_000_000).alias("doc_id"),
                text.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "sf1")
    n_appends = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    batch_docs = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    mode = sys.argv[4] if len(sys.argv) > 4 else "full"
    if mode not in ("full", "tiered"):
        raise SystemExit(f"mode must be full|tiered, got {mode!r}")
    work = os.path.join(
        repo, ".scale",
        "index_growth" if mode == "full" else "index_growth_tiered")
    state_path = os.path.join(work, "state.json")
    os.makedirs(work, exist_ok=True)
    spark = bench.session("index-growth-probe")
    src = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    n_src = src.count()
    replicas = max(1, -(-batch_docs // n_src))

    paths = {k: os.path.join(work, k) for k in ("commonness", "fpi", "bm25")}
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
        ci = CommonnessIndex.load(spark, paths["commonness"])
        fpi = FingerprintIndex.load(spark, paths["fpi"])
        bm = Bm25Index.load(spark, paths["bm25"])
    else:
        state = {"next": 0, "appends": [], "probes": [], "files": []}
        ci = CommonnessIndex.init(spark, paths["commonness"])
        # 128 buckets (not the 256/1024 defaults): the marker terms hash
        # into EVERY bucket, so per-append file count = bucket count - at
        # 50 appends the default fan-outs spend the campaign writing tiny
        # files instead of measuring growth.  The append/compact/probe
        # discipline under test is bucket-count-independent.
        fpi = FingerprintIndex.init(spark, paths["fpi"],
                                    bucket_partitions=128)
        bm = Bm25Index.init(spark, paths["bm25"], bucket_partitions=128)

    # fixed probe batch / query set (never grows with the index):
    # - 5k reversed-text docs (reversal never equals any rotation, so
    #   they match NOTHING - the pure access-path cost), plus
    # - 50 verbatim duplicate-stream docs whose matches/commonness DO
    #   accumulate (result size grows ~linearly for these 50, so a
    #   small explained linear term rides on top of the flat cost)
    fresh = src.filter(F.col("doc_id") % 50 != 0).limit(5_000).select(
        (F.col("doc_id") - 100_000_000).alias("doc_id"),
        F.expr("concat_ws(' ', reverse(split(text, ' ')))").alias("text"),
    )
    seen = src.filter(F.col("doc_id") % 50 == 0).limit(50).select(
        (F.col("doc_id") - 200_000_000).alias("doc_id"), "text")
    probe_docs = fresh.unionByName(seen).localCheckpoint()
    probe_fp = fresh.limit(950).unionByName(seen).localCheckpoint()
    # rare-term queries: append-0/replica-0 markers, df=1 regardless of
    # corpus size - the probe measures tbucket-pruned index access
    # against the GROWING postings table at fixed result size
    queries = (
        src.filter(F.col("doc_id") % 50 != 0).orderBy("doc_id").limit(100)
        .select(F.col("doc_id").alias("query_id"),
                F.concat(F.lit("mk0_"), F.col("doc_id")).alias("text"))
        .localCheckpoint()
    )

    def probe(i: int) -> None:
        nonlocal ci, fpi, bm
        row = {"append": i}
        t0 = time.perf_counter()
        row["commonness_weights_rows"] = ci.weights(probe_docs).count()
        row["commonness_weights_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        row["fpi_match_rows"] = fpi.match_batch(
            probe_fp, threshold=0.5).count()
        row["fpi_match_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        row["bm25_topk_rows"] = bm.topk(queries, k=10,
                                        max_df_ratio=0.3).count()
        row["bm25_topk_s"] = round(time.perf_counter() - t0, 2)
        state["probes"].append(row)
        state["files"].append(
            {"append": i,
             **{k: count_files(p) for k, p in paths.items()}})
        print(json.dumps(row), flush=True)

    while state["next"] < n_appends:
        i = state["next"]
        batch = make_batch(src, i, replicas).localCheckpoint()
        row = {"append": i, "docs": batch.count()}
        t0 = time.perf_counter()
        ci = ci.append_batch(batch, i)
        row["commonness_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        fpi = fpi.append_batch(batch, i)
        row["fpi_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        bm = bm.append_batch(batch, i)
        row["bm25_s"] = round(time.perf_counter() - t0, 2)
        if (i + 1) % COMPACT_EVERY == 0:
            if mode == "tiered":
                # max_levels=4: init's batch=-1 counts as level 1, so
                # cadences 1-3 fold young-only (flat wall), cadence 4
                # hits the cap and pays the full merge, cadence 5 is
                # tiered again - one campaign shows both terms of the
                # LSM story (see module doc)
                t0 = time.perf_counter()
                ci = ci.compact_tiered(max_levels=4)
                row["ci_compact_s"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                fpi = fpi.compact_tiered(max_levels=4)
                row["fpi_compact_s"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                bm = bm.compact_tiered(max_levels=4)
                row["bm25_compact_s"] = round(time.perf_counter() - t0, 2)
                row["compact_s"] = round(
                    row["ci_compact_s"] + row["fpi_compact_s"]
                    + row["bm25_compact_s"], 2)
            else:
                t0 = time.perf_counter()
                ci, fpi, bm = ci.compact(), fpi.compact(), bm.compact()
                row["compact_s"] = round(time.perf_counter() - t0, 2)
        state["appends"].append(row)
        state["next"] = i + 1
        with open(state_path, "w") as f:
            json.dump(state, f)
        print(json.dumps(row), flush=True)
        if (i + 1) in PROBE_AT:
            probe(i + 1)
            with open(state_path, "w") as f:
                json.dump(state, f)
        import gc
        gc.collect()  # unpin localCheckpoint blocks (bench.py lesson)

    print(json.dumps({"campaign": state}, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
