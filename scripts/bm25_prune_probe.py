#!/usr/bin/env python
"""Measure what the BM25 tbucket file-level pruning pays (round 9).

The round-8 feature claim: a SAVED Bm25Index partitions postings and
docfreq by a term-bucket column, and `topk` pushes the query terms'
bucket set as a partition filter - so a pointed probe ("find the
documents most relevant to these few queries") reads only the bucket
directories its terms hash into, instead of the whole postings store.
tests/test_retrieval.py::TestFilePruning gates that the filter reaches
PartitionFilters and that untouched files are never opened; this script
puts a NUMBER on it at sf10 (100x the gated scale, 500k documents):

    build+save once -> search the SAME loaded index twice:
      pruned:    bucket_partitions as saved (file-level pruning)
      full-scan: bucket_partitions=None on the handle (same plan minus
                 the partition filter - the pre-round-8 behavior)

Results are recorded in BASELINE.md, not gated per-round (same policy
as scale_smoke.py: a 100x run is a measurement campaign).

Usage: python scripts/bm25_prune_probe.py [sf_dir] [n_queries] [buckets]
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
from kafka_cassandra_plugin_spark.operators.retrieval import Bm25Index  # noqa: E402


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "sf10")
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
    idx_path = os.path.join(repo, ".scale", "bm25_prune_probe")
    spark = bench.session("bm25-prune-probe")
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    n_docs = docs.count()

    shutil.rmtree(idx_path, ignore_errors=True)
    t0 = time.perf_counter()
    idx = Bm25Index.build(docs).save(idx_path, bucket_partitions=buckets)
    t_build = round(time.perf_counter() - t0, 3)

    # pointed probes: a few SHORT queries (the first ~8 words of a
    # sampled doc) - the "audit this handful of eval questions" shape
    # where pruning pays; long query sets converge to a full scan by
    # construction (every bucket eventually touched).
    queries = (
        docs.orderBy("doc_id").limit(n_queries)
        .select(F.col("doc_id").alias("query_id"),
                F.array_join(F.slice(F.split("text", r"\s+"), 1, 8),
                             " ").alias("text"))
        .cache()
    )
    queries.count()

    def timed_search(handle) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = handle.topk(queries, k=10).count()
        return round(time.perf_counter() - t0, 3), n

    pruned = Bm25Index.load(spark, idx_path)
    t_pruned, n_pruned = timed_search(pruned)
    full = Bm25Index.load(spark, idx_path)
    full.bucket_partitions = None  # same plan minus the partition filter
    t_full, n_full = timed_search(full)
    assert n_pruned == n_full, (n_pruned, n_full)
    # second pass each, warm page cache, to split I/O from plan cost
    t_pruned2, _ = timed_search(Bm25Index.load(spark, idx_path))
    t_full2, _ = timed_search(full)

    print(json.dumps({
        "sf_dir": sf_dir, "n_docs": n_docs, "n_queries": n_queries,
        "bucket_partitions": buckets, "index_build_save_s": t_build,
        "search_pruned_s": t_pruned, "search_fullscan_s": t_full,
        "search_pruned_warm_s": t_pruned2,
        "search_fullscan_warm_s": t_full2,
        "result_rows": n_pruned,
    }))
    shutil.rmtree(idx_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
