#!/usr/bin/env python
"""D26 at 100x: winnowing + FingerprintIndex measured at sf10 (round 9).

Three numbers the 100-TB posture claims rest on, measured instead of
asserted (the scale_smoke.py policy: a measurement campaign recorded
in BASELINE.md, not a per-round gate):

1. corpus fingerprint+overlap (the bench `fingerprint_winnow` shape)
   over 500k documents - the whole-frame cost;
2. FingerprintIndex build+save once (the amortized corpus pass);
3. match_batch of a 1k-document probe batch (half verbatim partial
   copies, half fresh) against the saved index, bucket-pruned vs
   `broadcast_batch=False` full-scan - what "a batch probes in
   O(batch)" is worth, and whether the copies actually surface.

Usage: python scripts/fingerprint_scale_probe.py [sf_dir] [n_probe]
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
from kafka_cassandra_plugin_spark.operators.fingerprint import (  # noqa: E402
    fingerprint_overlap,
    winnow_fingerprints,
)
from kafka_cassandra_plugin_spark.operators.fingerprint_index import (  # noqa: E402
    FingerprintIndex,
)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "sf10")
    n_probe = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    idx_path = os.path.join(repo, ".scale", "fpi_scale_probe")
    spark = bench.session("fpi-scale-probe")
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    n_docs = docs.count()
    out: dict = {"sf_dir": sf_dir, "n_docs": n_docs, "n_probe": n_probe}

    def release() -> None:
        # fingerprint_overlap/match_batch persist their reused
        # projections; across a many-measurement session the pinned
        # blocks accrete until a broadcast build exhausts the heap
        # (bench.py release_session_state's sf10 lesson) - drop them
        # between sections
        import gc

        gc.collect()
        spark.catalog.clearCache()

    # 1. whole-frame selection + governed overlap (the bench row shape)
    t0 = time.perf_counter()
    n_pairs = fingerprint_overlap(
        winnow_fingerprints(docs, k=4, w=4), max_fp_docs=64
    ).filter(F.col("overlap") >= 0.5).count()
    out["frame_overlap_s"] = round(time.perf_counter() - t0, 3)
    out["frame_pairs"] = n_pairs
    release()

    # 2. index build+save once
    shutil.rmtree(idx_path, ignore_errors=True)
    t0 = time.perf_counter()
    idx = FingerprintIndex.build(docs, k=4, w=4).save(
        idx_path, bucket_partitions=256)
    out["index_build_save_s"] = round(time.perf_counter() - t0, 3)
    release()

    # 3. probe batch: n/2 verbatim 20-token prefixes of corpus docs
    # under fresh ids + n/2 fresh synthetic docs
    half = n_probe // 2
    toks = F.filter(F.split(F.trim("text"), r"\s+"),
                    lambda t: t != F.lit(""))
    copies = (
        docs.orderBy("doc_id").limit(half)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.array_join(F.slice(toks, 1, 20), " "),
                         F.lit(" uqtail"),
                         F.col("doc_id").cast("string")).alias("text"))
    )
    fresh = spark.range(half).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("nw"), F.conv(F.substring(F.md5(
                F.concat(F.col("id").cast("string"), F.lit(f":{j}"))
            ), 1, 6), 16, 10))
            for j in range(25)
        ]).alias("text"),
    )
    probe = copies.unionByName(fresh).localCheckpoint()

    def timed(fn):
        t0 = time.perf_counter()
        r = fn()
        return round(time.perf_counter() - t0, 3), r

    loaded = FingerprintIndex.load(spark, idx_path)
    out["probe_pruned_s"], hits = timed(
        lambda: idx_hits(loaded, probe))
    out["probe_hits"] = hits
    out["probe_pruned_warm_s"], _ = timed(
        lambda: idx_hits(FingerprintIndex.load(spark, idx_path), probe))
    full = FingerprintIndex.load(spark, idx_path)
    out["probe_fullscan_s"], hits_full = timed(
        lambda: idx_hits(full, probe, broadcast_batch=False))
    assert hits == hits_full, (hits, hits_full)
    release()
    # sanity: every verbatim copy surfaces against its own source
    matched = loaded.match_batch(probe, threshold=0.5)
    own = matched.filter(
        F.col("batch_id") - 10_000_000 == F.col("corpus_id")).count()
    out["copies_matched_own_source"] = own
    out["copies_planted"] = half
    release()

    # 4. POINTED probe (20 docs): the regime the file pruning exists
    # for - few enough distinct fingerprints that the bucket filter
    # actually excludes most of the store (the wide probe above trips
    # the coupon-collector governor and full-scans instead)
    pointed = probe.limit(20).localCheckpoint()
    out["pointed_pruned_s"], ph = timed(
        lambda: idx_hits(FingerprintIndex.load(spark, idx_path),
                         pointed))
    out["pointed_hits"] = ph
    out["pointed_pruned_warm_s"], _ = timed(
        lambda: idx_hits(FingerprintIndex.load(spark, idx_path),
                         pointed))
    out["pointed_fullscan_s"], phf = timed(
        lambda: idx_hits(full, pointed, broadcast_batch=False))
    assert ph == phf, (ph, phf)

    print(json.dumps(out))
    shutil.rmtree(idx_path, ignore_errors=True)
    spark.stop()


def idx_hits(idx, probe, **kw) -> int:
    return idx.match_batch(probe, threshold=0.5, **kw).count()


if __name__ == "__main__":
    main()
