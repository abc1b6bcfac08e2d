"""Measure ANN recall on the CLUSTERABLE sf1 corpus (round 5).

Closes the last asserted-not-measured scale claim from BASELINE.md: the
round-4 sf1 smoke showed that on adversarially-uniform embeddings no
index beats scanned fraction (IVF recall 0.392 @ nprobe=10), and
*asserted* that on clusterable corpora the adaptive geometry holds both
cost and recall.  This script measures that assertion on the planted
200-cluster corpus (scripts/build_sf1.py --clustered: 20k x 64-dim,
within-cluster cosine ~0.86, cross ~0), at the exact adaptive geometry
and default probe settings the engine ships.

Run:  python scripts/build_sf1.py --clustered
      python scripts/clustered_recall.py [/root/repo/.scale/sf1_clustered]

Prints one recall@10 row per index family; numbers are recorded in
BASELINE.md next to the uniform-data table, and a reduced-scale version
is gated in tests/test_quantization.py (TestClusterableRecall).
"""
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from kafka_cassandra_plugin_spark.operators import quantization as Q  # noqa: E402
from kafka_cassandra_plugin_spark.operators import similarity as S  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1_clustered"

spark = bench.session("clustered-recall")

emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
n = emb.count()
q = emb.filter(F.col("vec_id") % 100 == 0)  # 200 queries at 20k corpus
K = 10

exact = S.brute_force_topk(emb, q, k=K).cache()
exact.count()
print(f"corpus={n} queries={q.count()} k={K}")

t0 = time.time()
planes = S.adaptive_n_planes(n)
lsh = S.rp_lsh_topk(emb, q, dim=64, k=K, n_planes=planes)
r_lsh = S.recall_at_k(lsh, exact, K)
print(f"LSH  adaptive n_planes={planes}: recall@10={r_lsh:.3f} "
      f"t={time.time() - t0:.1f}s")

t0 = time.time()
nlist = S.adaptive_nlist(n)
idx = S.IvfIndex.build(emb, nlist=nlist, seed=42)
r_ivf = S.recall_at_k(idx.topk(q, k=K, nprobe=10), exact, K)
print(f"IVF  adaptive nlist={nlist} nprobe=10: recall@10={r_ivf:.3f} "
      f"t={time.time() - t0:.1f}s")

t0 = time.time()
cb = Q.PqCodebook.fit(emb, 64, m=8, k=64, seed=42)
r_pq = S.recall_at_k(
    Q.ivf_pq_topk(idx, cb, q, k=K, nprobe=10, shortlist=100), exact, K
)
print(f"IVFPQ nlist={nlist} nprobe=10 shortlist=100: recall@10={r_pq:.3f} "
      f"t={time.time() - t0:.1f}s")

spark.stop()
