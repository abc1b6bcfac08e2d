"""Quality gates for the non-oracle LLM ops: planted-duplicate recall for
MinHash-LSH / SimHash, recall@k vs brute force for the ANN paths, and
dedup idempotence (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.catalog import Catalog
from kafka_cassandra_plugin_spark.operators import dedup as D
from kafka_cassandra_plugin_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.select("doc_id", "text")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return Catalog(spark, sf_dir).embeddings


def plant_exact(docs, mod=5):
    return docs.unionByName(
        docs.filter(F.col("doc_id") % mod == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )


class TestMinHashLsh:
    def test_planted_exact_dups_recall(self, docs):
        corpus = plant_exact(docs, mod=5)
        planted = {
            (r.doc_id, r.doc_id + 1000000)
            for r in docs.filter(F.col("doc_id") % 5 == 0).collect()
        }
        pairs = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_dedup_pairs(
                corpus, threshold=0.9, num_hashes=64, bands=16
            ).collect()
        }
        # identical docs agree on every band -> recall must be 1.0
        assert planted <= pairs

    def test_dedup_idempotent(self, docs):
        once = D.exact_dedup(plant_exact(docs), "text", "doc_id")
        twice = D.exact_dedup(once, "text", "doc_id")
        assert once.count() == twice.count() == docs.count()

    def test_occurrence_substrate_bit_identical(self, docs):
        # round-15: the minhash pipeline builds its substrate
        # distinct=False (min / collect_set / array set ops are
        # duplicate-insensitive).  Signatures AND verified pairs must be
        # bit-identical to the distinct-substrate form.
        sub = docs.limit(300)
        for hash_fn in ("md5", "xxhash64"):
            ex_d = D.exploded_shingles(sub, "text", "doc_id", 3)
            ex_o = D.exploded_shingles(sub, "text", "doc_id", 3,
                                       distinct=False)
            sig_d = {(r.id, tuple(r.signature)) for r in
                     D._signatures_from_exploded(ex_d, 64, hash_fn).collect()}
            sig_o = {(r.id, tuple(r.signature)) for r in
                     D._signatures_from_exploded(ex_o, 64, hash_fn).collect()}
            assert sig_d == sig_o
            pairs_d = {tuple(r) for r in D.minhash_lsh_dedup_pairs(
                sub, threshold=0.5, hash_fn=hash_fn,
                exploded=ex_d).collect()}
            pairs_o = {tuple(r) for r in D.minhash_lsh_dedup_pairs(
                sub, threshold=0.5, hash_fn=hash_fn).collect()}
            assert pairs_d == pairs_o


class TestSimHash:
    def test_planted_exact_dups_recall(self, docs):
        corpus = plant_exact(docs, mod=7)
        planted = {
            (r.doc_id, r.doc_id + 1000000)
            for r in docs.filter(F.col("doc_id") % 7 == 0).collect()
        }
        pairs = {
            (r.id_a, r.id_b)
            for r in D.simhash_near_pairs(corpus, max_hamming=0).collect()
        }
        assert planted <= pairs  # identical text -> identical simhash

    def test_hamming_bound_respected(self, docs):
        out = D.simhash_near_pairs(plant_exact(docs), max_hamming=3)
        assert out.filter(F.col("hamming") > 3).count() == 0


class TestAnnRecall:
    K = 10

    @pytest.fixture(scope="class")
    def exact(self, emb):
        q = emb.filter(F.col("vec_id") % 10 == 0)
        df = S.brute_force_topk(emb, q, k=self.K)
        df.cache().count()
        return df

    def test_lsh_recall(self, emb, exact):
        # defaults (6 planes x 8 tables, hamming-2 probes): measured 1.00
        q = emb.filter(F.col("vec_id") % 10 == 0)
        approx = S.rp_lsh_topk(emb, q, dim=64, k=self.K)
        r = S.recall_at_k(approx, exact, self.K)
        assert r >= 0.85, f"LSH recall@{self.K} too low: {r}"

    def test_ivf_recall(self, emb, exact):
        # spherical quantizer, nlist=16/nprobe=10: measured 0.94
        q = emb.filter(F.col("vec_id") % 10 == 0)
        approx = S.ivf_topk(emb, q, k=self.K, nlist=16, nprobe=10)
        r = S.recall_at_k(approx, exact, self.K)
        assert r >= 0.85, f"IVF recall@{self.K} too low: {r}"

    def test_exact_self_recall(self, exact):
        assert S.recall_at_k(exact, exact, self.K) == 1.0

    def test_portable_ivf_recall(self, emb, exact):
        # the declared hash-matched IVF row (round 13): 1-in-125 sample
        # quantizer, nprobe=10 - at the 2k-vector gate corpus that is
        # 16 cells with 10 probed, so recall tracks the learned
        # nlist=16 index's 0.94 closely
        q = emb.filter(F.col("vec_id") % 10 == 0)
        approx = S.ivf_topk_portable(emb, q, k=self.K, nprobe=10,
                                     sample_mod=125)
        r = S.recall_at_k(approx, exact, self.K)
        assert r >= 0.85, f"portable IVF recall@{self.K} too low: {r}"

    def test_portable_ivf_assigned_fingerprint_guard(self, emb):
        """Round-14 advice: max-cid-under-cap was necessary but not
        sufficient - a cell table built from DIFFERENTLY-SAMPLED
        centroids whose max cid lands under the cap still silently
        returned wrong top-k.  The distinct-cid fingerprint now
        catches it; the identically-built table still passes."""
        import pytest as _pt

        q = emb.filter(F.col("vec_id") % 10 == 0)
        cap = 2000
        good_cents = emb.filter(
            (F.col("vec_id") % 125 == 0) & (F.col("vec_id") < cap)
        ).select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cent_vec"))
        good = S.ivf_portable_assign(emb, good_cents).localCheckpoint()
        S.ivf_topk_portable(emb, q, k=5, nprobe=4, sample_mod=125,
                            assigned=good, sample_cap=cap).count()
        # different sampling (mod 250): max cid still < cap, but the
        # cell-id SET differs from the mod-125 capped centroid set
        bad_cents = emb.filter(
            (F.col("vec_id") % 250 == 0) & (F.col("vec_id") < cap)
        ).select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cent_vec"))
        bad = S.ivf_portable_assign(emb, bad_cents).localCheckpoint()
        with _pt.raises(ValueError, match="differently-sampled"):
            S.ivf_topk_portable(emb, q, k=5, nprobe=4, sample_mod=125,
                                assigned=bad, sample_cap=cap).count()

    def test_portable_lsh_recall(self, emb, exact):
        # the declared hash-matched row (fixed 4x6 geometry, hamming-2
        # probes): measured 0.94 sf0.001 / 0.95 sf0.01 (hamming-1 was
        # 0.65-0.67 on these uniform corpora - the probe radius is what
        # buys recall at a fixed small table count)
        q = emb.filter(F.col("vec_id") % 10 == 0)
        approx = S.rp_lsh_topk_portable(emb, q, dim=64, k=self.K,
                                        n_planes=6, n_tables=4,
                                        probe_hamming=2)
        r = S.recall_at_k(approx, exact, self.K)
        assert r >= 0.85, f"portable LSH recall@{self.K} too low: {r}"


class TestPortableKernelBitIdentity:
    """The cross-engine claim behind sim_lsh_ann_portable, pinned
    Spark-side: the vectorized fold kernels must stay BIT-identical to
    the interpreted left-fold expressions (which the DuckDB oracle's
    list_reduce matches by the sim_topk_bruteforce precedent).  A
    future numpy-order edit (einsum, pairwise sum) would flip last-ulp
    bits and break hash matches only intermittently - this catches it
    deterministically."""

    def test_fold_dot_matches_aggregate_fold(self, emb):
        import numpy as np
        planes = np.array(
            S.rademacher_planes(64, 4, 2), dtype="float64"
        ).reshape(8, 64)
        lits = [F.array(*[F.lit(float(x)) for x in row]) for row in planes]
        df = emb.limit(200).select(
            S.fold_dot_pandas(F.col("embedding"), planes).alias("vec_k"),
            F.array(*[S.dot(F.col("embedding"), lit)
                      for lit in lits]).alias("fold_k"),
        )
        bad = df.filter(F.col("vec_k") != F.col("fold_k")).count()
        assert bad == 0

    def test_cosine_foldexact_matches_cosine(self, emb):
        a = emb.limit(100).select(
            F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        b = emb.filter(F.col("vec_id") % 7 == 3).limit(100).select(
            F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
        pairs = a.crossJoin(b)
        df = pairs.select(
            S.cosine_foldexact_pandas(F.col("va"), F.col("vb")).alias("k"),
            S.cosine(F.col("va"), F.col("vb")).alias("f"),
        )
        bad = df.filter(F.col("k") != F.col("f")).count()
        assert bad == 0


class TestIvfTopkOracle:
    """G61's pytest DuckDB oracle (round-10): everything downstream of
    the recall-gated KMeans fit + probe ranking - candidate
    enumeration, fold-exact cosine re-rank, deterministic top-k - is
    VALUE-verified at sf0.01 on exported probe/cell literal tables
    (the semantic_dedup_oracle precedent).  sim_ivf_ann stays
    rows-only in the driver gate (the driver cannot register literal
    tables), but is no longer recall-gated alone."""

    def test_oracle_match_sf001(self, spark, duck, oracle_sf_dir):
        from kafka_cassandra_plugin_spark import oracle
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            sim_ivf_oracle,
        )

        df, sql = sim_ivf_oracle(spark, oracle_sf_dir, duck)
        n = oracle.compare(df, duck, sql, name="sim_ivf_ann")
        n_queries = duck.execute(
            "SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0"
        ).fetchone()[0]
        # k=10 neighbors per query unless a query's probed cells hold
        # fewer than 10 other vectors - never the case at nlist=16 on
        # this corpus, so the row count is exact
        assert n == 10 * n_queries > 0


class TestPqTopkOracle:
    """D5's pytest DuckDB oracle (round-12 verdict #5): everything
    downstream of the recall-gated codebook fit + encode - the
    per-query LUT, ADC scoring of every candidate, the shortlist cut,
    the exact-cosine re-rank and the deterministic top-k - is
    VALUE-verified at sf0.01 on exported codebook/codes literal
    tables (the sim_ivf_oracle precedent).  The PQ tier was the last
    ANN path gated on recall alone."""

    def test_oracle_match_sf001(self, spark, duck, oracle_sf_dir):
        from kafka_cassandra_plugin_spark import oracle
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            sim_pq_oracle,
        )

        df, sql = sim_pq_oracle(spark, oracle_sf_dir, duck)
        n = oracle.compare(df, duck, sql, name="sim_pq_adc")
        n_queries = duck.execute(
            "SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0"
        ).fetchone()[0]
        # the shortlist (100) always holds >= k=10 candidates on this
        # corpus, so the row count is exact
        assert n == 10 * n_queries > 0


class TestIvfIndexPersistence:
    """IvfIndex.save/load: the disk-backed index is parquet partitioned
    by list_id, probes statically prune to the probed partitions, and a
    loaded index returns the same result as the in-memory one."""

    @pytest.fixture(scope="class")
    def built(self, emb):
        return S.IvfIndex.build(emb, nlist=16, seed=42)

    def test_roundtrip_same_results(self, emb, built, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ivf") / "idx")
        loaded = built.save(path)
        q = emb.filter(F.col("vec_id") % 10 == 0)
        a = built.topk(q, k=10, nprobe=10).orderBy("query_id", "rank")
        b = loaded.topk(q, k=10, nprobe=10).orderBy("query_id", "rank")
        assert [r.asDict() for r in a.collect()] == [
            r.asDict() for r in b.collect()
        ]

    def test_list_stats_conserve_and_balance(self, emb, built):
        stats = built.list_stats().collect()
        assert sum(r.n_vecs for r in stats) == emb.count()
        assert abs(sum(r.share for r in stats) - 1.0) < 1e-3
        # the operational alert threshold: on this (uniform) corpus no
        # list should hold a scan-sized share; 5x the balanced share is
        # a loose but meaningful bound at nlist=16
        assert max(r.share for r in stats) < 5 / 16

    def test_layout_partitioned_by_list_id(self, built, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ivf") / "idx")
        built.save(path)
        import os
        parts = [d for d in os.listdir(f"{path}/assigned")
                 if d.startswith("list_id=")]
        assert len(parts) == 16

    def test_compact_retry_after_midswap_crash(self, emb,
                                               tmp_path_factory):
        """Round-12 self-review fix: a compact() retry on the SAME
        handle after a crash in the post-commit window (replacement
        written + committed, live dir deleted, final rename lost) must
        self-heal - roll the committed sibling forward BEFORE statting
        or reading - instead of throwing a raw FileNotFound or
        executing the handle's stale pre-swap file listing."""
        from kafka_cassandra_plugin_spark import fsutil

        path = str(tmp_path_factory.mktemp("ivf") / "idx")
        loaded = S.IvfIndex.build(emb, nlist=16, seed=42).save(path)
        q = emb.filter(F.col("vec_id") % 10 == 0)
        want = [r.asDict() for r in loaded.topk(q, k=10, nprobe=10)
                .orderBy("query_id", "rank").collect()]
        spark = emb.sparkSession
        src = f"{path}/assigned"
        tmp = f"{src}{fsutil.COMPACTING_SUFFIX}"
        # reproduce the crash state by hand: replacement fully written
        # and committed, live dir already deleted, rename never ran
        (spark.read.parquet(src).dropDuplicates(["neighbor_id"])
            .write.mode("overwrite").partitionBy("list_id").parquet(tmp))
        fsutil.touch(spark, f"{tmp}/{fsutil.COMMIT_MARKER}")
        fsutil.delete_dir(spark, src)
        healed = loaded.compact()  # the same stale handle retries
        got = [r.asDict() for r in healed.topk(q, k=10, nprobe=10)
               .orderBy("query_id", "rank").collect()]
        assert got == want and len(got) > 0

    def test_probe_scans_only_probed_partitions(self, emb, built,
                                                tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ivf") / "idx")
        loaded = built.save(path)
        nprobe = 3
        q = emb.filter(F.col("vec_id") == 0)  # single query
        q1 = q.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_vec"))
        probed = {r["list_id"]
                  for r in loaded._probe_lists(q1, nprobe).collect()}
        assert len(probed) == nprobe
        # the list_id filter must land in the scan's PartitionFilters
        # (directory pruning), not a post-scan Filter
        from kafka_cassandra_plugin_spark import plans as P
        pruned = loaded.assigned.filter(F.col("list_id").isin(list(probed)))
        pf = P.partition_filters(pruned)
        assert any("list_id" in f for f in pf), (
            f"expected a partition filter on list_id, got {pf}"
        )
        # and the full probe plan (what topk builds) carries it too
        full = loaded.topk(q, k=5, nprobe=nprobe)
        assert any("list_id" in f for f in P.partition_filters(full))


class TestStopShingleCap:
    def test_planted_hot_shingle_does_not_blow_up_pairs(self, spark, docs):
        """The library DEFAULT must be 100 TB-safe: a shingle planted into
        every document (f docs -> O(f^2) candidate pairs if uncapped) must
        not explode the pair count, because the default stop-shingle cap
        drops it before the self-join."""
        hot = docs.limit(40).select(
            "doc_id", F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text")
        )
        n_docs = hot.count()
        all_pairs = n_docs * (n_docs - 1) // 2
        # threshold 0 surfaces every candidate pair the join produced -
        # i.e. the fanout the cap exists to bound
        uncapped = D.ngram_jaccard_pairs(hot, threshold=0.0, max_shingle_freq=None)
        capped = D.ngram_jaccard_pairs(hot, threshold=0.0, max_shingle_freq=20)
        n_uncapped = uncapped.count()
        n_capped = capped.count()
        # the universal trigram quadratically couples every doc when uncapped
        assert n_uncapped == all_pairs
        # the cap drops the hot shingle before the join: no all-pairs blowup
        assert n_capped < all_pairs

    def test_default_is_capped(self):
        import inspect

        sig = inspect.signature(D.ngram_jaccard_pairs)
        assert sig.parameters["max_shingle_freq"].default == 1000

    def test_pair_unfold_refuses_a_cap_past_the_pair_bound(self, spark):
        """The capped pair unfold materializes up to C(cap, 2) pair
        structs in one row: a cap past MAX_GROUP_PAIRS is refused before
        any plan is built (C(1414, 2) fits, C(1415, 2) does not)."""
        df = spark.createDataFrame([(7, 1)], "sh long, id long")
        D.pair_counts_from_capped_groups(df, "sh", "id", "n", 1414)
        with pytest.raises(ValueError, match="MAX_GROUP_PAIRS"):
            D.pair_counts_from_capped_groups(df, "sh", "id", "n", 1415)

    def test_pair_unfold_accepts_the_default_cap(self, spark):
        import inspect

        cap = inspect.signature(
            D.ngram_jaccard_pairs).parameters["max_shingle_freq"].default
        df = spark.createDataFrame([(7, 1), (7, 2), (7, 3), (8, 1), (8, 3)],
                                   "sh long, id long")
        got = {tuple(r) for r in D.pair_counts_from_capped_groups(
            df, "sh", "id", "n", cap).collect()}
        assert got == {(1, 2, 1), (1, 3, 2), (2, 3, 1)}

    def test_hashed_shingle_join_equals_string_join(self, spark, docs):
        """The round-10 slimming (self-join on xxhash64 shingle keys
        instead of n-gram strings) must be invisible in the output:
        identical pairs, jaccards, AND frequency-cap decisions vs the
        literal-string path on a corpus with planted near-dups."""
        d = docs.limit(150).select("doc_id", "text")
        corpus = d.unionByName(
            d.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        ).unionByName(
            # sub-n-token docs: the hashed path's sequence(0, size-n)
            # would run BACKWARD without its size guard; both paths
            # must emit zero shingles for these, never crash or pair
            d.sparkSession.createDataFrame(
                [(8_000_001, "two tokens"), (8_000_002, "one")],
                "doc_id long, text string",
            )
        )
        kw = dict(threshold=0.7, max_shingle_freq=20)
        hashed = {(r.id_a, r.id_b, r.jaccard)
                  for r in D.ngram_jaccard_pairs(
                      corpus, hash_shingles=True, **kw).collect()}
        strings = {(r.id_a, r.id_b, r.jaccard)
                   for r in D.ngram_jaccard_pairs(
                       corpus, hash_shingles=False, **kw).collect()}
        assert hashed == strings
        assert hashed  # planted near-dups actually surfaced

    def test_capped_pairs_match_python_set_reference(self, spark, docs):
        """The round-16 capped pair generation (groupBy(sh) collect_list
        + map-side (i < j) unfold, replacing the self-equi-join) must
        reproduce exact set math: shingle sets, the frequency cap, and
        every pairwise jaccard recomputed independently in plain Python
        over the same corpus."""
        d = docs.limit(120).select("doc_id", "text")
        corpus = d.unionByName(
            d.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        )
        cap, thr = 20, 0.5
        sets: dict[int, set] = {}
        for r in corpus.collect():
            toks = r.text.strip().lower().split()
            sets[r.doc_id] = {
                " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
            }
        freq: dict[str, int] = {}
        for s in sets.values():
            for sh in s:
                freq[sh] = freq.get(sh, 0) + 1
        sets = {i: {sh for sh in s if freq[sh] <= cap}
                for i, s in sets.items()}
        ids = sorted(sets)
        expected = set()
        for x, ia in enumerate(ids):
            for ib in ids[x + 1:]:
                inter = len(sets[ia] & sets[ib])
                union = len(sets[ia] | sets[ib])
                if union and inter / union >= thr:
                    expected.add((ia, ib, round(inter / union, 4)))
        got = {(r.id_a, r.id_b, r.jaccard)
               for r in D.ngram_jaccard_pairs(
                   corpus, threshold=thr, max_shingle_freq=cap,
                   hash_shingles=False).collect()}
        assert got == expected
        assert expected  # the perturbed corpus actually yields pairs


class TestSkewStress:
    """Planted heavy-hitter stress (round-5 VERDICT #7): the skew shapes
    a real corpus throws at the mixture and dedup paths, with the bound
    that holds asserted explicitly."""

    def test_mix_sources_heavy_weight_fanout_bounded(self, spark, docs):
        """A source at weight 8.0 fans out via explode - the bound is
        STRUCTURAL: per-row output = floor(w) + {0,1}, so a heavy source
        multiplies its own rows by <= ceil(w), never more, and the plan
        stays a zero-Exchange map stage (no shuffle a hot source could
        skew)."""
        from kafka_cassandra_plugin_spark import plans as P
        from kafka_cassandra_plugin_spark.operators.sampling import mix_sources

        src = docs.withColumn(
            "source",
            F.when(F.col("doc_id") % 10 == 0, "heavy").otherwise("light"),
        )
        mixed = mix_sources(src, "doc_id", "source",
                            {"heavy": 8.0, "light": 0.5})
        per_doc = (
            mixed.filter(F.col("source") == "heavy")
            .groupBy("doc_id").count().collect()
        )
        n_heavy = src.filter(F.col("source") == "heavy").count()
        # exact integral weight: every heavy doc appears exactly 8 times
        assert len(per_doc) == n_heavy
        assert all(r["count"] == 8 for r in per_doc)
        assert {r.epoch for r in mixed.filter(F.col("source") == "heavy")
                .select("epoch").distinct().collect()} == set(range(8))
        plan = P.formatted_plan(mixed)
        assert "Exchange" not in plan  # map-only even under heavy weights

    def test_minhash_band_bucket_skew_bounded_by_distinct(self, spark, docs):
        """30% of docs with IDENTICAL text: every band of the clique
        lands in one bucket, so the banded self-join proposes the clique
        across ALL bands - the distinct() collapse must bound candidate
        pairs at C(k,2) (the true near-dup set, semantically required),
        not bands x C(k,2), and the verified pairs are exactly the
        clique at jaccard 1.0."""
        k = 150  # 30% of the 500-doc sf0.001 corpus
        clique = docs.orderBy("doc_id").limit(k).select(
            "doc_id", F.lit("all these documents share this exact text").alias("text")
        )
        pairs = D.minhash_lsh_dedup_pairs(clique, threshold=0.9)
        rows = pairs.collect()
        assert len(rows) == k * (k - 1) // 2
        assert all(r.jaccard == 1.0 for r in rows)
        # candidate stage never multiplied the clique by the band count:
        # lsh_candidate_pairs is distinct on (id_a, id_b)
        sigs = D.minhash_signatures(clique)
        cands = D.lsh_candidate_pairs(sigs)
        assert cands.count() == k * (k - 1) // 2


class TestEmbeddingCosine:
    def test_planted_exact_dups_recall_and_precision(self, docs):
        """Tier-5 dedup: identical docs have identical hashed-token
        vectors -> same dominant-dim block and cosine exactly 1.0, so
        blocked recall on exact copies must be 1.0; and every reported
        pair must clear the threshold (verify-after-candidates)."""
        corpus = plant_exact(docs, mod=6)
        planted = {
            (r.doc_id, r.doc_id + 1000000)
            for r in docs.filter(F.col("doc_id") % 6 == 0).collect()
        }
        vecs = D.hashed_token_vectors(corpus, "text", "doc_id")
        got = D.embedding_cosine_pairs(vecs, threshold=0.99).collect()
        pairs = {(r.id_a, r.id_b) for r in got}
        assert planted <= pairs
        assert all(r.cosine >= 0.99 for r in got)

    def test_blocked_subset_of_allpairs(self, docs):
        """Blocking only prunes candidates - it must never invent a pair
        the exact all-pairs baseline wouldn't report."""
        vecs = D.hashed_token_vectors(docs.limit(80), "text", "doc_id")
        blocked = {
            (r.id_a, r.id_b)
            for r in D.embedding_cosine_pairs(vecs, 0.9, block_top_k=3).collect()
        }
        allp = {
            (r.id_a, r.id_b)
            for r in D.embedding_cosine_pairs(vecs, 0.9, block_top_k=None).collect()
        }
        assert blocked <= allp

    def test_vector_shape(self, docs):
        row = D.hashed_token_vectors(docs.limit(5), "text", "doc_id").first()
        assert len(row.vec) == 64
        assert sum(row.vec) > 0  # counts, not empty


class TestHashSplit:
    def test_split_is_stable_and_partitioning_invariant(self, spark, docs):
        """The whole point vs randomSplit: assignment is a pure function
        of (key, salt) - identical across runs and repartitionings, and
        the labels partition the corpus exactly."""
        from kafka_cassandra_plugin_spark.operators import sampling as SMP

        a = SMP.hash_split(docs, "doc_id").select("doc_id", "split")
        b = SMP.hash_split(docs.repartition(7), "doc_id").select("doc_id", "split")
        ra = {(r.doc_id, r.split) for r in a.collect()}
        rb = {(r.doc_id, r.split) for r in b.collect()}
        assert ra == rb
        assert {s for _, s in ra} <= {"train", "val", "test", "holdout"}
        assert len(ra) == docs.count()

    def test_salt_draws_independent_split(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators import sampling as SMP

        a = {(r.doc_id, r.split) for r in SMP.hash_split(docs, "doc_id").collect()}
        c = {(r.doc_id, r.split)
             for r in SMP.hash_split(docs, "doc_id", salt="v2").collect()}
        assert a != c  # a different salt reshuffles assignments

    def test_deterministic_sample_fraction(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators import sampling as SMP

        n = docs.count()
        kept = SMP.deterministic_sample(docs, "doc_id", 0.2).count()
        assert abs(kept / n - 0.2) < 0.08  # hash-uniformity tolerance
        # subset property: a larger fraction strictly contains a smaller one
        small = {r.doc_id for r in SMP.deterministic_sample(docs, "doc_id", 0.1).collect()}
        big = {r.doc_id for r in SMP.deterministic_sample(docs, "doc_id", 0.3).collect()}
        assert small <= big


class TestPortableHash:
    def test_matches_duckdb_bit_for_bit(self, spark):
        """Three oracle-verified tiers (minhash, simhash, hashed-token
        vectors) stand on portable_hash52 computing the identical value
        in both engines - pin the contract directly."""
        import duckdb

        words = ["hello", "spark table", "a b c", "zz", "", "Ünïcode"]
        df = spark.createDataFrame([(w,) for w in words], "tok string")
        sp = {
            r.tok: r.h
            for r in df.select(
                "tok", D.portable_hash52(F.col("tok")).alias("h")
            ).collect()
        }
        con = duckdb.connect()
        for w in words:
            dk = con.execute(
                "SELECT ('0x' || substr(md5(?), 1, 13))::BIGINT", [w]
            ).fetchone()[0]
            assert sp[w] == dk, (w, sp[w], dk)
        assert all(0 <= v < 2**52 for v in sp.values())


def _shuffled_chain(n=60, seed=1):
    """One path through n nodes in shuffled id order, edges listed in
    shuffled order.  With the defaults the component min sits 38 hops
    from the path's far end (node 2 is 34 hops away), beyond a 20-round
    one-hop-per-round labeler."""
    import random

    rng = random.Random(seed)
    ids = list(range(n))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    rng.shuffle(edges)
    return n, edges


class TestSurvivorsFromPairs:
    @pytest.mark.parametrize("graph", ["two_components", "shuffled_chain"])
    @pytest.mark.parametrize("cap", ["default", 1])
    def test_components_resolve_to_min_id(self, spark, monkeypatch, cap,
                                          graph):
        """A~B, B~C must collapse to one survivor (min id) even though
        the A~C pair was never reported - pair relations close over
        connected components, on the driver path (default cap) and on
        the distributed one (cap 1), at any component depth."""
        from kafka_cassandra_plugin_spark.operators.dedup import (
            survivors_from_pairs,
        )

        if cap != "default":
            monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", cap)
        if graph == "two_components":
            # {1,2,3} -> 1, {5,6} -> 5, singletons 4 and 7 survive
            ids, edges = range(1, 8), [(1, 2), (2, 3), (5, 6)]
            want = [1, 4, 5, 7]
        else:
            n, edges = _shuffled_chain()
            ids, want = range(n), [0]
        df = spark.createDataFrame(
            [(i, f"d{i}") for i in ids], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        kept = sorted(
            r.doc_id for r in survivors_from_pairs(df, pairs).collect()
        )
        assert kept == want

    def test_pipeline_end_to_end(self, spark, docs):
        """minhash pairs over a planted corpus -> survivors == originals
        (every planted copy collapses onto its source doc)."""
        from kafka_cassandra_plugin_spark.operators.dedup import (
            survivors_from_pairs,
        )

        corpus = plant_exact(docs.limit(60), mod=2)
        pairs = D.minhash_lsh_dedup_pairs(corpus, threshold=0.9)
        kept = survivors_from_pairs(corpus, pairs)
        ids = {r.doc_id for r in kept.collect()}
        assert max(ids) < 1000000  # every planted copy removed

        # ground truth: union-find over the same pairs
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        edges = [(r.id_a, r.id_b) for r in pairs.collect()]
        for u, v in edges:
            parent[find(u)] = find(v)
        all_ids = {r.doc_id for r in corpus.collect()}
        comp: dict = {}
        for x in all_ids:
            comp.setdefault(find(x), set()).add(x)
        expected = {min(m) for m in comp.values()}
        assert ids == expected


class TestAdaptiveIndexGeometry:
    """The corpus-adaptive sizing rules that keep ANN candidate work
    bounded at scale (similarity.adaptive_n_planes / adaptive_nlist).
    Measured motivation (round 4 sf1 smoke): fixed geometry tuned for
    the 2k-vector corpus grew 71x (LSH) / 40x (IVF) wall at a 10x
    scale-up because per-bucket/per-list size grew with the corpus."""

    def test_small_corpus_matches_anchored_geometry(self):
        # at the 2k-vector test corpus the rules reproduce the exact
        # parameters every recall gate and bench anchor was measured at
        assert S.adaptive_n_planes(2000) == 6
        assert S.adaptive_nlist(2000) == 16

    def test_growth_tracks_corpus(self):
        assert S.adaptive_n_planes(20_000) == 10   # ~32/bucket held
        assert S.adaptive_nlist(20_000) == 160     # ~125/list held
        assert S.adaptive_nlist(500_000) == 4000   # N/125, below the cap

    def test_bounds(self):
        assert S.adaptive_n_planes(10) == 6          # floor
        assert S.adaptive_n_planes(10**12) == 16     # cap (codegen-able probes)
        assert S.adaptive_nlist(10) == 16            # floor
        assert S.adaptive_nlist(10**12) == 4096      # cap (KMeans fit cost)


class TestIvfIncrementalAdd:
    """IvfIndex.assign/add_batch/compact - the continuous-ingest ANN
    story (companion to MinHashIndex.add_batch; SURVEY §2.5 D1/D5)."""

    @pytest.fixture(scope="class")
    def built(self, emb):
        return S.IvfIndex.build(emb.filter(F.col("vec_id") % 5 != 0),
                                nlist=16, seed=42)

    @pytest.fixture(scope="class")
    def batch(self, emb):
        return emb.filter(F.col("vec_id") % 5 == 0)

    def test_assign_is_idempotent_reassignment(self, built):
        """Re-assigning vectors already in the index lands them on their
        stored list: assignment and probing use one frozen metric."""
        sample = built.assigned.limit(50).select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("c_vec").alias("embedding"),
        )
        re = built.assign(sample).withColumnsRenamed(
            {"list_id": "re_list"}
        ).select("neighbor_id", "re_list")
        joined = built.assigned.join(re, "neighbor_id")
        assert joined.filter(F.col("list_id") != F.col("re_list")).count() == 0

    def test_added_vectors_become_findable(self, built, batch):
        grown = built.add_batch(batch)
        # every added vector queries for itself-adjacent space: its own
        # stored copy is excluded (query_id != neighbor_id), but each
        # added id must now appear among SOME query's neighbors
        q = batch.limit(20)
        hits = grown.topk(q, k=10, nprobe=16)
        assert hits.count() > 0
        # a planted duplicate of an added vector is found at rank 1
        probe = batch.limit(1).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
        top = grown.topk(probe, k=1, nprobe=16).collect()[0]
        orig = batch.limit(1).collect()[0].vec_id
        assert top.neighbor_id == orig and top.score > 0.999

    def test_disk_backed_add_and_compact_replay_dedup(
            self, emb, built, batch, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ivf_add") / "idx")
        loaded = built.save(path)
        grown = loaded.add_batch(batch)
        # the never-replayed reference, materialized BEFORE the replay
        clean_rows = [r.asDict() for r in
                      grown.topk(batch.limit(10), k=5, nprobe=16)
                      .orderBy("query_id", "rank").collect()]
        n_clean = grown.assigned.count()
        # replay the SAME append (foreachBatch at-least-once): duplicate
        # rows now occupy ranks - compact must RESTORE clean semantics
        grown = grown.add_batch(batch)
        assert grown.assigned.count() == n_clean + batch.count()
        compacted = grown.compact(target_mb=64)
        assert compacted.assigned.count() == n_clean
        after_rows = [r.asDict() for r in
                      compacted.topk(batch.limit(10), k=5, nprobe=16)
                      .orderBy("query_id", "rank").collect()]
        assert after_rows == clean_rows
        # layout still hive-partitioned for probe pruning
        import os
        parts = [d for d in os.listdir(f"{path}/assigned")
                 if d.startswith("list_id=")]
        assert parts, "compact must preserve the list_id layout"
