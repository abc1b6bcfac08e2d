"""Curation-funnel gates: the funnel partitions the input (every row
accepted or rejected exactly once, counts sum), each stage fires on a
planted offender, splits are deterministic, and the partitioned write
lays out (lang, split) directories."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.catalog import Catalog
from kafka_cassandra_plugin_spark.operators import pipeline as PL
from kafka_cassandra_plugin_spark.operators.dedup_index import MinHashIndex


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.select("doc_id", "text")


@pytest.fixture(scope="module")
def batch(spark, docs):
    """Clean docs + one planted offender per funnel stage."""
    base = docs.filter(F.col("doc_id") % 2 == 1)
    exact_dup = base.filter(F.col("doc_id") % 10 == 1).limit(1).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    # near-dup: append one token to a long doc (shingle sets differ by
    # ~2 of many -> jaccard above the 0.8 threshold)
    near_dup = (
        base.filter(F.size(F.split("text", " ")) >= 40)
        .limit(1)
        .select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        )
    )
    junk = spark.createDataFrame(
        [(5_000_000, "!!! ??? !!! ??? !!! ???")], "doc_id long, text string"
    )
    return base.unionByName(exact_dup).unionByName(near_dup).unionByName(junk)


@pytest.fixture(scope="module")
def annotated(batch):
    df = PL.curate_annotated(batch)
    df.cache().count()
    return df


class TestReservedColumns:
    def test_annotate_rejects_clashing_input(self, batch):
        with pytest.raises(ValueError, match="reserved column"):
            PL.annotate(batch.withColumn("lang", F.lit("en")))

    def test_curate_rejects_output_col_clash(self, batch):
        """split/reject_reason are outputs of the funnel, not annotation
        columns - they must be reserved too."""
        with pytest.raises(ValueError, match="reserved column"):
            PL.curate_annotated(batch.withColumn("split", F.lit("train")))


class TestFunnel:
    def test_partitions_the_input(self, batch, annotated):
        n = batch.count()
        assert annotated.count() == n
        funnel = {r["stage"]: r["rows"] for r in PL.curation_funnel(annotated).collect()}
        assert sum(funnel.values()) == n

    def test_each_planted_offender_caught(self, annotated):
        reason = {
            r.doc_id: r.reject_reason
            for r in annotated.filter(F.col("doc_id") >= 3_000_000).collect()
        }
        by_range = {k // 1_000_000: v for k, v in reason.items()}
        assert by_range[3] == "exact_dup"
        assert by_range[4] == "near_dup_batch"
        assert by_range[5] == "low_quality"

    def test_accepted_rows_have_split_rejected_dont(self, annotated):
        acc = annotated.filter(F.col("reject_reason").isNull())
        rej = annotated.filter(F.col("reject_reason").isNotNull())
        assert acc.filter(F.col("split").isNull()).count() == 0
        assert rej.filter(F.col("split").isNotNull()).count() == 0
        labels = {r.split for r in acc.select("split").distinct().collect()}
        assert labels <= {"train", "val", "test"}

    def test_split_deterministic(self, batch):
        a = {(r.doc_id, r.split) for r in PL.curate(batch).collect()}
        b = {(r.doc_id, r.split) for r in PL.curate(batch).collect()}
        assert a == b

    def test_annotation_columns_present(self, annotated):
        for c in ("quality", "lang", "n_tokens", "n_tokens_bpe", "fingerprint"):
            assert c in annotated.columns

    def test_over_cap_survivors_give_same_reasons(self, batch, annotated,
                                                   monkeypatch):
        """Pair sets over dedup.MAX_DRIVER_PAIRS resolve through the
        star rounds instead of the driver union-find; every row must
        get the same verdict either way."""
        from kafka_cassandra_plugin_spark.operators import dedup as D

        monkeypatch.setattr(D, "MAX_DRIVER_PAIRS", 0)
        got = {(r.doc_id, r.reject_reason)
               for r in PL.curate_annotated(batch).collect()}
        want = {(r.doc_id, r.reject_reason) for r in annotated.collect()}
        assert "near_dup_batch" in {reason for _, reason in got}
        assert got == want

    def test_wrong_lang_gate(self, batch):
        out = PL.curate_annotated(batch, langs=("__none__",))
        # with an impossible language allowlist, every quality-passing
        # row is rejected as wrong_lang
        assert out.filter(F.col("reject_reason").isNull()).count() == 0
        assert out.filter(F.col("reject_reason") == "wrong_lang").count() > 0


class TestCorpusStage:
    def test_corpus_near_dups_rejected(self, docs, batch):
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        planted = corpus.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 6_000_000).alias("doc_id"), "text"
        )
        idx = MinHashIndex.build(corpus)
        out = PL.curate_annotated(batch.unionByName(planted), index=idx)
        got = {
            r.doc_id: r.reject_reason
            for r in out.filter(F.col("doc_id") >= 6_000_000).collect()
        }
        # planted corpus copies that pass the earlier gates must be
        # caught by the corpus stage, not accepted
        assert got
        assert all(v is not None for v in got.values())
        assert "near_dup_corpus" in set(got.values())


class TestWrite:
    def test_partitioned_layout_and_counts(self, batch, tmp_path):
        out = str(tmp_path / "curated")
        funnel = PL.curate_and_write(batch, out)
        assert set(funnel) >= {"accepted"}
        langs = [d for d in os.listdir(out) if d.startswith("lang=")]
        assert langs
        splits = {
            s
            for d in langs
            for s in os.listdir(os.path.join(out, d))
            if s.startswith("split=")
        }
        assert splits
        spark_count = funnel["accepted"]
        import pyarrow.dataset as ds

        assert ds.dataset(out, format="parquet", partitioning="hive").count_rows() == spark_count


class TestIndexParamsForwarded:
    def test_intra_batch_stage_uses_index_params(self, spark, docs, batch):
        """Stages 4 and 5 must apply ONE near-dup definition: the
        intra-batch pairs under a non-default index must be the pairs
        of minhash_lsh_dedup_pairs under the INDEX's parameters."""
        from kafka_cassandra_plugin_spark.operators import dedup as D

        params = dict(n=2, num_hashes=32, bands=8, hash_fn="md5")
        idx = MinHashIndex.build(
            docs.filter(F.col("doc_id") % 2 == 0), **params
        )
        out = PL.curate_annotated(batch, index=idx)
        got_near = {
            r.doc_id
            for r in out.filter(
                F.col("reject_reason") == "near_dup_batch"
            ).collect()
        }
        # recompute expected under the index's params over the same
        # stage-3 survivors (quality gate + exact dedup first)
        from pyspark.sql.window import Window as W

        ann = PL.annotate(batch)
        gated = ann.filter(F.col("quality") >= 0.5)
        rn = F.row_number().over(
            W.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
        )
        surv = gated.withColumn("__rn", rn).filter(F.col("__rn") == 1)
        pairs = D.minhash_lsh_dedup_pairs(
            surv, "text", "doc_id", threshold=0.8, **params
        ).select("id_a", "id_b")
        kept = D.survivors_from_pairs(surv, pairs, id_col="doc_id")
        expected = {
            r.doc_id
            for r in surv.join(kept.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id").collect()
        }
        assert got_near == expected


class TestRepetitiveGate:
    """Opt-in Gopher repetition gate (stage 2b, drop_repetitive=True)."""

    @pytest.fixture(scope="class")
    def rep_batch(self, spark, docs):
        base = docs.filter(F.col("doc_id") % 2 == 1)
        # high quality_score (100 tokens, natural word length, zero
        # punctuation) but maximally repetitive: top 2-gram covers the
        # whole doc -> fails the 0.20 threshold and nothing else
        spammy = spark.createDataFrame(
            [(6_000_000, "spam ham " * 50)], "doc_id long, text string"
        )
        return base.unionByName(spammy)

    def test_off_by_default(self, rep_batch):
        ann = PL.curate_annotated(rep_batch)
        row = ann.filter(F.col("doc_id") == 6_000_000).collect()[0]
        assert row.reject_reason is None

    def test_opt_in_rejects_with_disjoint_reason(self, rep_batch):
        ann = PL.curate_annotated(rep_batch, drop_repetitive=True)
        row = ann.filter(F.col("doc_id") == 6_000_000).collect()[0]
        assert row.quality >= 0.5  # it got PAST the quality gate
        assert row.reject_reason == "repetitive"
        assert row.split is None
        # gate order intact: junk still rejects as low_quality, and the
        # repetition stage never claims it
        reasons = {
            r.stage
            for r in PL.curation_funnel(ann).collect()
        }
        assert "accepted" in reasons and "repetitive" in reasons

    def test_normal_docs_unaffected(self, rep_batch):
        base_ids = {r.doc_id for r in rep_batch.filter(
            F.col("doc_id") < 6_000_000).select("doc_id").collect()}
        off = PL.curate_annotated(rep_batch)
        on = PL.curate_annotated(rep_batch, drop_repetitive=True)
        off_rej = {r.doc_id: r.reject_reason for r in off.collect()
                   if r.doc_id in base_ids}
        on_rej = {r.doc_id: r.reject_reason for r in on.collect()
                  if r.doc_id in base_ids}
        # the synthetic word-soup corpus is short-doc repetitive by
        # construction, so SOME base docs may flip - but none that a
        # prior stage already rejected may change reason
        for did, reason in off_rej.items():
            if reason is not None:
                assert on_rej[did] == reason


class TestContaminatedStage:
    """Opt-in benchmark-contamination stage (2c, benchmarks=frame)."""

    @pytest.fixture(scope="class")
    def bench_and_batch(self, spark, docs):
        base = docs.filter(F.col("doc_id") % 2 == 1)
        # benchmark = verbatim copies of some batch docs (id-shifted) -
        # every token 13-gram is shared, so the collision stage must
        # catch them; plus one fresh doc that collides with nothing
        planted = (
            base.filter((F.col("doc_id") % 9 == 1)
                        & (F.size(F.split("text", " ")) >= 14))
            .select((F.col("doc_id") + 8_000_000).alias("doc_id"), "text")
        )
        clean = spark.createDataFrame(
            [(8_500_000, " ".join(f"bench{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        bench = planted.unionByName(clean)
        contaminated_ids = {
            r.doc_id - 8_000_000 for r in planted.select("doc_id").collect()
        }
        return base, bench, contaminated_ids

    def test_contaminated_rejected_with_reason(self, bench_and_batch):
        batch, bench, dirty_ids = bench_and_batch
        ann = PL.curate_annotated(batch, benchmarks=bench)
        got = {
            r.doc_id: r.reject_reason for r in ann.collect()
        }
        for did in dirty_ids:
            # a doc the gates already rejected never reaches stage 2c
            assert got[did] in ("contaminated", "low_quality")
        contaminated = {d for d, r in got.items() if r == "contaminated"}
        assert contaminated, "planted verbatim copies must be caught"
        # every planted copy that passed the gates is caught; docs
        # beyond the planted set MAY also collide - the synthetic
        # small-vocab corpus can share a genuine 13-gram across
        # distinct docs, which is exactly what the criterion rejects
        gated_planted = {d for d in dirty_ids if got[d] == "contaminated"}
        assert gated_planted == {
            d for d in dirty_ids if got[d] != "low_quality"
        }

    def test_funnel_still_partitions_input(self, bench_and_batch):
        batch, bench, _ = bench_and_batch
        ann = PL.curate_annotated(batch, benchmarks=bench)
        counts = {r.stage: r.rows for r in PL.curation_funnel(ann).collect()}
        assert sum(counts.values()) == batch.count()

    def test_without_benchmarks_no_contaminated_reason(self, bench_and_batch):
        batch, _, _ = bench_and_batch
        ann = PL.curate_annotated(batch)
        reasons = {r.stage for r in PL.curation_funnel(ann).collect()}
        assert "contaminated" not in reasons


class TestSeenBeforeStage:
    """Opt-in cross-run Bloom stage (2d, seen=BloomIndex over content)."""

    @pytest.fixture(scope="class")
    def seen_setup(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators.bloom import BloomIndex

        accepted = docs.filter(F.col("doc_id") % 2 == 0)
        bloom = BloomIndex.build_over_content(
            accepted, expected_items=max(accepted.count(), 100), fpp=0.01
        )
        bloom.words.cache().count()
        # batch: fresh odd-id docs + re-ingested copies of accepted
        # content under NEW ids (the case id-keyed dedup cannot catch)
        base = docs.filter(F.col("doc_id") % 2 == 1)
        reingested = accepted.limit(5).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
        )
        replant_ids = {
            r.doc_id for r in reingested.select("doc_id").collect()
        }
        return bloom, base.unionByName(reingested), replant_ids

    def test_reingested_content_rejected(self, seen_setup):
        bloom, batch, replant_ids = seen_setup
        ann = PL.curate_annotated(batch, seen=bloom)
        got = {r.doc_id: r.reject_reason for r in ann.collect()}
        for rid in replant_ids:
            # earlier stages may claim a row first; what may NOT happen
            # is a previously-accepted duplicate being accepted
            assert got[rid] is not None
        assert "seen_before" in set(got.values())

    def test_funnel_partitions_and_off_by_default(self, seen_setup):
        bloom, batch, _ = seen_setup
        ann = PL.curate_annotated(batch, seen=bloom)
        counts = {r.stage: r.rows for r in PL.curation_funnel(ann).collect()}
        assert sum(counts.values()) == batch.count()
        plain = PL.curate_annotated(batch)
        reasons = {r.stage for r in PL.curation_funnel(plain).collect()}
        assert "seen_before" not in reasons


class TestPerplexityStage:
    """Opt-in LM quality band (2b'', lm= + max_ppl=)."""

    @pytest.fixture(scope="class")
    def lm_setup(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators.lm import NgramLM

        ref = docs.filter(F.col("doc_id") % 2 == 0)
        lm = NgramLM.fit(ref, n=2, k=0.1)
        base = docs.filter(F.col("doc_id") % 2 == 1)
        # soup doc: unseen vocabulary -> scores exactly V (the add-k
        # uniform floor), far above any in-domain doc on this corpus
        soup = spark.createDataFrame(
            [(9_500_000, " ".join(f"zz{i} qq{i}" for i in range(20)))],
            "doc_id long, text string",
        )
        return lm, base.unionByName(soup)

    def test_band_rejects_soup_keeps_in_domain(self, lm_setup):
        lm, batch = lm_setup
        # On this synthetic near-uniform corpus every doc's ppl sits
        # near V (the add-k floor): the soup doc hits V exactly,
        # in-domain docs land slightly above.  Prove the band both
        # ways: a wide band keeps the soup doc, a cutoff just UNDER V
        # rejects it.
        v = float(lm.vocab_size)
        ann = PL.curate_annotated(batch, lm=lm, max_ppl=10 * v)
        got = {r.doc_id: r.reject_reason for r in ann.collect()}
        assert got[9_500_000] != "ppl_out_of_band"  # inside the wide band
        tight = PL.curate_annotated(
            batch, lm=lm, min_ppl=0.0, max_ppl=v - 0.5
        )
        got_t = {r.doc_id: r.reject_reason for r in tight.collect()}
        assert got_t[9_500_000] in ("ppl_out_of_band", "low_quality")

    def test_short_docs_fall_out_of_band(self, lm_setup, spark):
        lm, _ = lm_setup
        shorty = spark.createDataFrame(
            [(9_600_000, "single")], "doc_id long, text string"
        )
        ann = PL.curate_annotated(shorty, lm=lm, max_ppl=1e9,
                                  min_quality=0.0)
        [row] = ann.collect()
        assert row.reject_reason == "ppl_out_of_band"

    def test_lm_without_band_raises(self, lm_setup):
        """lm= with neither max_ppl nor min_ppl>0 would silently gate
        nothing - the funnel refuses instead of no-opping."""
        lm, batch = lm_setup
        with pytest.raises(ValueError, match="perplexity band"):
            PL.curate_annotated(batch, lm=lm)
        with pytest.raises(ValueError, match="perplexity band"):
            PL.curate_annotated(batch, lm=lm, min_ppl=0.0)

    def test_partition_property_and_off_by_default(self, lm_setup):
        lm, batch = lm_setup
        ann = PL.curate_annotated(batch, lm=lm, max_ppl=1e6)
        counts = {r.stage: r.rows for r in PL.curation_funnel(ann).collect()}
        assert sum(counts.values()) == batch.count()
        plain = PL.curate_annotated(batch)
        reasons = {r.stage for r in PL.curation_funnel(plain).collect()}
        assert "ppl_out_of_band" not in reasons


class TestClassifierStage:
    """Opt-in learned quality gate (2b''', clf= + min_clf_score=)."""

    @pytest.fixture(scope="class")
    def clf_setup(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators.classifier import (
            QualityClassifier,
        )

        pos = docs.filter(F.col("doc_id") % 2 == 0)
        neg = spark.createDataFrame(
            [(8_000_000 + i, "spamword buynow clickbait prize winner blob")
             for i in range(30)],
            "doc_id long, text string",
        )
        clf = QualityClassifier.fit(pos, neg, buckets=1024)
        spam = spark.createDataFrame(
            [(9_700_000, "spamword buynow clickbait prize winner blob")],
            "doc_id long, text string",
        )
        batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(spam)
        return clf, batch

    def test_gate_rejects_crawl_like_keeps_reference_like(self, clf_setup):
        clf, batch = clf_setup
        ann = PL.curate_annotated(batch, clf=clf, min_clf_score=0.5,
                                  min_quality=0.0)
        got = {r.doc_id: r.reject_reason for r in ann.collect()}
        assert got[9_700_000] == "clf_low_quality"
        # reference-like rows overwhelmingly survive the learned gate
        rejected = sum(1 for v in got.values() if v == "clf_low_quality")
        assert rejected < len(got) * 0.2

    def test_clf_without_threshold_raises(self, clf_setup):
        clf, batch = clf_setup
        with pytest.raises(ValueError, match="min_clf_score"):
            PL.curate_annotated(batch, clf=clf)

    def test_partition_property_and_off_by_default(self, clf_setup):
        clf, batch = clf_setup
        ann = PL.curate_annotated(batch, clf=clf, min_clf_score=0.5,
                                  min_quality=0.0)
        counts = {r.stage: r.rows for r in PL.curation_funnel(ann).collect()}
        assert sum(counts.values()) == batch.count()
        plain = PL.curate_annotated(batch)
        reasons = {r.stage for r in PL.curation_funnel(plain).collect()}
        assert "clf_low_quality" not in reasons


class TestGopherGate:
    """Opt-in Gopher A1.1 document-shape gate (stage 2b*, drop_gopher=True)."""

    @pytest.fixture(scope="class")
    def shape_batch(self, spark, docs):
        base = docs.filter(F.col("doc_id") % 2 == 1)
        # high heuristic quality (mid-length, natural words, no punct)
        # but all-bullet lines: fails ONLY the A1.1 bullet-fraction rule
        bullets = "\n".join(
            f"• item{i} detail{i} value{i}" for i in range(40))
        shaped = spark.createDataFrame(
            [(7_000_000, bullets)], "doc_id long, text string")
        return base.unionByName(shaped)

    def test_off_by_default(self, shape_batch):
        ann = PL.curate_annotated(shape_batch)
        row = ann.filter(F.col("doc_id") == 7_000_000).collect()[0]
        assert row.reject_reason is None

    def test_opt_in_rejects_with_disjoint_reason(self, shape_batch):
        # the synthetic corpus trips A1.1's prose thresholds (short
        # docs, one stop word), so relax everything except the bullet
        # rule the planted doc violates
        relax = {"min_words": 5, "min_stop_hits": 0}
        ann = PL.curate_annotated(shape_batch, drop_gopher=True,
                                  gopher_thresholds=relax)
        row = ann.filter(F.col("doc_id") == 7_000_000).collect()[0]
        assert row.quality >= 0.5  # it got PAST the heuristic gate
        assert row.reject_reason == "gopher_low_quality"
        assert row.split is None
        stages = {r.stage for r in PL.curation_funnel(ann).collect()}
        assert "accepted" in stages and "gopher_low_quality" in stages

    def test_threshold_override_flips(self, shape_batch):
        # raising the bullet ceiling to 1.0 lets the planted doc pass
        # (alpha also relaxes: the '•' tokens themselves dilute the
        # alphabetic-word fraction to 0.75)
        relax = {"min_words": 5, "min_stop_hits": 0,
                 "max_bullet_frac": 1.0, "min_alpha_frac": 0.7}
        ann = PL.curate_annotated(shape_batch, drop_gopher=True,
                                  gopher_thresholds=relax)
        row = ann.filter(F.col("doc_id") == 7_000_000).collect()[0]
        assert row.reject_reason is None

    def test_thresholds_without_flag_raise(self, shape_batch):
        with pytest.raises(ValueError, match="drop_gopher"):
            PL.curate_annotated(shape_batch,
                                gopher_thresholds={"min_words": 5})

    def test_prior_stage_reasons_stable(self, shape_batch):
        base_ids = {r.doc_id for r in shape_batch.filter(
            F.col("doc_id") < 7_000_000).select("doc_id").collect()}
        off = PL.curate_annotated(shape_batch)
        on = PL.curate_annotated(
            shape_batch, drop_gopher=True,
            gopher_thresholds={"min_words": 5, "min_stop_hits": 0})
        off_rej = {r.doc_id: r.reject_reason for r in off.collect()
                   if r.doc_id in base_ids}
        on_rej = {r.doc_id: r.reject_reason for r in on.collect()
                  if r.doc_id in base_ids}
        for did, reason in off_rej.items():
            if reason is not None:
                assert on_rej[did] == reason


class TestPipelineE2E:
    """Round-10 verdict #6: the COMPOSED chain (curation -> SoftDedup
    weights -> realized weighted mixture -> BPE pack_examples ->
    deterministic shard staging) conserves tokens stage to stage - the
    bench `pipeline_e2e` row prices this exact plan; here the
    arithmetic is asserted link by link."""

    @pytest.fixture(scope="class")
    def chain(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators.bpe import BpeTokenizer
        from kafka_cassandra_plugin_spark.operators.dedup import (
            soft_dedup_weights,
        )
        from kafka_cassandra_plugin_spark.operators.export import (
            shard_assignments,
        )
        from kafka_cassandra_plugin_spark.operators.packing import (
            pack_examples,
        )
        from kafka_cassandra_plugin_spark.operators.sampling import (
            mix_by_weight,
        )

        bpe = BpeTokenizer.train(docs, num_merges=32)
        annotated = PL.curate_annotated(docs).cache()
        accepted = annotated.filter(
            F.col("reject_reason").isNull()).select("doc_id", "text")
        weights = soft_dedup_weights(accepted)
        mixture = mix_by_weight(
            accepted.join(weights, "doc_id"), "doc_id", "weight",
        ).select(F.concat_ws("#", "doc_id", "epoch").alias("mix_id"),
                 "text").cache()
        packed = pack_examples(mixture, bpe, 2048,
                               id_col="mix_id", num_groups=4).cache()
        staging = (
            shard_assignments(packed, n_shards=4, id_col="pack")
            .repartition(4, "shard")
            .sortWithinPartitions("shard", "__ord")
            .drop("__ord")
        )
        return dict(bpe=bpe, annotated=annotated, accepted=accepted,
                    weights=weights, mixture=mixture, packed=packed,
                    staging=staging)

    def test_funnel_partitions_input(self, docs, chain):
        ann = chain["annotated"]
        total = docs.count()
        acc = ann.filter(F.col("reject_reason").isNull()).count()
        rej = ann.filter(F.col("reject_reason").isNotNull()).count()
        assert acc + rej == total == ann.count()
        assert acc > 0

    def test_mixture_realizes_weights(self, chain):
        # every (doc, epoch) count sits in [floor(w), ceil(w)] and the
        # unique-content corpus realizes weight 1.0 -> exactly 1 epoch
        per_doc = (
            chain["mixture"]
            .select(F.split("mix_id", "#")[0].alias("doc_id"))
            .groupBy("doc_id").count()
        )
        w = chain["weights"].select(
            F.col("doc_id").cast("string").alias("doc_id"), "weight")
        joined = per_doc.join(w, "doc_id").collect()
        assert joined
        import math
        for r in joined:
            assert math.floor(r.weight) <= r["count"] <= math.ceil(r.weight)

    def test_tokens_conserved_through_packing(self, chain):
        # sum over packs of n_tokens == sum over mixture rows of
        # (BPE length + 1 EOS): packing moves tokens, never drops them
        enc = chain["bpe"].encode(chain["mixture"], text_col="text",
                                  out_col="__toks")
        mix_tokens = enc.select(
            F.sum(F.size("__toks") + 1).alias("s")).collect()[0].s
        pack_tokens = chain["packed"].select(
            F.sum("n_tokens").alias("s")).collect()[0].s
        assert mix_tokens == pack_tokens
        # and the assembled streams carry exactly n_tokens tokens
        bad = chain["packed"].filter(
            F.size("tokens") != F.col("n_tokens")).count()
        assert bad == 0

    def test_budget_and_staging(self, chain):
        over = chain["packed"].filter(
            ~F.col("oversize") & (F.col("n_tokens") > 2048)).count()
        assert over == 0
        # staging conserves packs 1:1 and shards every one
        packs = chain["packed"].count()
        staged = chain["staging"]
        assert staged.count() == packs
        assert staged.select("pack").distinct().count() == packs
        assert staged.filter(
            (F.col("shard") < 0) | (F.col("shard") >= 4)).count() == 0


class TestSubstrateOutParam:
    """Round-13 floor work: curate_annotated's `substrate` out-param
    exposes the funnel's shared shingle frame so a sink can feed
    MinHashIndex.add_batch without re-shingling the accepted rows."""

    def test_substrate_matches_fresh_explode(self, spark, batch):
        from kafka_cassandra_plugin_spark.operators.dedup import (
            exploded_shingles,
        )

        idx = MinHashIndex.build(
            batch.limit(5), n=3, num_hashes=8, bands=4)
        sub: dict = {}
        out = PL.curate_annotated(batch, index=idx, substrate=sub)
        assert sub["n"] == idx.params["n"]
        kept_ids = {
            r.doc_id
            for r in out.filter(
                F.col("reject_reason").isNull()
                | (F.col("reject_reason") == "near_dup_corpus")
            ).select("doc_id").collect()
        }
        got = {(r.id, r.sh) for r in sub["exploded_kept"].collect()}
        want_src = batch.filter(F.col("doc_id").isin(list(kept_ids)))
        want = {
            (r.id, r.sh)
            for r in exploded_shingles(
                want_src, "text", "doc_id", idx.params["n"]
            ).collect()
        }
        assert got == want

    def test_no_substrate_still_works(self, spark, batch):
        out = PL.curate_annotated(batch)
        assert out.count() == batch.count()
