"""CurationSink: continuous ingest with a growing dedup index.

Gates: (1) later micro-batches dedup against earlier ones (the growing
index IS the cross-batch state); (2) sequential sink calls accept
exactly what the batch-mode curate+add loop accepts; (3) a replayed
micro-batch (foreachBatch at-least-once) changes neither the output nor
future outcomes; (4) the sink runs inside a real StreamingQuery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.catalog import Catalog
from kafka_cassandra_plugin_spark.operators import pipeline as PL
from kafka_cassandra_plugin_spark.operators.dedup_index import MinHashIndex
from kafka_cassandra_plugin_spark.streaming.curate import (
    CurationSink,
    accepted_dataset,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.select("doc_id", "text")


@pytest.fixture(scope="module")
def corpus(docs):
    return docs.filter(F.col("doc_id") % 3 == 0)


def make_batches(docs):
    """Two deterministic micro-batches: batch2 re-sends copies of
    batch1 docs (cross-batch dups) plus fresh docs."""
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2_fresh = docs.filter(F.col("doc_id") % 3 == 2)
    b2_dups = b1.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
    )
    return b1, b2_fresh.unionByName(b2_dups)


def fresh_sink(spark, corpus, tmp_path, **kwargs):
    idx_path = str(tmp_path / "idx")
    MinHashIndex.build(corpus).save(idx_path)
    return CurationSink(idx_path, str(tmp_path / "out"), **kwargs)


class TestSequentialBatches:
    def test_cross_batch_dedup_and_funnel(self, spark, corpus, docs, tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        out = accepted_dataset(spark, sink.out_path)
        got = {r.doc_id for r in out.collect()}
        # every batch2 copy of an ACCEPTED batch1 doc must be rejected
        accepted_b1 = got & {r.doc_id for r in b1.collect()}
        resent = {d + 7_000_000 for d in accepted_b1 if d % 5 == 1}
        assert resent and not (resent & got)
        assert sink.funnel_totals.get("near_dup_corpus", 0) >= len(resent)
        assert sum(sink.funnel_totals.values()) == b1.count() + b2.count()

    def test_matches_batch_mode_loop(self, spark, corpus, docs, tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path / "s")
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        streamed = {
            r.doc_id for r in accepted_dataset(spark, sink.out_path).collect()
        }

        idx_path = str(tmp_path / "b" / "idx")
        loop_idx = MinHashIndex.build(corpus).save(idx_path)
        batch_mode = set()
        for b in (b1, b2):
            ann = PL.curate_annotated(b, index=loop_idx)
            acc = ann.filter(F.col("reject_reason").isNull())
            batch_mode |= {r.doc_id for r in acc.collect()}
            loop_idx = loop_idx.add_batch(acc.select("doc_id", "text"))
        assert streamed == batch_mode

    def test_replay_is_idempotent(self, spark, corpus, docs, tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        before = accepted_dataset(spark, sink.out_path).count()
        sink(b1, 0)  # foreachBatch replay after a simulated failure
        assert accepted_dataset(spark, sink.out_path).count() == before
        # and the replay didn't poison the index for the next batch
        sink(b2, 1)
        out = accepted_dataset(spark, sink.out_path)
        assert out.filter(F.col("doc_id") >= 7_000_000).count() == 0

    def test_empty_batch_noop(self, spark, corpus, docs, tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        sink(docs.filter(F.lit(False)), 0)
        assert sink.funnel_totals == {}


class TestRealStream:
    def test_foreachbatch_wiring(self, spark, corpus, docs, tmp_path):
        from kafka_cassandra_plugin_spark.streaming.ops import replay_stream

        sink = fresh_sink(spark, corpus, tmp_path)
        b1, _ = make_batches(docs)
        stream = replay_stream(spark, b1, str(tmp_path / "src"))
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = accepted_dataset(spark, sink.out_path)
        assert out.count() == sink.funnel_totals.get("accepted", 0) > 0
        assert {"lang", "split"} <= set(out.columns)

    def test_restart_from_checkpoint_no_reprocess(self, spark, corpus, docs,
                                                  tmp_path):
        """The production resume path: a NEW StreamingQuery on the same
        checkpoint with a FRESH sink instance processes only the files
        that arrived since the stop - batch-1 output is neither
        re-curated nor duplicated, and the restarted sink still dedups
        against the index grown BEFORE the restart (cross-restart state
        lives in the persisted index + checkpoint, never in the sink
        object)."""
        from kafka_cassandra_plugin_spark.streaming.ops import replay_stream

        sink = fresh_sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        q = (
            replay_stream(spark, b1, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        after_1 = {r.doc_id for r in accepted_dataset(spark, sink.out_path).collect()}
        assert after_1

        b2.write.mode("append").parquet(src)  # new files arrive while down
        sink2 = CurationSink(sink.index_path, sink.out_path)
        q2 = (
            spark.readStream.schema(b1.schema).parquet(src)
            .writeStream.foreachBatch(sink2)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        out = accepted_dataset(spark, sink.out_path)
        got = {r.doc_id for r in out.collect()}
        assert after_1 <= got                      # batch-1 output intact
        assert out.count() == len(got)             # and never duplicated
        # sink2 processed ONLY the new files (batch ids continue from the
        # checkpoint), and b2's copies of accepted batch-1 docs are still
        # rejected - the pre-restart index state is what rejected them
        assert sink2.funnel_by_batch and 0 not in sink2.funnel_by_batch
        resent = {d + 7_000_000 for d in after_1 if d % 5 == 1}
        assert resent and not (resent & got)


class TestCompactionHook:
    def test_compact_every_batch_bounded_files_same_results(
            self, spark, corpus, docs, tmp_path):
        """compact_every=1: identical acceptance decisions to the
        uncompacted sink, and each band partition stays at ~1 file no
        matter how many micro-batches ran."""
        import os

        plain = fresh_sink(spark, corpus, tmp_path / "plain")
        compacting = fresh_sink(spark, corpus, tmp_path / "cmp",
                                compact_every=1)
        b1, b2 = make_batches(docs)
        for sink in (plain, compacting):
            sink(b1, 0)
            sink(b2, 1)
        a = {r.doc_id for r in accepted_dataset(spark, plain.out_path).collect()}
        b = {r.doc_id
             for r in accepted_dataset(spark, compacting.out_path).collect()}
        assert a == b and len(a) > 0

        def files_per_band(root):
            # parquet files per band ACROSS the round-13 batch
            # partitions (batch=<id>/band=<b>)
            out: dict = {}
            for bd in os.listdir(root):
                if not bd.startswith("batch="):
                    continue
                for d in os.listdir(f"{root}/{bd}"):
                    if d.startswith("band="):
                        out[d] = out.get(d, 0) + len(
                            [f for f in os.listdir(f"{root}/{bd}/{d}")
                             if f.endswith(".parquet")])
            return out

        # compact_every=1, pre-batch cadence: the fold before batch 1
        # consolidated {save, batch 0}; batch 1 stays young -> <= 2
        # files per band against the uncompacted control's >= 3
        per_band = files_per_band(f"{compacting.index_path}/bands")
        assert per_band and max(per_band.values()) <= 2
        plain_per_band = files_per_band(f"{plain.index_path}/bands")
        assert max(plain_per_band.values()) >= 3


class TestAcceptedCompaction:
    def test_compaction_bounds_dirs_same_rows(self, spark, corpus, docs,
                                              tmp_path):
        """After K micro-batches + compaction: accepted_dataset data
        rows identical to the uncompacted sink's, committed dirs merged
        into the oldest id (dir count bounded), and a replayed batch
        after compaction still changes nothing."""
        import glob as g

        b1, b2 = make_batches(docs)
        # fresh content for a third batch: reversed word order shares
        # almost no 3-shingles with the originals already indexed
        b3 = docs.filter(F.col("doc_id") % 3 == 1).select(
            (F.col("doc_id") + 11_000_000).alias("doc_id"),
            F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
        )
        plain = fresh_sink(spark, corpus, tmp_path / "plain")
        comp = fresh_sink(spark, corpus, tmp_path / "comp", compact_every=3)
        for i, b in enumerate((b1, b2, b3)):
            plain(b, i)
            comp(b, i)

        def rows(path):
            return sorted(
                (r.doc_id, r.text, r.lang, r.split)
                for r in accepted_dataset(spark, path).collect()
            )

        assert rows(plain.out_path) == rows(comp.out_path)
        assert len(g.glob(f"{plain.out_path}/ingest_batch=*")) == 3
        # round-13 pre-batch cadence: after 3 appends the fold is
        # PENDING (it runs at the next batch's entry, with that batch
        # excluded), so all 3 dirs still stand
        comp_dirs = sorted(g.glob(f"{comp.out_path}/ingest_batch=*"))
        assert [d.rsplit("=", 1)[1] for d in comp_dirs] == ["0", "1", "2"]
        # replay of the current batch: its entry runs the pending fold
        # (before_batch=2 -> dirs 0+1 merge into 0; the in-flight dir 2
        # is excluded and then overwritten by the replay) - data rows
        # unchanged, dir count bounded
        comp(b3, 2)
        assert rows(comp.out_path) == rows(plain.out_path)
        comp_dirs = sorted(g.glob(f"{comp.out_path}/ingest_batch=*"))
        assert [d.rsplit("=", 1)[1] for d in comp_dirs] == ["0", "2"]
        # ingest_batch of merged rows reads as the provenance floor
        merged = accepted_dataset(spark, comp.out_path)
        assert {r.ingest_batch for r in
                merged.select("ingest_batch").distinct().collect()} == {0, 2}

    def test_compact_accepted_noop_below_two_dirs(self, spark, corpus, docs,
                                                  tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        b1, _ = make_batches(docs)
        sink(b1, 0)
        assert sink.compact_accepted(spark, before_batch=0) == 0  # nothing committed before 0
        assert sink.compact_accepted(spark, before_batch=1) == 0  # one dir: noop


class TestReplayAccounting:
    def test_funnel_totals_not_double_counted(self, spark, corpus, docs,
                                              tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        b1, _ = make_batches(docs)
        sink(b1, 0)
        once = dict(sink.funnel_totals)
        sink(b1, 0)  # at-least-once replay
        assert sink.funnel_totals == once
        assert sum(once.values()) == b1.count()

    def test_accepted_dataset_before_first_batch(self, spark, tmp_path):
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError, match="no accepted"):
            accepted_dataset(spark, str(tmp_path / "nothing_here"))


class TestIngestDecontamination:
    """benchmarks_path: the 'never train on eval data' gate at ingest."""

    def test_contaminated_rows_never_reach_accepted(self, spark, corpus,
                                                    docs, tmp_path):
        b1, b2 = make_batches(docs)
        # eval set = verbatim copies of some batch-2 docs
        bench = b2.filter(
            (F.col("doc_id") % 7 == 2) & (F.size(F.split("text", " ")) >= 14)
        ).select((F.col("doc_id") + 9_000_000).alias("doc_id"), "text")
        bench_path = str(tmp_path / "bench")
        bench.write.parquet(bench_path)
        dirty = {r.doc_id - 9_000_000 for r in bench.collect()}
        assert dirty, "fixture must plant contamination"

        sink = fresh_sink(spark, corpus, tmp_path,
                          benchmarks_path=bench_path)
        sink(b1, 0)
        sink(b2, 1)
        got = {r.doc_id for r in accepted_dataset(spark, sink.out_path).collect()}
        assert not (got & dirty), "contaminated docs leaked into accepted"
        # at least one planted copy passes the cheap gates and is caught
        # by stage 2c specifically (gate-rejected ones carry their own
        # earlier reason - reasons stay disjoint)
        assert sink.funnel_totals.get("contaminated", 0) >= 1


class TestFunnelLedger:
    """ledger=True: durable per-batch funnel accounting."""

    def test_ledger_matches_memory_and_survives_replay(self, spark, corpus,
                                                       docs, tmp_path):
        from kafka_cassandra_plugin_spark.streaming.curate import (
            funnel_ledger,
        )

        b1, b2 = make_batches(docs)
        sink = fresh_sink(spark, corpus, tmp_path, ledger=True)
        sink(b1, 0)
        sink(b2, 1)
        sink(b1, 0)  # replay: must REWRITE batch 0's entry, not append
        led = funnel_ledger(spark, sink.out_path)
        totals = {
            r.stage: r.total
            for r in led.groupBy("stage").agg(
                F.sum("rows").alias("total")).collect()
        }
        assert totals == sink.funnel_totals
        # a fresh reader (simulated driver restart: no sink object at
        # all) reconstructs identical accounting from disk
        led2 = {
            (r.ingest_batch, r.stage): r.rows
            for r in funnel_ledger(spark, str(tmp_path / "out")).collect()
        }
        assert sum(v for (b, _), v in led2.items() if b == 0) == b1.count()

    def test_ledger_absent_without_flag(self, spark, corpus, docs, tmp_path):
        from kafka_cassandra_plugin_spark.streaming.curate import (
            funnel_ledger,
        )

        b1, _ = make_batches(docs)
        sink = fresh_sink(spark, corpus, tmp_path)
        sink(b1, 0)
        with pytest.raises(FileNotFoundError, match="ledger"):
            funnel_ledger(spark, sink.out_path)
        # and the ledger dir never pollutes the accepted data glob
        assert "_funnel_ledger" not in {
            c for c in accepted_dataset(spark, sink.out_path).columns
        }


class TestSeenBloomMaintenance:
    """seen_bloom_path=: the sink seeds a content-hash Bloom filter on
    batch 0 and every later batch is screened against it - exact
    cross-run dedup that catches re-ingested CONTENT under fresh ids
    (which id-keyed exact dedup cannot), with at-least-once replay
    tolerance via idempotent word appends."""

    def _sink(self, spark, corpus, tmp_path, **kw):
        return fresh_sink(
            spark, corpus, tmp_path,
            seen_bloom_path=str(tmp_path / "bloom"),
            bloom_expected_items=10_000,
            **kw,
        )

    def test_reingested_content_rejected_as_seen_before(
        self, spark, corpus, docs, tmp_path
    ):
        sink = self._sink(spark, corpus, tmp_path)
        b1, _ = make_batches(docs)
        sink(b1, 0)
        accepted_b1 = {
            r.doc_id
            for r in accepted_dataset(spark, sink.out_path).collect()
        }
        # batch 1: verbatim copies of accepted batch-0 content under
        # fresh ids, plus genuinely new docs
        copies = b1.filter(
            F.col("doc_id").isin([d for d in accepted_b1][:5])
        ).select((F.col("doc_id") + 7_700_000).alias("doc_id"), "text")
        fresh = docs.filter(F.col("doc_id") % 3 == 2)
        sink(fresh.unionByName(copies), 1)
        out = {
            r.doc_id
            for r in accepted_dataset(spark, sink.out_path).collect()
        }
        copy_ids = {r.doc_id for r in copies.collect()}
        assert copy_ids and not (copy_ids & out)
        assert sink.funnel_by_batch[1].get("seen_before", 0) >= len(copy_ids)

    def test_replayed_batch_changes_nothing(
        self, spark, corpus, docs, tmp_path
    ):
        sink = self._sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        before = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, sink.out_path).collect()
        )
        sink(b2, 1)  # foreachBatch replay: appends duplicate word rows
        after = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, sink.out_path).collect()
        )
        assert before == after
        # a post-replay batch still probes correctly: accepted batch-2
        # content re-sent under fresh ids is caught
        resend = b2.limit(3).select(
            (F.col("doc_id") + 7_800_000).alias("doc_id"), "text"
        )
        sink(resend, 2)
        out3 = {
            r.doc_id
            for r in accepted_dataset(spark, sink.out_path).collect()
        }
        accepted_b2_text = {t for (_, t) in after}
        leaked = {
            r.doc_id
            for r in resend.collect()
            if r.text in accepted_b2_text and (r.doc_id in out3)
        }
        assert not leaked

    @pytest.mark.exhaustive  # tiered twin below stays default
    def test_replay_after_failed_attempt_with_compaction(
        self, spark, corpus, docs, tmp_path, monkeypatch
    ):
        """The exactly-once edge: batch 1's FIRST attempt appends its
        bloom word partition, bumps the volatile ``_adds`` counter to a
        compact_every multiple, then dies before the streaming commit.
        The replay's pre-batch compaction must NOT fold the uncommitted
        ``words/batch=1`` into history - otherwise ``exclude_batch=1``
        can no longer hide it and the replay rejects its own rows as
        seen_before (silent data loss).  Gate: the failed-then-replayed
        run accepts exactly what an unfailed control run accepts."""
        from kafka_cassandra_plugin_spark.streaming import curate as C

        b1, b2 = make_batches(docs)

        control = self._sink(spark, corpus, tmp_path / "ctl",
                             compact_every=2)
        control(b1, 0)
        control(b2, 1)
        want = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, control.out_path).collect()
        )

        sink = self._sink(spark, corpus, tmp_path / "run",
                          compact_every=2)
        sink(b1, 0)
        # first attempt of batch 1: everything up to and including the
        # bloom append + counter bump happens, then the funnel
        # accounting dies (any post-append failure reproduces the bug)
        real_funnel = C.curation_funnel
        monkeypatch.setattr(
            C, "curation_funnel",
            lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom")),
        )
        with pytest.raises(RuntimeError, match="boom"):
            sink(b2, 1)
        monkeypatch.setattr(C, "curation_funnel", real_funnel)
        assert sink._adds % 2 == 0  # the replay WILL trigger compaction
        sink(b2, 1)  # foreachBatch replay
        got = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, sink.out_path).collect()
        )
        assert got == want

    @pytest.mark.exhaustive  # fold losslessness default-covered by
    # test_tiered_compact + TestIndexExactlyOnce::test_tiered_mode_folds_index
    def test_tiered_compaction_same_results(self, spark, corpus, docs,
                                            tmp_path):
        """compact_mode='tiered' (round-12: the sink-wired LSM fold)
        must be decision-identical to the full-rewrite mode: same
        accepted rows, same funnel totals, and the folded stores still
        probe correctly (re-ingested accepted content rejected as
        seen_before AFTER tiered folds of the bloom words)."""
        b1, b2 = make_batches(docs)
        runs = {}
        for mode in ("full", "tiered"):
            sink = fresh_sink(
                spark, corpus, tmp_path / mode,
                seen_bloom_path=str(tmp_path / mode / "bloom"),
                bloom_expected_items=10_000,
                commonness_path=str(tmp_path / mode / "cmn"),
                compact_every=2, compact_mode=mode,
                compact_max_levels=2,
            )
            sink(b1, 0)
            sink(b2, 1)
            # re-send batch-1 accepted content under fresh ids: the
            # probe now reads the TIERED level layout (one fold ran
            # before batch 1's exclusion window)
            resend = b1.limit(4).select(
                (F.col("doc_id") + 9_100_000).alias("doc_id"), "text"
            )
            sink(resend, 2)
            sink(b2.limit(2).select(
                (F.col("doc_id") + 9_200_000).alias("doc_id"), "text"
            ), 3)  # _adds=4: a second fold cadence (level 2 at cap)
            runs[mode] = (
                sorted((r.doc_id, r.text) for r in accepted_dataset(
                    spark, sink.out_path).collect()),
                sink.funnel_totals,
            )
        assert runs["tiered"] == runs["full"]
        # and the tiered run actually rejected the re-sent content
        assert runs["tiered"][1].get("seen_before", 0) > 0

    def test_replay_after_failed_attempt_with_tiered_compaction(
        self, spark, corpus, docs, tmp_path, monkeypatch
    ):
        """The exactly-once edge of
        test_replay_after_failed_attempt_with_compaction, under the
        TIERED fold: the replay's pre-batch compact_tiered must carry
        the uncommitted ``words/batch=1`` through the swap verbatim
        (exclude_batch), never fold it into a level - otherwise the
        replay rejects its own rows as seen_before."""
        from kafka_cassandra_plugin_spark.streaming import curate as C

        b1, b2 = make_batches(docs)

        control = self._sink(spark, corpus, tmp_path / "ctl",
                             compact_every=2)
        control(b1, 0)
        control(b2, 1)
        want = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, control.out_path).collect()
        )

        sink = self._sink(spark, corpus, tmp_path / "run",
                          compact_every=2, compact_mode="tiered")
        sink(b1, 0)
        real_funnel = C.curation_funnel
        monkeypatch.setattr(
            C, "curation_funnel",
            lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom")),
        )
        with pytest.raises(RuntimeError, match="boom"):
            sink(b2, 1)
        monkeypatch.setattr(C, "curation_funnel", real_funnel)
        assert sink._adds % 2 == 0  # the replay WILL trigger the fold
        sink(b2, 1)  # foreachBatch replay
        got = sorted(
            (r.doc_id, r.text)
            for r in accepted_dataset(spark, sink.out_path).collect()
        )
        assert got == want

    def test_lm_band_gates_ingest_and_accumulates(
        self, spark, corpus, tmp_path
    ):
        """lm_path=: the sink scores each batch against the stored
        incremental NgramLM (seeded via fit().save() -> the batch=-1
        history partition exclusion can never hide), rejects
        out-of-band docs, and grows the model with accepted content -
        overwrite-per-batch partitions, replay-idempotent."""
        from kafka_cassandra_plugin_spark.operators.lm import NgramLM

        templates = [
            "the quick brown fox jumps over the lazy dog",
            "a stitch in time saves nine every single day",
            "all that glitters is not gold my friend",
        ]
        trusted = spark.createDataFrame(
            [(i, templates[i % 3] + " " + templates[(i + 1) % 3])
             for i in range(30)],
            "doc_id long, text string",
        )
        lm_path = str(tmp_path / "lm")
        NgramLM.fit(trusted, n=2, k=0.1).save(lm_path)

        sink = fresh_sink(
            spark, corpus, tmp_path,
            lm_path=lm_path, lm_n=2, lm_k=0.1,
            max_ppl=10.0, min_quality=0.0,
        )
        in_domain = spark.createDataFrame(
            [(100 + i, templates[i % 3] + " " + templates[(i + 1) % 3])
             for i in range(3)],
            "doc_id long, text string",
        )
        soup = spark.createDataFrame(
            [(999, " ".join(f"zq{i} xv{i}" for i in range(15)))],
            "doc_id long, text string",
        )
        sink(in_domain.unionByName(soup), 0)
        out = {
            r.doc_id
            for r in accepted_dataset(spark, sink.out_path).collect()
        }
        assert 999 not in out
        assert {100, 101, 102} <= out
        assert sink.funnel_by_batch[0].get("ppl_out_of_band", 0) >= 1

        # accumulation: batch 0's accepted docs became count partitions
        grown = NgramLM.load(spark, lm_path)
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        glob = jvm.org.apache.hadoop.fs.Path(f"{lm_path}/grams/batch=*")
        names = sorted(
            s.getPath().getName()
            for s in glob.getFileSystem(conf).globStatus(glob)
        )
        assert names == ["batch=-1", "batch=0"]

        # replay: identical acceptance, identical model counts
        before = sorted(map(tuple, grown.grams.collect()))
        sink(in_domain.unionByName(soup), 0)
        after_out = {
            r.doc_id
            for r in accepted_dataset(spark, sink.out_path).collect()
        }
        assert after_out == out
        after = sorted(map(tuple, NgramLM.load(
            spark, lm_path
        ).grams.collect()))
        assert after == before

    def test_lm_path_and_lm_kwarg_conflict(self, spark, corpus, tmp_path):
        with pytest.raises(ValueError, match="not both"):
            fresh_sink(spark, corpus, tmp_path,
                       lm_path=str(tmp_path / "lm"), lm="sentinel")

    def test_compact_preserves_probe_answers(
        self, spark, corpus, docs, tmp_path
    ):
        from kafka_cassandra_plugin_spark.operators.bloom import BloomIndex

        sink = self._sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        path = str(tmp_path / "bloom")
        loaded = BloomIndex.load(spark, path)
        probe = docs.select("doc_id", "text").limit(200)
        keyed = probe.select(
            F.sha2(F.col("text"), 256).alias(BloomIndex.CONTENT_KEY)
        )
        # materialize BEFORE compacting: the swap deletes the files a
        # lazy plan would re-read (compact's documented "never
        # concurrently with probes" contract)
        before = sorted(
            (r[BloomIndex.CONTENT_KEY], r["might_contain"])
            for r in loaded.might_contain(keyed, BloomIndex.CONTENT_KEY).collect()
        )
        compacted = loaded.compact()
        after = sorted(
            (r[BloomIndex.CONTENT_KEY], r["might_contain"])
            for r in compacted.might_contain(keyed, BloomIndex.CONTENT_KEY).collect()
        )
        assert before == after


class TestClassifierGate:
    """clf_path=: the sink loads a saved QualityClassifier once and
    runs the learned quality gate every micro-batch."""

    def test_crawl_like_rows_rejected_at_ingest(self, spark, corpus, docs,
                                                tmp_path):
        from kafka_cassandra_plugin_spark.operators.classifier import (
            QualityClassifier,
        )

        neg = spark.createDataFrame(
            [(8_100_000 + i, "spamword buynow clickbait prize winner blob")
             for i in range(30)],
            "doc_id long, text string",
        )
        clf = QualityClassifier.fit(corpus, neg, buckets=1024)
        clf_path = str(tmp_path / "clf")
        clf.save(clf_path)

        sink = fresh_sink(spark, corpus, tmp_path, clf_path=clf_path,
                          min_clf_score=0.5, min_quality=0.0)
        b1, _ = make_batches(docs)
        spam = spark.createDataFrame(
            [(9_800_000, "spamword buynow clickbait prize winner blob")],
            "doc_id long, text string",
        )
        sink(b1.unionByName(spam), 0)
        got = {r.doc_id for r in
               accepted_dataset(spark, sink.out_path).collect()}
        assert 9_800_000 not in got
        assert sink.funnel_totals.get("clf_low_quality", 0) >= 1
        # the model loaded once and is reused across batches
        first = sink._clf
        sink(spam.select((F.col("doc_id") + 1).alias("doc_id"), "text"), 1)
        assert sink._clf is first

    def test_clf_path_and_clf_kwarg_conflict(self, spark, corpus, tmp_path):
        with pytest.raises(ValueError, match="clf_path"):
            fresh_sink(spark, corpus, tmp_path, clf_path="/x", clf=object(),
                       min_clf_score=0.5)


class TestBm25Maintenance:
    """bm25_path=: the sink folds every accepted document into a saved
    Bm25Index via overwrite-per-batch partitions, so the retrieval
    surface stays current at ingest - and a replayed micro-batch leaves
    search results identical (the r8 VERDICT item that makes D22's
    incremental machinery load-bearing)."""

    def _search_set(self, idx, queries, k=5):
        return {(r.query_id, r.doc_id, round(r.score, 9), r.rank)
                for r in idx.topk(queries, k=k).collect()}

    def test_accepted_corpus_searchable_replay_identical(
        self, spark, corpus, docs, tmp_path
    ):
        from kafka_cassandra_plugin_spark.operators.retrieval import (
            Bm25Index,
        )

        bm25_path = str(tmp_path / "bm25")
        sink = fresh_sink(spark, corpus, tmp_path, bm25_path=bm25_path,
                          bm25_bucket_partitions=8)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b1, 0)  # foreachBatch replay after a simulated failure
        sink(b2, 1)

        accepted = accepted_dataset(spark, sink.out_path).select(
            "doc_id", "text"
        )
        # orderBy before limit: a bare limit() picks ARBITRARY rows and
        # re-executes per consumer - under local-cluster the two
        # _search_set calls raced to different query sets (round-13
        # multi-JVM smoke); deterministic queries make the identity
        # assertion mean what it says on every master
        queries = accepted.orderBy("doc_id").limit(6).selectExpr(
            "doc_id as query_id", "text"
        )
        ingested = Bm25Index.load(spark, bm25_path)
        rebuilt = Bm25Index.build(accepted)
        assert self._search_set(ingested, queries) == \
            self._search_set(rebuilt, queries)
        si, sr = ingested.stats.first(), rebuilt.stats.first()
        assert (si.n_docs, si.total_dl) == (sr.n_docs, sr.total_dl)

    def test_compact_every_preserves_search(self, spark, corpus, docs,
                                            tmp_path):
        from kafka_cassandra_plugin_spark.fsutil import list_batch_ids
        from kafka_cassandra_plugin_spark.operators.retrieval import (
            Bm25Index,
        )

        bm25_path = str(tmp_path / "bm25")
        sink = fresh_sink(spark, corpus, tmp_path, bm25_path=bm25_path,
                          bm25_bucket_partitions=8, compact_every=2)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        # third batch triggers the pre-batch compaction (adds=2)
        b3 = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
        )
        sink(b3, 2)
        ids = list_batch_ids(spark, f"{bm25_path}/postings")
        assert -1 in ids and 2 in ids and 0 not in ids and 1 not in ids
        accepted = accepted_dataset(spark, sink.out_path).select(
            "doc_id", "text"
        )
        # orderBy before limit: a bare limit() picks ARBITRARY rows and
        # re-executes per consumer - under local-cluster the two
        # _search_set calls raced to different query sets (round-13
        # multi-JVM smoke); deterministic queries make the identity
        # assertion mean what it says on every master
        queries = accepted.orderBy("doc_id").limit(6).selectExpr(
            "doc_id as query_id", "text"
        )
        ingested = Bm25Index.load(spark, bm25_path)
        rebuilt = Bm25Index.build(accepted)
        assert self._search_set(ingested, queries) == \
            self._search_set(rebuilt, queries)


@pytest.mark.exhaustive  # bm25 class is the default maintenance-hook representative
class TestFingerprintMaintenance:
    """fingerprint_path=: the sink folds every accepted document's
    winnowed fingerprints into a saved FingerprintIndex, so the
    cross-run MOSS probe ("is this new doc copied from the corpus")
    stays current at ingest - replay leaves probes identical."""

    def test_probe_matches_rebuild_replay_identical(
        self, spark, corpus, docs, tmp_path
    ):
        from kafka_cassandra_plugin_spark.operators.fingerprint_index import (
            FingerprintIndex,
        )

        fp_path = str(tmp_path / "fpi")
        sink = fresh_sink(spark, corpus, tmp_path,
                          fingerprint_path=fp_path,
                          fingerprint_k=3, fingerprint_w=4,
                          fingerprint_bucket_partitions=8)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b1, 0)  # foreachBatch replay after a simulated failure
        sink(b2, 1)

        accepted = accepted_dataset(spark, sink.out_path).select(
            "doc_id", "text"
        )
        # probe: verbatim prefixes of accepted docs under fresh ids
        probe = accepted.limit(4).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"),
            F.concat(
                F.array_join(
                    F.slice(F.split(F.trim("text"), r"\s+"), 1, 15), " "
                ),
                F.lit(" uq"), F.col("doc_id").cast("string"),
            ).alias("text"),
        )
        ingested = FingerprintIndex.load(spark, fp_path)
        rebuilt = FingerprintIndex.build(accepted, k=3, w=4).save(
            str(tmp_path / "rebuilt"), bucket_partitions=8)
        a = {(r.batch_id, r.corpus_id, r.shared, round(r.overlap, 9))
             for r in ingested.match_batch(probe).collect()}
        b = {(r.batch_id, r.corpus_id, r.shared, round(r.overlap, 9))
             for r in rebuilt.match_batch(probe).collect()}
        assert a == b and a  # prefixes must collide with their sources


@pytest.mark.exhaustive  # bm25 class is the default maintenance-hook representative
class TestBpeHistMaintenance:
    """bpe_hist_path=: the sink folds every accepted document's word
    counts into a saved WordHistogram - the sufficient statistic for
    BPE training kept current at ingest; replay leaves the histogram
    (and any tokenizer trained from it) identical to a rebuild over
    the accepted dataset."""

    @staticmethod
    def _hist_map(wh):
        return {r["word"]: r["count"] for r in wh.histogram().collect()}

    def test_histogram_matches_rebuild_replay_identical(
        self, spark, corpus, docs, tmp_path
    ):
        from kafka_cassandra_plugin_spark.operators.bpe import (
            BpeTokenizer,
            WordHistogram,
            word_histogram,
        )

        hist_path = str(tmp_path / "wh")
        sink = fresh_sink(spark, corpus, tmp_path,
                          bpe_hist_path=hist_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b1, 0)  # foreachBatch replay after a simulated failure
        sink(b2, 1)

        accepted = accepted_dataset(spark, sink.out_path).select("text")
        ingested = WordHistogram.load(spark, hist_path)
        rebuilt = {r["word"]: r["count"]
                   for r in word_histogram(accepted).collect()}
        assert self._hist_map(ingested) == rebuilt
        # and the artifact the histogram exists for: identical merges
        assert ingested.train(num_merges=30).merges == \
            BpeTokenizer.train(accepted, num_merges=30).merges

    def test_compact_every_preserves_counts(self, spark, corpus, docs,
                                            tmp_path):
        from kafka_cassandra_plugin_spark.fsutil import list_batch_ids
        from kafka_cassandra_plugin_spark.operators.bpe import (
            WordHistogram,
            word_histogram,
        )

        hist_path = str(tmp_path / "wh")
        sink = fresh_sink(spark, corpus, tmp_path,
                          bpe_hist_path=hist_path, compact_every=2)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        b3 = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
        )
        sink(b3, 2)  # third batch triggers the pre-batch compaction
        ids = list_batch_ids(spark, f"{hist_path}/counts")
        assert -1 in ids and 2 in ids and 0 not in ids and 1 not in ids
        accepted = accepted_dataset(spark, sink.out_path).select("text")
        rebuilt = {r["word"]: r["count"]
                   for r in word_histogram(accepted).collect()}
        assert self._hist_map(WordHistogram.load(spark, hist_path)) == rebuilt


@pytest.mark.exhaustive  # bm25 class is the default maintenance-hook representative
class TestCommonnessMaintenance:
    """commonness_path=: the sink folds every accepted document's
    content-fingerprint counts into a saved CommonnessIndex - the
    streaming SoftDedup state; replay leaves the accumulated counts
    (and the weights priced from them) identical to a one-shot
    soft_dedup_weights over the accepted dataset."""

    def test_weights_match_one_shot_replay_identical(
        self, spark, corpus, docs, tmp_path
    ):
        from kafka_cassandra_plugin_spark.operators.commonness import (
            CommonnessIndex,
        )
        from kafka_cassandra_plugin_spark.operators.dedup import (
            soft_dedup_weights,
        )

        ci_path = str(tmp_path / "ci")
        sink = fresh_sink(spark, corpus, tmp_path,
                          commonness_path=ci_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b1, 0)  # foreachBatch replay after a simulated failure
        sink(b2, 1)

        accepted = accepted_dataset(spark, sink.out_path).select(
            "doc_id", "text")
        idx = CommonnessIndex.load(spark, ci_path)
        got = {r.doc_id: (r.commonness, round(r.weight, 9))
               for r in idx.weights(accepted).collect()}
        want = {r.doc_id: (r.commonness, round(r.weight, 9))
                for r in soft_dedup_weights(accepted).collect()}
        assert got == want

    def test_compact_every_preserves_counts(self, spark, corpus, docs,
                                            tmp_path):
        from kafka_cassandra_plugin_spark.fsutil import list_batch_ids
        from kafka_cassandra_plugin_spark.operators.commonness import (
            CommonnessIndex,
        )

        ci_path = str(tmp_path / "ci")
        sink = fresh_sink(spark, corpus, tmp_path,
                          commonness_path=ci_path, compact_every=2)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        b3 = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
        )
        sink(b3, 2)  # third batch triggers the pre-batch compaction
        ids = list_batch_ids(spark, f"{ci_path}/counts")
        assert -1 in ids and 2 in ids and 0 not in ids and 1 not in ids
        accepted = accepted_dataset(spark, sink.out_path).select("text")
        total = sum(
            r["count"] for r in
            CommonnessIndex.load(spark, ci_path).table().collect())
        assert total == accepted.count()


class TestIndexExactlyOnce:
    """Round-13: the MinHash index follows the overwrite-per-batch +
    exclude-in-flight discipline of the other six stores."""

    def test_replay_with_intra_batch_dups_identical_and_no_growth(
            self, spark, corpus, docs, tmp_path):
        sink = fresh_sink(spark, corpus, tmp_path)
        b1, _ = make_batches(docs)
        # plant an intra-batch near-dup cluster: two fresh ids sharing
        # one text (jaccard 1.0) that appears NOWHERE else in the batch
        # or corpus - the min id survives, the other is near_dup_batch;
        # the replay must reproduce both verdicts
        donor = docs.filter(F.col("doc_id") % 3 == 2).limit(1)
        seed = donor.select(F.lit(8_000_001).alias("doc_id"), "text")
        twin = seed.select(F.lit(8_000_002).alias("doc_id"), "text")
        batch = b1.unionByName(seed).unionByName(twin)
        sink(batch, 0)
        first = {r.doc_id for r in
                 accepted_dataset(spark, sink.out_path).collect()}
        assert 8_000_001 in first and 8_000_002 not in first
        counts_first = dict(sink.funnel_by_batch[0])
        rows_first = MinHashIndex.load(spark, sink.index_path).bands.count()
        sink(batch, 0)  # at-least-once replay
        again = {r.doc_id for r in
                 accepted_dataset(spark, sink.out_path).collect()}
        assert again == first
        assert dict(sink.funnel_by_batch[0]) == counts_first
        # overwrite-per-batch: the replay duplicated NOTHING
        rows_again = MinHashIndex.load(spark, sink.index_path).bands.count()
        assert rows_again == rows_first

    def test_index_partitions_keyed_by_batch_id(self, spark, corpus, docs,
                                                tmp_path):
        from kafka_cassandra_plugin_spark.fsutil import list_batch_ids

        sink = fresh_sink(spark, corpus, tmp_path)
        b1, b2 = make_batches(docs)
        sink(b1, 0)
        sink(b2, 1)
        ids = list_batch_ids(spark, f"{sink.index_path}/bands")
        assert set(ids) == {-1, 0, 1}

    def test_tiered_mode_folds_index_same_results(self, spark, corpus,
                                                  docs, tmp_path):
        from kafka_cassandra_plugin_spark.fsutil import list_batch_ids

        b1, b2 = make_batches(docs)
        half = b2.filter(F.col("doc_id") % 2 == 0)
        sink = fresh_sink(spark, corpus, tmp_path / "t",
                          compact_every=2, compact_mode="tiered")
        sink(b1, 0)
        sink(half, 1)
        sink(b2, 2)  # cadence fires pre-batch here (adds == 2)
        tiered_out = {r.doc_id for r in
                      accepted_dataset(spark, sink.out_path).collect()}
        ids = list_batch_ids(spark, f"{sink.index_path}/bands")
        # batches 0/1 folded into a level; 2 still a young partition
        assert set(i for i in ids if i >= 0) == {2}
        assert any(i < 0 for i in ids)

        ref = fresh_sink(spark, corpus, tmp_path / "f")
        ref(b1, 0)
        ref(half, 1)
        ref(b2, 2)
        ref_out = {r.doc_id for r in
                   accepted_dataset(spark, ref.out_path).collect()}
        assert tiered_out == ref_out
