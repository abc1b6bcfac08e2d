"""User-facing engine facade.

The reference's entry point is ``CassandraPluginLocator.startup(config)``
returning module handles (getLeaderElection / getListenerRegistry,
CassandraPluginLocator.scala:32-53).  The Spark-native equivalent: an
``Engine`` constructed over a SparkSession + table directory, exposing

- the relational surface (``table`` / ``sql`` - Catalyst does the rest),
- the reference-semantics library (kv/cas/lease/cdc) bound to DataFrames,
- the LLM-pipeline operators (dedup / similarity / text / multimodal),
- the training-export tier (decontamination, shard export, packing,
  stratified sampling, source mixing),
- streaming pipelines (watch -> foreachBatch fan-out / sinks).

    from kafka_cassandra_plugin_spark import Engine
    eng = Engine.start(sf_dir="/data/tables")
    eng.sql("SELECT count(*) FROM lineitem").show()
    live = eng.lease_view(leases, now="2024-01-30 00:00:00", ttl_seconds=2)
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog
from .operators import bloom as _bloom
from .operators import changes as _changes
from .operators import contamination as _contamination
from .operators import dedup as _dedup
from .operators import export as _export
from .operators import kv as _kv
from .operators import lm as _lm
from .operators import membership as _membership
from .operators import packing as _packing
from .operators import pii as _pii
from .operators import pipeline as _pipeline
from .operators import classifier as _classifier
from .operators import fingerprint as _fingerprint
from .operators import bpe as _bpe
from .operators import datasheet as _datasheet
from .operators import fingerprint_index as _fingerprint_index
from .operators import langid as _langid
from .operators import quantization as _quantization
from .operators import retrieval as _retrieval
from .operators import sampling as _sampling
from .operators import selection as _selection
from .operators import similarity as _similarity
from .operators import substring as _substring
from .operators import text as _text
from .operators.dedup_index import MinHashIndex
from .session import ensure_engine_confs, get_spark


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        # apply the runtime-settable engine confs even when handed an
        # externally-built session (without nanosAsLong the events table
        # is unreadable - caught by driving Engine() on a plain session)
        self.spark = ensure_engine_confs(spark)
        self.catalog = Catalog(spark, sf_dir)

    @classmethod
    def start(cls, sf_dir: str, app_name: str = "kcp-engine",
              master: str | None = None,
              overrides: dict[str, str] | None = None) -> "Engine":
        """startup() analog (CassandraPluginLocator.scala:32): build the
        session with engine defaults and register every table as a view
        so ``sql()`` works immediately."""
        eng = cls(get_spark(app_name, master, overrides), sf_dir)
        eng.catalog.register_views()
        return eng

    # -- relational surface -------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- KV / CAS / lease (operators/kv.py) ---------------------------------
    def kv_get(self, kv: DataFrame, keys: Iterable, key_col: str = "key"):
        return _kv.kv_get(kv, keys, key_col)

    kv_put = staticmethod(_kv.kv_put)
    kv_update = staticmethod(_kv.kv_update)
    cas_insert = staticmethod(_kv.cas_insert)
    cas_update = staticmethod(_kv.cas_update)
    cas_delete = staticmethod(_kv.cas_delete)
    lease_view = staticmethod(_kv.lease_view)
    current_leaders = staticmethod(_kv.current_leaders)
    leader_timeline = staticmethod(_kv.leader_timeline)

    # -- group membership (operators/membership.py) ---------------------------
    join_group = staticmethod(_membership.join_group)
    leave_group = staticmethod(_membership.leave_group)
    group_snapshot = staticmethod(_membership.group_snapshot)
    membership_changes = staticmethod(_membership.membership_changes)

    # -- CDC (operators/changes.py) -----------------------------------------
    value_changes = staticmethod(_changes.value_changes)
    keyset_changes = staticmethod(_changes.keyset_changes)
    snapshot_diff = staticmethod(_changes.snapshot_diff)
    latest_snapshot = staticmethod(_changes.latest_snapshot)
    replay = staticmethod(_changes.replay)

    # -- LLM pipeline ops ----------------------------------------------------
    exact_dedup = staticmethod(_dedup.exact_dedup)
    duplicate_groups = staticmethod(_dedup.duplicate_groups)
    ngram_jaccard_pairs = staticmethod(_dedup.ngram_jaccard_pairs)
    minhash_lsh_dedup_pairs = staticmethod(_dedup.minhash_lsh_dedup_pairs)
    simhash_near_pairs = staticmethod(_dedup.simhash_near_pairs)
    hashed_token_vectors = staticmethod(_dedup.hashed_token_vectors)
    embedding_cosine_pairs = staticmethod(_dedup.embedding_cosine_pairs)
    survivors_from_pairs = staticmethod(_dedup.survivors_from_pairs)
    adaptive_bands = staticmethod(_dedup.adaptive_bands)
    brute_force_topk = staticmethod(_similarity.brute_force_topk)
    rp_lsh_topk = staticmethod(_similarity.rp_lsh_topk)
    ivf_topk = staticmethod(_similarity.ivf_topk)
    text_profile = staticmethod(_text.text_profile)
    repetition_profile = staticmethod(_text.repetition_profile)
    quality_report = staticmethod(_text.quality_report)
    gopher_quality_profile = staticmethod(_text.gopher_quality_profile)
    hash_split = staticmethod(_sampling.hash_split)
    deterministic_sample = staticmethod(_sampling.deterministic_sample)
    stratified_sample = staticmethod(_sampling.stratified_sample)
    mix_sources = staticmethod(_sampling.mix_sources)

    # -- recurring-ingest depth ops (round 3+: SURVEY §2.5 tier D) -----------
    build_dedup_index = staticmethod(MinHashIndex.build)

    def load_dedup_index(self, path: str) -> MinHashIndex:
        return MinHashIndex.load(self.spark, path)

    build_ivf_index = staticmethod(_similarity.IvfIndex.build)

    def load_ivf_index(self, path: str) -> "_similarity.IvfIndex":
        return _similarity.IvfIndex.load(self.spark, path)

    curate = staticmethod(_pipeline.curate)
    curate_annotated = staticmethod(_pipeline.curate_annotated)
    curation_funnel = staticmethod(_pipeline.curation_funnel)
    curate_and_write = staticmethod(_pipeline.curate_and_write)
    pq_topk = staticmethod(_quantization.pq_topk)
    ivf_pq_topk = staticmethod(_quantization.ivf_pq_topk)

    # -- training-export depth ops (round 4: SURVEY §2.5 tier D) -------------
    contamination_links = staticmethod(_contamination.contamination_links)
    decontaminate = staticmethod(_contamination.decontaminate)
    ngram_collision_links = staticmethod(_contamination.ngram_collision_links)
    decontaminate_ngrams = staticmethod(_contamination.decontaminate_ngrams)
    shard_assignments = staticmethod(_export.shard_assignments)
    export_shards = staticmethod(_export.export_shards)
    pack_sequences = staticmethod(_packing.pack_sequences)
    packing_stats = staticmethod(_packing.packing_stats)

    def read_shards(self, path: str, shards=None, fmt: str = "parquet",
                    schema=None) -> DataFrame:
        return _export.read_shards(self.spark, path, shards, fmt, schema)

    # -- round-5 additions (SURVEY §2.5 D12-D16) ------------------------------
    pii_profile = staticmethod(_pii.pii_profile)
    redact_pii = staticmethod(_pii.redact_pii)
    component_labels = staticmethod(_dedup.component_labels)
    take_per_group = staticmethod(_sampling.take_per_group)
    plan_mixture = staticmethod(_sampling.plan_mixture)
    mix_to_budget = staticmethod(_sampling.mix_to_budget)
    semantic_dedup_pairs = staticmethod(_dedup.semantic_dedup_pairs)
    semantic_dedup = staticmethod(_dedup.semantic_dedup)
    chunk_documents = staticmethod(_packing.chunk_documents)

    # -- D18: cross-run exact-dedup membership sketch -------------------------
    bloom_parameters = staticmethod(_bloom.bloom_parameters)
    build_bloom = staticmethod(_bloom.BloomIndex.build)

    def load_bloom(self, path: str) -> "_bloom.BloomIndex":
        return _bloom.BloomIndex.load(self.spark, path)

    # -- D19: n-gram LM perplexity quality gate (round 6: incremental) --------
    fit_ngram_lm = staticmethod(_lm.NgramLM.fit)

    def init_ngram_lm(self, path: str, **kwargs) -> "_lm.NgramLM":
        return _lm.NgramLM.init(self.spark, path, **kwargs)

    def load_ngram_lm(self, path: str,
                      exclude_batch: int | None = None) -> "_lm.NgramLM":
        return _lm.NgramLM.load(self.spark, path, exclude_batch)

    # -- D20/D21: sub-document dedup (round 6) --------------------------------
    duplicated_ngram_spans = staticmethod(_substring.duplicated_ngram_spans)
    remove_duplicated_spans = staticmethod(_substring.remove_duplicated_spans)
    dedup_lines = staticmethod(_substring.dedup_lines)
    duplicated_line_counts = staticmethod(_substring.duplicated_line_counts)

    # -- D22: BM25 full-text retrieval (round 6) ------------------------------
    bm25_topk = staticmethod(_retrieval.bm25_topk)
    build_bm25 = staticmethod(_retrieval.Bm25Index.build)

    def load_bm25(self, path: str) -> "_retrieval.Bm25Index":
        return _retrieval.Bm25Index.load(self.spark, path)

    # -- D23: DSIR importance-resampled selection (round 6) -------------------
    dsir_select = staticmethod(_selection.dsir_select)
    dsir_select_threshold = staticmethod(_selection.dsir_select_threshold)
    dsir_logweights = staticmethod(_selection.dsir_logweights)
    bucket_distribution = staticmethod(_selection.bucket_distribution)

    # -- D24: hashed-ngram quality classifier (round 6) -----------------------
    fit_quality_classifier = staticmethod(_classifier.QualityClassifier.fit)

    def load_quality_classifier(
            self, path: str) -> "_classifier.QualityClassifier":
        return _classifier.QualityClassifier.load(self.spark, path)

    # -- D25: language identification (round 7) -------------------------------
    fit_langid = staticmethod(_langid.LangIdModel.fit)

    def load_langid(self, path: str) -> "_langid.LangIdModel":
        return _langid.LangIdModel.load(self.spark, path)

    # -- D26: winnowing fingerprints (round 9) --------------------------------
    winnow_fingerprints = staticmethod(_fingerprint.winnow_fingerprints)
    fingerprint_overlap = staticmethod(_fingerprint.fingerprint_overlap)
    fingerprint_near_dups = staticmethod(_fingerprint.fingerprint_near_dups)
    build_fingerprint_index = staticmethod(
        _fingerprint_index.FingerprintIndex.build)

    def load_fingerprint_index(
            self, path: str) -> "_fingerprint_index.FingerprintIndex":
        return _fingerprint_index.FingerprintIndex.load(self.spark, path)

    # -- D27: BPE tokenizer (round 9) -----------------------------------------
    bpe_word_histogram = staticmethod(_bpe.word_histogram)
    train_bpe = staticmethod(_bpe.BpeTokenizer.train)

    def load_bpe(self, path: str) -> "_bpe.BpeTokenizer":
        return _bpe.BpeTokenizer.load(self.spark, path)

    def load_word_histogram(self, path: str) -> "_bpe.WordHistogram":
        return _bpe.WordHistogram.load(self.spark, path)

    # -- D29: corpus datasheet (round 9) --------------------------------------
    corpus_datasheet = staticmethod(_datasheet.corpus_datasheet)

    # -- D30: CCNet perplexity bucketing (round 9) -----------------------------
    ppl_buckets_by_rank = staticmethod(_lm.ppl_buckets_by_rank)
    ppl_cutoffs = staticmethod(_lm.ppl_cutoffs)
    apply_ppl_cutoffs = staticmethod(_lm.apply_ppl_cutoffs)

    # -- D31: training-example packing (round 9) -------------------------------
    pack_examples = staticmethod(_packing.pack_examples)

    # -- D32: SoftDedup reweighting (round 9) ----------------------------------
    soft_dedup_weights = staticmethod(_dedup.soft_dedup_weights)
    mix_by_weight = staticmethod(_sampling.mix_by_weight)

    # -- D33: contamination report (round 9) -----------------------------------
    contamination_report = staticmethod(_contamination.contamination_report)

    # -- D34: tokenizer fertility report (round 9) -----------------------------
    tokenizer_fertility = staticmethod(_bpe.tokenizer_fertility)

    # -- D35: incremental commonness index (round 9) ---------------------------
    def init_commonness(self, path: str, **kwargs):
        from .operators.commonness import CommonnessIndex

        return CommonnessIndex.init(self.spark, path, **kwargs)

    def load_commonness(self, path: str, exclude_batch: int | None = None):
        from .operators.commonness import CommonnessIndex

        return CommonnessIndex.load(self.spark, path,
                                    exclude_batch=exclude_batch)
