#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 operator inventory -> declared
queries (registry tags) + streaming/test coverage.  Run after adding
queries: python scripts/gen_coverage.py"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_cassandra_plugin_spark.queries import load_all

# SURVEY §2 inventory: id -> short label (from the survey tables).
INVENTORY = {
    # Tier R
    "R1": "point lookup + projection", "R2": "first-row materialization",
    "R3": "point lookup (kv)", "R4": "full-table key scan -> set",
    "R5": "conditional insert (CAS)", "R6": "conditional update (CAS)",
    "R7": "conditional delete (CAS)", "R8": "linearizable read",
    "R9": "value change detection", "R10": "key-set change detection",
    "R11": "periodic trigger", "R12": "TTL lease expiry",
    "R13": "listener fan-out", "R14": "watcher refcounting",
    "R15": "leader-election state machine", "R16": "config load/override",
    # Tier G
    "G1": "parquet scan", "G2": "CSV/JSON scan", "G3": "Kafka source",
    "G4": "Cassandra sink", "G5": "parquet sink", "G6": "temp view / SQL",
    "G7": "projection", "G8": "filters", "G9": "boolean composition",
    "G10": "null-safe equality", "G11": "inner equi-join",
    "G12": "broadcast join", "G13": "outer joins", "G14": "left-semi join",
    "G15": "left-anti join", "G16": "theta join", "G17": "range join",
    "G18": "as-of join", "G19": "cross join", "G20": "hash aggregate",
    "G21": "count distinct", "G22": "approx_count_distinct",
    "G23": "collect_set/list", "G24": "rollup/cube", "G25": "min_by/max_by",
    "G26": "stats aggregates", "G27": "filtered aggregation",
    "G28": "ranking windows", "G29": "lag/lead", "G30": "frame specs",
    "G31": "first/last over frame", "G32": "global sort", "G33": "limit/top-k",
    "G34": "per-group top-k", "G35": "union", "G36": "intersect",
    "G37": "except", "G38": "distinct/dedup-by-subset",
    "G39": "string fns", "G40": "date/time fns", "G41": "math fns",
    "G42": "conditional fns", "G43": "casts", "G44": "array fns",
    "G45": "map fns", "G46": "JSON fns", "G47": "hash fns",
    "G48": "higher-order fns", "G49": "Python UDF", "G50": "pandas UDF",
    "G51": "grouped-map applyInPandas", "G52": "grouped-agg UDAF",
    "G53": "UDTF/explode-style", "G54": "exact dedup", "G55": "near-dup dedup",
    "G56": "tokenize/text stats", "G57": "term frequency",
    "G58": "language/source breakdown", "G59": "cosine similarity",
    "G60": "brute-force top-k NN", "G61": "approximate NN",
    "G62": "multimodal columns",
    # Tier S
    "S1": "fixed-rate trigger", "S2": "Kafka schema-on-read",
    "S3": "watermarks", "S4": "tumbling window", "S5": "sliding window",
    "S6": "session window", "S7": "streaming dedup", "S8": "stateful op",
    "S9": "stream-static join", "S10": "foreachBatch sink",
    "S11": "checkpointed sink",
}

# coverage that lives in modules/tests rather than declared queries
EXTRA = {
    "R8": "n/a in Spark's batch model; the serving tier has a SERIAL-consistency live test (tests/test_integration_live.py::test_serial_read_r8, env-gated; scripts/live_harness.py protocol)",
    "R11": "streaming/ops.py DEFAULT_TRIGGER_MS=500 (reference cadence); availableNow in tests",
    "R13": "streaming/watch.py ListenerHub; tests/test_streaming.py::TestListenerFanout",
    "R14": "ListenerHub add/remove + StreamingQuery lifecycle (streaming/watch.py)",
    "R16": "session.py ENGINE_DEFAULTS layering (defaults < env < overrides)",
    "G3": "sources/kafka_stream option-builder; tests/test_streaming.py (skips without broker jar); round 10: live round-trip tests incl. kafka_stream -> watch_value_changes (tests/test_integration_live.py, env-gated + recorded-artifact protocol)",
    "G4": "sources/write_cassandra + CassandraLwtForeachBatch; LWT statements unit-tested; round 10: live LWT tests asserting insert/update/delete outcomes == kv.py CAS operators on the same contended input (tests/test_integration_live.py, env-gated)",
    "S1": "streaming/ops.py trigger cadence; bounded tests use availableNow; SLOs MEASURED round 4 (streaming/slo.py, tests/test_streaming_slo.py): change-notification p50 0.59 s / p90 0.82 s vs <= 1 s target at the live 500 ms trigger; lease failover worst 2.49 s vs <= 2.5 s target (event-time replay, exact)",
    "S2": "sources/_project_kafka from_json(value); plumbing test",
    "S3": "withWatermark in every streaming agg (streaming/ops.py)",
    "S4": "tests/test_streaming.py::TestWindowEquivalence::test_tumbling",
    "S5": "tests/test_streaming.py::TestWindowEquivalence::test_sliding",
    "S6": "tests/test_streaming.py::TestWindowEquivalence::test_session",
    "S7": "tests/test_streaming.py::TestDedupEquivalence",
    "S8": "streaming/watch.py watch_value_changes; equivalence vs G29 lag",
    "S9": "tests/test_streaming.py::TestStreamStaticJoin",
    "S10": "ListenerHub foreachBatch; Cassandra LWT sink",
    "S11": "tests/test_streaming.py::TestCheckpointedSink",
    "G55": "also operators/dedup.py minhash/simhash + planted-dup recall tests (tests/test_llm_ops.py)",
    "G61": "recall gates >= 0.85: tests/test_llm_ops.py::TestAnnRecall (round-3 measured: LSH 1.00, IVF 0.94 @10); round 4: corpus-adaptive geometry (adaptive_n_planes/adaptive_nlist) + vectorized probe kernels; round 10: sim_lsh_ann_portable is HASH-MATCHED vs DuckDB (md5 Rademacher planes + fold-ordered math re-derived by the oracle SQL) while the adaptive rp_lsh_topk stays the at-scale default (bench extra_queries['sim_lsh_ann'] + sf1 smoke); sim_ivf_ann additionally pytest-oracled (TestIvfTopkOracle: candidate enumeration + fold-exact re-rank + ranking hash-match DuckDB on exported probe/cell literal tables); round 13: the DECLARED sim_ivf_ann is the hash-matched ivf_topk_portable (deterministic vec_id<2000 sample quantizer + pinned query batch - identity at gated scales, LINEAR beyond: 1.03x per 10x at sf10 - scored via cosine_foldexact_pandas), while the learned KMeans index stays the at-scale default as extra_queries['sim_ivf_ann_kmeans']",
    "G62": "also tests/test_multimodal.py (schema round-trip, Arrow batching, metadata plans); round 10: real decode kernels - pure-stdlib PNG/WAV codecs behind kernel='codec' (deterministic stub remains the oracle kernel); round 12: every legal PNG IHDR decodes - palette (PLTE+tRNS), grey 1/2/4-bit, 16-bit (uint16 end to end incl. resize + feature normalization), colour-key transparency, Adam7 interlace; spec-derived fixtures incl. the canonical 8x8 pass-number grid",
}

# SURVEY §2.5 tier D: depth operators beyond the 50-query declared set
# (the driver checks the first 50 declared queries alphabetically, so
# these are gated by pytest + tracked in bench.py extra_queries instead).
TIER_D = {
    "D1": ("incremental near-dup index (MinHashIndex)",
           "operators/dedup_index.py",
           "equivalence with one-shot pairs; save/load round-trip; "
           "broadcast-vs-shuffle guard equivalence (tests/test_dedup_index.py)"),
    "D2": ("curation funnel (curate_annotated / curate_and_write)",
           "operators/pipeline.py",
           "funnel partitions input; per-stage planted offenders; "
           "deterministic splits (tests/test_pipeline.py); benched as "
           "extra_queries['curation_funnel']"),
    "D3": ("streaming curation sink (CurationSink)",
           "streaming/curate.py",
           "cross-batch dedup; batch-loop equivalence; replay idempotence; "
           "index + accepted-dataset compaction: bounded dirs/files, "
           "identical rows (tests/test_streaming_curate.py)"),
    "D4": ("product quantization (PqCodebook, pq_topk)",
           "operators/quantization.py",
           "encode determinism; codebook round-trip; recall@10 >= 0.85 "
           "(measured 0.96); round 12: DuckDB VALUE oracle "
           "(tests/test_llm_ops.py::TestPqTopkOracle - codebook + "
           "once-materialized codes exported as literal tables, DuckDB "
           "re-derives the per-query LUT, ADC scoring, round-6 "
           "shortlist cut, exact fold-cosine re-rank and top-k; "
           "hash-matched at sf0.01) (tests/test_quantization.py)"),
    "D5": ("IVF-PQ composition (ivf_pq_topk); IvfIndex assign/add_batch/"
           "compact (incremental ANN ingest)",
           "operators/quantization.py, similarity.py",
           "recall@10 >= 0.8 (measured 0.92); ADC group-size bound; "
           "frozen-quantizer reassignment idempotence; added vectors "
           "findable; replay-append + compact restores never-replayed "
           "results with bounded files; benched as "
           "extra_queries['sim_ivf_pq'] (tests/test_quantization.py, "
           "test_llm_ops.py)"),
    "D6": ("benchmark decontamination (contamination_links/decontaminate)",
           "operators/contamination.py",
           "planted benchmark copies removed; broadcast-plan assertion; "
           "threshold-adaptive banding + near-threshold recall; index-probe "
           "overload equivalence with no-corpus-scan plan gate; **DuckDB "
           "oracle at sf0.01** (decontam_jaccard, md5 family, 16x4 pinned "
           "banding); benched as extra_queries['decontaminate'] "
           "(tests/test_training_export.py, test_text_quality.py)"),
    "D7": ("deterministic shard export (export_shards/read_shards)",
           "operators/export.py",
           "contents+order identical across input partitionings; one file "
           "per shard; partition pruning; benched as "
           "extra_queries['shard_export[staging]'] "
           "(tests/test_training_export.py)"),
    "D8": ("sequence packing (pack_sequences/packing_stats)",
           "operators/packing.py",
           "budget respected; deterministic across partitionings; FFD fill; "
           "corpus-derived num_groups recorded + pin-reproducible; "
           "group-width guard raises (tests/test_training_export.py)"),
    "D9": ("stratified sampling + source mixing "
           "(stratified_sample/mix_sources)",
           "operators/sampling.py",
           "per-stratum rates + determinism; exact epoch counts; "
           "(doc, epoch) uniqueness; weight-8.0 skew: fanout <= ceil(w), "
           "zero-Exchange plan; benched as extra_queries['mix_sources'/"
           "'stratified_sample'] (tests/test_training_export.py, "
           "test_llm_ops.py)"),
    "D10": ("repetition quality signals (repetition_profile, Gopher A1.1); "
            "corpus quality dashboard (quality_report)",
            "operators/text.py",
            "hand-built signal values + threshold flag; zero-Exchange plan; "
            "per-group pass-rate/dup-ratio fractions; two-stage agg plan "
            "bound; DuckDB oracles at sf0.01 (repetition_signals + "
            "quality_report); benched as extra_queries['repetition_signals'"
            "/'quality_report'] (tests/test_text_quality.py)"),
    "D11": ("exact 13-gram-collision decontamination (ngram_collision_links"
            "/decontaminate_ngrams; funnel `contaminated` stage; "
            "CurationSink benchmarks_path)",
            "operators/contamination.py, pipeline.py, streaming/curate.py",
            "planted verbatim span caught (exact distinct-gram count); "
            "hash/raw equivalence; broadcast-plan assertion; DuckDB oracle "
            "at sf0.01; funnel-stage + ingest-sink leak tests; benched as "
            "extra_queries['decontaminate_ngram13'] "
            "(tests/test_text_quality.py, test_pipeline.py, "
            "test_streaming_curate.py)"),
    "D12": ("PII detection + redaction (pii_profile/redact_pii/pii_gate; "
            "funnel `pii_heavy` gate via max_pii)",
            "operators/pii.py, pipeline.py",
            "per-type planted detectors (no ssn/cc-as-phone double counts); "
            "redacted text re-profiles to zero; canonical redaction order; "
            "zero-Exchange plan; funnel budget gate; DuckDB oracle at "
            "sf0.01; benched as extra_queries['pii_redaction'] "
            "(tests/test_pii.py)"),
    "D13": ("connected components (component_labels: driver union-find "
            "under MAX_DRIVER_PAIRS, connected_components_star above it; "
            "survivors_from_pairs)",
            "operators/graph.py, dedup.py",
            "union-find oracle agreement on both paths; 400-edge chain; "
            "shuffled 60-node chain survivors over the cap; non-convergence "
            "raises; funnel verdicts equal over the cap "
            "(tests/test_graph.py, test_llm_ops.py, test_pipeline.py)"),
    "D14": ("exact per-stratum selection (take_per_group)",
            "operators/sampling.py",
            "exact min(k, n) counts; membership+rank partition-invariant; "
            "k-prefix property; WindowGroupLimit plan gate; DuckDB oracle "
            "at sf0.01; benched as extra_queries['sample_per_group'] "
            "(tests/test_training_export.py)"),
    "D15": ("token-budget mixture planner (plan_mixture/mix_to_budget)",
            "operators/sampling.py",
            "exact plan arithmetic; max_epochs scales budget share-"
            "preservingly; empty-source raise; realized shares within "
            "deterministic-draw bound; (doc, epoch) determinism "
            "(tests/test_training_export.py)"),
    "D16": ("semantic dedup (semantic_dedup_pairs/semantic_dedup, "
            "SemDeDup-style cluster blocking on IvfIndex cells)",
            "operators/dedup.py",
            "planted exact copies paired at cosine 1.0 and dropped; "
            "prebuilt-index equivalence (zero clustering on reuse); "
            "exact-copy subset of all-pairs baseline; no-cartesian plan "
            "gate; cell-cap fanout bound; DuckDB oracle (round 6): cell "
            "assignment exported as a literal table, DuckDB re-derives "
            "the blocking join + cap + exact left-fold cosine - pytest "
            "at sf0.01 + bench sf1_oracle entry; anchored + sf10 "
            "probe-only row (BASELINE.md); benched as "
            "extra_queries['dedup_semantic'] (tests/test_semantic.py)"),
    "D17": ("document chunking (chunk_documents - token windows with "
            "overlap, the pack_sequences oversize bridge)",
            "operators/packing.py",
            "chunks within budget; overlap round-trip reconstructs the "
            "token sequence; empty-doc none / short-doc one; zero-Exchange "
            "plan; chunk->pack leaves zero oversize; DuckDB oracle at "
            "sf0.01 + sf1; benched as extra_queries['chunk_documents'] "
            "(tests/test_training_export.py)"),
    "D18": ("Bloom membership filter (BloomIndex - cross-run exact dedup "
            "without the key set; xxhash64 positions + bit_or word table, "
            "zero UDFs)",
            "operators/bloom.py",
            "zero false negatives on all inserted keys; fpr <= 3x "
            "configured on disjoint probes; merge == union-build "
            "bit-for-bit; save/load probe-identical; geometry-mismatch "
            "raises; one-Exchange build / broadcast-or-shuffle_hash probe "
            "plan gates, no EvalPython; funnel seen_before stage + "
            "CurationSink(seen_bloom_path=) exactly-once replay tests "
            "incl. failed-attempt-then-compact replay (round 6: "
            "compact(exclude_batch) keeps the in-flight partition "
            "hideable); shuffle_hash probe branch observed at sf10 under "
            "a lifetime-sized geometry (BASELINE.md); benched as "
            "extra_queries['bloom_filter_new'] sf0.1+sf1+sf10 "
            "(tests/test_bloom.py, test_pipeline.py, "
            "test_streaming_curate.py)"),
    "D19": ("n-gram LM perplexity gate (NgramLM - CCNet-style model-based "
            "quality filter; add-k LM as two count DataFrames, explode+join "
            "scoring, zero UDFs; round 6: incremental batch-partitioned "
            "maintenance (init/append_batch/compact, replay-exclusion "
            "discipline shared with D18; CurationSink(lm_path=)), CCNet "
            "digit bucketing persisted in meta, V = full-vocabulary "
            "distinct count)",
            "operators/lm.py",
            "hand-computed add-k probabilities exact; unseen text scores "
            "ppl == V exactly; pruned grams degrade to the smoothed floor "
            "with totals unchanged; in-domain 5x below gibberish on planted "
            "structure; save/load score-identical; accumulate == refit "
            "bit-exact; replay overwrites not double-counts; "
            "compact(exclude_batch) keeps an in-flight attempt hideable; "
            "band gate + short-doc drop; broadcast/shuffle_hash scoring "
            "plan gates, no EvalPython; benched as "
            "extra_queries['lm_perplexity'] sf0.1+sf1+sf10 "
            "(tests/test_lm.py, test_streaming_curate.py)"),
    "D20": ("exact substring-span dedup (duplicated_ngram_spans/"
            "remove_duplicated_spans - Lee et al. 2022 repeated-passage "
            "removal via window-hash counting; canonical copy exempt, "
            "maximal spans, zero UDFs)",
            "operators/substring.py",
            "planted quotes found at exact offsets, canonical exempt; "
            "overlapping windows merge to one maximal span; removal "
            "reassembles exactly the uncovered tokens; fully-covered doc "
            "-> empty string; raw == xxhash64 keys; no-cartesian/"
            "no-Python plan gates; DuckDB oracle sf0.01 (pytest) + sf1 "
            "(bench 'dedup_substring'); benched as "
            "extra_queries['dedup_substring'] "
            "(tests/test_substring_dedup.py)"),
    "D21": ("CCNet line-level dedup (dedup_lines/duplicated_line_counts - "
            "normalized line-hash boilerplate removal, originals "
            "preserved, zero UDFs)",
            "operators/substring.py",
            "duplicated header dropped everywhere but the canonical doc; "
            "normalization buckets case+digits; empty lines pass "
            "through; keep_first=False strips all copies; raw == "
            "xxhash64; DuckDB oracle sf0.01 (pytest) + sf1 (bench "
            "'dedup_lines'); benched as extra_queries['dedup_lines'] "
            "(tests/test_substring_dedup.py)"),
    "D22": ("BM25 full-text retrieval (Bm25Index build/save/load/merge/"
            "topk + bm25_topk - Robertson/Lucene idf; inverted index as "
            "DataFrames with dl denormalized onto postings, broadcast "
            "query vocabulary, WindowGroupLimit top-k, zero UDFs; round "
            "8-9: disk-backed incremental maintenance - init/append_batch"
            "/compact batch-partitioned layout with the D18/D19 "
            "replay-exclusion discipline, tbucket term-bucket partitions "
            "for FILE-level search pruning, CurationSink(bm25_path=))",
            "operators/retrieval.py, streaming/curate.py",
            "hand-computed scores exact to the ulp (idf, tf "
            "normalization, qtf multiplicity); doc_id tiebreak on exact "
            "ties; raw == xxhash64 term keys; save/load score-identical; "
            "doc-disjoint merge == whole build; zero-token docs count in "
            "N/avgdl; non-integral doc_id raises at build; accumulate == "
            "whole-build bit-exact (postings, df, stats longs); replay "
            "overwrites not double-counts; load(exclude_batch) as-of "
            "view; compact with/without exclude_batch keeps the "
            "in-flight partition hideable; save-onto-own-path lossless; "
            "save-onto-stale-path replaces history; tbucket reaches "
            "PartitionFilters on BOTH postings and docfreq scans + "
            "planted-corrupt-file proof that untouched bucket files are "
            "never opened; sink-maintained index == rebuild over the "
            "accepted corpus with replay + compaction; no-cartesian/"
            "no-Python/broadcast-query plan gates; DuckDB oracle sf0.01 "
            "(pytest) + sf1 (bench 'bm25_topk'); benched as "
            "extra_queries['bm25_topk'] fit-once/search-many "
            "(tests/test_retrieval.py, test_streaming_curate.py)"),
    "D23": ("DSIR importance-resampled selection (dsir_select/"
            "dsir_logweights/bucket_distribution - Xie et al. 2023 "
            "hashed unigram+bigram multinomial ratio, deterministic "
            "hash-derived Gumbel top-k, zero UDFs)",
            "operators/selection.py",
            "hand-computed log weights exact vs an independent Python "
            "reimplementation; empty doc neutral; target-like docs "
            "outweigh off-target; occurrence (not distinct) counting; "
            "deterministic per seed, moves with seed; selection pulls "
            ">=90% from the planted high-weight half; no-cartesian/"
            "no-Python/broadcast-ratio plan gates; DuckDB oracle sf0.01 "
            "(pytest) + sf1 (bench 'dsir_select') covering weights AND "
            "the Gumbel draw; benched as extra_queries['dsir_select'] "
            "(tests/test_selection.py)"),
    "D24": ("hashed-ngram quality classifier (QualityClassifier fit/save/"
            "load/score/keep - fastText-style LR over the D23 features; "
            "MLlib fit, pure-built-in broadcast-weight scoring, zero "
            "UDFs in the score path)",
            "operators/classifier.py",
            "planted separable corpora separate; scoring exact vs "
            "hand-computed sigmoid with constructed weights; featureless "
            "doc == sigmoid(intercept) exactly; save/load "
            "score-identical; no-Python/no-cartesian/broadcast-weight "
            "score plan gates; funnel clf_low_quality gate (clf= + "
            "min_clf_score=, planted spam rejected, partition property, "
            "threshold-less ValueError); DuckDB oracle sf0.01 (pytest) + "
            "sf1 (bench 'quality_classifier' factory - fitted "
            "coefficients exported as literal tables); benched as "
            "extra_queries['quality_classifier'] fit-once/score-many "
            "(tests/test_classifier.py)"),
    "D25": ("language identification (LangIdModel fit/save/load/predict/"
            "keep - CCNet step 0; multinomial NB over hashed character "
            "1..n-grams, closed-form count fit, dense B x L model "
            "table, zero UDFs end to end)",
            "operators/langid.py",
            "hand-computed NB posteriors exact (priors, smoothing, "
            "softmax conf); fit counts match a hand NB; zero-gram docs "
            "score the prior; empty-corpus language cannot hijack the "
            "argmax; argmax round-6 + lexicographic tiebreak; save/load "
            "predict-identical; planted separable languages recovered; "
            "funnel lang-annotation override (langid= / min_lang_conf "
            "gate, reserved-column collision raises) + "
            "CurationSink(langid_path=) wiring; broadcast-model/"
            "no-Python/no-cartesian plan gates; DuckDB oracle sf0.01 "
            "(pytest) + sf1 (bench 'langid' factory - model tables "
            "exported, DuckDB re-derives every prediction from raw "
            "text); benched as extra_queries['langid'] "
            "fit-once/predict-many (tests/test_langid.py)"),
    "D26": ("winnowing fingerprints (winnow_fingerprints/"
            "fingerprint_overlap/fingerprint_near_dups + FingerprintIndex "
            "init/append_batch/compact/match_batch + "
            "CurationSink(fingerprint_path=) - Schleimer et "
            "al. SIGMOD 2003, the MOSS detector; per-window "
            "rightmost-argmin k-gram sampling + containment pair "
            "scores; ONE Exchange selection via struct-min sliding "
            "frame + lag dedup (the winnowing interval property), "
            "fp-value equi-join pairing with the max_fp_docs "
            "boilerplate/fanout governor, zero UDFs)",
            "operators/fingerprint.py, fingerprint_index.py, streaming/curate.py",
            "selection exactly matches an independent pure-Python "
            "winnowing reimplementation across (k, w) configs, hash "
            "values included; density guarantee (consecutive selected "
            "positions <= w apart); rightmost tie-break; short-doc "
            "global-min edge; sub-k docs contribute nothing; identical "
            "docs overlap 1.0; planted partial copies found, disjoint "
            "absent; max_fp_docs drops a 12-doc license header; "
            "one-Exchange/no-Python/no-cartesian plan gates; DuckDB "
            "oracle sf0.01 (pytest) + sf1 (bench "
            "'fingerprint_winnow', 994k rows green) for BOTH the selection "
            "and the pair scores; FingerprintIndex probe == in-frame "
            "overlap on the union corpus, accumulate == whole-build, "
            "replay/exclude_batch/compact/save-onto-own-path gates, "
            "tiered (LSM) compaction on all six disk-backed stores "
            "(FingerprintIndex/Bm25Index/CommonnessIndex/BloomIndex/"
            "NgramLM/WordHistogram): compact_tiered folds only young "
            "batches into a new negative level, full compact at "
            "max_levels - crash-recoverable via the fsutil 9-step "
            "marker protocol (staged_fold_swap/recover_fold_swap; "
            "per-table level ids; rename refuses existing dest), gated "
            "by tests/test_tiered_compact.py (51 tests: lossless/"
            "exclude_batch/replay/noop/max-levels per store + "
            "exhaustive fault injection at every filesystem mutation "
            "point + load-time self-heal); growth campaign re-run in "
            "tiered mode (BASELINE.md round-12 note): tiered compact "
            "wall FLAT (112/106/102 s) where the full rewrite grew "
            "111->176 s, "
            "fpbucket PartitionFilters + corrupt-file pruning proof, "
            "sink-maintained probe == rebuild under replay; benched as "
            "extra_queries['fingerprint_winnow'] "
            "(tests/test_fingerprint.py, test_fingerprint_index.py, "
            "test_streaming_curate.py)"),
    "D27": ("BPE tokenizer (word_histogram + BpeTokenizer "
            "train/encode/token_count/save/load - Sennrich, Haddow & "
            "Birch ACL 2016; the hybrid every production trainer uses: "
            "ONE map-side-combined corpus shuffle builds the Zipf-"
            "bounded (word, count) type histogram, the merge loop runs "
            "driver-side over the collected <=max_types rows with "
            "incremental pair-count maintenance, and encode is "
            "map-only - ranks ride the pandas-UDF closure with a "
            "per-batch word memo so repetition collapses the work to "
            "O(distinct words per partition); WordHistogram persists "
            "the type histogram batch-partitioned with the D18/D19 "
            "replay-exclusion discipline and "
            "CurationSink(bpe_hist_path=) keeps it current over "
            "accepted docs)",
            "operators/bpe.py, streaming/curate.py",
            "trained merge sequence EXACTLY matches an independent "
            "naive reference trainer (full recount per iteration - a "
            "different algorithm, so an incremental-maintenance bug "
            "diverges the sequence); encode matches the reference "
            "greedy encoder word-for-word; decode roundtrip lossless; "
            "OOV falls back to chars; deterministic across trains; "
            "min_count/max_types governors; save/load identical; "
            "histogram ONE-Exchange and encode zero-Exchange plan "
            "gates; DuckDB oracles sf0.01: the histogram "
            "('bpe_histogram') AND the distributed encode path "
            "('bpe_token_counts': per-doc true token counts vs "
            "tokenize + registered word->n_tok map join), re-checked "
            "at sf1 in the bench artifact; WordHistogram accumulate "
            "== whole-build, replay overwrites, load(exclude_batch) "
            "as-of, compact keeps in-flight hideable, trained-from-"
            "accumulated == whole-corpus merges; sink-maintained "
            "histogram == rebuild over accepted under replay "
            "(tests/test_bpe.py, test_streaming_curate.py)"),
    "D28": ("Gopher quality rules (gopher_quality_profile - Rae et "
            "al. 2021 appendix A1.1: word-count bounds, mean word "
            "length, symbol-to-word ratio, bullet/ellipsis line "
            "fractions, alphabetic-word fraction, required stop "
            "words; all seven signals + pass flag as pure built-in "
            "column arithmetic over ONE staged token array - zero "
            "shuffle, zero Python, thresholds as keyword args; funnel "
            "stage 2b* gopher_low_quality via drop_gopher=True + "
            "gopher_thresholds= overrides)",
            "operators/text.py, pipeline.py",
            "planted docs violating each rule individually flip "
            "exactly that signal (floor/ceiling word counts, sub-3 "
            "mean word length, symbol-ratio counting conventions, "
            "bullet prefixes, ellipsis endings, alpha dilution, "
            "stop-hits boundary); empty/null docs fail closed; funnel "
            "opt-in gates (off-by-default, disjoint reason, override "
            "flips, overrides-without-flag raises); "
            "zero-Exchange/no-Python plan gates; DuckDB oracle "
            "sf0.01 (pytest 'gopher_quality') + sf1 (bench "
            "re-check) over every signal AND the pass flag "
            "(tests/test_text_quality.py::TestGopherQuality)"),
    "D29": ("corpus datasheet (corpus_datasheet - Gebru et al. 2021 "
            "'Datasheets for Datasets'; the per-(source, lang) "
            "composition table: counts, token mass, EXACT length "
            "quantiles via percentile (not the engine-specific approx "
            "sketch - a datasheet runs once per release and the group "
            "count is sources x languages), exact-dup rate via "
            "count-distinct md5, token_share via a group-count-sized "
            "window - ONE grouped pass, no driver loop)",
            "operators/datasheet.py",
            "hand-computed cells on a constructed corpus (counts, "
            "token mass, 0.9-quantile linear interpolation pinned, "
            "dup_frac edge, token_share conserves to 1.0); no-Python "
            "plan gate with bounded Exchange budget; DuckDB oracle "
            "sf0.01 (pytest 'corpus_datasheet' - quantile_cont "
            "interpolates identically to Spark percentile) + sf1 "
            "(bench re-check) (tests/test_datasheet.py)"),
    "D30": ("CCNet perplexity bucketing (ppl_buckets_by_rank/"
            "ppl_cutoffs/apply_ppl_cutoffs - Wenzek et al. 2020 "
            "SS4.4: per-language head/middle/tail perplexity "
            "tertiles over the D19 reference LM; the rank form is "
            "NTILE(3) over the engine-portable rounded ppl, the "
            "cutoff form is a broadcast per-language threshold "
            "table applied map-only - the 100 TB path)",
            "operators/lm.py",
            "hand 3/3/3 tertiles + NULL out-of-band; cutoff-vs-rank "
            "agreement away from boundary ties; broadcast/no-"
            "Exchange plan gate on the apply path; DuckDB oracle "
            "sf0.01 (pytest 'ccnet_ppl_buckets': DuckDB re-derives "
            "scoring, rounding AND the identical NTILE window from "
            "raw text + exported count tables) + sf1 (bench "
            "re-check) (tests/test_lm.py::TestCcnetBuckets)"),
    "D31": ("training-example packing (pack_examples - tokenize -> "
            "FFD-pack on TRUE subword lengths -> slot-ordered "
            "concatenated token streams with per-doc EOS; the last "
            "mile feeding export_shards)",
            "operators/packing.py",
            "token conservation (every encoded token exactly once "
            "across streams, EOS count == doc count); budget "
            "(len(tokens) == n_tokens <= budget unless oversize "
            "singleton); slot-order stream == hand-rebuilt member "
            "concat; deterministic across input partitionings; "
            "eos=None mode (tests/test_training_export.py::"
            "TestPackExamples)"),
    "D32": ("SoftDedup reweighting (soft_dedup_weights + "
            "mix_by_weight - He et al. 2024, arXiv:2407.06654: "
            "duplicates are down-weighted by content multiplicity "
            "(weight = commonness^-alpha), not deleted; "
            "mix_by_weight realizes the deterministic weighted "
            "mixture as a zero-Exchange map fanout, also usable "
            "for any per-row curriculum weight)",
            "operators/dedup.py, operators/sampling.py",
            "hand commonness/weight across the alpha family; "
            "whitespace/case canonicalization (normalize=False "
            "splits); per-cluster expected epoch mass ~1 under "
            "alpha=1; mix mechanics (floor+fractional draw, "
            "epoch indices, NULL/0 drop, determinism across "
            "partitionings); zero-Exchange plan gate; DuckDB "
            "oracle sf0.01 (pytest 'soft_dedup': normalization, "
            "fingerprint window, power-law weight, salted draw "
            "AND epoch explosion re-derived) + sf1 (bench "
            "re-check) (tests/test_training_export.py::"
            "TestSoftDedup)"),
    "D33": ("contamination report (contamination_report - the "
            "per-benchmark-document leakage table model cards "
            "publish: n_grams, n_hit, overlap_frac, contaminated "
            "per eval doc; the reporting twin of D11's links)",
            "operators/contamination.py",
            "planted full/partial/clean/sub-n benchmark docs report "
            "exact overlap fractions (partial = span-interior gram "
            "count), NULL out-of-band for sub-n docs; min_hits "
            "boundary exact (18 grams: fires at 18, not 19); "
            "raw == xxhash64; corpus side reduces through the "
            "broadcast bench-gram set (BroadcastHashJoin, zero "
            "SortMergeJoin plan gate); DuckDB oracle sf0.01 "
            "(pytest 'contamination_report') + sf1 (bench "
            "re-check) (tests/test_text_quality.py::"
            "TestContaminationReport)"),
    "D34": ("tokenizer fertility report (tokenizer_fertility - "
            "per-(source, lang) subword tokens per word + chars "
            "per token, the BLOOM/XLM-R tokenizer-fit metric that "
            "prices a tokenizer against a mixture before training)",
            "operators/bpe.py",
            "hand arithmetic on a constructed corpus (fertility "
            "1.0 with a full merge, chars_per_token, zero-word "
            "group NULL); a tokenizer trained on group A shows "
            "strictly higher fertility on unseen group B (chars "
            "fallback); DuckDB oracle sf0.01 (pytest "
            "'tokenizer_fertility': tokenize + word-map join + "
            "group sums re-derived from raw text) + sf1 (bench "
            "re-check) (tests/test_bpe.py::TestTokenizerFertility)"),
    "D35": ("incremental commonness index (CommonnessIndex "
            "init/load/append_batch/compact/weights + "
            "CurationSink(commonness_path=) - streaming SoftDedup "
            "state: content-fingerprint counts batch-partitioned "
            "with the bloom/LM replay-exclusion discipline; "
            "weights() prices a batch against accumulated history "
            "with two broadcast joins, batch-bounded)",
            "operators/commonness.py, streaming/curate.py",
            "accumulate == one-shot soft_dedup_weights on the "
            "union; replay overwrites (never double counts); "
            "load(exclude_batch) as-of; compact lossless with the "
            "in-flight batch hideable, double-compact lossless; "
            "never-seen content keeps full weight; md5 == "
            "xxhash64; normalize convention pinned in meta and "
            "survives persistence; broadcast-only weights plan; "
            "sink-maintained weights == one-shot under replay; "
            "compact_every folds committed partitions "
            "(tests/test_commonness.py, "
            "test_streaming_curate.py::TestCommonnessMaintenance)"),
    "D36": ("URL/domain blocklist gate (url_host / "
            "registrable_domain / synthetic_url / domain_gate / "
            "domain_gate_frame / domain_profile + "
            "curate_annotated(blocked_domains=/allowed_domains=/"
            "url_col=) stage-0 'blocked_domain' + "
            "CurationSink(blocklist_path=/allowlist_path=) - the "
            "CCNet/RefinedWeb/Dolma origin filter, the one "
            "curation stage every published web pipeline runs "
            "BEFORE content inspection; round-14 verdict #3)",
            "operators/domains.py, operators/pipeline.py, "
            "streaming/curate.py",
            "host/registrable-domain extraction on crafted URLs "
            "(userinfo, ports, schemes, non-URLs -> ''), the "
            "documented naive-eTLD limitation pinned; literal "
            "lists == DataFrame lists; block-wins-over-allow; "
            "allowlist rejects unattributable rows, pure "
            "blocklist passes them; literal gate zero-Exchange "
            "plan gate, frame gate broadcast-only (corpus side "
            "never shuffles); funnel: stage 0 precedes every "
            "content gate, disjoint reason, partitions input; "
            "sink: stored blocklist gates every micro-batch, "
            "blocked rows leak into NO store, replay-identical; "
            "DuckDB oracle sf0.01 (pytest 'domain_gate': "
            "synthetic URL, host+domain extraction AND verdict "
            "re-derived in SQL) + sf1 (bench re-check as "
            "extra_queries['domain_gate']) "
            "(tests/test_domains.py)"),
}


def main() -> None:
    reg = load_all()
    by_tag = defaultdict(list)
    for name, q in sorted(reg.items()):
        for t in q.tags:
            by_tag[t].append(name + ("" if q.sql else " (rows-only)"))

    lines = [
        "# COVERAGE - SURVEY.md §2 inventory -> implementation",
        "",
        "Generated by scripts/gen_coverage.py from the declared-query",
        "registry. 'queries' are entries in `__spark_entry__.queries()`;",
        "rows marked (rows-only) have no DuckDB oracle (engine-specific",
        "hashing / iterative algorithms) and are gated by property tests",
        "instead.",
        "",
        "| id | operator | declared queries | notes / non-query coverage |",
        "|---|---|---|---|",
    ]
    missing = []
    for oid, label in INVENTORY.items():
        qs = ", ".join(f"`{q}`" for q in by_tag.get(oid, []))
        extra = EXTRA.get(oid, "")
        if not qs and not extra:
            missing.append(oid)
        lines.append(f"| {oid} | {label} | {qs} | {extra} |")
    lines.append("")
    lines.append("## Tier D — depth operators (SURVEY §2.5, non-declared)")
    lines.append("")
    lines.append("| id | operator | module | test / bench coverage |")
    lines.append("|---|---|---|---|")
    for did, (label, module, cover) in TIER_D.items():
        lines.append(f"| {did} | {label} | {module} | {cover} |")
    lines.append("")
    n_q = len(reg)
    n_oracle = sum(1 for q in reg.values() if q.sql)
    lines.append(
        f"**Totals**: {n_q} declared queries ({n_oracle} oracle-matched, "
        f"{n_q - n_oracle} rows-only) + 23 pytest-oracled tier-D queries "
        "(`repetition_signals`, `decontam_ngram13`, `decontam_jaccard`, "
        "`quality_report`, `pii_redaction`, `sample_per_group`, "
        "`dedup_semantic`, `dedup_substring`, `dedup_lines`, "
        "`bm25_topk`, `dsir_select`, `quality_classifier`, "
        "`lm_perplexity`, `langid`, `fingerprint_winnow`, `bpe_token_counts`, `gopher_quality`, `corpus_datasheet`, `ccnet_ppl_buckets`, `soft_dedup`, `contamination_report`, `tokenizer_fertility`, `domain_gate` — the driver's 50-query verdict "
        "window is full, so their DuckDB oracles run in pytest through "
        "the same harness, and the bench re-checks them at sf1); "
        f"inventory rows uncovered: {missing or 'none'}."
    )
    with open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{n_q} queries, {n_oracle} oracle; missing: {missing}")


if __name__ == "__main__":
    main()
