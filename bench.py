#!/usr/bin/env python
"""Declared-query sweep: run every declared query and the extra rows at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) and print ONE JSON
line:

    {"metric": "...", "unit": "sec", "sf": <sf>,
     "queries": {"<name>": sec, ...}, "extra_queries": {...},
     "value": <sum of the declared rows>}

Each row runs once through the noop sink (full plan execution, no
driver collect, no disk write) inside its own Spark job group.  The run
keeps Spark's event log in a temporary directory and at the end writes
one record per row to ``bench_metrics.json``: wall, jobs, tasks, failed
tasks, generated classes compiled, task CPU, GC, shuffle and spill.
Jobs, tasks and compiles do not move with host load and task CPU moves
far less than wall, so a slow wall with unchanged counts reads as a
busy host, and changed counts read as a changed plan (or, for compiles,
a generated-code cache too small for the sweep).

``python3 perfbench/run.py`` is the benchmark of record; this is the
full 50-row sweep.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from kafka_cassandra_plugin_spark.queries import load_all  # noqa: E402
from kafka_cassandra_plugin_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)
from perfbench.trace import TaskTotals, group_jobs, parse_event_log  # noqa: E402


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def release_session_state() -> None:
    """Drop the previous query's pinned executor state between
    measurements.  ``localCheckpoint`` blocks are strongly held by the
    block manager until the JVM-side RDD object is collected, which
    waits on the PYTHON reference being collected first (py4j) - across
    a long multi-query session they accrete until a later broadcast
    build hits an exhausted heap ("Not enough memory to build and
    broadcast": the sf10 smoke died exactly this way on its 14th query
    while the same query passed standalone).  One gc.collect() per
    measurement lets Spark's ContextCleaner unpin the blocks."""
    import gc

    gc.collect()


def session(app: str, **overrides: str):
    """The harness session: ``local[N]`` with N from $SPARK_GRAFT_CPUS,
    else the host's CPU count, and 2N shuffle partitions.  ``overrides``
    are Spark confs and win over both."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "").strip()
            or os.cpu_count())
    conf = {"spark.sql.shuffle.partitions": str(2 * n), **overrides}
    return get_spark(app, master=f"local[{n}]", overrides=conf)


def measure_row(spark, name: str, run) -> dict:
    """Run one row under Spark job group ``name`` and return its wall
    seconds with the group's jobs, tasks and failed tasks (status
    tracker, read right after the row) and the classes the JVM compiled
    while it ran (``compiles``; a warm row that still compiles misses
    the generated-code cache).  A group's counts add up over calls, so
    give every measured run its own name."""
    sc = spark.sparkContext
    release_session_state()
    compiled = codegen_compiles(spark)
    sc.setJobGroup(name, name)
    t0 = time.perf_counter()
    try:
        run()
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs, tasks, failed = group_jobs(sc, name)
    return {"wall_s": round(wall, 3), "jobs": jobs, "tasks": tasks,
            "failed_tasks": failed,
            "compiles": codegen_compiles(spark) - compiled}


def write_row_metrics(path: str, rows: dict[str, dict], log_dir: str,
                      app_id: str) -> None:
    """Complete each ``measure_row`` record (keyed by its job group) with
    the task CPU, GC, shuffle and spill of the group's jobs in the
    application's event log, and write them to ``path`` as JSON."""
    totals = {name: TaskTotals() for name in rows}
    for _, group, _, t in parse_event_log(log_dir, app_id):
        if group in totals:
            totals[group].add(t)
    out = {
        name: {**rec,
               "task_cpu_s": round(totals[name].cpu_s, 3),
               "gc_s": round(totals[name].gc_s, 3),
               "shuffle_mb": round(totals[name].shuffle_mb, 3),
               "spill_mb": round(totals[name].spill_mb, 3)}
        for name, rec in rows.items()
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)


def _load_sf10_campaign(repo_dir: str) -> dict | None:
    """The recorded full-declared-set sf10 campaign, shaped for the
    payload's ``sf10_queries`` block; None when no artifact exists or
    it is unreadable.  Candidates: the live ``.scale/`` copy and the
    committed ``SF10_CAMPAIGN.json`` (.scale/ is gitignored and does
    not survive the driver's between-round cleanup) - the one COVERING
    MORE QUERIES wins, so a partial/older artifact can never shadow a
    full campaign (round-13 advice; partial ``--only`` runs also write
    to a separate ``sf10_campaign_partial.json`` now and carry
    ``only``/``n_queries`` markers, which are surfaced here)."""
    best, best_n = None, -1
    for cand in (os.path.join(repo_dir, ".scale", "sf10_campaign.json"),
                 os.path.join(repo_dir, "SF10_CAMPAIGN.json")):
        if not os.path.isfile(cand):
            continue
        try:
            with open(cand) as f:
                camp = json.load(f)
        except (OSError, ValueError):
            continue
        n = len(camp.get("sf10") or {})
        if n > best_n:
            best, best_n = camp, n
    if best is None:
        return None
    camp = best

    def _summ(sf1: dict | None, sf10: dict | None, growth: dict | None,
              top_n: int = 8) -> dict:
        """Totals + the top-N growth rows: the drive-by read of the
        campaign, with the full per-query tables staying in the
        committed SF10_CAMPAIGN.json."""
        out: dict = {}
        if sf1:
            out["sf1_total"] = round(sum(sf1.values()), 1)
        if sf10:
            out["sf10_total"] = round(sum(sf10.values()), 1)
        if growth:
            ranked = sorted(growth.items(), key=lambda kv: -kv[1])
            out["growth_max"] = round(ranked[0][1], 2)
            med = sorted(growth.values())[len(growth) // 2]
            out["growth_median"] = round(med, 2)
            out["growth_top"] = {k: round(v, 2)
                                 for k, v in ranked[:top_n]}
        return out

    # SUMMARY block only (round-15 verdict #8 payload diet): round 14's
    # printed line outgrew what the driver could parse (12887 bytes ->
    # parsed null) with the per-query sf1/sf10/growth dicts attached
    # 4x; the full tables live in the committed SF10_CAMPAIGN.json,
    # which the block points at.
    block = {
        "recorded": True,
        "text_mode": camp.get("text_mode"),
        "n_queries": camp.get("n_queries", best_n),
        "only": camp.get("only"),
        "flagged": camp.get("flagged"),
        "skipped": camp.get("skipped"),
        "detail": "SF10_CAMPAIGN.json",
    }
    block.update(_summ(camp.get("sf1"), camp.get("sf10"),
                       camp.get("growth")))
    ex = _summ(camp.get("extras_sf1"), camp.get("extras_sf10"),
               camp.get("extras_growth"), top_n=4)
    if ex:
        block["extras"] = ex
    for k in ("extras_flagged", "extras_skipped"):
        if camp.get(k):
            block[k] = camp[k]
    return block


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    registry = load_all()
    events = tempfile.mkdtemp(prefix="kcp-bench-events-")
    spark = session("kcp-bench", **{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })

    # warmup: touch every table + run the flagship once (JVM JIT, codegen,
    # parquet footer cache)
    registry["agg_pricing_summary"].build(spark, sf_dir).count()

    rows: dict[str, dict] = {}  # job group -> measure_row record

    def measure(group: str, run) -> float:
        rows[group] = measure_row(spark, group, run)
        return rows[group]["wall_s"]

    times = {name: measure(name, lambda: materialize(
                 registry[name].build(spark, sf_dir)))
             for name in sorted(registry)}

    # Non-declared side-by-side rows: the xxhash64 at-scale dedup variants
    # next to their md5-portable declared twins, so the oracle-hash tax is
    # measured every round instead of assumed, and the depth operators,
    # whose one-off fits run first as their own FIT_ROWS rows.  NOT
    # counted in `value`, which sums the declared set only.
    depth = _depth_ops(sf_dir)
    extra = {row: measure(row, lambda: depth[op](spark))
             for op, row in FIT_ROWS}
    extra_fns = {**_xxhash64_variants(sf_dir), **depth}
    extra.update({name: measure(name, lambda: materialize(fn(spark)))
                  for name, fn in extra_fns.items()})

    # `value` goes LAST, so a reader that keeps only the tail of stdout
    # (2000 chars) still gets the total.  The full payload is also written to bench_out.json,
    # REWRITTEN after every completed section: the sf1 smoke + oracle
    # add minutes, and an external timeout mid-run must not cost the
    # already-measured declared set.
    payload = {
        "metric": "declared_query_set_total_wall",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": times,
        "extra_queries": extra,
        "value": round(sum(times.values()), 3),
    }
    out_path = os.path.join(ROOT, "bench_out.json")

    def checkpoint_artifact() -> None:
        payload["value"] = payload.pop("value")
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)

    checkpoint_artifact()

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR",
                             os.path.join(ROOT, ".scale", "sf1"))
    if os.path.isdir(sf1_dir):
        sf1_times, sf1_skipped = _sf1_smoke(spark, sf1_dir, registry,
                                            measure)
        payload["sf1_queries"] = sf1_times
        if sf1_skipped:
            payload["sf1_skipped"] = sf1_skipped
        checkpoint_artifact()
        payload["sf1_oracle"] = _sf1_oracle(spark, sf1_dir, registry)
        checkpoint_artifact()

    # Attach the recorded sf10 campaign (scripts/sf10_campaign.py) when
    # one exists: all 50 declared queries at 100x the gated scale with
    # per-query growth vs a text-mode-matched sf1.  Attached, not re-run
    # — a full sf10 pass is a measurement campaign (~1 h), not a
    # per-round regression test.
    sf10_block = _load_sf10_campaign(ROOT)
    if sf10_block:
        payload["sf10_queries"] = sf10_block
        checkpoint_artifact()

    # the event log is complete once the application has stopped
    app_id = spark.sparkContext.applicationId
    spark.stop()
    try:
        write_row_metrics(os.path.join(ROOT, "bench_metrics.json"), rows,
                          events, app_id)
    finally:
        shutil.rmtree(events, ignore_errors=True)
    print(json.dumps(payload))


# Scale CORRECTNESS, not just scale wall-clock: the DuckDB oracle re-run
# at sf1 for the 10 most expensive oracle-checkable declared queries
# (the driver's correctness gate stops at sf0.1 - a wrong-answer bug
# that only manifests at scale, e.g. an overflow or a hash-collision
# regime change, would otherwise pass every round).  Budgeted like the
# smoke; cheap queries first so a budget truncation skips the most
# expensive collect, with explicit skip markers.
SF1_ORACLE = [
    "agg_pricing_summary", "join_star_revenue", "agg_stats_profile",
    "text_stats", "sim_topk_bruteforce", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "dedup_minhash_lsh", "dedup_simhash",
    "cas_lifecycle",
]


def _tier_d_oracle_pairs():
    """The pytest-oracled tier-D (build, sql) pairs, re-checked at sf1
    too (cheap first; decontam_jaccard excluded - its 64-hash MinHash
    SQL is quadratic-ish in DuckDB at sf1 and would eat the budget).
    ``dedup_semantic`` is an ORACLE-PAIR FACTORY (callable taking
    (spark, sf_dir, con) and returning (df, sql)): its DuckDB side
    needs the Spark-computed IVF cell assignment registered as a
    side table before the SQL can run."""
    from kafka_cassandra_plugin_spark.queries import llm_ops as L

    return {
        "sample_per_group": (L.sample_per_group, L.SAMPLE_PER_GROUP_SQL),
        "chunk_documents": (L.chunk_docs, L.CHUNK_DOCUMENTS_SQL),
        "pii_redaction": (L.pii_redaction, L.PII_REDACTION_SQL),
        "quality_report": (L.quality_report_by_group, L.QUALITY_REPORT_SQL),
        "repetition_signals": (L.repetition_signals,
                               L.REPETITION_SIGNALS_SQL),
        "decontam_ngram13": (L.decontam_ngram13, L.DECONTAM_NGRAM13_SQL),
        "dedup_semantic": L.semantic_dedup_oracle,
        # the reduced 16-hash family: same shingle/band/join/verify
        # logic as the declared 64-hash decontam_jaccard at a quarter
        # of the DuckDB hash cost - the sf1-budget variant (r5 brief #6)
        "decontam_jaccard16": (L.decontam_jaccard_16,
                               L.DECONTAM_JACCARD_SQL_16),
        # D20/D21 (round 6): sub-document dedup under the raw oracle key
        "dedup_substring": (L.dedup_substring_spans, L.DEDUP_SUBSTRING_SQL),
        "dedup_lines": (L.dedup_lines_boilerplate, L.DEDUP_LINES_SQL),
        # D22/D23 (round 6): retrieval + selection under portable keys
        "bm25_topk": (L.bm25_search, L.BM25_TOPK_SQL),
        "dsir_select": (L.dsir_selection, L.DSIR_SELECT_SQL),
        # D24: oracle-pair factory (fitted coefficients register as
        # DuckDB literal tables before the SQL runs, like dedup_semantic)
        "quality_classifier": L.quality_classifier_oracle,
        # D26 (round 9): winnowed selection under the md5-portable key
        "fingerprint_winnow": (L.fingerprint_winnow,
                               L.FINGERPRINT_WINNOW_SQL),
        # D29 (round 9): the composition datasheet — exact quantiles
        # so every cell re-derives (quantile_cont == Spark percentile)
        "corpus_datasheet": (L.corpus_datasheet_report,
                             L.CORPUS_DATASHEET_SQL),
        # D28 (round 9): the Gopher A1.1 quality rule block — pure
        # rational arithmetic over the shared token split, so DuckDB
        # re-derives every signal AND the pass flag from raw text
        "gopher_quality": (L.gopher_quality, L.GOPHER_QUALITY_SQL),
        # D27 (round 9): the distributed encode path against the
        # registered word->n_tok map (the merge loop itself is
        # reference-gated in test_bpe.py); the synthetic vocabulary is
        # tiny, so both sides are one tokenize + join + sum
        "bpe_token_counts": L.bpe_token_counts_oracle,
        # D19 (round 6): the fitted trigram count tables export the same
        # way (27k gram rows at sf1 - the rotate corpus bounds vocab)
        "lm_perplexity": L.lm_perplexity_oracle,
        # D25 (round 7): langid NB - dense model tables (B x L rows)
        # register as literals; DuckDB re-derives char-gram features,
        # the smoothed join, argmax, and the softmax from raw text
        "langid": L.langid_oracle,
        # D30 (round 9): CCNet head/middle/tail - DuckDB re-derives the
        # trigram scoring AND the per-language NTILE window (same LM
        # export as lm_perplexity, plus one window pass per side)
        "ccnet_ppl_buckets": L.ccnet_ppl_buckets_oracle,
        # D32 (round 9): SoftDedup - DuckDB re-derives normalization,
        # the md5 fingerprint window, the power-law weight, the salted
        # draw, and the epoch explosion (one window pass per side)
        "soft_dedup": (L.soft_dedup, L.SOFT_DEDUP_SQL),
        # D33 (round 9): the per-benchmark-doc leakage table - same
        # 13-gram machinery as decontam_ngram13, aggregated per bench
        "contamination_report": (L.contamination_report_q,
                                 L.CONTAMINATION_REPORT_SQL),
        # D34 (round 9): per-(source, lang) tokenizer fertility - the
        # D27 word-map export again, grouped instead of per-doc
        "tokenizer_fertility": L.tokenizer_fertility_oracle,
    }


def _sf1_oracle(spark, sf1_dir: str, registry,
                budget_s: float = 1480.0) -> dict:
    # budget raised 900 -> 1100 with the round-6 D22-D24 entries
    # (bm25 ~45 s, quality_classifier ~41 s, dsir ~6 s measured);
    # -> 1250 with the round-7 langid entry (DuckDB's side is ~30M
    # char-gram rows x L langs through the model join at sf1);
    # -> 1300 with the round-9 fingerprint_winnow entry (~2.5M md5
    # gram hashes + one window pass per side); -> 1330 with the
    # round-9 bpe_token_counts entry (one split+join+sum per side over
    # the tiny synthetic vocabulary); -> 1400 with the round-9
    # ccnet_ppl_buckets entry (the lm_perplexity scoring pass again
    # plus one per-language NTILE window per side); -> 1450 with the
    # round-9 soft_dedup + contamination_report entries (one window /
    # one gram-join pass per side); -> 1480 with the round-9
    # tokenizer_fertility entry (the D27 word-map join, grouped)
    from kafka_cassandra_plugin_spark import oracle

    budget_s = float(os.environ.get("SPARK_GRAFT_SF1_ORACLE_BUDGET", budget_s))
    con = oracle.duck_connect(sf1_dir)
    start = time.perf_counter()
    out = {}
    pairs = {n: (registry[n].build, registry[n].sql) for n in SF1_ORACLE}
    pairs.update(_tier_d_oracle_pairs())
    for name, entry in pairs.items():
        if time.perf_counter() - start > budget_s:
            out[name] = {"match": None, "rows": None, "err": "skipped_budget"}
            continue
        try:
            if callable(entry):  # oracle-pair factory (see _tier_d_oracle_pairs)
                df, sql = entry(spark, sf1_dir, con)
            else:
                build, sql = entry
                df = build(spark, sf1_dir)
            rows = oracle.compare(df, con, sql, name)
            out[name] = {"match": True, "rows": rows, "err": None}
        except Exception as ex:  # record, never abort the artifact
            out[name] = {"match": False, "rows": None, "err": str(ex)[:300]}
    con.close()
    return out


# The 10 most expensive declared queries (by BENCH_r03) + the depth
# extras, run ONCE each at sf1 (10x the gated scale) when the upsampled
# dataset exists (scripts/build_sf1.py).  This is the scale smoke: plan
# shape is verified by tests, but only a run shows growth.  Single-run
# by design; compare against ~10x the sf0.1 row and investigate
# anything materially super-linear.
SF1_SMOKE = [
    # sim_lsh_ann (the adaptive at-scale LSH) moved to the depth rows in
    # round 10 when its declared slot went to the portable twin; it
    # still smokes at sf1 through the depth loop under the same name
    "dedup_embedding_cosine", "dedup_ngram_jaccard",
    "sim_ivf_ann", "dedup_minhash_lsh", "dedup_simhash",
    "agg_stats_profile", "text_stats", "cas_lifecycle",
    "agg_pricing_summary", "join_star_revenue",
]


# One-off fit/build cost recorded SEPARATELY from the recurring row for
# every fit-once/score-many extra: each factory's first call runs its
# eager fit (MLlib LR, NB counts, postings persist, IVF KMeans, BPE
# merges) and returns the score plan LAZILY, so timing the bare call
# isolates the fit and the op's own row, run after it, is the recurring
# term (round-6 verdict: quality_classifier's 26.2 s sf1 row was ~24 s
# fit + ~2.3 s score).  (op, fit row) pairs; the returned plan is
# discarded.
FIT_ROWS = [
    ("sim_ivf_pq", "sim_ivf_pq[index_build]"),
    ("commonness_weights", "commonness_weights[index_build]"),
    ("bm25_topk", "bm25_topk[index_build]"),
    ("quality_classifier", "quality_classifier[fit]"),
    ("lm_perplexity", "lm_perplexity[fit]"),
    ("ccnet_buckets", "ccnet_buckets[fit]"),
    ("langid", "langid[fit]"),
    ("dedup_semantic", "dedup_semantic[index_build]"),
    ("bloom_filter_new", "bloom_filter_new[build]"),
    ("bpe_encode", "bpe_encode[fit]"),
]


def _sf1_smoke(spark, sf1_dir: str, registry, measure,
               budget_s: float = 600.0) -> tuple[dict, list[str]]:
    """Smoke at sf1, bounded by ``budget_s`` wall seconds (override:
    $SPARK_GRAFT_SF1_BUDGET).  Under pathological host load the smoke
    truncates rather than risk the whole bench run: completed rows are
    recorded, skipped names land in ``sf1_skipped`` - an explicit
    marker, never a silent gap.  ``measure(group, run)`` times each row
    under its own job group (``sf1:<row>``) and returns its wall."""
    from pyspark.sql import functions as F

    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators import similarity as S

    budget_s = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET", budget_s))
    start = time.perf_counter()
    times = {}
    skipped: list[str] = []

    def run_row(name: str, fn) -> None:
        if time.perf_counter() - start > budget_s:
            skipped.append(name)
        else:
            times[name] = measure("sf1:" + name, fn)

    # one-off index builds recorded separately: build-once/probe-many is
    # the IVF architecture, so the query rows below show PROBE cost (the
    # recurring term), not fit cost
    run_row("sim_ivf_ann[index_build]",
            lambda: registry["sim_ivf_ann"].build(spark, sf1_dir))

    for name in SF1_SMOKE:
        run_row(name, lambda: materialize(registry[name].build(spark,
                                                               sf1_dir)))

    # The declared brute-force build is quadratic BY CONSTRUCTION (its
    # query set is 10% of the corpus, so work = Q x N grows 100x at a
    # 10x scale-up - that is what "exact baseline" means, not a plan
    # defect).  The smoke row fixes the query count at 200 so it
    # measures corpus-scan growth (~linear) instead.
    e = Catalog(spark, sf1_dir).embeddings
    q200 = e.filter(F.col("vec_id") % 100 == 0)
    run_row("sim_topk_bruteforce[q200]",
            lambda: materialize(S.brute_force_topk(e, q200, k=10)))

    depth = _depth_ops(sf1_dir)
    for op, row in FIT_ROWS:
        run_row(row, lambda: depth[op](spark))
    for name, fn in depth.items():
        run_row(name, lambda: materialize(fn(spark)))
    return times, skipped


def _xxhash64_variants(sf_dir):
    """At-scale (xxhash64) twins of the md5-declared dedup queries -
    same corpus construction as the declared queries in
    queries/llm_ops.py, only the hash family differs."""
    from pyspark.sql import functions as F

    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators import dedup as D

    def minhash_xxh(spark):
        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        p = (
            d.filter((F.col("doc_id") % 4 == 0) & (F.instr("text", " ") > 0))
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        )
        return D.minhash_lsh_dedup_pairs(
            d.unionByName(p), "text", "doc_id", n=3, num_hashes=64,
            bands=16, threshold=0.5, hash_fn="xxhash64",
        )

    def simhash_xxh(spark):
        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        planted = d.unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        return D.simhash_near_pairs(
            planted, "text", "doc_id", max_hamming=3, hash_fn="xxhash64"
        )

    return {
        "dedup_minhash_lsh[xxhash64]": minhash_xxh,
        "dedup_simhash[xxhash64]": simhash_xxh,
    }


def _depth_ops(sf_dir):
    """Non-declared depth operators (round 3+): the end-to-end curation
    funnel and the IVF-PQ composition.  Tracked per round for perf
    visibility; not part of the driver-gated declared set (the 50-query
    registry is capped and alphabetically checked)."""
    from pyspark.sql import functions as F

    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators import pipeline as PL
    from kafka_cassandra_plugin_spark.operators import quantization as Q
    from kafka_cassandra_plugin_spark.operators.similarity import IvfIndex

    def curation_funnel(spark):
        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        return PL.curate_annotated(docs)

    def lsh_adaptive(spark):
        # the at-scale LSH (corpus-adaptive numpy path): its declared
        # slot went to the hash-matched portable twin in round 10 (the
        # driver's declared window is 50 queries), but this remains the
        # production default - per-round reading and the sf1 smoke row
        # continue under the same name
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            sim_lsh_ann,
        )

        return sim_lsh_ann(spark, sf_dir)

    def ivf_kmeans(spark):
        # the at-scale IVF (learned spherical-KMeans quantizer): its
        # declared slot went to the hash-matched sample-quantizer twin
        # in round 13 (the sim_lsh_ann precedent) - per-round reading
        # continues here
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            sim_ivf_ann_kmeans,
        )

        return sim_ivf_ann_kmeans(spark, sf_dir)

    def decontaminate(spark):
        # corpus vs a benchmark set with planted contamination (copies
        # of corpus docs, first word dropped) - the D6 scale shape:
        # benchmark side broadcast, corpus never reshuffles
        from kafka_cassandra_plugin_spark.operators.contamination import (
            decontaminate as _decon,
        )

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        # orderBy before limit: deterministic benchmark membership across
        # runs (an unordered limit may pick different rows)
        bench_set = docs.filter(F.col("doc_id") % 3 == 0).orderBy("doc_id").limit(50).unionByName(
            corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
            .orderBy("doc_id")
            .limit(25)
            .select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        )
        return _decon(corpus, bench_set, threshold=0.5)

    _state = {}

    def ivf_pq(spark):
        emb = Catalog(spark, sf_dir).embeddings
        if "idx" not in _state:  # build-once/probe-many, like sim_ivf_ann
            from kafka_cassandra_plugin_spark.operators.similarity import (
                adaptive_nlist,
            )
            nlist = adaptive_nlist(emb.count())
            _state["idx"] = IvfIndex.build(emb, nlist=nlist, seed=42)
            _state["cb"] = Q.PqCodebook.fit(emb, 64, m=8, k=64, seed=42)
        # serving batch pinned to the vec_id<2000 snapshot (round-14,
        # identity at sf0.1 - the declared ANN rows' growth-cap
        # convention, see sim_lsh_ann)
        q = emb.filter((F.col("vec_id") % 10 == 0)
                       & (F.col("vec_id") < 2000))
        return Q.ivf_pq_topk(_state["idx"], _state["cb"], q, k=10,
                             nprobe=10, shortlist=100)

    # D7-D9 training-export rows (round 5): the staging plan of the
    # deterministic shard export (assignment + the one shuffle + the
    # partition-local sort - everything but the parquet writer), the
    # single-scan weighted mixture, and the map-stage stratified sample.
    def shard_export_staging(spark):
        from kafka_cassandra_plugin_spark.operators.export import (
            shard_assignments,
        )

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        return (
            shard_assignments(docs, n_shards=16)
            .repartition(16, "shard")
            .sortWithinPartitions("shard", "__ord")
            .drop("__ord")
        )

    def mix(spark):
        from kafka_cassandra_plugin_spark.operators.sampling import mix_sources

        docs = Catalog(spark, sf_dir).documents.select(
            "doc_id", "text", "source"
        )
        weights = {f"src{i}": w for i, w in enumerate(
            [2.5, 0.5, 1.0, 8.0] + [1.0] * 16
        )}
        return mix_sources(docs, "doc_id", "source", weights)

    def stratified(spark):
        from kafka_cassandra_plugin_spark.operators.sampling import (
            stratified_sample,
        )

        docs = Catalog(spark, sf_dir).documents.select(
            "doc_id", "text", "lang"
        )
        return stratified_sample(
            docs, "doc_id", "lang",
            {"en": 0.25, "zh": 1.0, "es": 0.5}, default_fraction=0.1,
        )

    # D10/D11 rows (round 5): Gopher repetition signals (pure map
    # stage) and exact 13-gram-collision decontamination (broadcast
    # benchmark grams, map-only corpus explode; xxhash64 gram keys -
    # the at-scale default, vs the raw-string keys the pytest oracle
    # uses for engine portability).
    def repetition(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            repetition_signals,
        )

        return repetition_signals(spark, sf_dir)

    def quality_rep(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            quality_report_by_group,
        )

        return quality_report_by_group(spark, sf_dir)

    # D16 row (round 5): SemDeDup-style semantic dedup - cluster-blocked
    # exact-cosine pairs over embeddings + planted exact copies, reusing
    # a build-once IVF index (the daily-run shape; the one-off KMeans
    # fit is its own dedup_semantic[index_build] row, see FIT_ROWS).
    def semantic(spark):
        from kafka_cassandra_plugin_spark.operators.dedup import (
            semantic_dedup_pairs,
        )
        from kafka_cassandra_plugin_spark.operators.similarity import (
            adaptive_nlist,
        )

        emb = Catalog(spark, sf_dir).embeddings.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        corpus = emb.unionByName(
            emb.filter(F.col("id") % 10 == 0).select(
                (F.col("id") + 1_000_000).alias("id"), "vec"
            )
        )
        if "sem_idx" not in _state:
            _state["sem_idx"] = IvfIndex.build(
                corpus.select(F.col("id").alias("vec_id"),
                              F.col("vec").alias("embedding")),
                nlist=adaptive_nlist(corpus.count()), seed=42,
            )
        return semantic_dedup_pairs(corpus, threshold=0.99,
                                    index=_state["sem_idx"])

    # D17 row (round 5): token-window chunking (pack_sequences' oversize
    # bridge) - pure map stage, zero Exchange.
    def chunk(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import chunk_docs

        return chunk_docs(spark, sf_dir)

    # D14 row (round 5): exact deterministic per-stratum selection -
    # one lang shuffle, rank predicate pushed down (WindowGroupLimit).
    def per_group(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            sample_per_group,
        )

        return sample_per_group(spark, sf_dir)

    # D12 row (round 5): PII profile + redaction over planted
    # identifiers - regex built-ins, one map stage, zero Exchange.
    def pii(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import pii_redaction

        return pii_redaction(spark, sf_dir)

    def domain_gate_op(spark):
        from kafka_cassandra_plugin_spark.queries.llm_ops import (
            domain_gate_report,
        )

        return domain_gate_report(spark, sf_dir)

    def decontam_ngram(spark):
        from kafka_cassandra_plugin_spark.operators.contamination import (
            decontaminate_ngrams,
        )

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        bench_set = docs.filter(F.col("doc_id") % 3 == 0).orderBy("doc_id").limit(50).unionByName(
            corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
            .orderBy("doc_id")
            .limit(25)
            .select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            )
        )
        return decontaminate_ngrams(corpus, bench_set, n=13)

    # D18 row (round 5): Bloom cross-run exact-dedup probe - the filter
    # over 2/3 of the corpus is built ONCE (the persisted-sketch shape,
    # like the ANN indexes); the timed row is filter_new over a batch
    # that half-overlaps the filter, i.e. the daily-ingest probe.
    def bloom_probe(spark):
        from kafka_cassandra_plugin_spark.operators.bloom import BloomIndex

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "bloom" not in _state:
            accepted = docs.filter(F.col("doc_id") % 3 != 0)
            _state["bloom"] = BloomIndex.build(
                accepted, "doc_id",
                expected_items=max(1000, accepted.count()), fpp=0.01,
            )
            _state["bloom"].words.persist().count()  # build-once
        batch = docs.filter(F.col("doc_id") % 6 < 2)  # half seen, half new
        return _state["bloom"].filter_new(batch)

    # D19 row (round 5): n-gram LM perplexity scoring - the model fit
    # over 2/3 of the corpus happens ONCE (fit-once/score-many, like
    # the ANN indexes and the Bloom filter); the timed row is the
    # score+gate pass over the full corpus.
    def lm_ppl(spark):
        from kafka_cassandra_plugin_spark.operators.lm import NgramLM

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "lm" not in _state:
            _state["lm"] = NgramLM.fit(
                docs.filter(F.col("doc_id") % 3 != 0), n=3, k=0.1,
            )
            _state["lm"].grams.persist().count()
            _state["lm"].contexts.persist().count()
        return _state["lm"].perplexity(docs)

    # D20/D21 rows (round 6): exact substring-span dedup (Lee et al.
    # 2022 - window hash counts, canonical-exempt coverage, islands
    # fold) over documents + planted 25-token quotes; CCNet line dedup
    # over documents wrapped with shared header/footer boilerplate.
    # Both use the xxhash64 at-scale key; the raw-key oracle twins live
    # in tests/test_substring_dedup.py.
    def substring_spans(spark):
        from kafka_cassandra_plugin_spark.operators.substring import (
            duplicated_ngram_spans,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        toks = F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
        with_t = d.select("doc_id", toks.alias("t"))
        planted = with_t.filter(
            (F.col("doc_id") % 5 == 0) & (F.size("t") >= 25)
        ).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.array_join(F.slice("t", 1, 25), " "),
                F.lit(" uq"), F.col("doc_id").cast("string"),
            ).alias("text"),
        )
        return duplicated_ngram_spans(d.unionByName(planted), n=20)

    def line_dedup(spark):
        from kafka_cassandra_plugin_spark.operators.substring import (
            dedup_lines,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        corpus = d.select(
            "doc_id",
            F.concat(
                F.lit("shared header line\n"), F.col("text"),
                F.lit("\nfooter "), (F.col("doc_id") % 10).cast("string"),
            ).alias("text"),
        )
        return dedup_lines(corpus)

    # D22/D23 rows (round 6): BM25 top-10 over the corpus for the
    # doc_id%97 query probe set (fit-once/search-many like the ANN and
    # LM rows: the one-off index build is the bm25_topk[index_build]
    # row, the recurring search cost is this one); DSIR Gumbel top-200
    # against the src1 target slice.  Both use the xxhash64 at-scale keys; the portable
    # oracle twins live in tests/test_retrieval.py / test_selection.py
    # and the bench sf1 oracle.
    def bm25(spark):
        from kafka_cassandra_plugin_spark.operators.retrieval import (
            Bm25Index,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "bm25_idx" not in _state:
            idx = Bm25Index.build(d)
            idx.postings.persist().count()
            idx.docfreq.persist().count()
            idx.stats.persist().count()
            _state["bm25_idx"] = idx
        toks = F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        )
        queries = d.filter(F.col("doc_id") % 97 == 3).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 6), " ").alias("text"),
        )
        return _state["bm25_idx"].topk(queries, k=10)

    def bm25_maxdf(spark):
        # round-12: the GOVERNED serving shape (verdict #4) - same
        # index and query probe set as bm25_topk, with the
        # max_df_ratio stopword governor active (drops query terms
        # whose df exceeds 30% of the corpus BEFORE the postings join,
        # the knob that bounds the candidate stream when a query
        # contains corpus-stopword terms).  Recorded as its own
        # row so the governed path is measured every round: the
        # synthetic corpus's 31-word natural vocabulary
        # makes every non-marker term a stopword by df, so this row
        # exercises the governor's pruning, not a no-op branch.
        bm25(spark)  # ensure the shared index is built + persisted
        toks = F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        )
        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        queries = d.filter(F.col("doc_id") % 97 == 3).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 6), " ").alias("text"),
        )
        return _state["bm25_idx"].topk(queries, k=10, max_df_ratio=0.3)

    def dsir(spark):
        from kafka_cassandra_plugin_spark.operators.selection import (
            dsir_select,
        )

        d = Catalog(spark, sf_dir).documents.select(
            "doc_id", "text", "lang", "source")
        return dsir_select(
            d, d.filter(F.col("source") == "src1"), k=200
        ).select("doc_id", "lang", "source", "logw", "gumbel_key")

    # D25 row (round 7): language identification - the closed-form NB
    # fit is one-off (cached), the row is the recurring term: predict
    # (lang, confidence) for every document through the broadcast
    # dense model table.
    def lang_identify(spark):
        from kafka_cassandra_plugin_spark.operators.langid import (
            LangIdModel,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        if "lid" not in _state:
            _state["lid"] = LangIdModel.fit(d, buckets=4096)
            _state["lid"].table.persist().count()
            _state["lid"].priors.persist().count()
        return _state["lid"].predict(d.select("doc_id", "text"))

    # D24 row (round 6): hashed-ngram quality classifier - the MLlib
    # LR fit is one-off (cached like the ANN/LM fits), the row is the
    # recurring production term: score every document through the
    # broadcast weight table.
    def quality_clf(spark):
        from kafka_cassandra_plugin_spark.operators.classifier import (
            QualityClassifier,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        if "qclf" not in _state:
            _state["qclf"] = QualityClassifier.fit(
                d.filter(F.col("lang") == "en"),
                d.filter(F.col("lang") != "en"),
                buckets=4096,
            )
        return _state["qclf"].score(d.select("doc_id", "text"))

    # D26 row (round 9): winnowing fingerprints + MOSS pair scores in
    # one lineage (selection is the dominant term; the overlap join
    # rides the governed max_fp_docs cap) - xxhash64 at-scale keys; the
    # md5-portable oracle twins live in tests/test_fingerprint.py and
    # the bench sf1 oracle.
    def fingerprint(spark):
        from kafka_cassandra_plugin_spark.operators.fingerprint import (
            fingerprint_overlap,
            winnow_fingerprints,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        fps = winnow_fingerprints(d, k=4, w=4)
        return fingerprint_overlap(fps, max_fp_docs=64).filter(
            F.col("overlap") >= 0.5
        )

    # D27 row (round 9): BPE encode over the corpus - the train is
    # one-off (cached; driver merge loop over the tiny type table),
    # the row is the recurring term: the memoized pandas-UDF encode of
    # every document (the declared Python slow path, measured honest).
    def bpe_encode(spark):
        from kafka_cassandra_plugin_spark.operators.bpe import (
            BpeTokenizer,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "bpe" not in _state:
            _state["bpe"] = BpeTokenizer.train(d, num_merges=64)
        return _state["bpe"].token_count(d)

    # D28 row (round 9): the Gopher A1.1 quality rule block - pure
    # built-in map arithmetic, the zero-shuffle baseline among the
    # extra rows.
    def gopher(spark):
        from kafka_cassandra_plugin_spark.operators.text import (
            gopher_quality_profile,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        return gopher_quality_profile(d)

    # D30 row (round 9): the CCNet bucketing SCALE path - perplexity
    # scoring + the broadcast cutoff application (cutoffs precomputed
    # once into _state by the ccnet_buckets[fit] row; the LM is shared
    # with lm_perplexity's cached fit).
    def ccnet_buckets(spark):
        from kafka_cassandra_plugin_spark.operators.lm import (
            apply_ppl_cutoffs,
            ppl_cutoffs,
        )

        d = Catalog(spark, sf_dir).documents.select(
            "doc_id", "text", "lang")
        lm_ppl(spark)  # ensures _state["lm"] (lm_perplexity[fit])
        ppl = _state["lm"].perplexity(
            d.select("doc_id", "text")
        ).join(d.select("doc_id", "lang"), "doc_id")
        if "ppl_cuts" not in _state:
            _state["ppl_cuts"] = ppl_cutoffs(ppl).localCheckpoint()
        return apply_ppl_cutoffs(ppl, _state["ppl_cuts"])

    # D31 row (round 9): tokenize -> FFD-pack -> concatenated token
    # streams (the training-example last mile; shares the cached D27
    # tokenizer so the row isolates encode+pack+assemble).
    def pack_ex(spark):
        from kafka_cassandra_plugin_spark.operators.packing import (
            pack_examples,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "bpe" not in _state:
            from kafka_cassandra_plugin_spark.operators.bpe import (
                BpeTokenizer,
            )
            _state["bpe"] = BpeTokenizer.train(d, num_merges=64)
        return pack_examples(d, _state["bpe"], 2048)

    # D32 row (round 9): SoftDedup reweighting + realized mixture -
    # one fingerprint-window shuffle (xxhash64 at scale) + the
    # zero-Exchange weighted fanout.
    def soft_dd(spark):
        from kafka_cassandra_plugin_spark.operators.dedup import (
            soft_dedup_weights,
        )
        from kafka_cassandra_plugin_spark.operators.sampling import (
            mix_by_weight,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        corpus = d.unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        w = soft_dedup_weights(corpus, alpha=1.0)
        return mix_by_weight(w, "doc_id", "weight")

    # D33 row (round 9): the per-benchmark-doc leakage table.  The
    # BENCHMARK side is FIXED-SIZE (500 clean + 250 planted,
    # deterministic orderBy+limit like the decontaminate row): real
    # eval sets do not grow with the corpus, so the row measures
    # corpus-scan growth against a constant broadcast gram set - the
    # uncapped construction made the sf10 row broadcast a 167k-doc
    # "benchmark" (96 s, measuring an unrealistic shape).
    def contam_report(spark):
        from kafka_cassandra_plugin_spark.operators.contamination import (
            contamination_report,
        )

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        planted = (
            corpus.filter((F.col("doc_id") % 7 == 1)
                          & (F.instr("text", " ") > 0))
            .orderBy("doc_id").limit(250)
            .select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.expr("substring(text, instr(text, ' ') + 1)")
                .alias("text"),
            )
        )
        clean = docs.filter(F.col("doc_id") % 3 == 0).orderBy(
            "doc_id").limit(500)
        return contamination_report(
            corpus, planted.unionByName(clean), n=13)

    # D34 row (round 9): per-(source, lang) tokenizer fertility -
    # shares the cached D27 tokenizer; one encode pass + one tiny
    # group aggregate.
    def fertility(spark):
        from kafka_cassandra_plugin_spark.operators.bpe import (
            tokenizer_fertility,
        )

        d = Catalog(spark, sf_dir).documents.select(
            "doc_id", "text", "source", "lang")
        if "bpe" not in _state:
            from kafka_cassandra_plugin_spark.operators.bpe import (
                BpeTokenizer,
            )
            _state["bpe"] = BpeTokenizer.train(
                d.select("doc_id", "text"), num_merges=64)
        return tokenizer_fertility(d, _state["bpe"])

    # D35 row (round 9): batch weights priced against the ACCUMULATED
    # commonness index - build-once (two appends over a corpus split,
    # cached like every fit-once row), probe-many (the recurring term:
    # two broadcast joins, batch-bounded).
    def commonness_weights(spark):
        from kafka_cassandra_plugin_spark.operators.commonness import (
            CommonnessIndex,
        )

        d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "ci" not in _state:
            import tempfile

            path = tempfile.mkdtemp(prefix="kcp-bench-ci-")
            idx = CommonnessIndex.init(spark, path)
            idx = idx.append_batch(d.filter(F.col("doc_id") % 2 == 0), 0)
            idx = idx.append_batch(d.filter(F.col("doc_id") % 2 == 1), 1)
            _state["ci"] = idx
        batch = d.filter(F.col("doc_id") % 5 == 0)
        return _state["ci"].weights(batch)

    # Round-10 row (verdict #6): the COMPOSED training-data path as one
    # lazy plan - curation gates -> SoftDedup weights -> realized
    # weighted mixture -> BPE pack_examples -> deterministic shard
    # staging.  The per-stage rows above each price one link; this row
    # prices the chain a real pipeline runs nightly (token conservation
    # across the chain is pytest-gated:
    # tests/test_pipeline.py::TestPipelineE2E).  Shares the cached D27
    # tokenizer, whose one-off fit is the bpe_encode[fit] row.
    def pipeline_e2e(spark):
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

        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        if "bpe" not in _state:
            from kafka_cassandra_plugin_spark.operators.bpe import (
                BpeTokenizer,
            )
            _state["bpe"] = BpeTokenizer.train(docs, num_merges=64)
        annotated = PL.curate_annotated(docs)
        # accepted feeds TWO consumers (the SoftDedup fingerprint window
        # and the mixture join's left side); without materialization the
        # whole curation funnel replays for each - localCheckpoint is
        # the stage boundary a production pipeline would write to
        # storage (the fingerprint_overlap persist precedent).
        accepted = annotated.filter(
            F.col("reject_reason").isNull()).select(
                "doc_id", "text").localCheckpoint()
        mixture = mix_by_weight(
            accepted.join(soft_dedup_weights(accepted), "doc_id"),
            "doc_id", "weight",
        ).select(F.concat_ws("#", "doc_id", "epoch").alias("mix_id"),
                 "text")
        packed = pack_examples(mixture, _state["bpe"], 2048,
                               id_col="mix_id", num_groups=16)
        return (
            shard_assignments(packed, n_shards=16, id_col="pack")
            .repartition(16, "shard")
            .sortWithinPartitions("shard", "__ord")
            .drop("__ord")
        )

    return {"curation_funnel": curation_funnel, "sim_ivf_pq": ivf_pq,
            "sim_lsh_ann": lsh_adaptive,
            "sim_ivf_ann_kmeans": ivf_kmeans,
            "decontaminate": decontaminate,
            "shard_export[staging]": shard_export_staging,
            "mix_sources": mix, "stratified_sample": stratified,
            "repetition_signals": repetition,
            "quality_report": quality_rep,
            "decontaminate_ngram13": decontam_ngram,
            "pii_redaction": pii, "domain_gate": domain_gate_op,
            "sample_per_group": per_group,
            "dedup_semantic": semantic, "chunk_documents": chunk,
            "bloom_filter_new": bloom_probe, "lm_perplexity": lm_ppl,
            "dedup_substring": substring_spans, "dedup_lines": line_dedup,
            "bm25_topk": bm25, "bm25_topk[maxdf]": bm25_maxdf,
            "dsir_select": dsir,
            "quality_classifier": quality_clf, "langid": lang_identify,
            "fingerprint_winnow": fingerprint,
            "bpe_encode": bpe_encode, "gopher_quality": gopher,
            "ccnet_buckets": ccnet_buckets, "pack_examples": pack_ex,
            "soft_dedup": soft_dd, "contamination_report": contam_report,
            "tokenizer_fertility": fertility,
            "commonness_weights": commonness_weights,
            "pipeline_e2e": pipeline_e2e}


if __name__ == "__main__":
    main()
