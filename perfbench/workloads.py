"""The benchmark's workloads.  Each runs against the package's public
functions only and returns a :class:`Result`.

- ``batch``: closed loop, one client; relational, scalar-function,
  coverage and reference (KV/CAS/lease/CDC) declared queries, LLM-data
  declared queries and the composed ``pipeline_e2e`` chain.
- ``stream_notify``: open loop at a fixed change rate through
  ``watch_value_changes`` -> ``ListenerHub`` at the reference's 500 ms
  trigger.

Why each exists and which layer metric should move which end-to-end
metric is written down in README.md next to this file.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from . import datagen
from .trace import (
    TaskTotals,
    Tracer,
    beyond,
    cpu_ticks,
    group_jobs,
    jvm_pid,
    median,
    parse_event_log,
    percentile,
    retained_storage_mb,
    steal_share,
    vm_hwm_mb,
)

FIRST_QUERY = "agg_pricing_summary"
DRIVER_MEMORY = "1g"
BATCH_SCALE = 0.01
# Nominal length of one batch warm pass: the pass count is --seconds over
# this, but at least MIN_PASSES.  It is fixed by the arguments rather than
# by how fast the program runs, so every build is measured at the same
# warm-up state.
PASS_S = 10.0
MIN_PASSES = 2
# Untimed passes of the timed work itself before the timed ones: the
# correctness pass runs other plans (collect, not the noop write), and
# after it alone the first timed pass still ran 10-20 % slower than the
# third while the JIT caught up.
WARM_PASSES = 1
# Direct CurationSink calls in the traced stream_notify run (write-path
# layers).
CURATE_BATCHES = 3

# Declared queries of the batch workload: one or more per query module
# and operator family, kept short enough that set-up, the correctness
# pass and one warm pass fit the run budget (README.md, "Query lists").
BATCH_SQL = (
    "agg_pricing_summary", "join_star_revenue", "fn_string",
    "sql_entry_point", "kv_point_lookup", "cas_lifecycle",
    "cdc_value_changes",
)
BATCH_LLM = ("dedup_minhash_lsh", "sim_topk_bruteforce")
PIPELINE = "pipeline_e2e"

# stream_notify: the reference's 500 ms poll period, one file per 200 ms
# tick, keys uniform over the preloaded resident state.
TRIGGER_MS = 500
TICK_S = 0.2
PER_TICK = 5
STATE_KEYS = 1000
WARMUP_S = 15.0
DRAIN_S = 20.0


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    t_process: float
    tracer: Tracer = field(default_factory=Tracer)


# ------------------------------------------------------------------ session

def start_spark(ctx: Context):
    from kafka_cassandra_plugin_spark.session import get_spark

    overrides = {
        "spark.sql.shuffle.partitions": str(ctx.cpus),
        "spark.default.parallelism": str(ctx.cpus),
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # -Xms: the heap starts at its cap, so peak RSS does not depend
        # on when GC ergonomics grows it; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} "
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # The inputs are megabytes; the package default (8g, sized for
        # sf10) lets GC ergonomics, not the program, set the peak RSS.
        "spark.driver.memory": DRIVER_MEMORY,
    }
    if ctx.trace:
        events = os.path.join(ctx.work, "events")
        os.makedirs(events, exist_ok=True)
        overrides["spark.eventLog.enabled"] = "true"
        overrides["spark.eventLog.dir"] = "file://" + events
        overrides["spark.eventLog.compress"] = "false"
        overrides["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", master=f"local[{ctx.cpus}]",
                     overrides=overrides)


def _setup(ctx: Context, res: Result, ready_fn):
    """Set the program up once, cold: ``setup_s`` runs from process start
    (interpreter, imports, JVM launch, session start) until ``ready_fn``
    has returned.  Input generation is excluded (``ctx.t_process`` is
    moved past it)."""
    with ctx.tracer.span("session.start", ref="setup"):
        spark = start_spark(ctx)
    t1 = time.perf_counter()
    with ctx.tracer.span("session.ready", ref="setup"):
        state = ready_fn(spark)
    t2 = time.perf_counter()
    res.metrics["setup_s"] = (t2 - ctx.t_process, "s")
    res.layers["session.start_s"] = (t1 - ctx.t_process, "s")
    res.layers["session.ready_s"] = (t2 - t1, "s")
    return spark, state


def _note_steal(res: Result, ticks: tuple[int, int], window: str) -> None:
    share = steal_share(ticks, cpu_ticks())
    res.detail["host.steal_share"] = (share, "ratio")
    res.notes.append(f"host: CPU steal {share:.1%} of CPU time during "
                     f"{window}")


def _peak_rss(spark, res: Result) -> None:
    py, jvm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid(spark))
    res.metrics["peak_rss_mb"] = (py + jvm, "MB")
    res.notes.append(f"peak_rss_mb: python {py:.1f} + jvm {jvm:.1f}")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -------------------------------------------------------------------- batch

def _layer_of(q) -> str:
    mod = q.build.__module__.rsplit(".", 1)[-1]
    if mod != "llm_ops":
        return mod
    if q.name.startswith("dedup_"):
        return "dedup"
    if q.name.startswith("sim_"):
        return "similarity"
    return "llm_ops"


def _pipeline_chain(spark, data_dir: str, bpe, stages: dict | None = None):
    """curate_annotated -> soft_dedup_weights -> mix_by_weight ->
    pack_examples -> shard_assignments, as one lazy plan apart from the
    accepted-set checkpoint.  With ``stages`` each boundary is run to
    completion and timed, for the traced split."""
    from pyspark.sql import functions as F
    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators import pipeline as PL
    from kafka_cassandra_plugin_spark.operators.dedup import soft_dedup_weights
    from kafka_cassandra_plugin_spark.operators.export import shard_assignments
    from kafka_cassandra_plugin_spark.operators.packing import pack_examples
    from kafka_cassandra_plugin_spark.operators.sampling import mix_by_weight

    def boundary(name, df):
        if stages is None:
            return df
        t0 = time.perf_counter()
        df = df.localCheckpoint()
        stages[name] = (time.perf_counter() - t0, df.count())
        return df

    docs = Catalog(spark, data_dir).documents.select("doc_id", "text")
    t0 = time.perf_counter()
    # the chain's own stage boundary: accepted feeds two consumers
    accepted = PL.curate_annotated(docs).filter(
        F.col("reject_reason").isNull()).select("doc_id", "text"
                                                 ).localCheckpoint()
    if stages is not None:
        stages["pipeline.curate"] = (time.perf_counter() - t0,
                                     accepted.count())
    mixture = mix_by_weight(
        accepted.join(soft_dedup_weights(accepted), "doc_id"),
        "doc_id", "weight",
    ).select(F.concat_ws("#", "doc_id", "epoch").alias("mix_id"), "text")
    mixture = boundary("sampling.mix", mixture)
    packed = pack_examples(mixture, bpe, 2048, id_col="mix_id",
                           num_groups=16)
    packed = boundary("packing.pack", packed)
    staging = (
        shard_assignments(packed, n_shards=16, id_col="pack")
        .repartition(16, "shard")
        .sortWithinPartitions("shard", "__ord")
        .drop("__ord")
    )
    return {"docs": docs, "accepted": accepted, "mixture": mixture,
            "packed": packed, "staging": staging}


def _check_pipeline(spark, data_dir, bpe, res: Result) -> None:
    """Token conservation across pipeline_e2e (the invariants of
    tests/test_pipeline.py::TestPipelineE2E, on this run's inputs)."""
    from pyspark.sql import functions as F

    c = _pipeline_chain(spark, data_dir, bpe)
    n_docs, n_acc = c["docs"].count(), c["accepted"].count()
    res.check(0 < n_acc <= n_docs,
              f"pipeline: accepted {n_acc} of {n_docs} documents")
    mixture = c["mixture"].localCheckpoint()
    enc = bpe.encode(mixture, text_col="text", out_col="__toks")
    mix_tokens = enc.select(F.sum(F.size("__toks") + 1)).collect()[0][0]
    packed = c["packed"].localCheckpoint()
    p = packed.select(
        F.sum("n_tokens").alias("tokens"),
        F.sum((F.size("tokens") != F.col("n_tokens")).cast("int")).alias("bad"),
        F.sum((~F.col("oversize") & (F.col("n_tokens") > 2048)).cast("int")
              ).alias("over"),
        F.count(F.lit(1)).alias("packs"),
    ).collect()[0]
    res.check(mix_tokens == p["tokens"],
              f"pipeline: mixture tokens {mix_tokens} != packed {p['tokens']}")
    res.check(p["bad"] == 0, f"pipeline: {p['bad']} packs with "
              "len(tokens) != n_tokens")
    res.check(p["over"] == 0, f"pipeline: {p['over']} packs over budget")
    staged = c["staging"].select(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("pack").alias("d")).collect()[0]
    res.check(staged["n"] == p["packs"] == staged["d"],
              "pipeline: staging does not hold every pack exactly once")


def run_batch(ctx: Context) -> Result:
    from kafka_cassandra_plugin_spark import oracle
    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.queries import load_all

    res = Result()
    t_gen = time.perf_counter()
    data_dir = os.path.join(ctx.work, "data")
    rows = datagen.make_batch_tables(data_dir, ctx.seed, BATCH_SCALE)
    gen_s = time.perf_counter() - t_gen
    res.notes.append(f"inputs: seed {ctx.seed}, scale {BATCH_SCALE}, "
                     f"rows {rows}, generated in {gen_s:.2f} s "
                     "(excluded from setup_s)")
    ctx.t_process += gen_s  # input generation is not the program's set-up
    res.detail["catalog.input_mb"] = (sum(
        os.path.getsize(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)) / 2**20, "MB")
    registry = load_all()
    queries = [registry[n] for n in BATCH_SQL + BATCH_LLM]

    def ready(spark):
        Catalog(spark, data_dir).register_views()
        registry[FIRST_QUERY].build(spark, data_dir).write.format(
            "noop").mode("overwrite").save()

    spark, _ = _setup(ctx, res, ready)
    sc = spark.sparkContext

    # ---- correctness (untimed; also the warm-up pass)
    t_check = time.perf_counter()
    con = oracle.duck_connect(data_dir)
    sc.setJobGroup("check", "correctness pass")
    for q in queries:
        try:
            df = q.build(spark, data_dir)
            if q.sql is not None:
                oracle.compare(df, con, q.sql, q.name)
                res.check(True, q.name)
            else:
                n = df.count()
                res.check(n > 0, f"{q.name}: rows-only check got {n} rows")
        except Exception as e:  # one wrong query must not end the run
            res.check(False, f"{q.name}: {type(e).__name__}: {e}"[:400])
    con.close()
    t_queries = time.perf_counter()
    from kafka_cassandra_plugin_spark.operators.bpe import BpeTokenizer

    # fit-once tokenizer for pipeline_e2e, outside every timed region
    bpe = BpeTokenizer.train(
        Catalog(spark, data_dir).documents.select("doc_id", "text"),
        num_merges=64)
    t_bpe = time.perf_counter()
    try:
        _check_pipeline(spark, data_dir, bpe, res)
    except Exception as e:
        res.check(False, f"pipeline: {type(e).__name__}: {e}"[:400])
    sc.setJobGroup("idle", "between passes")
    t_end = time.perf_counter()
    res.notes.append(
        f"correctness pass {t_end - t_check:.1f} s (queries "
        f"{t_queries - t_check:.1f} s, tokenizer {t_bpe - t_queries:.1f} s, "
        f"pipeline check {t_end - t_bpe:.1f} s), ends "
        f"{t_end - ctx.t_process:.1f} s after process start")

    items = [(q.name, _layer_of(q), q) for q in queries]
    items.append((PIPELINE, "pipeline", None))

    def plan(q):
        if q is None:
            return _pipeline_chain(spark, data_dir, bpe)["staging"]
        return q.build(spark, data_dir)

    # ---- untimed warm passes of the same work
    t_warm = time.perf_counter()
    for n_pass in range(WARM_PASSES):
        for name, _, q in items:
            try:
                plan(q).write.format("noop").mode("overwrite").save()
            except Exception as e:
                res.check(False, f"{name} warm pass {n_pass}: "
                          f"{type(e).__name__}: {e}"[:400])
                continue
            res.attempted += 1
    res.notes.append(f"{WARM_PASSES} untimed warm pass(es) "
                     f"{time.perf_counter() - t_warm:.1f} s")

    # ---- timed warm passes, closed loop, a count fixed by ctx.seconds
    times: dict[str, list[tuple[float, float]]] = {n: [] for n, _, _ in items}
    per_pass: list[dict] = []
    storage: list[float] = []
    t_start, ticks = time.perf_counter(), cpu_ticks()
    n_passes = max(MIN_PASSES, round(ctx.seconds / PASS_S))
    for n_pass in range(n_passes):
        pass_rec = {"jobs": 0, "tasks": 0}
        with ctx.tracer.span("pass", ref=str(n_pass)):
            for name, layer, q in items:
                group = f"pass{n_pass}:{name}"
                if ctx.trace:
                    sc.setJobGroup(group, name)
                try:
                    with ctx.tracer.span(f"{layer}.build", ref=name):
                        t0 = time.perf_counter()
                        df = plan(q)
                        t1 = time.perf_counter()
                    with ctx.tracer.span(f"{layer}.exec", ref=name):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    times[name].append((t1 - t0, t2 - t1))
                except Exception as e:
                    res.check(False, f"{name} pass {n_pass}: "
                              f"{type(e).__name__}: {e}"[:400])
                    continue
                res.attempted += 1
                if ctx.trace:
                    jobs, tasks, failed = group_jobs(sc, group)
                    ctx.tracer.spans[-1].counts.update(
                        jobs=jobs, tasks=tasks, failed_tasks=failed)
                    pass_rec["jobs"] += jobs
                    pass_rec["tasks"] += tasks
        if ctx.trace:
            storage.append(retained_storage_mb(sc))
            sc.setJobGroup("idle", "between passes")
        per_pass.append(pass_rec)
    measured_s = time.perf_counter() - t_start
    _note_steal(res, ticks, "the timed passes")

    ok_items = [n for n, _, _ in items if times[n]]
    build = {n: median([b for b, _ in times[n]]) for n in ok_items}
    execs = {n: median([e for _, e in times[n]]) for n in ok_items}
    wall = sum(build[n] + execs[n] for n in ok_items)
    res.metrics["wall_s"] = (wall, "s")
    res.notes.append(
        f"wall_s: sum over {len(ok_items)} items of the per-item median "
        f"(build + noop write) over {n_passes} timed passes in "
        f"{measured_s:.1f} s; samples per item: {n_passes}")
    res.notes.append("per-item median build+exec s: " + ", ".join(
        f"{n} {build[n]:.3f}+{execs[n]:.3f}" for n in ok_items))
    res.notes.append("pass totals s: " + ", ".join(
        f"{sum(sum(times[n][p]) for n in ok_items if len(times[n]) > p):.3f}"
        for p in range(n_passes)))
    res.layers["build_s"] = (sum(build.values()), "s")
    res.layers["exec_s"] = (sum(execs.values()), "s")
    res.layers["trace.wall_s"] = (wall, "s")
    _peak_rss(spark, res)

    if ctx.trace:
        res.layers["spark.retained_storage_mb"] = (max(storage), "MB")
        res.layers["spark.jobs"] = (median([p["jobs"] for p in per_pass]),
                                    "count")
        res.layers["spark.tasks"] = (median([p["tasks"] for p in per_pass]),
                                     "count")
        stages: dict = {}
        sc.setJobGroup("staged", "pipeline_e2e staged")
        t0 = time.perf_counter()
        c = _pipeline_chain(spark, data_dir, bpe, stages=stages)
        t1 = time.perf_counter()
        c["staging"].write.format("noop").mode("overwrite").save()
        stages["export.shard"] = (time.perf_counter() - t1, None)
        fused = (round(build[PIPELINE] + execs[PIPELINE], 3)
                 if PIPELINE in build else None)
        _pipeline_layers(res, c, stages, fused, time.perf_counter() - t0)
        _lsh_precision(spark, data_dir, res)
        app_id = sc.applicationId
        stop_spark(spark)
        jobs = parse_event_log(os.path.join(ctx.work, "events"), app_id)
        _batch_event_layers(res, jobs, ctx.tracer.spans, items, build, execs,
                            n_passes)
    else:
        stop_spark(spark)
    return res


def _pipeline_layers(res, c, stages, fused, staged_total) -> None:
    for name in ("pipeline.curate", "sampling.mix", "packing.pack",
                 "export.shard"):
        res.detail[f"{name}_s"] = (stages[name][0], "s")
    n_docs = c["docs"].count()
    n_acc = stages["pipeline.curate"][1]
    res.detail["pipeline.accept_ratio"] = (n_acc / n_docs, "ratio")
    packed = c["packed"]
    agg = packed.selectExpr("sum(n_tokens) AS t", "count(1) AS n").collect()[0]
    res.detail["packing.fill_ratio"] = (agg["t"] / (agg["n"] * 2048.0),
                                         "ratio")
    res.notes.append(
        f"pipeline_e2e: staged stage-by-stage {staged_total:.3f} s vs fused "
        f"{fused} s (staging adds a checkpoint and count at every boundary)")


def _lsh_precision(spark, data_dir, res) -> None:
    """Verified near-duplicate pairs over MinHash LSH candidate pairs on
    the run's documents, at the dedup_minhash_lsh query's geometry (3-
    shingles, 64 md5 hashes, 16 bands of 4, jaccard >= 0.5)."""
    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators import dedup

    docs = Catalog(spark, data_dir).documents.select("doc_id", "text")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3,
                                    num_hashes=64, hash_fn="md5")
    n_cand = dedup.lsh_candidate_pairs(sigs, bands=16,
                                       rows_per_band=4).count()
    n_ver = dedup.minhash_lsh_dedup_pairs(
        docs, "text", "doc_id", n=3, num_hashes=64, bands=16,
        threshold=0.5, hash_fn="md5").count()
    res.detail["dedup.lsh_precision"] = (
        n_ver / n_cand if n_cand else 1.0, "ratio")
    res.notes.append(f"dedup.lsh_precision: {n_ver} verified of {n_cand} "
                     "candidate pairs")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _curate_probe(spark, ctx: Context, res: Result) -> list:
    """The write path, traced stream_notify run only, after the watch
    query has stopped: ``CurationSink.__call__`` with the
    full gate set of ``streaming.slo.measure_funnel_cadence`` (quality,
    exact and near dedup, corpus-index probe, 13-gram decontamination,
    cross-run Bloom, incrementally accumulated LM) on ``CURATE_BATCHES``
    static micro-batches cut from documents generated from the run's
    seed (the batch workload's generator).  A third of the
    documents seed the MinHash index and the LM; each later batch also
    re-sends a fifth of the previous one under new ids, so the dedup
    gates have work.  The first call pays the stores' first load and is
    left out of the medians.  Returns one (job group, start, end) window
    per call, for the job counts read from the event log."""
    from pyspark.sql import functions as F
    from kafka_cassandra_plugin_spark.catalog import Catalog
    from kafka_cassandra_plugin_spark.operators.dedup_index import MinHashIndex
    from kafka_cassandra_plugin_spark.operators.lm import NgramLM
    from kafka_cassandra_plugin_spark.streaming.curate import (
        CurationSink,
        accepted_dataset,
    )

    work = os.path.join(ctx.work, "curate")
    data_dir = os.path.join(work, "data")
    datagen.make_batch_tables(data_dir, ctx.seed, BATCH_SCALE)
    idx, lm, bench, out, bloom = (os.path.join(work, d) for d in
                                  ("idx", "lm", "bench", "out", "bloom"))
    docs = Catalog(spark, data_dir).documents.select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    MinHashIndex.build(corpus).save(idx)
    NgramLM.fit(corpus, n=3, k=0.1).save(lm)
    docs.filter(F.col("doc_id") % 50 == 1).write.parquet(bench)
    sink = CurationSink(
        idx, out, benchmarks_path=bench, seen_bloom_path=bloom,
        bloom_expected_items=1_000_000, lm_path=lm, lm_n=3, lm_k=0.1,
        min_quality=0.0, max_ppl=1e9)
    stores = (idx, out, bloom, lm)
    bytes_before = sum(_dir_bytes(p) for p in stores)
    sc = spark.sparkContext
    walls, windows, ingested, prev = [], [], 0, None
    for b in range(CURATE_BATCHES):
        batch = docs.filter((F.col("doc_id") % 3 != 0) & (
            (F.col("doc_id") / 3).cast("long") % CURATE_BATCHES == b))
        if prev is not None:
            batch = batch.unionByName(prev.filter(
                F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"))
        batch = batch.localCheckpoint()
        ingested += batch.count()
        group = f"curate{b}"
        sc.setJobGroup(group, "CurationSink batch")
        w0, t0 = time.time(), time.perf_counter()
        sink(batch, b)
        walls.append(time.perf_counter() - t0)
        windows.append((group, w0, time.time()))
        sc.setJobGroup("idle", "after curation batch")
        prev = batch
    totals = sink.funnel_totals
    accepted = totals.get("accepted", 0)
    res.check(sum(totals.values()) == ingested,
              f"curate: funnel {totals} does not sum to {ingested} ingested")
    n_out = accepted_dataset(spark, out).count()
    res.check(n_out == accepted,
              f"curate: {n_out} rows written, funnel accepted {accepted}")
    steady = walls[1:]
    res.detail["curate.sink_s"] = (median(steady), "s")
    res.detail["curate.accept_ratio"] = (accepted / ingested, "ratio")
    phases = sorted({k for ph in sink.phase_log[1:] for k in ph
                     if k != "batch_id"})
    for k in phases:
        res.detail[f"curate.phase.{k}"] = (median(
            [ph.get(k, 0.0) for ph in sink.phase_log[1:]]), "s")
    res.detail["dedup_index.bytes_per_accepted_row"] = (
        (sum(_dir_bytes(p) for p in stores) - bytes_before)
        / max(accepted, 1), "B")
    res.notes.append(
        f"curate: {CURATE_BATCHES} direct CurationSink calls, sink s "
        f"{[round(w, 3) for w in walls]} (first left out), {ingested} rows "
        f"ingested, funnel {totals}")
    return windows


def _curate_job_layers(res: Result, jobs, windows) -> None:
    totals = _attribute(jobs, windows)
    res.detail["curate.jobs_per_batch"] = (median(
        [totals.get(g, TaskTotals()).jobs for g, _, _ in windows[1:]]),
        "count")


def _attribute(jobs, windows):
    """Map event-log jobs to span windows: by job group when the job
    carried one of the windows' groups, else by submission time."""
    groups = {w[0] for w in windows}
    out: dict[str, TaskTotals] = {}
    for submit_ms, group, _desc, totals in jobs:
        key = group if group in groups else None
        if key is None:
            for g, lo, hi in windows:
                if lo <= submit_ms / 1000.0 <= hi:
                    key = g
                    break
        if key is not None:
            out.setdefault(key, TaskTotals()).add(totals)
    return out


def _batch_event_layers(res, jobs, spans, items, build, execs,
                        n_pass) -> None:
    # one window per (pass, item), spanning its build and exec spans
    windows = []
    pass_ids = [i for i, s in enumerate(spans) if s.name == "pass"]
    for p, pid in enumerate(pass_ids):
        kids = [s for s in spans if s.parent == pid]
        for name, _, _ in items:
            mine = [s for s in kids if s.ref == name]
            if mine:
                windows.append((f"pass{p}:{name}", mine[0].start,
                                mine[-1].end))
    totals = _attribute(jobs, windows)
    per_layer: dict[str, TaskTotals] = {}
    whole = TaskTotals()
    layer_of = {n: layer for n, layer, _ in items}
    for key, t in totals.items():
        name = key.split(":", 1)[1]
        per_layer.setdefault(layer_of[name], TaskTotals()).add(t)
        whole.add(t)
    per = max(n_pass, 1)
    exec_total = sum(execs.values()) + sum(build.values())
    res.layers["spark.task_cpu_s"] = (whole.cpu_s / per, "s")
    res.layers["spark.gc_s"] = (whole.gc_s / per, "s")
    res.layers["spark.shuffle_mb"] = (whole.shuffle_mb / per, "MB")
    res.layers["spark.spill_mb"] = (whole.spill_mb / per, "MB")
    res.layers["spark.failed_tasks"] = (whole.failed, "count")
    res.layers["spark.parallelism"] = (
        whole.run_s / per / exec_total if exec_total else 0.0, "ratio")
    for layer, t in sorted(per_layer.items()):
        names = [n for n, lay, _ in items if lay == layer]
        b = sum(build[n] for n in names if n in build)
        e = sum(execs[n] for n in names if n in execs)
        # exec spans sit directly under their pass span
        jobs_n = median([
            sum(s.counts.get("jobs", 0) for s in spans
                if s.name == f"{layer}.exec" and s.ref in names
                and spans[s.parent].ref == str(p))
            for p in range(n_pass)])
        res.detail[f"{layer}.build_s"] = (b, "s")
        res.detail[f"{layer}.exec_s"] = (e, "s")
        res.detail[f"{layer}.jobs"] = (jobs_n, "count")
        res.detail[f"{layer}.task_cpu_s"] = (t.cpu_s / per, "s")
        res.detail[f"{layer}.gc_s"] = (t.gc_s / per, "s")
        res.detail[f"{layer}.shuffle_mb"] = (t.shuffle_mb / per, "MB")
        res.detail[f"{layer}.spill_mb"] = (t.spill_mb / per, "MB")
        res.detail[f"{layer}.failed_tasks"] = (t.failed, "count")
        res.detail[f"{layer}.parallelism"] = (
            t.run_s / per / (b + e) if b + e else 0.0, "ratio")


# ------------------------------------------------------------------- stream

class _Recorder:
    """The benchmark's listener: stamps every delivered change."""

    def __init__(self):
        self.lock = threading.Lock()
        self.rows: list[tuple] = []  # (t_recv, batch, key, old, new, poll_ts)
        self.hub_s: list[float] = []
        self.batch_id = -1

    def listener(self, pdf) -> None:
        now = time.time()
        with self.lock:
            for k, o, n, ts in zip(pdf["key"], pdf["old_value"],
                                   pdf["new_value"], pdf["poll_ts"]):
                self.rows.append((now, self.batch_id, k, o, n, ts))

    def count(self) -> int:
        with self.lock:
            return len(self.rows)


def _write_tick(src: str, name: str, keys, values, stamps) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "key": pa.array(keys, pa.string()),
        "value": pa.array(values, pa.string()),
        "poll_ts": pa.array(stamps, pa.timestamp("us")),
    })
    tmp = os.path.join(src, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, f"{name}.parquet"))


def _start_watch(spark, ctx: Context, rec: _Recorder):
    from kafka_cassandra_plugin_spark.streaming import (
        ListenerHub,
        watch_value_changes,
    )

    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    keys = [datagen.key_name(k) for k in range(STATE_KEYS)]
    stamp = datetime(2024, 1, 1)
    _write_tick(src, "preload", keys, ["v0"] * STATE_KEYS,
                [stamp] * STATE_KEYS)
    hub = ListenerHub()
    hub.add_listener(rec.listener)

    def deliver(batch_df, batch_id):
        rec.batch_id = batch_id
        t0 = time.perf_counter()
        hub(batch_df, batch_id)
        rec.hub_s.append(time.perf_counter() - t0)

    stream = spark.readStream.schema(
        "key string, value string, poll_ts timestamp_ntz").parquet(src)
    q = (
        watch_value_changes(stream).writeStream.foreachBatch(deliver)
        .option("checkpointLocation", os.path.join(ctx.work, "ckpt"))
        .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while rec.count() < STATE_KEYS and time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"watch query failed: {q.exception()}")
        time.sleep(0.01)
    if rec.count() < STATE_KEYS:
        raise TimeoutError("resident-state preload was not delivered")
    return q, src


def run_stream_notify(ctx: Context) -> Result:
    res = Result()
    # the first WARMUP_S of changes are checked but not timed: trigger
    # cost keeps falling while the JIT compiles the streaming path
    n_warm = int(round(WARMUP_S / TICK_S))
    n_ticks = max(1, int(round(ctx.seconds / TICK_S)))
    schedule = datagen.notify_schedule(ctx.seed, STATE_KEYS, PER_TICK,
                                       n_warm + n_ticks)
    rec = _Recorder()
    spark, (q, src) = _setup(
        ctx, res, lambda spark: _start_watch(spark, ctx, rec))
    res.check(rec.count() == STATE_KEYS and all(
        r[3] is None and r[4] == "v0" for r in rec.rows),
        "preload: every resident key must fire once with old_value null")
    sc = spark.sparkContext
    preload_rows = rec.count()
    run_id = str(q.runId)

    # ---- open-loop generator: tick k is due at t0 + k * TICK_S
    scheduled: dict[str, float] = {}
    late: list[float] = []
    gen_err: list[BaseException] = []
    t0 = time.time() + TICK_S
    base_ts = datetime(2024, 1, 2)

    def generate():
        try:
            for k, tick in enumerate(schedule):
                due = t0 + k * TICK_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                stamps = [base_ts + timedelta(microseconds=c.seq)
                          for c in tick]
                _write_tick(src, f"t{k:06d}", [c.key for c in tick],
                            [c.value for c in tick], stamps)
                late.append(time.time() - due)
                for c in tick:
                    scheduled[c.value] = due
        except BaseException as e:  # surfaced below as a failed check
            gen_err.append(e)

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    window_start = t0 + n_warm * TICK_S
    time.sleep(max(0.0, window_start - time.time()))
    ticks = cpu_ticks()
    jobs_before = len(sc.statusTracker().getJobIdsForGroup(run_id))
    last_batch_before = q.lastProgress["batchId"] if q.lastProgress else 0
    gen.join(timeout=ctx.seconds + WARMUP_S + 30)
    expected = preload_rows + len(schedule) * PER_TICK
    deadline = time.time() + DRAIN_S
    while rec.count() < expected and time.time() < deadline:
        time.sleep(0.02)
    window_end = time.time()
    _note_steal(res, ticks, "the timed window")
    progress = [p for p in q.recentProgress
                if p["batchId"] > last_batch_before]
    jobs_after = len(sc.statusTracker().getJobIdsForGroup(run_id))
    retained = retained_storage_mb(sc)
    _peak_rss(spark, res)
    q.stop()
    res.check(not gen_err and not gen.is_alive(),
              f"generator failed: {gen_err[:1]}")

    # ---- correctness: exactly once, in order per key, old_value chain
    delivered = rec.rows[preload_rows:]
    by_value: dict[str, list[tuple]] = {}
    got_order: dict[str, list[str]] = {}
    for r in delivered:
        by_value.setdefault(r[4], []).append(r)
    for r in sorted(delivered, key=lambda r: (r[1], r[5])):
        got_order.setdefault(r[2], []).append(r[4])
    last: dict[str, str] = {}
    want_order: dict[str, list[str]] = {}
    delays = []
    for k, tick in enumerate(schedule):
        for c in tick:
            hits = by_value.get(c.value, [])
            prev = last.get(c.key, "v0")
            last[c.key] = c.value
            want_order.setdefault(c.key, []).append(c.value)
            ok = len(hits) == 1 and hits[0][2] == c.key and hits[0][3] == prev
            if res.check(ok, f"change {c.seq} ({c.key}={c.value}): "
                         f"{len(hits)} deliveries") and k >= n_warm:
                delays.append(hits[0][0] - scheduled[c.value])
    res.check(all(got_order.get(k) == v for k, v in want_order.items()),
              "per-key delivery order differs from generation order")
    extra = len(delivered) - len(schedule) * PER_TICK
    res.check(extra == 0, f"{extra} deliveries beyond the generated changes")

    n = len(delays)
    if n:
        p50, p95 = median(delays), percentile(delays, 95)
        res.metrics["wall_s"] = (p50, "s")
        res.layers["trace.wall_s"] = (p50, "s")
        res.detail["notify_p95_s"] = (p95, "s")
        res.notes.append(
            f"notify_p50_s {p50:.4f} s, notify_p95_s {p95:.4f} s over "
            f"n={n} changes ({beyond(n, 95)} beyond p95); "
            f"{PER_TICK / TICK_S:.0f} changes/s for {n_ticks * TICK_S:.1f} s "
            f"after {n_warm * TICK_S:.1f} s untimed, {STATE_KEYS} "
            "resident keys")
        if beyond(n, 95) < 10:
            res.notes.append("fewer than 10 samples beyond p95: raise "
                             "--seconds for a usable p95")

    # ---- per-trigger layers from StreamingQuery progress
    steady = [p for p in progress if p.get("numInputRows", 0) > 0]
    triggers = max(len(steady), 1)

    def dur(key):
        vals = [p["durationMs"].get(key, 0) for p in steady]
        return median(vals) if vals else 0.0

    res.layers["build_s"] = (dur("queryPlanning") / 1000.0, "s")
    res.layers["exec_s"] = (dur("addBatch") / 1000.0, "s")
    res.layers["spark.jobs"] = ((jobs_after - jobs_before) / triggers, "count")
    res.layers["spark.retained_storage_mb"] = (retained, "MB")
    res.detail["watch.trigger_ms"] = (dur("triggerExecution"), "ms")
    res.detail["watch.add_batch_ms"] = (dur("addBatch"), "ms")
    res.detail["watch.latest_offset_ms"] = (dur("latestOffset"), "ms")
    res.detail["watch.query_planning_ms"] = (dur("queryPlanning"), "ms")
    res.detail["watch.wal_commit_ms"] = (dur("walCommit"), "ms")
    ops = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    if ops:
        res.detail["watch.state_rows"] = (ops[-1]["numRowsTotal"], "count")
        res.detail["watch.state_mem_mb"] = (
            ops[-1]["memoryUsedBytes"] / 2**20, "MB")
        res.detail["watch.state_commit_ms"] = (
            median([o.get("commitTimeMs", 0) for o in ops]), "ms")
    ratios = [p["processedRowsPerSecond"] / p["inputRowsPerSecond"]
              for p in steady if p.get("inputRowsPerSecond")]
    if ratios:
        res.detail["watch.processed_per_input"] = (median(ratios), "ratio")
    timed_hub = rec.hub_s[len(rec.hub_s) - len(steady):]
    res.detail["hub.deliver_ms"] = (median(timed_hub or [0.0]) * 1000, "ms")
    res.detail["gen.late_max_s"] = (max(late) if late else 0.0, "s")
    res.notes.append(
        f"{len(steady)} triggers carried input in the timed window "
        f"(triggerExecution ms {[p['durationMs'].get('triggerExecution') for p in steady]}); "
        f"generator ran at most {max(late or [0]):.4f} s late")

    curate_windows = _curate_probe(spark, ctx, res) if ctx.trace else []
    app_id = sc.applicationId
    stop_spark(spark)
    if ctx.trace:
        jobs = parse_event_log(os.path.join(ctx.work, "events"), app_id)
        _curate_job_layers(res, jobs, curate_windows)
        tot = TaskTotals()
        for submit_ms, group, _d, t in jobs:
            if group == run_id and window_start <= submit_ms / 1e3 <= window_end:
                tot.add(t)
        add_s = sum(p["durationMs"].get("addBatch", 0) for p in steady) / 1e3
        res.layers["spark.tasks"] = (tot.tasks / triggers, "count")
        res.layers["spark.task_cpu_s"] = (tot.cpu_s / triggers, "s")
        res.layers["spark.gc_s"] = (tot.gc_s / triggers, "s")
        res.layers["spark.shuffle_mb"] = (tot.shuffle_mb / triggers, "MB")
        res.layers["spark.spill_mb"] = (tot.spill_mb / triggers, "MB")
        res.layers["spark.failed_tasks"] = (tot.failed, "count")
        res.layers["spark.parallelism"] = (
            tot.run_s / add_s if add_s else 0.0, "ratio")
    return res


WORKLOADS = {
    "batch": run_batch,
    "stream_notify": run_stream_notify,
}
