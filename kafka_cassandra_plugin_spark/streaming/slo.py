"""Streaming SLO measurement against the reference's latency envelope.

The reference's operational envelope (BASELINE.md "streaming" rows,
derived from `plugin.properties:26,31` and `README.md:314`):

- **change-notification latency <= 1 s** — the poll-loop registry fires
  listeners at most one 500 ms poll period after a value changes
  (`CacheListenerRegistry.scala:85,94`), so 2x the poll period is the
  declared worst case.
- **leader failover <= 2.5 s** — lease TTL 2 s + one 500 ms renew
  period (`CassandraLeaderElection.scala:49-60`, `README.md:314`).

This module *measures* both on the engine's own streaming twins:

- :func:`measure_change_notification_latency` runs
  :func:`~.watch.watch_value_changes` on a live file-source stream with a
  real ``processingTime`` trigger at the reference's 500 ms cadence and
  wall-clocks file-visible -> listener-delivered per change.  This is the
  honest end-to-end number: source listing + micro-batch planning +
  stateful compare-and-fire + foreachBatch delivery.
- :func:`measure_lease_failover` replays a heartbeat history where the
  owner dies mid-stream through
  :func:`~.watch.leader_election_stream` (availableNow) and reads the
  failover gap *in event time* — virtual ``now``, per SURVEY §7.3.4:
  wall-clock lease tests are flaky by construction, while the event-time
  fold is deterministic and replayable, and the wall-clock add-on is
  exactly the (separately measured) notification latency.

Scale posture: both harnesses measure driver-visible latency in local
mode; on a real cluster the same query shapes apply, with source listing
and state-store access the terms that grow (document, don't hide).
"""

from __future__ import annotations

import os
import statistics
import time
import uuid
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .ops import replay_stream, run_to_memory
from .watch import leader_election_stream, watch_value_changes

_EVENT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("poll_ts", TimestampNTZType()),
    ]
)


def _write_event_file(src_dir: str, seq: int, key: str, value: str) -> float:
    """Write one single-row parquet event file atomically (tmp name
    starting with '.' is invisible to Spark's file-source listing; the
    rename publishes it).  Returns the wall-clock instant the file became
    visible — the latency clock's start."""
    ts = datetime.utcnow()
    table = pa.table(
        {
            "key": pa.array([key], type=pa.string()),
            "value": pa.array([value], type=pa.string()),
            "poll_ts": pa.array([ts], type=pa.timestamp("us")),
        }
    )
    tmp = os.path.join(src_dir, f".tmp_{seq}.parquet")
    pq.write_table(table, tmp)
    final = os.path.join(src_dir, f"evt_{seq:05d}.parquet")
    os.rename(tmp, final)
    return time.time()


def measure_change_notification_latency(
    spark: SparkSession,
    work_dir: str,
    *,
    n_events: int = 10,
    warmup: int = 2,
    trigger_ms: int = 500,
    state_partitions: int = 4,
    preload_keys: int = 0,
    timeout_s: float = 90.0,
) -> dict:
    """Wall-clock the change-notification path at the reference cadence.

    Drops one value-change file at a time into a file-source directory,
    runs ``watch_value_changes`` with a ``processingTime`` trigger of
    ``trigger_ms`` (reference poll period, `plugin.properties:31`), and
    records, per change, the delay from file-visible to
    foreachBatch-delivered.  Each event waits for its own delivery
    before the next is sent, so every reading is an isolated
    file->listener round-trip (no queueing artifacts).  The first
    ``warmup`` events are excluded from the stats (python worker +
    state store spin-up) but kept in ``raw``.

    ``state_partitions`` sizes ``spark.sql.shuffle.partitions`` for the
    stateful stage *of this query only* (the value is captured at query
    start and pinned in the checkpoint).  Sizing state partitions to the
    key cardinality is the normal production knob; the session default
    (32, tuned for sf0.1 batch scans) makes every micro-batch pay 32
    python-worker round-trips for a single-key stream, which alone
    exceeds the 500 ms poll budget.

    ``preload_keys`` > 0 first streams one bulk file of that many
    distinct keys through the query (counted as state population, not a
    measurement) so the per-change readings are taken against a LARGE
    resident state - the scale question for a stateful watcher is not
    the single-key round-trip but whether latency holds once the state
    store carries the full watched key-set (HDFS-backed state rewrites
    a per-partition snapshot each batch, so this is the term that grows).

    Returns ``{"n", "p50_s", "p90_s", "max_s", "raw", "trigger_ms"}``.
    """
    src_dir = os.path.join(work_dir, "src")
    os.makedirs(src_dir, exist_ok=True)
    ckpt = os.path.join(work_dir, f"ckpt_{uuid.uuid4().hex[:8]}")
    if preload_keys:
        ts = datetime.utcnow()
        bulk = pa.table(
            {
                "key": pa.array([f"bk{i}" for i in range(preload_keys)]),
                "value": pa.array(["bulk"] * preload_keys),
                "poll_ts": pa.array([ts] * preload_keys,
                                    type=pa.timestamp("us")),
            }
        )
        pq.write_table(bulk, os.path.join(src_dir, "evt_-1_preload.parquet"))

    recv: dict[str, float] = {}

    def deliver(batch_df, batch_id: int) -> None:
        vals = [r[0] for r in batch_df.select("new_value").collect()]
        now = time.time()
        for v in vals:
            recv.setdefault(v, now)

    stream = spark.readStream.schema(_EVENT_SCHEMA).parquet(src_dir)
    changes = watch_value_changes(stream, "key", "value", "poll_ts")
    shuffle_key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(shuffle_key)
    spark.conf.set(shuffle_key, str(state_partitions))
    try:
        q = (
            changes.writeStream.foreachBatch(deliver)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .start()
        )
    finally:
        spark.conf.set(shuffle_key, prior)
    sent: dict[str, float] = {}
    try:
        total = warmup + n_events
        for i in range(total):
            value = f"v{i}"
            sent[value] = _write_event_file(src_dir, i, "k", value)
            deadline = time.time() + timeout_s
            # wait for THIS change to land before sending the next, so
            # each measurement is an isolated file->listener round-trip
            while value not in recv and time.time() < deadline:
                time.sleep(0.02)
            if value not in recv:
                break
    finally:
        q.stop()
    missing = [v for v in sent if v not in recv]
    if missing:
        raise TimeoutError(
            f"change-notification: {len(missing)}/{len(sent)} events never "
            f"delivered within {timeout_s}s: {missing[:5]}"
        )
    raw = [recv[v] - sent[v] for v in sorted(sent, key=lambda s: int(s[1:]))]
    measured = raw[warmup:]
    measured_sorted = sorted(measured)
    return {
        "n": len(measured),
        "p50_s": round(statistics.median(measured), 3),
        "p90_s": round(
            measured_sorted[min(len(measured) - 1, int(0.9 * len(measured)))], 3
        ),
        "max_s": round(max(measured), 3),
        "raw": [round(x, 3) for x in raw],
        "trigger_ms": trigger_ms,
    }


def _funnel_doc_rows(rng, n: int, start_id: int,
                     vocab: list[str], tokens_per_doc: int):
    """Deterministic pseudo-text batch: each doc is ``tokens_per_doc``
    draws from ``vocab`` - distinct shingle sets (no accidental
    near-dup cliques), stable LM perplexity (all grams drawn from the
    reference vocabulary), unique content hashes."""
    return [
        (start_id + i,
         " ".join(rng.choice(vocab) for _ in range(tokens_per_doc)))
        for i in range(n)
    ]


def measure_funnel_cadence(
    spark: SparkSession,
    work_dir: str,
    *,
    n_batches: int = 6,
    warmup: int = 2,
    batch_rows: int = 200,
    trigger_ms: int = 500,
    max_ppl: float = 1e9,
    timeout_s: float = 900.0,
) -> dict:
    """Per-micro-batch wall time of :class:`.curate.CurationSink` with
    the FULL round-5 gate set enabled - quality + exact/near dedup +
    corpus-index probe + ``benchmarks_path`` (exact 13-gram
    decontamination) + ``seen_bloom_path`` (cross-run Bloom) +
    ``lm_path`` (perplexity band, incrementally accumulated) - running
    inside a real StreamingQuery at the reference's ``trigger_ms``
    cadence (`plugin.properties:31`: 500 ms).

    Each pre-written source file is one micro-batch
    (``maxFilesPerTrigger=1``); the sink call is wall-clocked per batch
    and the first ``warmup`` readings are excluded from the stats
    (index/model first-load, python worker spin-up) but kept in
    ``raw``.  The cadence verdict is mechanical: the funnel sustains
    the trigger iff the steady-state per-batch wall fits inside the
    trigger period (``sustains_trigger = p90_s <= trigger_ms/1000``);
    otherwise the reported p50 IS the sustainable cadence floor at this
    batch size - micro-batches queue, they are not dropped, so the
    pipeline degrades to throughput mode (rows/s =
    ``batch_rows / p50_s``) instead of missing data.

    Scale posture: the per-batch cost is dominated by fixed plan
    overheads (index load, ~15 short jobs for the gate chain) at small
    batches - measure two batch sizes to separate the floor from the
    per-row slope before sizing a production trigger.
    """
    import random

    from .curate import CurationSink
    from ..operators.dedup_index import MinHashIndex
    from ..operators.lm import NgramLM

    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(200)]
    seed_rows = _funnel_doc_rows(rng, 300, 1_000_000, vocab, 60)
    seed = spark.createDataFrame(seed_rows, "doc_id long, text string")

    idx_path = os.path.join(work_dir, "idx")
    MinHashIndex.build(seed).save(idx_path)
    lm_path = os.path.join(work_dir, "lm")
    NgramLM.fit(seed, n=3, k=0.1).save(lm_path)
    bench_path = os.path.join(work_dir, "bench")
    bench_rows = _funnel_doc_rows(rng, 50, 2_000_000, vocab, 60)
    spark.createDataFrame(
        bench_rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(bench_path)

    src_dir = os.path.join(work_dir, "src")
    os.makedirs(src_dir, exist_ok=True)
    total = warmup + n_batches
    for b in range(total):
        rows = _funnel_doc_rows(rng, batch_rows, b * batch_rows, vocab, 60)
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows], type=pa.string()),
            }
        )
        pq.write_table(table, os.path.join(src_dir, f"b_{b:05d}.parquet"))

    sink = CurationSink(
        idx_path, os.path.join(work_dir, "out"),
        benchmarks_path=bench_path,
        seen_bloom_path=os.path.join(work_dir, "bloom"),
        bloom_expected_items=1_000_000,
        lm_path=lm_path, lm_n=3, lm_k=0.1,
        min_quality=0.0, max_ppl=max_ppl,
    )
    walls: list[float] = []

    def timed(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        sink(batch_df, batch_id)
        walls.append(time.perf_counter() - t0)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    ckpt = os.path.join(work_dir, f"ckpt_{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.foreachBatch(timed)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while len(walls) < total and time.time() < deadline:
            time.sleep(0.1)
    finally:
        q.stop()
    if len(walls) < total:
        raise TimeoutError(
            f"funnel cadence: {len(walls)}/{total} micro-batches completed "
            f"within {timeout_s}s"
        )
    measured = walls[warmup:]
    ms = sorted(measured)
    p50 = statistics.median(measured)
    p90 = ms[min(len(ms) - 1, int(0.9 * len(ms)))]
    return {
        "n": len(measured),
        "batch_rows": batch_rows,
        "trigger_ms": trigger_ms,
        "p50_s": round(p50, 3),
        "p90_s": round(p90, 3),
        "max_s": round(max(measured), 3),
        "raw": [round(x, 3) for x in walls],
        "sustains_trigger": p90 <= trigger_ms / 1000.0,
        "sustainable_rows_per_s": round(batch_rows / p50, 1),
        "gates": ["quality", "ppl_out_of_band", "contaminated",
                  "seen_before", "exact_dup", "near_dup_batch",
                  "near_dup_corpus"],
        "phases": sink.phase_log,
    }


def _lease_history(
    t0: datetime,
    *,
    ttl_s: float,
    period_s: float,
    phase_s: float,
    owner_beats: int,
    horizon_s: float,
) -> list[tuple[str, str, datetime]]:
    """Heartbeat history: owner A renews every ``period_s`` then dies
    after ``owner_beats`` beats; contender B beats every ``period_s``
    offset by ``phase_s`` for the whole horizon."""
    rows: list[tuple[str, str, datetime]] = []
    for k in range(owner_beats):
        rows.append(("r", "A", t0 + timedelta(seconds=k * period_s)))
    k = 0
    while phase_s + k * period_s <= horizon_s:
        rows.append(("r", "B", t0 + timedelta(seconds=phase_s + k * period_s)))
        k += 1
    return rows


def measure_lease_failover(
    spark: SparkSession,
    work_dir: str,
    *,
    ttl_s: float = 2.0,
    period_s: float = 0.5,
    phases_s: tuple[float, ...] = (0.0, 0.1, 0.25, 0.4, 0.49),
    owner_beats: int = 6,
) -> dict:
    """Event-time lease-failover gap across contender phase offsets.

    For each phase offset, replays (availableNow) a history where owner A
    renews at the reference's 500 ms cadence then silently dies, while
    contender B keeps heartbeating at the same cadence shifted by the
    offset.  The failover gap is B's first accepted ``acquire`` ts minus
    A's last accepted beat ts — virtual now, fully deterministic.

    The possible gap range is [ttl, ttl + period): B cannot acquire
    before the TTL elapses, and beats often enough to acquire within one
    period after it.  Returns per-phase gaps plus the worst case.
    """
    t0 = datetime(2024, 1, 1)
    horizon_s = owner_beats * period_s + ttl_s + 2 * period_s + 1.0
    gaps: dict[str, float] = {}
    for phase in phases_s:
        rows = _lease_history(
            t0,
            ttl_s=ttl_s,
            period_s=period_s,
            phase_s=phase,
            owner_beats=owner_beats,
            horizon_s=horizon_s,
        )
        df = spark.createDataFrame(rows, "resource string, candidate string, ts timestamp_ntz")
        path = os.path.join(work_dir, f"hb_{uuid.uuid4().hex[:8]}")
        timeline = run_to_memory(
            leader_election_stream(
                replay_stream(spark, df, path), ttl_seconds=ttl_s
            )
        )
        pdf = timeline.toPandas()
        a_accepted = pdf[
            (pdf.candidate == "A") & (pdf.action.isin(["acquire", "renew"]))
        ]
        t_last_a = a_accepted.ts.max()
        b_acq = pdf[
            (pdf.candidate == "B")
            & (pdf.action == "acquire")
            & (pdf.ts > t_last_a)
        ]
        if b_acq.empty:
            raise AssertionError(
                f"phase {phase}: contender never acquired after owner death"
            )
        gaps[f"phase_{phase}"] = round(
            (b_acq.ts.min() - t_last_a).total_seconds(), 3
        )
    return {
        "ttl_s": ttl_s,
        "period_s": period_s,
        "worst_s": max(gaps.values()),
        "best_s": min(gaps.values()),
        "gaps": gaps,
    }
