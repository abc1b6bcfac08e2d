"""Measured streaming SLOs vs the reference's operational envelope.

BASELINE.md declares the reference's two latency targets (derived from
`plugin.properties:26,31` and `README.md:314`):

- change-notification latency <= 1 s (2x the 500 ms poll period),
- leader failover <= 2.5 s (lease TTL 2 s + one renew period).

These tests *measure* both on the engine's streaming twins
(kafka_cassandra_plugin_spark/streaming/slo.py) and gate them:

- notification latency is wall-clocked end-to-end on a live file-source
  stream with a real 500 ms processingTime trigger — the honest number
  including source listing, micro-batch planning, stateful
  compare-and-fire, and foreachBatch delivery.  Gate: p50 within the
  1 s target, max within 2 s (generous for CI wall-clock noise; the
  measured steady state is ~0.6 s p50 / ~0.8 s p90).
- lease failover is replayed in event time (virtual now, SURVEY
  §7.3.4) so it is deterministic: the gap must land in
  [ttl, ttl + period) for every contender phase offset, hence worst
  case <= 2.5 s exactly.
"""

from __future__ import annotations

import pytest

from kafka_cassandra_plugin_spark.streaming.slo import (
    measure_change_notification_latency,
    measure_lease_failover,
)


@pytest.mark.perfgate
class TestChangeNotificationLatency:
    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        work = str(tmp_path_factory.mktemp("slo_notif"))
        return measure_change_notification_latency(
            spark, work, n_events=8, warmup=2, trigger_ms=500
        )

    def test_all_events_delivered(self, result):
        assert result["n"] == 8

    def test_p50_within_reference_target(self, result):
        # reference envelope: <= 1 s (2x the 500 ms poll period)
        assert result["p50_s"] <= 1.0, result

    def test_max_within_generous_bound(self, result):
        # 2x the target to absorb CI wall-clock noise; steady state ~0.8 s
        assert result["max_s"] <= 2.0, result


@pytest.mark.perfgate
class TestChangeNotificationLatencyLargeState:
    """Same measurement against a LARGE resident state: 20k keys are
    bulk-streamed into the watcher first, then per-change latency is
    taken.  This is the scale claim - the state store (per-partition
    snapshot rewrite each batch) is the term that grows with watched
    keys, and it must not eat the 1 s envelope.  Measured: p50 ~0.70 s
    at 50k keys (vs ~0.59 s single-key)."""

    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        work = str(tmp_path_factory.mktemp("slo_notif_big"))
        return measure_change_notification_latency(
            spark, work, n_events=6, warmup=2, trigger_ms=500,
            preload_keys=20_000,
        )

    def test_p50_within_reference_target(self, result):
        assert result["p50_s"] <= 1.0, result

    def test_max_within_generous_bound(self, result):
        assert result["max_s"] <= 2.0, result


@pytest.mark.perfgate
class TestFunnelCadence:
    """Per-micro-batch wall of the FULL-gate CurationSink (quality +
    LM band + 13-gram decontamination + Bloom seen-filter + exact/near
    dedup + corpus-index probe) inside a real StreamingQuery at the
    reference's 500 ms trigger.  The funnel does NOT sustain 500 ms -
    its per-batch floor is index/model load + the ~15-job gate chain -
    so the artifact says explicitly whether the trigger is sustained,
    and the batch-200 floor claim (p50 <= 8 s, BASELINE.md) is gated on
    the same measurement, taken once in the suite's session at the
    floor's parameters (scripts/funnel_floor_probe.py shape)."""

    FLOOR_P50_S = 8.0

    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        from kafka_cassandra_plugin_spark.streaming.slo import (
            measure_funnel_cadence,
        )

        work = str(tmp_path_factory.mktemp("slo_funnel"))
        return measure_funnel_cadence(
            spark, work, n_batches=6, warmup=2, batch_rows=200,
            trigger_ms=500,
        )

    def test_all_batches_complete(self, result):
        assert result["n"] == 6
        assert len(result["raw"]) == 8  # warmup kept in raw

    def test_stats_coherent_and_verdict_recorded(self, result):
        assert 0 < result["p50_s"] <= result["max_s"]
        assert result["p50_s"] <= result["p90_s"] <= result["max_s"]
        assert isinstance(result["sustains_trigger"], bool)
        # mechanical consistency of the verdict with the stats
        assert result["sustains_trigger"] == (
            result["p90_s"] <= result["trigger_ms"] / 1000.0
        )
        assert result["sustainable_rows_per_s"] > 0

    def test_full_gate_set_declared(self, result):
        assert set(result["gates"]) >= {
            "ppl_out_of_band", "contaminated", "seen_before",
            "exact_dup", "near_dup_batch", "near_dup_corpus",
        }

    def test_floor_p50_within_target(self, result):
        assert result["p50_s"] <= self.FLOOR_P50_S, result


class TestLeaseFailover:
    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        work = str(tmp_path_factory.mktemp("slo_lease"))
        return measure_lease_failover(
            spark, work, ttl_s=2.0, period_s=0.5
        )

    def test_worst_case_within_reference_target(self, result):
        assert result["worst_s"] <= 2.5, result

    def test_each_gap_in_theoretical_band(self, result):
        # B cannot acquire before the TTL elapses, and beating every
        # `period` it acquires within one period after it: [ttl, ttl+period)
        for phase, gap in result["gaps"].items():
            assert 2.0 <= gap < 2.5, (phase, gap)

    def test_gap_tracks_phase_offset(self, result):
        # event-time replay is exact: gap = ttl rounded up to B's next beat
        assert result["gaps"]["phase_0.0"] == pytest.approx(2.0)
        assert result["gaps"]["phase_0.49"] == pytest.approx(2.49)
