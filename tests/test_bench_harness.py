"""bench.py harness: every row is measured through ``measure_row`` (its
own Spark job group) and completed from the event log into one
``bench_metrics.json`` record per row; the recorded sf10 campaign rides
the payload as a summary block."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def write(tmp_path, name, payload):
    with open(tmp_path / name, "w") as f:
        json.dump(payload, f)


class TestMeasureRow:
    def test_jobs_land_in_the_rows_own_group(self, spark):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
        a = bench.measure_row(spark, "bench-test:a",
                              lambda: bench.materialize(df))
        b = bench.measure_row(spark, "bench-test:b",
                              lambda: spark.range(10).collect())
        ja = set(tracker.getJobIdsForGroup("bench-test:a"))
        jb = set(tracker.getJobIdsForGroup("bench-test:b"))
        assert a["jobs"] == len(ja) >= 1 and a["tasks"] >= 1
        assert b["jobs"] == len(jb) >= 1
        assert not ja & jb
        assert a["failed_tasks"] == b["failed_tasks"] == 0
        # the group ends with the row: later work lands in neither
        assert sc.getLocalProperty("spark.jobGroup.id") is None
        spark.range(10).collect()
        assert set(tracker.getJobIdsForGroup("bench-test:b")) == jb

    def test_compiles_counted_per_row(self, spark):
        """A row's first run compiles its generated classes; the same
        plan again finds them in the cache."""
        df = spark.range(0, 5, 1, 1).selectExpr("id * 104729 AS x")
        first = bench.measure_row(spark, "bench-test:compile-1",
                                  lambda: bench.materialize(df))
        again = bench.measure_row(spark, "bench-test:compile-2",
                                  lambda: bench.materialize(df))
        assert first["compiles"] >= 1
        assert again["compiles"] == 0

    def test_group_cleared_when_the_row_raises(self, spark):
        def boom():
            raise RuntimeError("row failed")

        try:
            bench.measure_row(spark, "bench-test:raises", boom)
        except RuntimeError:
            pass
        else:
            raise AssertionError("measure_row swallowed the row's error")
        assert spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id") is None


def _job(jid, group, stage):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": jid, "Stage IDs": [stage],
            "Properties": props}


def _task(stage, cpu_ns, gc_ms, shuffle_b, spill_b, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                "Memory Bytes Spilled": spill_b}}


class TestRowMetrics:
    def test_one_record_per_measured_row(self, tmp_path):
        mb = 2**20
        events = [
            _job(0, None, 0), _task(0, 9e9, 900, 0, 0),  # warmup, no group
            _job(1, "q_a", 1), _task(1, 1e9, 100, mb, 0),
            _task(1, 1e9, 0, mb, 2 * mb),
            _job(2, "q_b", 2), _task(2, 5e8, 50, 0, 0),
            _job(3, "q_a", 3), _task(3, 1e9, 0, 0, 0),
            _job(4, "other", 4), _task(4, 7e9, 0, 0, 0),
        ]
        (tmp_path / "local-1").write_text(
            "\n".join(json.dumps(e) for e in events) + "\n")
        rows = {name: {"wall_s": 1.0, "jobs": 1, "tasks": 1,
                       "failed_tasks": 0, "compiles": 3}
                for name in ("q_a", "q_b", "q_none")}
        out_path = tmp_path / "bench_metrics.json"
        bench.write_row_metrics(str(out_path), rows, str(tmp_path),
                                "local-1")
        out = json.loads(out_path.read_text())
        assert set(out) == {"q_a", "q_b", "q_none"}
        assert out["q_a"] == {"wall_s": 1.0, "jobs": 1, "tasks": 1,
                              "failed_tasks": 0, "compiles": 3,
                              "task_cpu_s": 3.0,
                              "gc_s": 0.1, "shuffle_mb": 2.0,
                              "spill_mb": 2.0}
        assert out["q_b"]["task_cpu_s"] == 0.5
        assert out["q_b"]["gc_s"] == 0.05
        # a row whose jobs are missing from the log reads zero, not absent
        assert out["q_none"]["task_cpu_s"] == 0.0


class TestLoadSf10Campaign:
    """Round-13: the recorded sf10 campaign artifact rides the bench
    payload (recorded, never re-run per-round)."""

    def test_missing_artifact_is_none(self, tmp_path):
        assert bench._load_sf10_campaign(str(tmp_path)) is None

    def test_committed_fallback_and_shape(self, tmp_path):
        """Round-15 verdict #8 payload diet: the block is a SUMMARY
        (totals + top growth rows + a pointer at the committed
        artifact), never the per-query dicts that blew the driver's
        parse budget in round 14."""
        camp = {"calib_s": 0.25, "text_mode": "perturb",
                "sf1": {"q": 1.0}, "sf10": {"q": 9.5},
                "growth": {"q": 9.5}, "flagged": [],
                "skipped": {"sf1": [], "sf10": []}}
        write(tmp_path, "SF10_CAMPAIGN.json", camp)
        block = bench._load_sf10_campaign(str(tmp_path))
        assert block["recorded"] is True
        # the campaign's host-speed probe is not carried into the block
        assert "campaign_calib_s" not in block
        # summary shape, not the raw tables
        assert "growth" not in block and "sf10" not in block
        assert block["sf1_total"] == 1.0
        assert block["sf10_total"] == 9.5
        assert block["growth_max"] == 9.5
        assert block["growth_top"] == {"q": 9.5}
        assert block["detail"] == "SF10_CAMPAIGN.json"
        # no queries/isolated keys a reader could take for sf0.1 rows
        dumped = json.dumps(block)
        assert '"queries"' not in dumped and '"isolated' not in dumped

    def test_scale_copy_preferred(self, tmp_path):
        (tmp_path / ".scale").mkdir()
        with open(tmp_path / ".scale" / "sf10_campaign.json", "w") as f:
            json.dump({"text_mode": "scale"}, f)
        write(tmp_path, "SF10_CAMPAIGN.json", {"text_mode": "committed"})
        assert bench._load_sf10_campaign(
            str(tmp_path))["text_mode"] == "scale"

    def test_unreadable_falls_through(self, tmp_path):
        (tmp_path / ".scale").mkdir()
        (tmp_path / ".scale" / "sf10_campaign.json").write_text("{broken")
        write(tmp_path, "SF10_CAMPAIGN.json", {"text_mode": "committed"})
        assert bench._load_sf10_campaign(
            str(tmp_path))["text_mode"] == "committed"
