"""Batch<->stream equivalence tests (SURVEY.md §2.3 harness): run the
same rows through a bounded file-source stream (availableNow) and compare
the final output against the batch formulation of the same query.

Covers: S1 (trigger cadence - availableNow stands in for processing-time
in bounded tests), S4 tumbling, S5 sliding, S6 session windows, S7
streaming dedup, S8 stateful value-watch vs the G29 lag formulation, S10
foreachBatch listener fan-out, S11 checkpointed parquet sink round-trip.
Plus the Kafka/Cassandra option-builder plumbing (G3/G4) that needs no
infrastructure.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark import sources
from kafka_cassandra_plugin_spark import streaming as ST
from kafka_cassandra_plugin_spark.catalog import Catalog
from kafka_cassandra_plugin_spark.operators import changes as C


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="kcp_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return Catalog(spark, sf_dir).events


@pytest.fixture(scope="module")
def events_stream(spark, events, tmpdir):
    return ST.replay_stream(spark, events, f"{tmpdir}/events_replay")


def canon(df, *order):
    return [tuple(str(x) for x in r) for r in df.orderBy(*order).collect()]


class TestWindowEquivalence:
    def test_tumbling(self, spark, events, events_stream):
        batch = ST.tumbling_window_agg(events, "6 hours", group_cols=("event_type",))
        stream = ST.tumbling_window_agg(events_stream, "6 hours", group_cols=("event_type",))
        # complete mode: append would withhold the final windows (the
        # watermark never passes them before the bounded stream ends)
        out = ST.run_to_memory(stream, output_mode="complete")
        assert canon(out, "w_start", "event_type") == canon(
            batch, "w_start", "event_type"
        )

    def test_sliding(self, spark, events, events_stream):
        batch = ST.sliding_window_agg(events, "12 hours", "6 hours")
        out = ST.run_to_memory(
            ST.sliding_window_agg(events_stream, "12 hours", "6 hours"),
            output_mode="complete",
        )
        assert canon(out, "w_start") == canon(batch, "w_start")

    def test_session(self, spark, events, events_stream):
        batch = ST.session_window_agg(events, "2 hours")
        out = ST.run_to_memory(
            ST.session_window_agg(events_stream, "2 hours"), output_mode="complete"
        )
        assert canon(out, "user_id", "s_start") == canon(batch, "user_id", "s_start")


class TestDedupEquivalence:
    def test_streaming_dedup_keys(self, spark, events, events_stream):
        keys = ["user_id", "event_type"]
        batch_keys = {
            tuple(r) for r in events.select(*keys).distinct().collect()
        }
        out = ST.run_to_memory(
            ST.streaming_dedup(events_stream, keys), output_mode="append"
        )
        stream_keys = {tuple(r) for r in out.select(*keys).collect()}
        # streaming dedup keeps exactly one row per live key
        assert stream_keys == batch_keys
        assert out.groupBy(*keys).count().filter("count > 1").count() == 0


class TestValueWatch:
    def test_stateful_watch_matches_lag_formulation(self, spark, events, events_stream):
        # stream: stateful last-value watcher; batch: the G29 lag window
        snapshots = events.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("ts").alias("poll_ts"),
        )
        batch = C.value_changes(snapshots, ["key"], "value", "poll_ts")
        stream_src = events_stream.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("ts").alias("poll_ts"),
        )
        out = ST.run_to_memory(
            ST.watch_value_changes(stream_src), output_mode="append"
        )
        assert canon(out, "key", "poll_ts") == canon(batch, "key", "poll_ts")


class TestListenerFanout:
    def test_foreach_batch_multicast(self, spark, events_stream, tmpdir):
        hub = ST.ListenerHub()
        seen_a, seen_b = [], []
        hub.add_listener(lambda pdf: seen_a.append(len(pdf)))
        hub.add_listener(lambda pdf: seen_b.append(len(pdf)))
        changes = ST.watch_value_changes(
            events_stream.select(
                F.col("user_id").cast("string").alias("key"),
                F.col("event_type").alias("value"),
                F.col("ts").alias("poll_ts"),
            )
        )
        q = (
            changes.writeStream.foreachBatch(hub)
            .option("checkpointLocation", f"{tmpdir}/ckpt_hub")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert sum(seen_a) > 0
        assert seen_a == seen_b  # every listener saw every batch (R13)

    def test_oversized_batch_is_capped(self, spark):
        """Driver-materialization bound: a micro-batch larger than
        max_rows_per_batch delivers only the cap (best-effort contract,
        README.md:79) and flags truncation."""
        import warnings

        hub = ST.ListenerHub(max_rows_per_batch=10)
        got = []
        hub.add_listener(lambda pdf: got.append(len(pdf)))
        big = spark.range(100).selectExpr("cast(id AS string) AS key")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            hub(big, batch_id=0)
        assert got == [10]
        assert hub.truncated

        small = spark.range(5).selectExpr("cast(id AS string) AS key")
        hub2 = ST.ListenerHub(max_rows_per_batch=10)
        hub2.add_listener(lambda pdf: got.append(len(pdf)))
        hub2(small, batch_id=1)
        assert got[-1] == 5
        assert not hub2.truncated

    def test_watcher_restart_resumes_state(self, spark, tmp_path):
        """A restarted watch query reloads last-seen values from the
        state-store delta files: after the restart each new change is
        delivered once, with the pre-restart value as ``old_value``, and
        nothing from before the restart is delivered again."""
        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        schema = "key string, value string, poll_ts timestamp_ntz"
        t0 = dt.datetime(2024, 1, 1)

        def publish(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append").parquet(src)

        def drain():
            hub, got = ST.ListenerHub(), []
            hub.add_listener(lambda pdf: got.extend(
                pdf[["key", "old_value", "new_value"]].itertuples(
                    index=False, name=None)))
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                ST.watch_value_changes(stream).writeStream.foreachBatch(hub)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            return sorted(got, key=lambda r: (r[0], str(r[1])))

        publish([(f"k{i}", "a", t0) for i in range(4)])
        publish([("k0", "b", t0 + dt.timedelta(seconds=1)),
                 ("k1", "b", t0 + dt.timedelta(seconds=1)),
                 ("k2", "a", t0 + dt.timedelta(seconds=1))])
        assert drain() == [("k0", None, "a"), ("k0", "a", "b"),
                           ("k1", None, "a"), ("k1", "a", "b"),
                           ("k2", None, "a"), ("k3", None, "a")]

        t1 = t0 + dt.timedelta(seconds=2)
        publish([("k0", "c", t1), ("k2", "a", t1), ("k3", "d", t1),
                 ("k9", "z", t1)])
        assert drain() == [("k0", "b", "c"), ("k3", "a", "d"),
                           ("k9", None, "z")]

        names = {f for _, _, files in os.walk(f"{ckpt}/state")
                 for f in files}
        assert any(re.fullmatch(r"\.\d+\.delta\.crc", f) for f in names)
        assert any(re.fullmatch(r"\d+\.delta\.crc", f) for f in names)


class TestLocalCheckpointFiles:
    def test_local_master_renames_through_filesystem_api(self, spark, tmp_path):
        """A local session writes checkpoints with the FileSystem-based
        manager (no ``readlink`` launch per rename), which still refuses
        to replace an existing file when overwrite is off: the check
        ``HDFSMetadataLog.add`` relies on to refuse a second write of the
        same batch."""
        from py4j.protocol import Py4JJavaError

        jvm = spark._jvm
        hconf = spark._jsparkSession.sessionState().newHadoopConf()
        mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
            .CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hconf)
        assert mgr.getClass().getSimpleName() == \
            "FileSystemBasedCheckpointFileManager"

        batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
        out = mgr.createAtomic(batch, False)
        out.write(1)
        out.close()
        again = mgr.createAtomic(batch, False)
        again.write(2)
        with pytest.raises(Py4JJavaError) as err:
            again.close()
        # Spark's SparkFileAlreadyExistsException, a subclass
        assert jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.FileAlreadyExistsException").isInstance(
                err.value.java_exception)
        assert (tmp_path / "0").read_bytes() == b"\x01"
        assert (tmp_path / ".0.crc").exists()


class TestRunToMemory:
    def test_reused_name_drains_from_the_start(self, spark, tmp_path):
        stream = ST.replay_stream(spark, spark.range(10), str(tmp_path / "src"))
        for _ in range(2):
            assert ST.run_to_memory(stream, name="reused_name").count() == 10

    def test_timeout_stops_the_query_and_raises(self, spark, tmp_path,
                                                 monkeypatch):
        made, mkdtemp = [], tempfile.mkdtemp

        def recording_mkdtemp(*args, **kwargs):
            made.append(mkdtemp(*args, **kwargs))
            return made[-1]

        monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

        @F.udf("long")
        def slow(x):
            import time

            time.sleep(30)
            return x

        stream = ST.replay_stream(spark, spark.range(1), str(tmp_path / "src"))
        with pytest.raises(TimeoutError):
            ST.run_to_memory(stream.select(slow("id").alias("id")),
                             name="too_slow", timeout=1)
        assert not [q for q in spark.streams.active if q.name == "too_slow"]
        assert made and not os.path.exists(made[0])


class TestCheckpointedSink:
    def test_parquet_sink_roundtrip(self, spark, events, events_stream, tmpdir):
        out_dir = f"{tmpdir}/sink_out"
        q = (
            events_stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{tmpdir}/ckpt_sink")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        back = spark.read.parquet(out_dir)
        assert back.count() == events.count()
        assert canon(back, "event_id") == canon(events, "event_id")


class TestStreamStaticJoin:
    def test_enrich_with_dim(self, spark, events, events_stream):
        dim = events.sparkSession.createDataFrame(
            [("purchase", 1), ("error", 2)], "event_type string, weight int"
        )
        batch = ST.stream_static_join(events, dim, "event_type")
        out = ST.run_to_memory(
            ST.stream_static_join(events_stream, dim, "event_type"),
            output_mode="append",
        )
        assert out.count() == batch.count()


class TestEndpointPlumbing:
    def test_kafka_source_plumbing_no_broker(self, spark):
        # The option builder must produce a streaming DF with the standard
        # kafka projection; starting the query would need a broker.
        try:
            df = sources.kafka_stream(
                spark, "localhost:9092", "events", value_schema="k int"
            )
        except Exception as ex:
            pytest.skip(f"kafka connector not on classpath: {ex}")
        assert df.isStreaming
        assert {"key", "value", "topic", "partition", "offset"} <= set(df.columns)

    def test_cassandra_lwt_statements(self):
        sink = sources.CassandraLwtForeachBatch(
            ["c1"], "ks", "leader_election", "insert_if_not_exists"
        )
        cols = ["resource", "owner", "sup_data"]
        assert (
            sink.build_statement(cols)
            == "INSERT INTO ks.leader_election (resource, owner, sup_data) "
            "VALUES (?, ?, ?) IF NOT EXISTS"
        )
        assert sink.bind_indices(cols) == [0, 1, 2]

        # update row contract: (key, new values..., expected_guard); the
        # expected guard value binds the IF clause, never SET
        upd = sources.CassandraLwtForeachBatch(
            ["c1"], "ks", "leader_election", "update_if_guard", guard_col="owner"
        )
        ucols = ["resource", "owner", "sup_data", "expected_owner"]
        stmt = upd.build_statement(ucols)
        assert stmt == (
            "UPDATE ks.leader_election SET owner = ?, sup_data = ? "
            "WHERE resource = ? IF owner = ?"
        )
        # placeholder count == bind arity, and order is (new..., key, expected)
        assert stmt.count("?") == len(upd.bind_indices(ucols))
        assert upd.bind_indices(ucols) == [1, 2, 0, 3]

        dele = sources.CassandraLwtForeachBatch(
            ["c1"], "ks", "leader_election", "delete_if_guard", guard_col="owner"
        )
        dcols = ["resource", "expected_owner"]
        dstmt = dele.build_statement(dcols)
        assert dstmt == (
            "DELETE FROM ks.leader_election WHERE resource = ? IF owner = ?"
        )
        assert dstmt.count("?") == len(dele.bind_indices(dcols))
        assert dele.bind_indices(dcols) == [0, 1]

    def test_cassandra_lwt_partition_writer_order_and_binds(self):
        """Executor-side writer: async submissions, bounded in-flight,
        strict fencing between consecutive same-key statements."""

        class FakeFuture:
            def __init__(self, log, binds):
                self.log, self.binds, self.done = log, binds, False

            def result(self):
                self.done = True
                self.log.append(("drain", self.binds))

        class FakeSession:
            def __init__(self):
                self.log = []
                self.pending = []

            def execute_async(self, stmt, binds):
                self.log.append(("submit", binds))
                f = FakeFuture(self.log, binds)
                self.pending.append(f)
                return f

        upd = sources.CassandraLwtForeachBatch(
            ["c1"], "ks", "t", "update_if_guard", guard_col="owner"
        )
        cols = ["resource", "owner", "expected_owner"]
        binds = upd.bind_indices(cols)
        rows = [
            ("r1", "a", "x"),
            ("r1", "b", "a"),   # same key -> must fence (drain first)
            ("r2", "c", "y"),   # new key -> pipelines
        ]
        session = FakeSession()
        n = sources.CassandraLwtForeachBatch.write_partition(
            rows, session, "stmt", binds, max_inflight=8
        )
        assert n == 3
        assert all(f.done for f in session.pending)
        # binds reordered to (new_value, key, expected)
        submits = [e for e in session.log if e[0] == "submit"]
        assert submits[0][1] == ("a", "r1", "x")
        assert submits[1][1] == ("b", "r1", "a")
        # the r1 fence: first r1 write drained BEFORE the second submitted
        assert session.log.index(("drain", ("a", "r1", "x"))) < session.log.index(
            ("submit", ("b", "r1", "a"))
        )

    def test_cassandra_lwt_inflight_bound(self):
        class FakeFuture:
            def __init__(self):
                self.done = False

            def result(self):
                self.done = True

        class FakeSession:
            def __init__(self):
                self.inflight = 0
                self.max_seen = 0

            def execute_async(self, stmt, binds):
                f = FakeFuture()
                orig = f.result
                self.inflight += 1
                self.max_seen = max(self.max_seen, self.inflight)

                def result():
                    if not f.done:
                        self.inflight -= 1
                    orig()

                f.result = result
                return f

        sink = sources.CassandraLwtForeachBatch(["c1"], "ks", "t")
        rows = [(f"k{i}", i) for i in range(100)]
        session = FakeSession()
        sources.CassandraLwtForeachBatch.write_partition(
            rows, session, "stmt", [0, 1], max_inflight=10
        )
        assert session.max_seen <= 10


class TestPipeline:
    def test_replay_watch_listeners_end_to_end(self, spark, events, tmpdir):
        """Full pipeline: replay source -> projection -> stateful watch ->
        listener fan-out; the north-star shape with the Kafka/Cassandra
        endpoints swapped for their test substrates."""
        from kafka_cassandra_plugin_spark.streaming import ListenerHub, Pipeline

        hub = ListenerHub()
        got = []
        hub.add_listener(lambda pdf: got.append(pdf))
        q = (
            Pipeline.from_replay(spark, events, f"{tmpdir}/pipe_replay")
            .select(
                "CAST(user_id AS string) AS key",
                "event_type AS value",
                "ts AS poll_ts",
            )
            .watch()
            .to_listeners(hub)
            .start(checkpoint=f"{tmpdir}/pipe_ckpt", available_now=True)
        )
        q.awaitTermination(120)
        assert got and sum(len(p) for p in got) > 0
        pdf = got[0]
        assert list(pdf.columns) == ["key", "poll_ts", "old_value", "new_value"]

    def test_replay_window_to_parquet(self, spark, events, tmpdir):
        from kafka_cassandra_plugin_spark.streaming import Pipeline

        out = f"{tmpdir}/pipe_agg_out"
        q = (
            Pipeline.from_replay(spark, events, f"{tmpdir}/pipe_replay2")
            .window_agg("6 hours", group_cols=("event_type",))
            .to_parquet(out)
            .start(checkpoint=f"{tmpdir}/pipe_ckpt2", available_now=True)
        )
        q.awaitTermination(120)
        back = spark.read.parquet(out)
        assert back.count() > 0
        assert {"w_start", "w_end", "event_type", "n"} <= set(back.columns)


class TestLeaderElectionEquivalence:
    def test_stream_matches_batch_fold(self, spark, events, events_stream):
        """The streaming lease state machine must equal the batch
        leader_timeline replay on the same heartbeat history (R15/S8)."""
        from kafka_cassandra_plugin_spark.operators import kv as KV
        from kafka_cassandra_plugin_spark.streaming import leader_election_stream

        hb_batch = events.select(
            F.col("event_type").alias("resource"),
            F.col("user_id").cast("string").alias("candidate"),
            F.col("ts"),
        )
        batch = KV.leader_timeline(hb_batch, ttl_seconds=3600)
        hb_stream = events_stream.select(
            F.col("event_type").alias("resource"),
            F.col("user_id").cast("string").alias("candidate"),
            F.col("ts"),
        )
        out = ST.run_to_memory(
            leader_election_stream(hb_stream, ttl_seconds=3600),
            output_mode="append",
        )
        assert canon(out, "resource", "ts", "candidate") == canon(
            batch, "resource", "ts", "candidate"
        )


class TestStreamingCasSink:
    def test_foreach_batch_cas_merge_matches_batch(self, spark, events, tmpdir):
        """R5 in the streaming tier without Cassandra: each micro-batch of
        watched changes is cas_insert-merged into a parquet-backed KV
        table (insert-if-not-exists => the FIRST observed value per key
        wins and is never overwritten) - the exact contract the LWT sink
        gives, exercised through foreachBatch on the batch-tier merge."""
        from kafka_cassandra_plugin_spark.operators import kv as KV
        from kafka_cassandra_plugin_spark.streaming import Pipeline

        kv_path = f"{tmpdir}/cas_kv"
        spark.createDataFrame(
            [], "key string, poll_ts timestamp_ntz, value string"
        ).write.mode("overwrite").parquet(kv_path)

        def cas_merge(batch_df, batch_id):
            cur = spark.read.parquet(kv_path)
            # poll_ts leads the payload columns: cas_insert breaks
            # same-batch contention by the remaining columns in order, so
            # this pins "earliest observation wins" (then value) - the
            # arrival order a serial LWT executor would see
            new = batch_df.select(
                "key", "poll_ts", F.col("new_value").alias("value")
            )
            merged = KV.cas_insert(cur, new, ["key"])
            merged.write.mode("overwrite").parquet(f"{kv_path}_next")
            spark.read.parquet(f"{kv_path}_next").write.mode("overwrite").parquet(kv_path)

        q = (
            Pipeline.from_replay(spark, events, f"{tmpdir}/cas_replay")
            .select(
                "CAST(user_id AS string) AS key",
                "event_type AS value",
                "ts AS poll_ts",
            )
            .watch()
            .to_foreach_batch(cas_merge)
            .start(checkpoint=f"{tmpdir}/cas_ckpt", available_now=True)
        )
        q.awaitTermination(120)

        # batch formulation of the same contract: first value per key
        expected = {
            (r.key, r.value)
            for r in events.selectExpr(
                "CAST(user_id AS string) AS key", "event_type AS value", "ts"
            )
            .groupBy("key")
            .agg(F.expr("min_by(value, struct(ts, value))").alias("value"))
            .collect()
        }  # first value per key, ties by value - mirrors the cas order
        got = {(r.key, r.value) for r in spark.read.parquet(kv_path).collect()}
        assert got == expected
