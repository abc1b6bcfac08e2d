"""Bound checks for the declared-non-oracle aggregates (G22/G26) and the
Engine facade lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.catalog import Catalog
from kafka_cassandra_plugin_spark.engine import Engine


class TestApproxBounds:
    def test_hll_within_5_percent(self, spark, oracle_sf_dir):
        c = Catalog(spark, oracle_sf_dir).customer
        rows = (
            c.groupBy("c_mktsegment")
            .agg(
                F.approx_count_distinct("c_custkey").alias("approx"),
                F.countDistinct("c_custkey").alias("exact"),
            )
            .collect()
        )
        for r in rows:
            assert abs(r.approx - r.exact) <= max(1, 0.05 * r.exact), r

    def test_percentile_approx_within_range(self, spark, oracle_sf_dir):
        c = Catalog(spark, oracle_sf_dir).customer
        r = c.agg(
            F.percentile_approx("c_acctbal", 0.5).alias("p50"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        ).collect()[0]
        assert r.lo <= r.p50 <= r.hi


class TestEngineFacade:
    def test_lifecycle_and_sql(self, spark, sf_dir):
        eng = Engine(spark, sf_dir)
        eng.catalog.register_views(("nation", "region"))
        out = eng.sql(
            "SELECT r_name, count(*) AS n FROM nation "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
        )
        assert out.count() == 5

    def test_library_binding(self, spark, sf_dir):
        eng = Engine(spark, sf_dir)
        kv = spark.createDataFrame([("a", "1")], "key string, value string")
        assert eng.kv_get(kv, ["a"]).count() == 1
        docs = eng.table("documents")
        assert "quality" in eng.text_profile(docs).columns

    def test_depth_ops_binding(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, sf_dir)
        docs = eng.table("documents").select("doc_id", "text")
        idx = eng.build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0))
        idx.save(str(tmp_path / "idx"))
        loaded = eng.load_dedup_index(str(tmp_path / "idx"))
        assert loaded.params == idx.params
        out = eng.curate_annotated(docs.filter(F.col("doc_id") % 2 == 1),
                                   index=loaded)
        assert {"reject_reason", "split"} <= set(out.columns)

    def test_round6_depth_ops_binding(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, sf_dir)
        docs = eng.table("documents").select("doc_id", "text")
        # D22: build/save/load/search through the facade
        eng.build_bm25(docs).save(str(tmp_path / "bm25"))
        idx = eng.load_bm25(str(tmp_path / "bm25"))
        q = spark.createDataFrame([(1, "the")], "query_id long, text string")
        assert idx.topk(q, k=3).count() <= 3
        # D23: end-to-end selection
        sel = eng.dsir_select(docs, docs.filter(F.col("doc_id") % 7 == 0),
                              k=5, buckets=256)
        assert sel.count() == 5
        # D24: fit/save/load/score through the facade
        clf = eng.fit_quality_classifier(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1), buckets=256)
        clf.save(str(tmp_path / "clf"))
        scored = eng.load_quality_classifier(str(tmp_path / "clf")).score(docs)
        assert "quality_score" in scored.columns


class TestSaltedJoin:
    def test_equals_plain_join(self, spark, sf_dir):
        from kafka_cassandra_plugin_spark.operators import salted_join
        from kafka_cassandra_plugin_spark.catalog import Catalog

        c = Catalog(spark, sf_dir)
        li = c.lineitem.select("l_orderkey", "l_quantity")
        o = c.orders.select("o_orderkey", "o_orderstatus").withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
        plain = li.join(o, "l_orderkey").groupBy("o_orderstatus").count()
        salted = salted_join(li, o, "l_orderkey", salt=4).groupBy(
            "o_orderstatus"
        ).count()
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_rejects_right_preserving_joins(self, spark, sf_dir):
        # right/full-outer would emit `salt` duplicates of every
        # unmatched right row (round-1 advisor finding) -> must raise
        import pytest as _pytest

        from kafka_cassandra_plugin_spark.operators import salted_join
        from kafka_cassandra_plugin_spark.catalog import Catalog

        c = Catalog(spark, sf_dir)
        li = c.lineitem.select("l_orderkey")
        o = c.orders.select(F.col("o_orderkey").alias("l_orderkey"))
        for how in ("right", "full", "outer", "full_outer"):
            with _pytest.raises(ValueError):
                salted_join(li, o, "l_orderkey", how=how)


class TestConfigLoading:
    def test_properties_file_layering(self, tmp_path):
        """R16: reference Config.apply contract (Config.scala:26-52) -
        defaults < properties file < override map."""
        from kafka_cassandra_plugin_spark import session as S

        p = tmp_path / "plugin.properties"
        p.write_text(
            "# comment\n"
            "! also a comment\n"
            "plugin.cassandra.keyspace=kafka_cluster_9\n"
            "plugin.cassandra.le.renew.ttl.period.ms: 750\n"
            "plugin.cassandra.contact.points=c1,\\\n"
            "c2\n"
        )
        conf = S.load_config(str(p))
        assert conf["plugin.cassandra.keyspace"] == "kafka_cluster_9"   # file
        assert conf["plugin.cassandra.le.renew.ttl.period.ms"] == "750"  # ':' sep
        assert conf["plugin.cassandra.contact.points"] == "c1,c2"       # continuation
        assert conf["plugin.cassandra.lr.pull.period.ms"] == "500"      # default

        over = S.load_config(str(p), {"plugin.cassandra.keyspace": "override_ks"})
        assert over["plugin.cassandra.keyspace"] == "override_ks"       # override wins

        eng = S.engine_confs_from_plugin(over)
        assert eng["spark.kcp.trigger.ms"] == "500"
        assert eng["spark.kcp.lease.renew.ms"] == "750"
        assert eng["spark.kcp.cassandra.keyspace"] == "override_ks"

    def test_properties_first_separator_wins(self, tmp_path):
        """java.util.Properties splits at the FIRST '=' or ':' whichever
        comes first: 'a:b=c' -> key 'a', value 'b=c'."""
        from kafka_cassandra_plugin_spark import session as S

        p = tmp_path / "x.properties"
        p.write_text("a:b=c\nurl=jdbc:x:y\n")
        props = S.load_properties(str(p))
        assert props["a"] == "b=c"
        assert props["url"] == "jdbc:x:y"

    @pytest.mark.parametrize("master,local", [
        ("local", True), ("local[*]", True),
        ("local-cluster[2,1,1024]", True), ("spark://head:7077", False),
        ("yarn", False)])
    def test_checkpoint_manager_only_on_local_masters(self, master, local):
        """Local masters write checkpoints through the FileSystem API; a
        cluster keeps its deployment's manager unless overrides set one."""
        from kafka_cassandra_plugin_spark import session as S

        key = S.CHECKPOINT_MANAGER
        assert S.session_confs(master).get(key) == (
            S.ENGINE_DEFAULTS[key] if local else None)
        chosen = {key: "com.example.ObjectStoreCheckpointFileManager"}
        assert S.session_confs(master, chosen)[key] == chosen[key]

    def test_ensure_engine_confs_keeps_local_only_confs_local(self, spark):
        """An externally created session gets the runtime confs of its
        own master: no local-only default on a cluster session, and no
        key Spark's own ``isModifiable`` refuses."""
        from types import SimpleNamespace

        from kafka_cassandra_plugin_spark import session as S

        def applied(master):
            conf = {}
            S.ensure_engine_confs(SimpleNamespace(
                sparkContext=SimpleNamespace(master=master),
                conf=SimpleNamespace(set=conf.__setitem__,
                                     isModifiable=spark.conf.isModifiable)))
            return conf

        cluster = applied("spark://head:7077")
        assert S.CHECKPOINT_MANAGER not in cluster
        assert cluster["spark.sql.session.timeZone"] == "UTC"
        assert applied("local[2]")[S.CHECKPOINT_MANAGER] == \
            S.ENGINE_DEFAULTS[S.CHECKPOINT_MANAGER]
        assert not {S.DAEMON_MODULE, "spark.driver.memory",
                    S.CODEGEN_CACHE} & (
            applied("local[2]").keys() | cluster.keys())

    def test_ensure_engine_confs_raises_what_it_cannot_set(self):
        """Only keys Spark calls unmodifiable are skipped: a failure to
        set any other key reaches the caller."""
        from types import SimpleNamespace

        from kafka_cassandra_plugin_spark import session as S

        def refuse(k, v):
            raise RuntimeError(f"cannot set {k}")

        with pytest.raises(RuntimeError, match="cannot set"):
            S.ensure_engine_confs(SimpleNamespace(
                sparkContext=SimpleNamespace(master="local[2]"),
                conf=SimpleNamespace(set=refuse,
                                     isModifiable=lambda k: True)))

    @pytest.mark.parametrize("master", [
        "local[2]", "local-cluster[2,1,1024]", "spark://head:7077", "yarn"])
    def test_codegen_cache_on_every_master(self, master):
        """Every JVM keeps its own generated-code cache, so every master
        gets the size; ``overrides`` still wins."""
        from kafka_cassandra_plugin_spark import session as S

        assert S.session_confs(master)[S.CODEGEN_CACHE] == "1000"
        assert S.session_confs(master, {S.CODEGEN_CACHE: "64"})[
            S.CODEGEN_CACHE] == "64"

    def test_codegen_cache_holds_a_repeated_working_set(self, spark):
        """150 distinct tiny plans (each inlines its own literal, so each
        generates its own classes) run twice: the second round compiles
        nothing.  At Spark's default of 100 entries the first round has
        evicted every class before the second needs it."""
        from kafka_cassandra_plugin_spark.session import codegen_compiles

        def run_round():
            before = codegen_compiles(spark)
            for i in range(150):
                spark.range(0, 3, 1, 1).selectExpr(f"id * {i} AS x").write \
                    .format("noop").mode("overwrite").save()
            return codegen_compiles(spark) - before

        assert run_round() > 100
        assert run_round() == 0

    def test_session_turns_off_console_progress(self, spark):
        """Engine sessions print no ``[Stage N: ...]`` bars on stderr."""
        assert spark.sparkContext.getConf().get(
            "spark.ui.showConsoleProgress") == "false"


class TestBucketedJoin:
    def test_bucketed_join_skips_shuffle(self, spark, sf_dir, tmp_path):
        """The pay-once layout contract: two tables bucketed on the join
        key at write time must equi-join with ZERO Exchange nodes (the
        shuffle happened at ingest, never per query)."""
        from kafka_cassandra_plugin_spark import plans as P
        from kafka_cassandra_plugin_spark import sources
        from kafka_cassandra_plugin_spark.catalog import Catalog

        c = Catalog(spark, sf_dir)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # force a non-broadcast join so the zero-Exchange assertion
        # proves the bucketing spec, not a broadcast fallback
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            sources.write_bucketed(
                c.orders.select("o_orderkey", "o_totalprice"),
                "bkt_orders", ["o_orderkey"], n_buckets=8,
            )
            sources.write_bucketed(
                c.lineitem.select("l_orderkey", "l_quantity"),
                "bkt_lineitem", ["l_orderkey"], n_buckets=8,
            )
            j = (
                spark.table("bkt_lineitem")
                .join(
                    spark.table("bkt_orders"),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
                .groupBy("l_orderkey")
                .agg(F.sum("l_quantity").alias("q"))
            )
            plan = P.formatted_plan(j)
            assert "Exchange" not in plan.replace("ReusedExchange", ""), plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bkt_orders")
            spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


class TestCompaction:
    def test_small_files_compact_losslessly(self, spark, sf_dir, tmp_path):
        from kafka_cassandra_plugin_spark import sources
        from kafka_cassandra_plugin_spark.catalog import Catalog

        src = str(tmp_path / "small")
        out = str(tmp_path / "compacted")
        orders = Catalog(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
        orders.repartition(50).write.parquet(src)
        n_small = len([f for f in __import__("os").listdir(src) if f.endswith(".parquet")])
        assert n_small >= 50

        n = sources.compact_parquet(spark, src, out, target_file_mb=256)
        n_out = len([f for f in __import__("os").listdir(out) if f.endswith(".parquet")])
        assert n == 1 and n_out == 1  # tiny table -> one target-size file
        # lossless: same rows
        a = sorted(map(tuple, spark.read.parquet(src).collect()))
        b = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert a == b

    def test_in_place_compaction_refused(self, spark, tmp_path):
        """overwrite deletes the target before the lazy read finishes, so
        out_path == path must raise instead of destroying the source."""
        from kafka_cassandra_plugin_spark import sources

        src = str(tmp_path / "small")
        with pytest.raises(ValueError, match="out_path"):
            sources.compact_parquet(spark, src, src)
        with pytest.raises(ValueError, match="out_path"):
            sources.compact_parquet(spark, src, src + "/")


class TestRound9FacadeBindings:
    def test_round9_depth_ops_binding(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        eng = Engine(spark, sf_dir)
        docs = eng.table("documents").select("doc_id", "text")
        full = eng.table("documents").select(
            "doc_id", "text", "source", "lang")
        # D32: weights + realized mixture
        w = eng.soft_dedup_weights(docs)
        assert {"commonness", "weight"} <= set(w.columns)
        mixed = eng.mix_by_weight(w, "doc_id", "weight")
        assert "epoch" in mixed.columns and mixed.count() > 0
        # D27/D31/D34: tokenizer-driven last mile
        tok = eng.train_bpe(docs.limit(100), num_merges=16)
        packs = eng.pack_examples(docs.limit(100), tok, 512, num_groups=2)
        assert {"pack", "tokens", "n_tokens"} <= set(packs.columns)
        fert = eng.tokenizer_fertility(full.limit(100), tok)
        assert "fertility" in fert.columns
        # D30: rank + cutoff bucket forms over a synthetic ppl frame
        ppl = full.limit(60).select(
            "doc_id", "lang",
            (F.col("doc_id") % 17).cast("double").alias("ppl"))
        ranked = eng.ppl_buckets_by_rank(ppl)
        assert "ppl_bucket" in ranked.columns
        cuts = eng.ppl_cutoffs(ppl)
        assert {"head_max", "middle_max"} <= set(cuts.columns)
        assert "ppl_bucket" in eng.apply_ppl_cutoffs(ppl, cuts).columns
        # D33: leakage report
        rep = eng.contamination_report(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1).limit(20), n=13)
        assert {"n_grams", "n_hit", "overlap_frac"} <= set(rep.columns)
        # D35: init/load/append/weights through the facade
        ci = eng.init_commonness(str(tmp_path / "ci"))
        ci = ci.append_batch(docs.limit(50), 0)
        got = eng.load_commonness(str(tmp_path / "ci")).weights(
            docs.limit(50))
        assert got.count() == 50
