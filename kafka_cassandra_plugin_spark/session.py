"""SparkSession factory with engine defaults.

Mirrors the *semantics* of the reference's config loading
(`/root/reference/src/main/scala/ly/stealth/kafka/plugin/cassandra/util/Config.scala:26-52`:
properties file + override map, typed getters) re-expressed as Spark conf:
a layered dict of defaults < file/env < explicit overrides, applied to the
SparkSession builder.

Scale posture (100 TB target, tested on local[32]):
- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- `spark.sql.shuffle.partitions` default 32 locally; on a real cluster this
  is expected to be overridden (AQE coalesces down, so erring high is safe).
- Arrow enabled for every pandas-UDF path (vectorized python boundary).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across driver/executors regardless of host TZ.
- `spark.sql.legacy.parquet.nanosAsLong=true`: the events table carries
  nanosecond parquet timestamps which Spark 4 otherwise refuses to read;
  the catalog layer converts the raw long to timestamp_ntz explicitly.
- On ``local``/``local-cluster`` masters Python workers fork from
  :mod:`.worker_daemon`, which stops every Python UDF task from
  re-reading Spark's zip archives on Python < 3.12.  ``get_spark`` puts
  the package root first on the workers' PYTHONPATH so the daemon
  imports whatever the working directory.  Other masters keep
  ``pyspark.daemon``: there the package reaches executors by pip or
  ``--py-files``, and a ``--py-files`` archive joins ``sys.path`` only
  inside each task, after the daemon has started.
- On the same masters streaming checkpoints (offset and commit logs,
  state-store delta and checksum files) are written through Hadoop's
  FileSystem API (``FileSystemBasedCheckpointFileManager``) rather than
  FileContext: without libhadoop, ``FileContext.rename`` on the local
  file system launches a ``readlink`` process per call, dozens per
  trigger.  On local disk both managers check that the destination is
  absent and then ``rename(2)``, and both write and verify the ``.crc``
  checksums.  Other masters keep the deployment's choice (e.g. an
  object-store checkpoint manager from ``spark-defaults.conf``).
- ``spark.sql.codegen.cache.maxEntries=1000`` on every master: Spark's
  default LRU of 100 generated classes is smaller than one warm batch
  pass (~275 classes) or one CurationSink micro-batch, so every pass
  recompiled all of its classes with Janino.  The conf is static (read
  when the JVM's first session starts), so :func:`ensure_engine_confs`
  cannot apply it to a session built elsewhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Split sizing for CPU-heavy map stages over compact columnar text:
    # Spark floors a file's split size at openCostInBytes (default 4 MB),
    # sized for scan-dominated work.  Text operators cost ~us/row on
    # ~100 compressed bytes/row, so a 6 MB documents file is 8+ seconds
    # of single-task HOF evaluation at the default floor (measured:
    # text_stats at sf1 ran 2-way on 32 cores; the sf10 smoke's "15x at
    # 10x data" was this, not a plan term).  256 KB keeps splits
    # fine-grained when bytes-per-core is small; on real multi-TB inputs
    # totalBytes/minPartitionNum dominates the max() and behavior is
    # unchanged, and many-tiny-file dirs get LESS padding per file (fewer,
    # fuller tasks).  Row-group layout still bounds effective parallelism
    # (scripts/build_sf1.py writes >= 32 groups/table for this reason).
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "8g",
    "spark.python.daemon.module": "kafka_cassandra_plugin_spark.worker_daemon",
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    # Generated-class cache (LRU, one per JVM, static: builder only).
    # One perfbench batch pass compiles 260-285 classes and one
    # full-gate CurationSink micro-batch 210-320, so Spark's default of
    # 100 evicted every class before its next use and each warm pass
    # recompiled ~275 of them with Janino.  1000 holds both working sets
    # with room for a session that runs the two side by side.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# directory holding the package: Python workers need it on their path to
# start the daemon above, so the daemon is kept only where they can reach
# it - masters whose executors run on this host
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_MODULE = "spark.python.daemon.module"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
# engine defaults only a local/local-cluster master gets: elsewhere the
# package may not be importable when the daemon starts, and the
# deployment picks the checkpoint manager for its own file system
LOCAL_ONLY = (DAEMON_MODULE, CHECKPOINT_MANAGER)


def _local_master(master: str) -> bool:
    """``local``, ``local[n]`` and ``local-cluster[...]``: executors on
    this host, where :data:`PACKAGE_ROOT` exists."""
    return master.startswith("local")


# Reference config contract (Config.scala:57-67 + plugin.properties):
# the six plugin.* keys, with the reference's own defaults where the
# sample file ships one.
REFERENCE_KEYS: dict[str, str | None] = {
    "plugin.cassandra.contact.points": "",
    "plugin.cassandra.keyspace": "kafka_cluster_1",
    "plugin.cassandra.le.executor.threads": "8",
    "plugin.cassandra.le.renew.ttl.period.ms": "500",
    "plugin.cassandra.lr.executor.threads": "8",
    "plugin.cassandra.lr.pull.period.ms": "500",
}

# plugin.* -> engine conf mapping: the poll cadences become the streaming
# trigger default; thread pools become shuffle/parallelism hints.  Keys
# without an engine-side meaning (contact points, keyspace) are kept
# verbatim under spark.kcp.* so sinks can read them from the session conf.
_PLUGIN_TO_ENGINE = {
    "plugin.cassandra.lr.pull.period.ms": "spark.kcp.trigger.ms",
    "plugin.cassandra.le.renew.ttl.period.ms": "spark.kcp.lease.renew.ms",
    "plugin.cassandra.le.executor.threads": "spark.kcp.le.threads",
    "plugin.cassandra.lr.executor.threads": "spark.kcp.lr.threads",
    "plugin.cassandra.contact.points": "spark.kcp.cassandra.contact.points",
    "plugin.cassandra.keyspace": "spark.kcp.cassandra.keyspace",
}


def load_properties(path: str) -> dict[str, str]:
    """Java-properties reader (Config.scala:43-52 loadConfigFile): k=v or
    k:v lines, '#'/'!' comments, surrounding whitespace stripped,
    trailing-backslash line continuations.  No external deps."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        pending = ""
        for raw in f:
            line = pending + raw.strip()
            pending = ""
            if not line or line[0] in "#!":
                continue
            if line.endswith("\\") and not line.endswith("\\\\"):
                pending = line[:-1]
                continue
            # split at the FIRST separator of either kind, like
            # java.util.Properties: 'a:b=c' -> key 'a', value 'b=c'
            cuts = [i for i in (line.find("="), line.find(":")) if i >= 0]
            if cuts:
                i = min(cuts)
                props[line[:i].strip()] = line[i + 1:].strip()
            else:
                props[line.strip()] = ""
    return props


def load_config(file: str | None = None,
                overrides: dict[str, str] | None = None) -> dict[str, str]:
    """The reference's ``Config(file, overrides)`` layering
    (Config.scala:26-41): reference defaults < properties file <
    override map.  Returns the resolved plugin.* map; unknown keys in the
    file ride along untouched (the reference's Properties does the same).
    """
    conf = {k: v for k, v in REFERENCE_KEYS.items() if v is not None}
    if file:
        conf.update(load_properties(file))
    if overrides:
        conf.update(overrides)
    return conf


def engine_confs_from_plugin(plugin_conf: dict[str, str]) -> dict[str, str]:
    """Map resolved plugin.* keys to engine (spark.kcp.*) confs."""
    return {
        _PLUGIN_TO_ENGINE[k]: v
        for k, v in plugin_conf.items()
        if k in _PLUGIN_TO_ENGINE
    }


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "kafka-cassandra-plugin-spark",
    master: str | None = None,
    overrides: dict[str, str] | None = None,
    properties_file: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Layering matches the reference's ``Config(file, overrides)``
    (Config.scala:26-52): engine defaults < ``properties_file``
    (plugin.* keys mapped to spark.kcp.* confs) < explicit ``overrides``.
    """
    master = master or default_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_confs(master, overrides, properties_file).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if _local_master(sc.master):
        # every Python UDF carries sc.environment to its workers; by now
        # it holds spark.executorEnv.PYTHONPATH from every source
        # (spark-defaults.conf, --conf, overrides), which stays after the
        # package root
        paths = [p for p in sc.environment.get("PYTHONPATH", "").split(
            os.pathsep) if p]
        if PACKAGE_ROOT not in paths:
            sc.environment["PYTHONPATH"] = os.pathsep.join(
                [PACKAGE_ROOT] + paths)
    return spark


def session_confs(master: str, overrides: dict[str, str] | None = None,
                  properties_file: str | None = None) -> dict[str, str]:
    """The confs :func:`get_spark` sets on its builder for ``master``:
    engine defaults < ``properties_file`` < ``overrides``, without the
    :data:`LOCAL_ONLY` defaults on a non-local master unless ``overrides``
    sets them."""
    local = _local_master(master)
    conf = {k: v for k, v in ENGINE_DEFAULTS.items()
            if local or k not in LOCAL_ONLY}
    if properties_file:
        conf.update(engine_confs_from_plugin(load_config(properties_file)))
    if overrides:
        conf.update(overrides)
    return conf


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs :func:`session_confs`
    gives the session's master to an externally-created session
    (``__spark_entry__.entry()`` receives the caller's own SparkSession).

    Spark decides what is settable: ``isModifiable`` is false for the
    driver, UI and daemon keys and for static SQL confs such as the
    codegen cache size, which such a session keeps as its builder set
    them.  Any error from a settable key propagates."""
    conf = spark.conf
    for k, v in session_confs(spark.sparkContext.master).items():
        # isModifiable answers only for the confs Spark registers; it
        # registers none for the checkpoint manager, which it reads from
        # the session's Hadoop conf, filled from every session conf
        if conf.isModifiable(k) or k == CHECKPOINT_MANAGER:
            conf.set(k, v)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the session's JVM has compiled with Janino so
    far: one per miss of the generated-code cache, counted by Spark's
    ``CodegenMetrics`` (on a local master this includes every task's)."""
    metrics = getattr(getattr(
        spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
        "MODULE$")
    return metrics.METRIC_COMPILATION_TIME().getCount()
