"""Table catalog: load the engine's tables and register temp views.

The reference models data as "a keyspace of named tables, each with a text
key column" (CassandraListenerRegistry.scala:52 builds
``SELECT key FROM <ks>.<namespace>`` for any table in the keyspace).  Our
catalog generalizes that: a *directory of parquet tables*, each loaded as a
DataFrame and registered as a temp view so both the DataFrame API and
``spark.sql`` see the same namespace (SURVEY.md §1.4, §3.5).

Normalization applied at load time (once, at the scan — not per query):
- ``events.ts`` arrives as parquet TIMESTAMP(NANOS) which Spark reads as a
  raw long (``spark.sql.legacy.parquet.nanosAsLong``).  We convert to
  microsecond ``timestamp_ntz`` here: ``timestamp_micros(ts div 1000)``.
  DuckDB truncates ns->us identically, so both engines agree exactly.
  Integer ``div`` avoids the double-precision loss of ``/`` on epoch-ns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .sources import read_parquet

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
LLM_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + LLM_TABLES

# Unique sort keys per table for the oracle determinism protocol
# (SURVEY.md §2.4 rule 1).
UNIQUE_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Lazy loader for the engine's tables at one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self._cache: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return f"{self.sf_dir}/{name}.parquet"

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            df, schema = read_parquet(self.spark, self.path(name))
            if name == "events" and "ts" in schema.names and isinstance(
                    schema["ts"].dataType, LongType):
                df = df.withColumn(
                    "ts",
                    F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"),
                )
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in ALL_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, tables: tuple[str, ...] = ALL_TABLES) -> None:
        """Register each table as a temp view for the spark.sql entry point."""
        for name in tables:
            self.table(name).createOrReplaceTempView(name)


def load(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Catalog:
    return Catalog(spark, sf_dir)
