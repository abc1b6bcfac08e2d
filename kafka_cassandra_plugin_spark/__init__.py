"""PySpark-native analytics engine with the query and data-processing
capabilities of riptano/kafka-cassandra-plugin (KIP-30 Cassandra-backed
leader election + change-notification), generalized to the relational /
streaming closure and extended with LLM-training-data operators.

See SURVEY.md for the full blueprint and operator inventory.

``Engine`` and ``get_spark`` load on first access (PEP 562), so importing
a submodule - the Python worker daemon in particular - does not pull in
the engine facade and every operator module.
"""

__all__ = ["Engine", "get_spark"]


def __getattr__(name):
    if name == "Engine":
        from .engine import Engine
        return Engine
    if name == "get_spark":
        from .session import get_spark
        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
