"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent the driver hash-compares at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from golang_db_query_engine_elasticsearch_indexer_spark import inventory
from golang_db_query_engine_elasticsearch_indexer_spark import rotation as _rotation
from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df
from golang_db_query_engine_elasticsearch_indexer_spark.session import register_sf_dir


def _configure(spark: SparkSession) -> None:
    """Apply engine session settings the driver's stock session may lack
    (the single RUNTIME_CONF list build_session also applies)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.session import RUNTIME_CONF

    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


# The driver hash-checks the first 50 keys of queries() against DuckDB,
# ordered by rotation.window.
def _prioritized(d: dict) -> dict:
    """Reorder dict: the rotation window first, the rest unchanged."""
    first = _rotation.window(d, _rotation.evidence(), _rotation.CHANGED)
    out = {k: d[k] for k in first}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def _sql_runner(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _configure(spark)
        register_sf_dir(spark, sf_dir)
        return query_df(spark, sql)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _configure(spark)
    register_sf_dir(spark, "/root/testdata/sf0.001")
    return query_df(spark, inventory.flagship_sql())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, spec in inventory.SQL_QUERIES.items():
        out[name] = _sql_runner(spec["sql"])
    try:
        from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
            registry as op_registry,
        )

        for name, spec in op_registry().items():
            fn = spec["fn"]

            def run(spark, sf_dir, _fn=fn):
                _configure(spark)
                register_sf_dir(spark, sf_dir)
                return _fn(spark, sf_dir)

            out[name] = run
    except ImportError:
        pass
    return _prioritized(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable equivalents; omitted => weaker rows-only check."""
    out: dict[str, str] = {}
    for name, spec in inventory.SQL_QUERIES.items():
        if spec.get("oracle"):
            out[name] = spec["oracle"]
    try:
        from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
            registry as op_registry,
        )

        for name, spec in op_registry().items():
            if spec.get("oracle"):
                out[name] = spec["oracle"]
    except ImportError:
        pass
    return _prioritized(out)
