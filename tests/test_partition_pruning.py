"""Partition pruning on the write+scan path.

At 100 TB the fastest scan is the one that never happens: a table
partitioned on its natural time/key column lets Catalyst prune
directories statically (literal predicates) and dynamically (the DPP
subquery broadcast from a filtered dimension at runtime). These tests
pin both behaviors on a hive-partitioned parquet table written by the
engine's own writer path, so a layout regression (losing the partition
column, breaking pruning) fails here rather than on a cluster bill."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def partitioned_orders(spark, tables, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pp"))
    path = os.path.join(base, "orders_by_year")
    (
        spark.table("orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(path)
    )
    spark.read.parquet(path).createOrReplaceTempView("orders_part")
    # a real (file-backed) dimension table so DPP sees a scan, with a
    # NON-KEY attribute to filter on: a literal filter on the join key
    # itself is propagated as a STATIC partition filter by constraint
    # inference and DPP never needs to fire (also asserted below)
    dim_path = os.path.join(base, "year_dim")
    (
        spark.sql(
            "SELECT DISTINCT year(o_orderdate) AS y,"
            " year(o_orderdate) % 4 AS ymod FROM orders"
        ).write.parquet(dim_path)
    )
    spark.read.parquet(dim_path).createOrReplaceTempView("year_dim")
    return path


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_static_partition_pruning(spark, partitioned_orders):
    """A literal predicate on the partition column must reach the scan
    as a partition filter, and the filtered count must match the
    unpartitioned source."""
    years = [
        r.o_year
        for r in spark.sql("SELECT DISTINCT o_year FROM orders_part").collect()
    ]
    assert len(years) > 1, "fixture spans multiple years"
    one = min(years)
    df = spark.sql(f"SELECT count(*) AS n FROM orders_part WHERE o_year = {one}")
    plan = _executed_plan(df)
    seg = plan[plan.index("PartitionFilters") :][:300]
    assert "o_year" in seg, seg
    expected = spark.table("orders").where(F.year("o_orderdate") == one).count()
    assert df.collect()[0].n == expected


def test_transitive_static_pruning_through_join(spark, partitioned_orders):
    """A literal filter on the dim JOIN KEY is inferred onto the fact's
    partition column by constraint propagation — static pruning, no
    runtime subquery needed. (This is why the DPP test below must
    filter a non-key attribute.)"""
    one = spark.sql("SELECT min(y) AS y FROM year_dim").collect()[0].y
    df = spark.sql(
        f"SELECT count(*) AS n FROM orders_part o "
        f"JOIN year_dim d ON o.o_year = d.y WHERE d.y = {one}"
    )
    plan = _executed_plan(df)
    seg = plan[plan.index("PartitionFilters") :][:300]
    assert f"o_year" in seg and str(one) in seg, seg


def test_dynamic_partition_pruning_from_dim_filter(spark, partitioned_orders):
    """Joining the partitioned fact to a dimension filtered on a
    NON-KEY attribute must inject a dynamicpruning subquery on the fact
    scan: the partitions to read are discovered at runtime from the dim
    side — the DPP shape that makes star-schema joins affordable at
    100 TB. (The dim predicate must be a binary comparison — Catalyst's
    isLikelySelective heuristic ignores bare boolean attributes.)"""
    df = spark.sql(
        """
        SELECT count(*) AS n
        FROM orders_part o JOIN year_dim d ON o.o_year = d.y
        WHERE d.ymod = 0
        """
    )
    plan = _executed_plan(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = (
        spark.table("orders").where(F.expr("year(o_orderdate) % 4 = 0")).count()
    )
    assert df.collect()[0].n == expected


def test_union_branch_elimination_and_pushdown(spark, tables):
    """The multi-index missing-column-as-NULL UNION ALL (r12/r13
    search path): a predicate on a column only ONE branch carries
    must (a) push into that branch's parquet scan and (b) let
    Catalyst fold the other branch away entirely — its NULL-projected
    column can never satisfy the filter, so the branch constant-folds
    to an empty relation and its scan disappears. At 100 TB that is
    the difference between scanning one index and scanning all of
    them. The r13 per-column-md5 _uid projection must not block
    either behavior (it is projection-level, above the filter)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_union_search,
    )

    schemas = {t: spark.table(t).schema for t in ("documents", "events")}
    # the search path's form: the union as a CTE under a hit query whose
    # size covers every match
    body = {"query": {"range": {"n_chars": {"gte": 900}}}, "size": 10000}
    df = spark.sql(compile_union_search(schemas, body, "spark"))
    plan = _executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan[:1500]
    seg = plan[plan.index("PushedFilters"):][:200]
    assert "GreaterThanOrEqual(n_chars,900)" in seg, seg
    # and the surviving branch still answers correctly
    expected = spark.table("documents").where("n_chars >= 900").count()
    assert df.count() == expected
