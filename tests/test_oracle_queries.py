"""Differential correctness: every declared query vs the DuckDB oracle.

This is the engine-side mirror of the driver's t2 gate (SURVEY.md §5
item 1): each ``__spark_entry__.queries()`` entry with an oracle must
match on columns, column type tags, row count, and sorted canonical
values. The gate runs at the DRIVER's scale factor (sf0.01 by default,
``SPARK_GRAFT_ORACLE_SF_DIR``) — not the smaller sf0.001 the behavioral
tests use — so row-count/selectivity edge cases the driver will see are
reproduced here first.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
    compare,
    duckdb_connection,
)
from golang_db_query_engine_elasticsearch_indexer_spark.session import register_sf_dir

from conftest import SF_DIR_ORACLE

ALL = entrymod.queries()
ORACLES = entrymod.oracle_sql()
WITH_ORACLE = sorted(n for n in ALL if n in ORACLES)
ROWS_ONLY = sorted(n for n in ALL if n not in ORACLES)


@pytest.fixture(scope="module")
def oracle_tables(spark, sf_dir):
    """Register the sf0.01 fixture views for this module, restoring the
    default test-scale views afterwards (later modules rely on them)."""
    register_sf_dir(spark, SF_DIR_ORACLE)
    yield SF_DIR_ORACLE
    register_sf_dir(spark, sf_dir)


@pytest.fixture(scope="module")
def duck_oracle():
    con = duckdb_connection(SF_DIR_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(name, spark, oracle_tables, duck_oracle):
    df = ALL[name](spark, oracle_tables)
    ok, diag = compare(df, duck_oracle, ORACLES[name])
    assert ok, f"{name}: {diag}"


def test_rows_only_tier_is_empty():
    """Since r13 (text_compression_ratio's zlib-bound invariant oracle)
    EVERY registry entry carries a full hash oracle — the rows-only
    weak tier must stay empty. If an entry legitimately cannot have an
    oracle (document why in COVERAGE.md), re-introduce the rows-only
    runner this assertion replaced."""
    assert ROWS_ONLY == []


def test_gate_catches_hugeint_dtype_divergence(spark, duck_oracle):
    """Regression for VERDICT r02 'What's wrong' #2: identical VALUES with
    diverging column types (DuckDB sum()->HUGEINT vs Spark BIGINT, Spark
    DECIMAL vs DuckDB DOUBLE) must FAIL the gate — the driver's hash
    distinguishes them even though value-coercing comparison does not."""
    df = spark.sql("SELECT cast(3 AS bigint) AS x")
    ok, diag = compare(df, duck_oracle, "SELECT sum(v) AS x FROM (VALUES (1), (2)) t(v)")
    assert not ok and "column-type mismatch" in diag and "hugeint" in diag

    df = spark.sql("SELECT cast(1.5 AS decimal(10, 2)) AS x")
    ok, diag = compare(df, duck_oracle, "SELECT 1.5::DOUBLE AS x")
    assert not ok and "column-type mismatch" in diag

    # positive control: aligned types still pass
    df = spark.sql("SELECT cast(3 AS bigint) AS x")
    ok, diag = compare(df, duck_oracle, "SELECT 3::BIGINT AS x")
    assert ok, diag


def test_entry_smoke(spark, oracle_tables, sf_dir):
    # entry() registers its own sf0.001 views; re-pin the module views after.
    df = entrymod.entry(spark)
    assert df.count() > 0
    register_sf_dir(spark, oracle_tables)


def test_approx_sketches_within_tolerance(spark, oracle_tables, duck_oracle):
    """The sketch entry emits in-plan error-bound booleans (VERDICT
    r11 ask #4): the exact tier must match DuckDB and every bound
    boolean must be TRUE — i.e. the HLL++/GK sketches actually sit
    inside their documented epsilon, verified per group."""
    rows = {r.l_returnflag: r for r in ALL["agg_approx_sketches"](spark, oracle_tables).collect()}
    exact = duck_oracle.execute(
        """
        SELECT l_returnflag, count(DISTINCT l_orderkey) AS n
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    assert len(rows) == len(exact) > 0
    for flag, n in exact:
        got = rows[flag]
        assert got.exact_orders == n, (flag, got.exact_orders, n)
        assert got.orders_within_eps is True
        assert got.median_within_eps is True


def test_priority_window_contract():
    """The driver's window leads oracle_sql() in the same order as
    queries(), is exactly 50 registered names deep, and every slot
    carries a full hash oracle (the rows-only tier is empty since r13,
    when text_compression_ratio joined the hash gate)."""
    window = list(ALL)[:50]
    assert len(set(window)) == 50
    assert list(ORACLES)[:50] == window
    assert set(n for n in window if n not in ORACLES) == set()
    assert ROWS_ONLY == []


def test_dedup_kernels_have_no_cross_join(spark, oracle_tables):
    """The minhash and ngram candidate generators must never compile to
    a cross join / nested-loop join over the corpus — the plan property
    that keeps them sub-quadratic at scale (already asserted for the
    embedding kernels in test_operators)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import dedup

    for fn in (dedup.minhash_lsh_pairs, dedup.ngram_jaccard_pairs):
        plan = (
            fn(spark, SF_DIR_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_round5_kernels_have_no_cross_join(spark, oracle_tables):
    """Round-5 operators with joins must stay equi-join-shaped: the
    span-coverage gram join, keep-best's component/quality join, and
    the IVF-PQ candidate restriction all key on hashes/ids — a cross
    join or nested-loop over the corpus would be the quadratic failure
    mode at scale. Exempt by design: ANN brute-force (broadcast
    nested-loop over constant-size probes IS the exact baseline) and
    TF-IDF/BM25's ``CROSS JOIN stats`` (a broadcast of ONE corpus-stats
    row — constant build side at any scale; for TF-IDF we instead
    assert the postings join itself compiled to a hash join)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        chunking,
        dedup,
        search,
        similarity,
    )

    frames = [
        chunking.span_dup_coverage(spark, SF_DIR_ORACLE),
        dedup.keep_best(spark, SF_DIR_ORACLE),
        similarity.ivfpq_search(
            spark,
            SF_DIR_ORACLE,
            similarity.ivfpq_build(spark, SF_DIR_ORACLE, persist=False),
        ),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    tfidf_plan = (
        search.tfidf_cosine_topk(spark, SF_DIR_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in tfidf_plan
    # the probe-postings term join must be a hash join, never a loop
    assert "BroadcastHashJoin" in tfidf_plan or "SortMergeJoin" in tfidf_plan


def test_late_round5_kernels_have_no_cross_join(spark, oracle_tables):
    """The late round-5 kernels must also stay equi-join-shaped:
    containment shares the rare-gram candidate generator, outlier
    scoring joins the broadcast label-centroid/stats relations, and the
    streaming incremental matcher's corpus joins key on hash/band
    columns."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        dedup,
        similarity,
    )

    for df in (
        dedup.containment_pairs(spark, SF_DIR_ORACLE),
        dedup.simhash_pairs(spark, SF_DIR_ORACLE),
        similarity.outlier_scores(spark, SF_DIR_ORACLE),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_close_out_kernels_scan_shape(spark, oracle_tables):
    """Plan audit for the round-5 close-out kernels: map-only operators
    must prune their parquet scan to exactly the referenced columns
    (a scan reading all columns for a two-column projection is wrong at
    100 TB), and the pinned-KL kernel must scan the token source ONCE —
    the declarative CTE form re-executed the token-scale explode+agg
    three times before the localCheckpoint pin (measured in the plan's
    ReadSchema occurrences)."""
    import re

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        text as T,
    )

    pii_plan = (
        T.pii_redact(spark, SF_DIR_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.findall(r"ReadSchema: (\S+)", pii_plan) == [
        "struct<doc_id:bigint,text:string>"
    ]

    kl_plan = (
        T.source_divergence(spark, SF_DIR_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # everything downstream of the pin reads checkpoint blocks — the
    # documents parquet appears in NO scan of the final plan.
    assert "ReadSchema" not in kl_plan
