"""Indexer tests against the pluggable JSONL sink (SURVEY.md §5 item 3):
doc count, positional-ID parity, idempotent re-index, stale-tail
semantics, document shape equality with /query/ rows, ES option parity.
"""

from __future__ import annotations

import os

import pytest

from golang_db_query_engine_elasticsearch_indexer_spark import indexer
from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df
from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
    ElasticsearchSink,
    HttpBulkSink,
    JsonlIndexSink,
    save,
    with_positional_ids,
)

SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_totalprice > 250000
"""


@pytest.fixture()
def sink(tmp_path):
    return JsonlIndexSink(str(tmp_path / "indexes"))


def test_positional_ids_contiguous_and_deterministic(spark, tables):
    df = query_df(spark, SQL)
    ids1 = [r._id for r in with_positional_ids(df).orderBy("_id").collect()]
    n = df.count()
    assert ids1 == list(range(1, n + 1))  # 1-based contiguous (elastic_controller.go:204)
    # deterministic across runs
    ids2 = [r._id for r in with_positional_ids(df).orderBy("_id").collect()]
    assert ids1 == ids2
    # id follows the imposed total order (o_orderkey ascending here)
    rows = with_positional_ids(df, order_cols=["o_orderkey"]).collect()
    by_key = sorted(rows, key=lambda r: r.o_orderkey)
    assert [r._id for r in by_key] == list(range(1, n + 1))


def test_save_creates_index_and_counts(spark, tables, sink):
    stats = save(spark, SQL, "orders_big", sink)
    assert sink.index_exists("orders_big")
    assert stats.num_docs == spark.sql(SQL).count()
    assert stats.num_failed == 0
    assert stats.docs_per_sec > 0
    assert '"num_flushed"' in stats.log_line()


def test_reindex_is_idempotent(spark, tables, sink):
    save(spark, SQL, "idx", sink)
    first = {(r._id, r.o_orderkey) for r in sink.read(spark, "idx").collect()}
    save(spark, SQL, "idx", sink)
    second = {(r._id, r.o_orderkey) for r in sink.read(spark, "idx").collect()}
    assert first == second


def test_stale_tail_on_shorter_reindex(spark, tables, sink):
    """Reference quirk kept by design (SURVEY.md §1.1): re-running with a
    shorter result upserts by position and leaves the old tail."""
    save(spark, SQL + " ORDER BY o_orderkey LIMIT 10", "tail", sink, order_cols=["o_orderkey"])
    assert sink.read(spark, "tail").count() == 10
    save(spark, SQL + " ORDER BY o_orderkey LIMIT 4", "tail", sink, order_cols=["o_orderkey"])
    docs = sink.read(spark, "tail")
    assert docs.count() == 10  # 4 overwritten + 6 stale tail survive
    assert docs.where("_id <= 4").count() == 4


def test_document_shape_matches_query_rows(spark, tables, sink):
    save(spark, SQL, "shape", sink)
    doc_cols = set(sink.read(spark, "shape").columns)
    assert doc_cols == {"_id", "o_orderkey", "o_orderstatus", "o_totalprice"}


def test_gate_applies_to_save(spark, tables, sink):
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        UnauthorizedOperationError,
    )

    with pytest.raises(UnauthorizedOperationError):
        save(spark, "DROP TABLE orders", "nope", sink)
    assert not sink.index_exists("nope")


@pytest.fixture()
def es_stub():
    from es_stub import StubES

    made = []

    def make(**kwargs):
        stub = StubES(**kwargs)
        stub.start()
        made.append(stub)
        return stub

    yield make
    for stub in made:
        stub.stop()


def test_http_bulk_roundtrip_and_autocreate(spark, tables, es_stub):
    """The wire-protocol path (elastic_controller.go:184-250 semantics):
    executors POST /_bulk to a real HTTP server; index auto-created."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub()
    sink = HttpBulkSink(stub.base_url)
    n = spark.sql(SQL).count()
    stats = save(spark, SQL, "orders_http", sink)
    assert "orders_http" in stub.indexes  # HEAD-then-PUT auto-create
    assert stats.num_docs == n and stats.num_failed == 0
    assert stats.docs_per_sec > 0 and '"docs_per_sec"' in stats.log_line()
    docs = stub.docs("orders_http")
    assert len(docs) == n
    # positional ids 1..n arrived as the _id routing key
    assert set(docs) == {str(i) for i in range(1, n + 1)}
    assert set(docs["1"]) == {"o_orderkey", "o_orderstatus", "o_totalprice"}


def test_http_bulk_empty_result(spark, tables, es_stub):
    """A query with no rows still creates the index (HEAD-then-PUT,
    elastic_controller.go:161-181), posts no _bulk request and counts
    nothing — the positional offsets of an empty frame stay in range."""
    stub = es_stub()
    sink = HttpBulkSink(stub.base_url)
    stats = save(spark, SQL + " AND o_totalprice < 0", "orders_empty", sink)
    assert stats.num_docs == 0 and stats.num_failed == 0
    assert stub.bulk_requests == 0
    assert "orders_empty" in stub.indexes


def test_http_bulk_positional_ids_at_sf01(spark, sf_dir, es_stub):
    """One save at 10x the oracle scale (150,000 docs over several range
    partitions): doc ``_id`` i carries the i-th smallest o_orderkey, read
    independently of Spark by DuckDB. The source is bound on a child
    session so the shared session's current database is untouched."""
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import duckdb_connection
    from golang_db_query_engine_elasticsearch_indexer_spark.session import register_sf_dir

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip(f"{sf01} absent")
    child = spark.newSession()
    register_sf_dir(child, sf01)
    stub = es_stub()
    stats = save(
        child,
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
        "orders_sf01",
        HttpBulkSink(stub.base_url),
    )
    con = duckdb_connection(sf01)
    try:
        rows = con.execute("SELECT o_orderkey FROM orders ORDER BY o_orderkey").fetchall()
        keys = [k for (k,) in rows]
    finally:
        con.close()
    docs = stub.docs("orders_sf01")
    assert stats.num_docs == len(keys) == len(docs) and stats.num_failed == 0
    assert [docs[str(i)]["o_orderkey"] for i in range(1, len(keys) + 1)] == keys


def test_http_bulk_explicit_mapping_from_schema(spark, tables, es_stub):
    """explicit_mapping=True derives the index mapping from the result
    schema at create time (the A12 improvement over the reference's
    body-less create, elastic_controller.go:168): int64 -> long,
    double -> double, string -> text+keyword, timestamp -> date, arrays
    map to their element type. Default (parity) stays body-less."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
        HttpBulkSink,
        es_mapping_for_schema,
    )

    stub = es_stub()
    sink = HttpBulkSink(stub.base_url, explicit_mapping=True)
    sql = (
        "SELECT o_orderkey, o_totalprice, o_orderstatus, "
        "cast(o_orderdate AS timestamp) AS ots, array(o_orderkey) AS arr "
        "FROM orders LIMIT 5"
    )
    save(spark, sql, "orders_mapped", sink)
    props = stub.create_bodies["orders_mapped"]["mappings"]["properties"]
    assert props["o_orderkey"] == {"type": "long"}
    assert props["o_totalprice"] == {"type": "double"}
    assert props["o_orderstatus"]["type"] == "text"
    assert props["o_orderstatus"]["fields"]["keyword"]["type"] == "keyword"
    assert props["ots"] == {"type": "date"}
    assert props["arr"] == {"type": "long"}  # ES arrays are implicit

    # parity default: create carries no body
    save(spark, sql, "orders_plain", HttpBulkSink(stub.base_url))
    assert stub.create_bodies["orders_plain"] == {}

    # helper maps nested structs to object properties
    df = spark.sql("SELECT named_struct('a', 1L, 'b', 'x') AS s")
    m = es_mapping_for_schema(df.schema)
    assert m["properties"]["s"]["properties"]["a"] == {"type": "long"}


def test_http_bulk_alias_rollover(spark, tables, es_stub):
    """Zero-downtime reindex: load v1, point the alias at it; load v2
    and swap — the alias must move atomically (one _aliases action set)
    and never point at both or neither; swapping onto a missing index
    must fail without touching the alias."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub()
    sink = HttpBulkSink(stub.base_url)
    save(spark, SQL, "orders_v1", sink)
    assert sink.swap_alias("orders_live", "orders_v1")
    assert stub.aliases["orders_live"] == "orders_v1"

    save(spark, SQL, "orders_v2", sink)
    assert sink.swap_alias("orders_live", "orders_v2", old_index="orders_v1")
    assert stub.aliases["orders_live"] == "orders_v2"

    # missing target: refused, alias untouched
    assert not sink.swap_alias("orders_live", "orders_v3", old_index="orders_v2")
    assert stub.aliases["orders_live"] == "orders_v2"

    # stale old_index (alias no longer points there): real ES rejects
    # the whole atomic action set (aliases_not_found) — the alias must
    # NOT move to the new index on a half-valid set.
    assert not sink.swap_alias("orders_live", "orders_v1", old_index="orders_v9")
    assert stub.aliases["orders_live"] == "orders_v2"


def test_http_bulk_failure_accounting(spark, tables, es_stub):
    """Per-item failures move num_failed (reference OnFailure callback,
    elastic_controller.go:210-222) — the counter is measured, not 0."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub(fail_ids={"2", "5"})
    sink = HttpBulkSink(stub.base_url)
    n = spark.sql(SQL).count()
    stats = save(spark, SQL, "flaky_docs", sink)
    assert stats.num_failed == 2
    assert stats.num_docs == n - 2
    assert len(stub.docs("flaky_docs")) == n - 2


def test_http_bulk_retries_on_429(spark, tables, es_stub):
    """Request-level retry on 429/502/503/504 (elastic_controller.go:52-64):
    first bulk request rejected, retry lands every doc."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub(reject_first_n_bulk=1)
    sink = HttpBulkSink(stub.base_url, retry_wait=0.05)
    n = spark.sql(SQL).count()
    stats = save(spark, SQL, "retried", sink)
    assert stats.num_failed == 0 and stats.num_docs == n
    assert len(stub.docs("retried")) == n
    assert stub.bulk_requests >= 2  # the rejected attempt plus the retry


def test_http_bulk_flush_chunking(spark, tables, es_stub):
    """A tiny flush_bytes forces multiple bulk POSTs per partition (5 MB
    threshold parity, elastic_controller.go:46) without losing docs."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub()
    sink = HttpBulkSink(stub.base_url, flush_bytes=256)
    n = spark.sql(SQL).count()
    stats = save(spark, SQL, "chunked", sink)
    assert stats.num_docs == n and len(stub.docs("chunked")) == n
    assert stub.bulk_requests > 1


def test_es_sink_option_parity():
    opts = ElasticsearchSink("es1:9200", username="u", password="p").options("docs")
    # bulk tuning parity with elastic_controller.go:46 (5 MB), :52-64 (retry 5)
    assert opts["es.batch.size.bytes"] == "5mb"
    assert opts["es.batch.write.retry.count"] == "5"
    assert opts["es.index.auto.create"] == "true"
    assert opts["es.mapping.id"] == indexer.ID_COL
    assert opts["es.net.http.auth.user"] == "u"


def test_save_releases_positional_cache(spark, tables, sink):
    """save() must not leak the sorted positional-ID cache: after the
    sink write completes the persisted frame is released (try/finally
    in indexer.save)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    save(spark, SQL, "released", sink)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_http_bulk_interval_flush(spark, tables, es_stub):
    """Time-based flush parity (30 s FlushInterval,
    elastic_controller.go:149): with the interval forced to 0 every doc
    trips the elapsed-interval check, so each one flushes in its own
    bulk request — proving the time path fires independently of the
    5 MB size threshold."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

    stub = es_stub()
    sink = HttpBulkSink(stub.base_url, flush_interval_sec=0.0)
    n = spark.sql(SQL).count()
    stats = save(spark, SQL, "ticked", sink)
    assert stats.num_docs == n and len(stub.docs("ticked")) == n
    assert stub.bulk_requests >= n


def test_http_bulk_auth_and_url_normalization():
    """Credentials ride as a Basic Authorization header
    (ELASTICSEARCH_USERNAME/PASSWORD parity, elastic_controller.go:54-62)
    and a scheme-less host (the reference's .env style) is normalized."""
    import base64

    s = HttpBulkSink("es1:9200", username="u", password="p")
    assert s.base_url == "http://es1:9200"
    auth = s._headers()["Authorization"]
    assert auth == "Basic " + base64.b64encode(b"u:p").decode()
    assert "Authorization" not in HttpBulkSink("http://es1:9200")._headers()


def test_positional_ids_balanced_under_low_cardinality_order(spark, tables):
    """A single-value order column must NOT concentrate the range sort
    on one partition: the unconditional xxhash64 tiebreak spreads ties, so
    IDs stay contiguous/complete AND the sorted frame lands on several
    partitions (the skew-proofing the 100 TB shape needs)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4000).select(
        F.lit("same").alias("flag"), F.col("id").alias("payload")
    )
    release = []
    try:
        out = with_positional_ids(df, order_cols=["flag"], release=release)
        pids = (
            out.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        )
        ids = sorted(r._id for r in out.collect())
        assert ids == list(range(1, 4001))
        assert len(pids) >= 4, f"ties collapsed onto {len(pids)} partition(s)"
        assert max(r["count"] for r in pids) < 4000
    finally:
        for h in release:
            h.unpersist()


def test_parquet_partitioned_sink_dynamic_overwrite(spark, tables, tmp_path):
    """Dynamic partition overwrite: rewriting ONE source partition
    replaces only that partition's rows; untouched partitions survive
    byte-for-byte, and downstream reads prune on the partition column."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
        ParquetPartitionedSink,
    )

    sink = ParquetPartitionedSink(str(tmp_path / "warehouse"), partition_by=("src",))
    df1 = spark.createDataFrame(
        [(1, "a1", "A"), (2, "a2", "A"), (3, "b1", "B")], "id long, v string, src string"
    )
    stats = sink.write(spark, df1, "corpus")
    assert stats.num_docs == 3

    # rewrite partition A only, with different rows
    df2 = spark.createDataFrame([(9, "a9", "A")], "id long, v string, src string")
    sink.write(spark, df2, "corpus")

    out = {(r.id, r.v, r.src) for r in sink.read(spark, "corpus").collect()}
    assert out == {(9, "a9", "A"), (3, "b1", "B")}  # B untouched, A replaced

    # partition pruning: a src-filtered read must not scan partition B
    plan = (
        sink.read(spark, "corpus")
        .where("src = 'A'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(src" in plan

    sink.delete_index("corpus")
    assert sink.read(spark, "corpus") is None


def test_save_through_parquet_partitioned_sink(spark, tables, tmp_path):
    """save() composes with the warehouse sink: query -> positional IDs
    -> partitioned parquet, one lineage."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
        ParquetPartitionedSink,
        save,
    )

    sink = ParquetPartitionedSink(str(tmp_path / "wh"), partition_by=("o_orderstatus",))
    stats = save(
        spark,
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000",
        "orders_hot",
        sink,
        order_cols=["o_orderkey"],
    )
    got = sink.read(spark, "orders_hot")
    assert got.count() == stats.num_docs > 0
    # positional IDs are the contiguous 1..N range
    ids = [r[0] for r in got.select(indexer.ID_COL).orderBy(indexer.ID_COL).collect()]
    assert ids == list(range(1, len(ids) + 1))
