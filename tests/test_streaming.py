"""Streaming semantics: bounded-stream parity is covered by the oracle
suite; here we exercise watermark late-data handling with a real
two-batch file drop (append mode), which the bounded runs can't show.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    import datetime as dt

    rows = [
        (i, dt.datetime.fromisoformat(ts), v)
        for i, ts, v in rows
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp_ltz, v double")
    df.coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    name = f"late_{uuid.uuid4().hex[:6]}"

    # batch 1: events up to 12:00 -> watermark advances to 11:50
    _write_batch(
        spark,
        src,
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-01 10:20:00", 1.0),
            (3, "2024-01-01 12:00:00", 1.0),
        ],
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp_ltz, v double")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: one on-time-ish row + one very late row (09:00, far
        # behind the 11:50 watermark -> must be dropped)
        _write_batch(
            spark,
            src,
            [
                (4, "2024-01-01 12:10:00", 1.0),
                (5, "2024-01-01 09:00:00", 99.0),
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (str(r["w"]["start"]), r["n"]) for r in spark.table(name).collect()
    }
    # 10:00-10:30 window emitted with ONLY the two on-time rows; the
    # late 09:00 row created no 09:00 window.
    assert any("10:00:00" in s and n == 2 for s, n in rows)
    assert not any("09:00:00" in s for s, n in rows)


def test_stateful_summary_state_survives_micro_batches(spark, tmp_path):
    """applyInPandasWithState must carry GroupState across micro-batches:
    two files, maxFilesPerTrigger=1 -> two batches; the second emission
    per user must include the first batch's counts."""
    from golang_db_query_engine_elasticsearch_indexer_spark.streaming import (
        _user_summary_fn,
    )

    src = str(tmp_path / "state_src")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, src, [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 10:05:00", 2.0)])
    _write_batch(spark, src, [(3, "2024-01-01 10:10:00", 3.0)])

    name = f"state_{uuid.uuid4().hex[:6]}"
    stream = (
        spark.readStream.schema("event_id long, ts timestamp_ltz, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("user_id", F.lit(7))
        .withColumnRenamed("v", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_summary_fn,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, tot double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    q = stream.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emissions = sorted(
        (r.n_events, r.total_value) for r in spark.table(name).collect()
    )
    # one emission per micro-batch; the later one accumulates state
    assert emissions[-1] == (3, 6.0)
    assert len(emissions) == 2 and emissions[0] in {(1, 3.0), (2, 3.0)}


def test_dedup_within_watermark_evicts_state_vs_plain_dedup(spark, tmp_path):
    """Watermark EVICTION differential (VERDICT r02 ask #10): a duplicate
    event_id arriving after the watermark has passed the first
    occurrence's retention window is re-emitted by
    dropDuplicatesWithinWatermark (state was evicted — bounded state)
    but still suppressed by plain dropDuplicates (state never evicted
    when the key omits the event-time column — unbounded state). Same
    three micro-batches, different answers: that asymmetry IS the
    eviction."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 10:05:00", 1.0)],
        # advances the watermark to 11:50 -> id=1 state (expires 10:10)
        # is evicted from the within-watermark store
        [(50, "2024-01-01 12:00:00", 1.0)],
        # duplicate id=1, event time 12:05 (not late vs 11:50 watermark)
        [(1, "2024-01-01 12:05:00", 9.0)],
    ]
    emitted = {}
    for label, within in (("within", True), ("plain", False)):
        src = str(tmp_path / f"dedup_{label}")
        os.makedirs(src, exist_ok=True)
        stream = (
            spark.readStream.schema("event_id long, ts timestamp_ltz, v double")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
        )
        stream = (
            stream.dropDuplicatesWithinWatermark(["event_id"])
            if within
            else stream.dropDuplicates(["event_id"])
        )
        name = f"dw_{label}_{uuid.uuid4().hex[:6]}"
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            for rows in batches:
                _write_batch(spark, src, rows)
                q.processAllAvailable()
        finally:
            q.stop()
        counts = {}
        for r in spark.table(name).collect():
            counts[r.event_id] = counts.get(r.event_id, 0) + 1
        emitted[label] = counts

    assert emitted["within"][1] == 2  # re-admitted after eviction
    assert emitted["plain"][1] == 1  # unbounded state still suppresses
    assert emitted["within"][2] == emitted["plain"][2] == 1
    assert emitted["within"][50] == emitted["plain"][50] == 1


def test_stream_index_events_into_bulk_sink(spark, tables, sf_dir):
    """Streaming ingest -> ES bulk sink: the save pipeline over
    foreachBatch. Every event lands exactly once, keyed by its natural
    event_id (idempotent upsert under at-least-once delivery)."""
    from es_stub import StubES

    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink
    from golang_db_query_engine_elasticsearch_indexer_spark.streaming import (
        stream_index_events,
    )

    stub = StubES()
    stub.start()
    try:
        sink = HttpBulkSink(stub.base_url)
        totals = stream_index_events(spark, sf_dir, sink, index_name="ev_stream")
        n = spark.table("events").count()
        assert totals["docs"] == n and totals["failed"] == 0
        assert totals["batches"] >= 1
        docs = stub.docs("ev_stream")
        assert len(docs) == n
        ids = {str(r.event_id) for r in spark.table("events").select("event_id").collect()}
        assert set(docs) == ids
        assert "event_type" in docs[next(iter(ids))]
    finally:
        stub.stop()


def test_stream_leaves_caller_conf_alone(spark, tables, sf_dir):
    """A stream runs on its own child session: a sink that reads the
    caller's shuffle width mid-stream sees the caller's value, not the
    stream's, and the value is the same after the call."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import IndexStats
    from golang_db_query_engine_elasticsearch_indexer_spark.streaming import (
        _stream_state_partitions,
        stream_index_events,
    )

    key = "spark.sql.shuffle.partitions"
    seen = []

    class _ConfProbeSink:
        def write(self, session, df, index_name):
            seen.append(spark.conf.get(key))
            return IndexStats(index_name, num_docs=df.count())

    old = spark.conf.get(key)
    caller = str(_stream_state_partitions() + 1)
    spark.conf.set(key, caller)
    try:
        totals = stream_index_events(spark, sf_dir, _ConfProbeSink())
        assert totals["docs"] == spark.table("events").count()
        assert seen and set(seen) == {caller}
        assert spark.conf.get(key) == caller
    finally:
        spark.conf.set(key, old)


def test_streams_leave_no_sink_tables(spark, tables, sf_dir, duck):
    """Memory-sink outputs leave no table behind: each entry equals its
    oracle, and the caller's table list is unchanged afterwards."""
    from golang_db_query_engine_elasticsearch_indexer_spark import streaming
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    def listed():
        return sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())

    reg = streaming.registry()
    before = listed()
    for name in ("stream_tumbling_counts", "stream_hll_daily_merged",
                 "stream_static_enrich"):
        ok, diag = compare(reg[name]["fn"](spark, sf_dir), duck, reg[name]["oracle"])
        assert ok, f"{name}: {diag}"
    after = listed()
    assert after == before
    assert not any(n.startswith("stream_out_") for n, _ in after)


def _write_typed_batch(spark, path, rows):
    import datetime as dt

    rows = [
        (i, dt.datetime.fromisoformat(ts), u, et)
        for i, ts, u, et in rows
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ltz, user_id long, event_type string"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_stream_stream_join_drops_late_clicks(spark, tmp_path):
    """Stream-stream join state is watermark-bounded: a click arriving
    after the watermark passed its event time must NOT join its
    matching view, while on-time rows still do — the property that
    makes the join's state buffers finite on an unbounded stream."""
    src = str(tmp_path / "ss_src")
    os.makedirs(src, exist_ok=True)

    # batch 1: a view at 09:40 (its in-window click arrives late, in
    # batch 2), plus 12:00 events on BOTH streams so the join watermark
    # (the min across inputs) advances to ~11:50.
    _write_typed_batch(
        spark,
        src,
        [
            (1, "2024-01-01 09:40:00", 1, "view"),
            (2, "2024-01-01 12:00:00", 9, "view"),
            (3, "2024-01-01 12:00:00", 9, "click"),
        ],
    )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp_ltz, user_id long, event_type string"
    ).parquet(src)
    views = (
        ev.where(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "event_id AS view_id", "ts AS v_ts")
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .selectExpr("user_id AS c_user", "event_id AS click_id", "ts AS c_ts")
        .withWatermark("c_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        F.expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval 30 minutes"),
    ).select("view_id", "click_id")

    name = f"ssj_{uuid.uuid4().hex[:6]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: the 09:50 click matches the 09:40 view but sits far
        # behind the ~11:50 watermark -> must be dropped; the 12:05
        # view + 12:10 click pair is on time -> must join.
        _write_typed_batch(
            spark,
            src,
            [
                (4, "2024-01-01 09:50:00", 1, "click"),
                (5, "2024-01-01 12:05:00", 2, "view"),
                (6, "2024-01-01 12:10:00", 2, "click"),
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    pairs = {(r.view_id, r.click_id) for r in spark.table(name).collect()}
    assert (5, 6) in pairs          # on-time pair joined
    assert (1, 4) not in pairs      # late click evicted by the watermark


def test_stream_incremental_dedup_matches_batch_kernel(spark, tables, sf_dir):
    """The streaming foreachBatch incremental dedup must surface the
    same (batch_id, corpus_id, kind) matches as the batch
    dedup.incremental_batch kernel over the same cohort split (at the
    fixture every band bucket is under both kernels' occupancy caps, so
    their candidate sets coincide)."""
    from golang_db_query_engine_elasticsearch_indexer_spark import streaming
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import dedup

    stream_out = {
        (r.batch_id, r.corpus_id, r.kind)
        for r in streaming.docs_incremental_dedup(spark, sf_dir).collect()
    }
    batch_out = {
        (r.batch_id, r.corpus_id, r.kind)
        for r in dedup.incremental_batch(spark, sf_dir).collect()
    }
    assert stream_out == batch_out
    assert stream_out  # non-vacuous on the fixture


def test_left_outer_join_emits_null_padded_unclicked_views(spark, tables, sf_dir):
    """The left-outer stream-stream join's distinguishing output — views
    with NO in-window click, null-padded and released at watermark
    close — is non-vacuous on the fixture, and the per-user rollup is
    internally consistent (unclicked <= total views; a user with pairs
    has at least one clicked view)."""
    from golang_db_query_engine_elasticsearch_indexer_spark import streaming

    rows = streaming.view_click_left_outer(spark, sf_dir).collect()
    assert rows, "watermark-closed comparison region is empty"
    assert sum(r.n_unclicked_views for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_unclicked_views <= r.n_views
        if r.n_pairs > 0:
            assert r.n_unclicked_views < r.n_views


def test_stream_percolate_alerts_one_pass(spark, tables, sf_dir):
    """Watcher-style alerting: N stored DSL rules percolate over the
    event stream in one pass. Every emitted alert row re-verifies
    against a direct batch evaluation of the same rule, and each
    rule's stream total equals its batch count — including the rule
    that reaches inside the props JSON column."""
    from golang_db_query_engine_elasticsearch_indexer_spark import streaming
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        _query_expr,
    )

    rows = streaming.percolate_alerts(spark, sf_dir).collect()
    assert rows, "no alerts fired on the fixture"
    assert {r.alert for r in rows} == set(streaming.PERCOLATE_ALERT_RULES)
    ev = spark.table("events")
    for name, rule in streaming.PERCOLATE_ALERT_RULES.items():
        batch_n = ev.filter(_query_expr(rule, "spark", "event_id")).count()
        stream_n = sum(r.n_alerts for r in rows if r.alert == name)
        assert stream_n == batch_n, name
    # window keys are 6-hour aligned
    for r in rows:
        assert r.window_start.endswith(("00:00:00", "06:00:00",
                                        "12:00:00", "18:00:00"))
