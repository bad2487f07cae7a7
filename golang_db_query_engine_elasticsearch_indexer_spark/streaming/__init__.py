"""Structured Streaming extensions over the ``events`` table.

The reference is strictly batch (SURVEY.md §1.4); these are the
extension rows of §2.B "Streaming": tumbling-window aggregation,
gap-based session windows, and streaming dedup, written as
``readStream`` pipelines. For the driver contract each pipeline runs
against the fixture parquet as a bounded stream (file source +
``processAllAvailable`` + memory sink) and returns the materialized
result — REAL streaming execution, verified against batch SQL oracles.

Each stream runs on its own child of the caller's session
(``_stream_session``) at the stream's partition width; the caller's conf
and catalog are never changed. Static reads stay on the caller's session.

Scale posture: on a cluster the same code points at a Kafka/file-drop
source; watermarks bound state, window aggs shuffle once per trigger on
(window, key).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from golang_db_query_engine_elasticsearch_indexer_spark.operators.materialized import bound
from golang_db_query_engine_elasticsearch_indexer_spark.session import RUNTIME_CONF


def _stream_state_partitions() -> int:
    """Partition count for exchanges INSIDE a streaming query, set on
    its ``_stream_session`` child only.

    A stateful stream bakes ``spark.sql.shuffle.partitions`` into its
    state layout at the first checkpoint and pays a fixed per-partition
    cost every micro-batch (state-store open/commit/snapshot files,
    task launch) — and, unlike batch exchanges, AQE can NEVER coalesce
    these partitions because the state partitioning must stay fixed
    across triggers. So the batch remedy for tiny shuffles (guide §2.2:
    AQE coalescing) is structurally unavailable here and the count must
    be sized explicitly: per-micro-batch volume is trigger-bounded
    (far below the full-table volume batch queries see), so the right
    order is a fraction of the core count, not the batch shuffle width.
    Measured at sf0.1/local[32] (interleaved min-of-3): tumbling counts
    4.33 s at 32 state partitions -> 2.30 s at 8; foreachBatch dedup
    3.93 -> 3.09. The count derives from the core-count env, never a
    constant tuned to one box.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return max(4, cpus // 4)


def _stream_session(spark: SparkSession) -> SparkSession:
    """A new child of ``spark`` for one bounded stream, bound to
    ``spark``'s current database, with ``RUNTIME_CONF`` (a child starts
    from builder-time conf only) and the stream width. ``spark`` itself
    is left as it is."""
    child = spark.newSession()
    for k, v in RUNTIME_CONF.items():
        child.conf.set(k, v)
    child.conf.set("spark.sql.shuffle.partitions", str(_stream_state_partitions()))
    child.catalog.setCurrentDatabase(spark.catalog.currentDatabase())
    return child


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file stream of the events fixture.

    The stream schema is DERIVED from the parquet footer (a batch
    metadata-only read), never assumed: current fixtures store ``ts``
    as TIMESTAMP(MICROS) which surfaces directly as timestamp_ntz;
    older generations stored TIMESTAMP(NANOS), which (under
    ``nanosAsLong``) surfaces as LongType nanoseconds and gets the same
    ns->ntz conversion the batch registry applies
    (session.register_sf_dir). This keeps stream and batch readers
    agreeing with each other — and with the DuckDB oracle — whichever
    way the fixtures were written.
    The stream runs on its own ``_stream_session`` child of ``spark``.
    """
    spark = _stream_session(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema  # footer-only, no data scan
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # Watermarks demand TIMESTAMP (ltz); the UTC session makes the
        # ntz->ltz cast identity on rendered values, so window starts
        # still string-match the DuckDB oracle's naive timestamps.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return raw


def _drain(writer) -> None:
    """Start a bounded stream's query and run it to completion."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _run_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink and
    return its rows. The sink's name is dropped from the stream's
    session catalog, so only the returned frame holds the rows."""
    child = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    _drain(
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    )
    out = child.table(name)
    child._jsparkSession.sessionState().catalog().dropTempView(name)
    return out


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows x event_type: count + sum(value)."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.col("w.start").cast("string").alias("hour_start"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("hour_start", "event_type")


TUMBLING_ORACLE = """
SELECT cast(date_trunc('hour', ts) AS string) AS hour_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, 30 min slide) x event_type.

    Each event lands in two overlapping windows; the batch oracle
    reproduces that by fanning each event out to its k=0,1 grid starts.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.col("w.start").cast("string").alias("win_start"),
        "event_type",
        "n",
    ).orderBy("win_start", "event_type")


SLIDING_ORACLE = """
WITH fanned AS (
  SELECT event_type,
         time_bucket(INTERVAL 30 minutes, ts) - k * INTERVAL 30 minutes AS win_start,
         ts
  FROM events, (SELECT unnest(range(0, 2)) AS k)
)
SELECT cast(win_start AS string) AS win_start, event_type, count(*) AS n
FROM fanned
WHERE ts < win_start + INTERVAL 1 hour
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


def session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via
    ``F.session_window``; post-aggregated (batch) to sessions-per-user.

    The oracle is the independent batch formulation: lag() gap >30min
    marks a new session — two different algorithms, same answer.
    """
    sessions = (
        _events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_table(sessions, "complete")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


SESSION_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       cast(sum(new_session) AS bigint) AS n_sessions,
       count(*) AS n_events
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id (watermarked) -> per-type counts."""
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_table(deduped, "complete")
    return out.orderBy("event_type")


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(DISTINCT event_id) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state: ``dropDuplicatesWithinWatermark``
    keys state by event_id but evicts entries once the watermark passes
    them — the form that holds at unbounded stream length (plain
    dropDuplicates state grows forever). On the bounded fixture (no
    duplicate event_ids across the watermark) it is batch-equivalent.
    """
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_table(deduped, "complete")
    return out.orderBy("event_type")


def _user_summary_fn(key, pdf_iter, state):
    """Custom stateful kernel: accumulate (n_events, total_value) per
    user across micro-batches in GroupState, emit the running summary.

    Arrow-batched (pandas per group-chunk) — the supported shape for
    stateful logic Spark's built-in operators can't express.
    """
    import pandas as pd  # noqa: PLC0415 — runs on executors

    (user_id,) = key
    if state.exists:
        n, tot = state.get
    else:
        n, tot = 0, 0.0
    for pdf in pdf_iter:
        n += len(pdf)
        tot += float(pdf["value"].sum())
    state.update((int(n), float(tot)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [tot]}
    )


def stateful_user_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value total), state kept in the
    store between micro-batches.

    In update mode each batch emits the refreshed summary; n_events is
    strictly increasing per user, so the post-aggregation keeps the
    latest emission per user regardless of how the bounded stream was
    split into batches — making the result batch-equivalent and
    oracle-checkable.
    """
    stream = _events_stream(spark, sf_dir)
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _user_summary_fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, tot double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    out = _run_to_table(updated, "update")
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.round(F.col("s.total_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


STATEFUL_SUMMARY_ORACLE = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def _view_click_stream(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Each ``view`` event joined (``how``) to the ``click`` events by
    the same user within the following 30 minutes. Both sides are
    watermarked (1 hour) and the join carries the event-time range
    condition, which is what lets Spark bound both join-state buffers."""
    ev = _events_stream(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").selectExpr(
        "user_id AS v_user", "event_id AS view_id", "ts AS v_ts"
    ).withWatermark("v_ts", "1 hour")
    clicks = ev.where(F.col("event_type") == "click").selectExpr(
        "user_id AS c_user", "event_id AS click_id", "ts AS c_ts"
    ).withWatermark("c_ts", "1 hour")
    return views.join(
        clicks,
        F.expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval 30 minutes"),
        how,
    )


def view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join — Structured Streaming's hardest
    shape (``_view_click_stream``); without the time bound,
    stream-stream join state grows forever.

    The joined rows are post-aggregated (batch) to per-user pair
    counts so the bounded-stream result is compact and order-free; the
    oracle is the equivalent batch self-join.
    """
    joined = _view_click_stream(spark, sf_dir, "inner")
    out = _run_to_table(joined.select("v_user", "view_id", "click_id"), "append")
    return (
        out.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("view_id").alias("n_views_with_click"),
        )
        .orderBy("user_id")
    )


VIEW_CLICK_JOIN_ORACLE = """
WITH pairs AS (
  SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
  FROM events v
  JOIN events c
    ON c.user_id = v.user_id
   AND v.event_type = 'view' AND c.event_type = 'click'
   AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 minutes
)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT view_id) AS n_views_with_click
FROM pairs
GROUP BY user_id
ORDER BY user_id
"""


# Left-outer emission boundary (see view_click_left_outer): the query's
# global watermark is the MIN over both sides' watermark nodes (Spark's
# multi-watermark policy default), each side's watermark being its own
# max event time minus the 1-hour delay; an unmatched view row is only
# released once that global watermark passes v_ts + the 30-minute join
# bound. Comparing inside that boundary minus a 1-minute margin (the
# watermark is millisecond-truncated, so the exact edge is ambiguous by
# construction) makes stream and batch agree row-for-row.
OUTER_JOIN_CUTOFF = """
least(max(CASE WHEN event_type = 'view' THEN ts END),
      max(CASE WHEN event_type = 'click' THEN ts END))
  - INTERVAL 91 minutes
"""


def view_click_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-bounded join — the watermark-close
    shape :func:`view_click_join` doesn't exercise: views with NO click
    within 30 minutes surface as null-padded rows, and Structured
    Streaming can only emit those once the watermark proves no matching
    click can still arrive (state eviction in the trailing no-data
    micro-batch). Inner matches stream out immediately; the nulls are
    the part that needs the watermark machinery.

    The memory-sink output is post-filtered (batch) to the
    watermark-closed region — the region where the streamed result is
    CONTRACTUALLY equal to the batch left join — then rolled up per
    user; the oracle applies the identical cutoff. At scale this is the
    abandoned-cart/unclicked-impression pipeline: both state buffers
    stay bounded by the same time bound that closes the join.
    """
    joined = _view_click_stream(spark, sf_dir, "left_outer")
    out = _run_to_table(
        joined.select("v_user", "view_id", "click_id", "v_ts"), "append"
    )
    cutoff = spark.table("events").agg(
        F.expr(OUTER_JOIN_CUTOFF).alias("cutoff")
    )
    return (
        out.crossJoin(F.broadcast(cutoff))
        .where("v_ts <= cutoff")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.countDistinct("view_id").alias("n_views"),
            F.countDistinct(
                F.expr("CASE WHEN click_id IS NULL THEN view_id END")
            ).alias("n_unclicked_views"),
            F.sum(
                F.expr("CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END")
            ).alias("n_pairs"),
        )
        .orderBy("user_id")
    )


VIEW_CLICK_LEFT_OUTER_ORACLE = f"""
WITH cut AS (
  SELECT {OUTER_JOIN_CUTOFF} AS cutoff FROM events
), j AS (
  SELECT v.user_id, v.event_id AS view_id, v.ts AS v_ts,
         c.event_id AS click_id
  FROM events v LEFT JOIN events c
    ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 minutes
  WHERE v.event_type = 'view'
)
SELECT user_id, count(DISTINCT view_id) AS n_views,
       count(DISTINCT CASE WHEN click_id IS NULL THEN view_id END)
         AS n_unclicked_views,
       cast(sum(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs
FROM j, cut WHERE j.v_ts <= cut.cutoff
GROUP BY user_id
ORDER BY user_id
"""


def static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining streaming join
    shape (stream-stream is ``view_click_join``): the events stream
    joined to the static ``customer`` dimension, then aggregated per
    nation. Stream-static inner joins are STATELESS (each micro-batch
    probes the static side; no watermark, no join-state buffer), which
    is why the static side is explicitly broadcast — at cluster scale
    the dimension ships once per executor and the stream never
    shuffles for the join.

    ID-SPACE STAND-IN: ``events.user_id`` plays the customer key
    (fixture tables are independent; user_id 0..149 inner-joins
    c_custkey 1..N so the enrichment is non-vacuous). With a real
    keyed dimension the same plan applies unchanged.
    """
    ev = _events_stream(spark, sf_dir)
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.orderBy("c_nationkey")


STATIC_ENRICH_ORACLE = """
SELECT c_nationkey, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-arrival dedup — the OPERATIONAL ingestion shape a
    training-data pipeline runs continuously: newly arriving documents
    (the same deterministic batch cohort ``dedup.incremental_batch``
    uses) flow in as a bounded file stream; each micro-batch is checked
    against the STATIC existing corpus inside ``foreachBatch`` — exact
    sha256 equi-join plus minhash-band near-dup candidates verified at
    the jaccard threshold — and matches append to a parquet sink the
    result is read back from.

    Scale shape: the corpus-side artifacts (hash index, LSH band
    postings carrying their bucket occupancy, and shingle arrays for
    verification) are built ONCE and persisted for the stream's
    lifetime — at production scale these are persisted tables
    maintained by this very pipeline, not rescans. Per micro-batch work
    is |batch|-proportional: the batch's own hashes / bands / shingles
    are map-only, candidates come from the band equi-join against the
    corpus postings gated at TOTAL bucket occupancy (this micro-batch's
    members + corpus members <= MINHASH_MAX_BUCKET — the same cap
    semantics as ``dedup.incremental_batch``, so under the driver's
    single-micro-batch drain the two kernels provably agree;
    batch-internal pairs are never generated), and executors write
    match partitions directly to the sink — no watermark or
    stream-state buffer exists because corpus state lives OUTSIDE the
    stream, and no driver collect touches the data path. The caches
    release in the ``finally``; the sink directory is deleted after the
    result is frozen with an eager localCheckpoint.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (  # noqa: PLC0415
        dedup as _dd,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema  # footer-only, no data scan
    is_batch = f"doc_id % {_dd.INCR_BATCH_MOD} >= {_dd.INCR_BATCH_MIN}"

    corpus = spark.read.parquet(path).where(f"NOT ({is_batch})")
    corpus_hashes = (
        corpus.selectExpr("sha2(text, 256) AS h", "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("corpus_id"))
        .persist()
    )
    corpus_sh = _dd._shingle_arrays_df(spark, corpus).persist()
    corpus_bands = _dd._minhash_bands(corpus_sh)
    corpus_counts = corpus_bands.groupBy("band_id", "band_val").agg(
        F.count("*").alias("cn")
    )
    corpus_postings = (
        corpus_bands.join(corpus_counts, ["band_id", "band_val"])
        .selectExpr("doc_id AS b", "band_id", "band_val", "cn")
        .persist()
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_incr_dedup_{uuid.uuid4().hex[:8]}"
    )

    def _match(batch_df: DataFrame, batch_id: int) -> None:
        bb = batch_df.select("doc_id", "text")
        exact = (
            bb.selectExpr("doc_id AS batch_id", "sha2(text, 256) AS h")
            .join(corpus_hashes, "h")
            .select("batch_id", "corpus_id")
        )
        b_sh = _dd._shingle_arrays_df(spark, bb)
        b_bands = _dd._minhash_bands(b_sh)
        batch_counts = b_bands.groupBy("band_id", "band_val").agg(
            F.count("*").alias("bn")
        )
        cand = (
            b_bands.join(batch_counts, ["band_id", "band_val"])
            .selectExpr("doc_id AS a", "band_id", "band_val", "bn")
            .join(corpus_postings, ["band_id", "band_val"])
            .where(f"bn + cn <= {_dd.MINHASH_MAX_BUCKET}")
            .select("a", "b")
            .distinct()
        )
        arrs = b_sh.withColumnRenamed("shs", "grams").unionByName(
            corpus_sh.withColumnRenamed("shs", "grams")
        )
        near = _dd._verify_jaccard(cand, arrs, _dd.JACCARD_THRESHOLD).selectExpr(
            "doc_a AS batch_id", "doc_b AS corpus_id", "jaccard"
        )
        near_only = near.join(exact, ["batch_id", "corpus_id"], "left_anti")
        (
            exact.selectExpr(
                "batch_id", "corpus_id", "'exact' AS kind",
                "cast(1.0 AS double) AS jaccard",
            )
            .unionByName(
                near_only.selectExpr(
                    "batch_id", "corpus_id", "'near' AS kind", "jaccard"
                )
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    try:
        _drain(
            _stream_session(spark)
            .readStream.format("parquet")
            .schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .load(sf_dir)
            .where(is_batch)
            .writeStream.outputMode("append")
            .foreachBatch(_match)
        )
    finally:
        corpus_hashes.unpersist()
        corpus_sh.unpersist()
        corpus_postings.unpersist()
    # Freeze the matches (eager localCheckpoint — blocks are GC-scoped
    # to the returned frame) so the temp sink directory can be deleted
    # instead of accumulating across runs.
    final = (
        spark.read.parquet(out_dir)
        .localCheckpoint(eager=True)
        .orderBy("batch_id", "kind", "corpus_id")
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return final


def _docs_incremental_oracle() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (  # noqa: PLC0415
        dedup as _dd,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.dedup import (  # noqa: PLC0415
        DUCK_SHINGLES,
        _duck_band_ctes,
    )

    return f"""
WITH sh AS ({DUCK_SHINGLES}),
{_duck_band_ctes()},
flags AS (
  SELECT doc_id, sha256(text) AS h,
         doc_id % {_dd.INCR_BATCH_MOD} >= {_dd.INCR_BATCH_MIN} AS is_batch
  FROM documents
),
corpus_hashes AS (
  SELECT h, min(doc_id) AS corpus_id FROM flags WHERE NOT is_batch GROUP BY h
),
exact_m AS (
  SELECT f.doc_id AS batch_id, c.corpus_id
  FROM flags f JOIN corpus_hashes c USING (h)
  WHERE f.is_batch
),
occ AS (
  SELECT band_id, band_val, count(*) AS n FROM bands GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x
  JOIN flags fx ON fx.doc_id = x.doc_id AND fx.is_batch
  JOIN bands y ON x.band_id = y.band_id AND x.band_val = y.band_val
  JOIN flags fy ON fy.doc_id = y.doc_id AND NOT fy.is_batch
  JOIN occ ON occ.band_id = y.band_id AND occ.band_val = y.band_val
  WHERE occ.n <= {_dd.MINHASH_MAX_BUCKET}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
  GROUP BY c.a, c.b
),
near AS (
  SELECT inter.a AS batch_id, inter.b AS corpus_id,
         round(inter.i * 1.0 / (na.n + nb.n - inter.i), 4) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = inter.a
  JOIN sizes nb ON nb.doc_id = inter.b
  WHERE round(inter.i * 1.0 / (na.n + nb.n - inter.i), 4) >= {_dd.JACCARD_THRESHOLD}
),
near_only AS (
  SELECT n.* FROM near n
  WHERE NOT EXISTS (SELECT 1 FROM exact_m e
                    WHERE e.batch_id = n.batch_id AND e.corpus_id = n.corpus_id)
)
SELECT batch_id, corpus_id, 'exact' AS kind, 1.0::DOUBLE AS jaccard FROM exact_m
UNION ALL
SELECT batch_id, corpus_id, 'near' AS kind, jaccard FROM near_only
ORDER BY batch_id, kind, corpus_id
"""


def stream_index_events(
    spark: SparkSession,
    sf_dir: str,
    sink,
    index_name: str = "events_stream",
) -> dict:
    """Continuous indexing: events stream -> ``foreachBatch`` -> bulk
    sink — the reference's save pipeline (elastic_controller.go:253-301)
    lifted onto Structured Streaming, which the batch-only reference
    cannot do at all.

    Each micro-batch bulk-writes through the SAME pluggable sink the
    batch path uses (JsonlIndexSink / HttpBulkSink — whose
    flush-interval now matters, see HttpBulkSink docstring). Doc
    identity is the natural key ``event_id``: positional IDs are
    undefined under unbounded input, so the stream path upserts by key
    — re-delivered events overwrite themselves, making the sink
    idempotent under at-least-once delivery (the property that makes
    this safe on a real cluster).

    Returns accumulated run stats: {docs, failed, batches}.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import ID_COL

    totals = {"docs": 0, "failed": 0, "batches": 0}

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        with_id = batch_df.withColumn(ID_COL, F.col("event_id").cast("string"))
        stats = sink.write(batch_df.sparkSession, with_id, index_name)
        totals["docs"] += stats.num_docs
        totals["failed"] += stats.num_failed
        totals["batches"] += 1

    _drain(
        _events_stream(spark, sf_dir)
        .writeStream.outputMode("append")
        .foreachBatch(_write_batch)
    )
    return totals


def hll_daily_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL register maintenance: the per-(day, bucket)
    max-rank registers are kept by a STREAMING aggregation over the
    bounded event stream (incremental state — on an unbounded source
    each micro-batch merges into the same registers via the agg's state
    store, max() being exactly HLL's merge operator), and the
    daily/TOTAL estimates post-process the materialized 256-register
    relation with the SAME shared SQL as the batch entry
    (``inventory.HLL_DAILY_POST``), so stream and batch can never
    drift. The oracle is the batch entry's oracle verbatim — the claim
    under differential test is that streaming register maintenance
    produces the identical sketch.

    Scale/state posture: streaming state is (days x 256) tiny integer
    registers — bytes per day, not data; a production deployment bounds
    the day dimension with a watermark + window (the registers of
    closed days become immutable rows of a sketch table this pipeline
    appends to). The post-processing runs on the driver-side
    materialized register table (256 rows/day), not the stream.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        hex_prefix_int,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (  # noqa: PLC0415
        HLL_DAILY_POST,
    )

    h = hex_prefix_int("md5(cast(user_id AS string))", 12)
    regs = (
        _events_stream(spark, sf_dir)
        .selectExpr(f"{h} AS h", "cast(ts AS date) AS day")
        .selectExpr(
            "day",
            "h div 1099511627776 AS bucket",
            """CASE WHEN h % 1099511627776 = 0 THEN 41
                    ELSE 41 - length(bin(h % 1099511627776)) END AS m""",
        )
        .groupBy("day", "bucket")
        .agg(F.max("m").alias("m"))
    )
    out = _run_to_table(regs, "complete")
    # the view registers in the frame's own session, the stream's child
    child = out.sparkSession
    with bound(child, regs=out) as v:
        return child.sql(
            f"WITH regs AS (SELECT day, bucket, m FROM {v['regs']}),{HLL_DAILY_POST}"
        )


def registry() -> dict[str, dict]:
    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (  # noqa: PLC0415
        HLL_DAILY_DUCK,
    )

    return {
        "stream_hll_daily_merged": {
            "fn": hll_daily_merged,
            "oracle": HLL_DAILY_DUCK,
        },
        "stream_tumbling_counts": {"fn": tumbling_counts, "oracle": TUMBLING_ORACLE},
        "stream_sliding_counts": {"fn": sliding_counts, "oracle": SLIDING_ORACLE},
        "stream_session_counts": {"fn": session_counts, "oracle": SESSION_ORACLE},
        "stream_dedup_counts": {"fn": stream_dedup, "oracle": STREAM_DEDUP_ORACLE},
        "stream_dedup_within_watermark": {
            "fn": stream_dedup_within_watermark,
            "oracle": STREAM_DEDUP_ORACLE,
        },
        "stream_stateful_user_summary": {
            "fn": stateful_user_summary,
            "oracle": STATEFUL_SUMMARY_ORACLE,
        },
        "stream_view_click_join": {
            "fn": view_click_join,
            "oracle": VIEW_CLICK_JOIN_ORACLE,
        },
        "stream_view_click_left_outer": {
            "fn": view_click_left_outer,
            "oracle": VIEW_CLICK_LEFT_OUTER_ORACLE,
        },
        "stream_static_enrich": {
            "fn": static_enrich,
            "oracle": STATIC_ENRICH_ORACLE,
        },
        "stream_docs_incremental_dedup": {
            "fn": docs_incremental_dedup,
            "oracle": _docs_incremental_oracle(),
        },
        "stream_percolate_alerts": {
            "fn": percolate_alerts,
            "oracle": _percolate_alerts_oracle(),
        },
    }


# --- watcher-style alerting: stored queries percolated over the stream --------

# the stored alert rules: ordinary ES query clauses (the same grammar
# compile_search accepts), evaluated CONTINUOUSLY against the event
# stream — the ES Watcher / alerting idiom. One rule exercises the
# dotted object-field path (props.k reaches inside the JSON column)
# so the percolation covers the full clause surface, not just flat
# columns.
PERCOLATE_ALERT_RULES: dict[str, dict] = {
    "big_purchase": {"bool": {"filter": [
        {"term": {"event_type": "purchase"}},
        {"range": {"value": {"gte": 80}}},
    ]}},
    "hot_property": {"range": {"props.k": {"gte": 95}}},
    "any_click": {"term": {"event_type": "click"}},
}


def percolate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous percolation: N stored DSL queries evaluate against
    every event in ONE streaming pass (predicates stack into a
    row-local array, compact + explode emits the (event, rule)
    matches — the same inverted-percolator shape as the batch
    operator), then alerts aggregate per 6-hour window x rule.

    Scale shape: adding rules adds row-local CASE expressions, never
    passes — 1,000 stored alerts still scan the stream once; the only
    shuffle is the windowed count, keyed (window, rule), which
    partial-aggregates map-side. This is the ES Watcher workload as a
    Structured Streaming job."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _query_expr,
    )

    stream = _events_stream(spark, sf_dir)
    tags = [
        F.when(
            F.expr(_query_expr(rule, "spark", "event_id")), F.lit(name)
        )
        for name, rule in PERCOLATE_ALERT_RULES.items()
    ]
    agg = (
        stream.withColumn(
            "alert", F.explode(F.array_compact(F.array(*tags)))
        )
        .groupBy(F.window("ts", "6 hours").alias("w"), "alert")
        .agg(
            F.count("*").alias("n_alerts"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.col("w.start").cast("string").alias("window_start"),
        "alert",
        "n_alerts",
        "value_sum",
    ).orderBy("window_start", "alert")


def _percolate_alerts_oracle() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _query_expr,
    )

    arms = "\n  UNION ALL ".join(
        f"SELECT ts, value, '{name}' AS alert FROM events"
        f" WHERE {_query_expr(rule, 'duck', 'event_id')}"
        for name, rule in PERCOLATE_ALERT_RULES.items()
    )
    return f"""
WITH matched AS (
  {arms}
)
SELECT cast(cast(to_timestamp(floor(epoch(ts) / 21600) * 21600)
                 AS TIMESTAMP) AS string) AS window_start,
       alert,
       count(*) AS n_alerts,
       round(sum(value), 2) AS value_sum
FROM matched
GROUP BY 1, 2
ORDER BY window_start, alert
"""
