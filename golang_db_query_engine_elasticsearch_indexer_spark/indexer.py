"""Indexing pipeline: query -> deterministic doc IDs -> bulk sink.

Reference parity (SURVEY.md §2.A A9-A16, elastic_controller.go):

- The reference re-reads its own /query/ endpoint over loopback HTTP,
  buffers the whole result in driver RAM three times
  (elastic_controller.go:118,129,104), then fans out to
  ``esutil.BulkIndexer`` goroutines. Here the DataFrame *is* the
  handoff: one lineage from scan to sink, executors write partitions
  directly — this is what makes the path feasible at 100 TB
  (SURVEY.md §4.2 "memory model").
- Doc identity: the reference uses the 1-based position of the row in
  the result (elastic_controller.go:204), so re-running a save upserts
  by position and a shorter re-run leaves a stale tail (§1.1 quirk).
  We reproduce the positional-ID + stale-tail semantics exactly, but
  over a *deterministic total order* (SURVEY.md §7 hard-part #1),
  assigned scalably: range-partitioned sort, per-partition row_number,
  plus per-partition offsets passed as one literal array — no
  single-partition window and no join.
- Sinks are pluggable (§4.3): a local JSONL index models
  auto-create / positional upsert / failure accounting for offline
  tests; the Elasticsearch sink carries the reference's bulk tuning
  (workers = partitions, 5 MB flush elastic_controller.go:46, retry on
  429/502/503/504 :52-64) as elasticsearch-spark connector options.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df

ID_COL = "_id"


@dataclass
class IndexStats:
    """Parity with the reference's run accounting
    (elastic_controller.go:236-249): flushed/failed counts + docs/sec."""

    index_name: str
    num_docs: int = 0
    num_failed: int = 0
    took_sec: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def docs_per_sec(self) -> float:
        return self.num_docs / self.took_sec if self.took_sec > 0 else 0.0

    def log_line(self) -> str:
        return json.dumps(
            {
                "index": self.index_name,
                "num_flushed": self.num_docs,
                "num_failed": self.num_failed,
                "took_sec": round(self.took_sec, 3),
                "docs_per_sec": round(self.docs_per_sec, 1),
            }
        )


def _orderable_cols(df: DataFrame) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def with_positional_ids(
    df: DataFrame,
    order_cols: list[str] | None = None,
    release: list[DataFrame] | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """Assign the reference's 1-based positional doc ID, scalably.

    The reference enumerates a driver-side list (``i + 1``,
    elastic_controller.go:204); Spark result order is undefined, so we
    impose a deterministic total order (explicit ``order_cols`` or all
    orderable output columns — documented deviation, SURVEY.md §7) and
    assign contiguous IDs without ever collapsing to one partition:

    1. global sort (range partitioning preserves order across partitions)
    2. per-partition row_number (narrow)
    3. per-partition counts -> cumulative offsets, passed as one literal
       ``long`` array indexed by partition id (no join, no extra job)

    The sorted frame is materialized (load-bearing — see inline
    comment). Two modes:

    - ``checkpoint=False`` (default): ``persist()``; the cache must
      outlive the caller's terminal action on the result, so release is
      the CALLER's duty — pass a ``release`` list and ``unpersist()``
      its entries once the output action completes (as ``save()`` does
      in a try/finally); without one the cache lives until session end.
    - ``checkpoint=True``: eager ``localCheckpoint()`` — partitioning
      is frozen by materialization (even stronger than persist), the
      blocks are auto-cleaned when the result is garbage-collected,
      and a stale re-evaluation after cleanup FAILS LOUDLY (missing
      checkpoint block) instead of silently renumbering IDs. The right
      mode when the result's consumption point is outside the caller's
      control (the driver-contract query path).
    """
    cols = order_cols or _orderable_cols(df)
    # The hash-of-row tiebreak is appended UNCONDITIONALLY (not just
    # when no orderable columns exist): a low-cardinality declared
    # order — say a single status flag — would otherwise concentrate
    # each range partition on one key value, serializing the sort
    # through a few straggler partitions at scale. The tiebreak spreads
    # ties uniformly across partitions at no semantic cost (IDs remain
    # consistent with ``cols``; ties get a deterministic hash order
    # instead of an arbitrary one). xxhash64 folds the columns natively
    # (no per-row JSON serialization on the hot path — to_json would
    # materialize every multi-KB document just to hash it) and the sort
    # key is one long: 8 extra bytes on the shuffle, not a string.
    df = df.withColumn("__sort_key", F.xxhash64(*[F.col(c) for c in df.columns]))
    cols = [*cols, "__sort_key"]
    # One range-partitioned sort; in-partition position comes from
    # monotonically_increasing_id's low 33 bits (narrow — no second
    # shuffle, unlike a Window over the partition id). The persist is
    # required for correctness, not just speed: the counts pass and the
    # output pass must see the SAME physical partitioning, and an AQE
    # re-plan between two evaluations of an unpersisted sort could
    # renumber partitions and corrupt every offset.
    ordered = df.orderBy(*cols).select(
        "*",
        F.spark_partition_id().alias("__pid"),
        (F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)).alias("__idx"),
    )
    if checkpoint:
        ordered = ordered.localCheckpoint(eager=True)
    else:
        ordered = ordered.persist()
        if release is not None:
            release.append(ordered)
    # Offsets ride in the projection as one literal array indexed by the
    # cached __pid. A partition with no rows has no count row, so the
    # array spans 0..max(__pid) with zeros filled in (ANSI element_at
    # raises out of range) and holds one entry for an empty frame.
    counts = dict(ordered.groupBy("__pid").count().collect())
    sizes = [counts.get(pid, 0) for pid in range(max(counts, default=0) + 1)]
    offsets = list(accumulate(sizes, initial=0))[:-1]
    return ordered.withColumn(
        ID_COL,
        F.element_at(F.lit(offsets).cast("array<long>"), F.col("__pid") + 1)
        + F.col("__idx")
        + 1,
    ).drop("__pid", "__idx", "__sort_key")


class JsonlIndexSink:
    """Local filesystem 'index': a directory of JSONL part files.

    Models the ES semantics the tests need offline (SURVEY.md §7
    hard-part #4): auto-create (A12), positional upsert incl. the
    stale-tail behavior, per-run accounting. Writes happen from
    executors via ``df.write`` — the driver never holds the dataset.
    """

    def __init__(self, root: str):
        self.root = root

    def _dir(self, index_name: str) -> str:
        return os.path.join(self.root, index_name)

    def index_exists(self, index_name: str) -> bool:
        return os.path.isdir(self._dir(index_name))

    def ensure_index(self, index_name: str) -> bool:
        """HEAD-then-PUT parity (elastic_controller.go:161-181): returns
        True if the index already existed."""
        existed = self.index_exists(index_name)
        os.makedirs(self._dir(index_name), exist_ok=True)
        return existed

    def write(self, spark: SparkSession, df_with_id: DataFrame, index_name: str) -> IndexStats:
        """Bulk 'index' action: upsert by _id, keep stale tail docs."""
        t0 = time.time()
        self.ensure_index(index_name)
        path = self._dir(index_name)
        existing = self.read(spark, index_name)
        if existing is not None:
            survivors = existing.join(
                df_with_id.select(ID_COL), ID_COL, "left_anti"
            )
            payload = df_with_id.unionByName(survivors, allowMissingColumns=True)
        else:
            payload = df_with_id
        tmp = path + ".tmp"
        payload.write.mode("overwrite").json(tmp)
        shutil.rmtree(path)
        os.replace(tmp, path)
        num_docs = df_with_id.count()
        return IndexStats(index_name, num_docs=num_docs, took_sec=time.time() - t0)

    def read(self, spark: SparkSession, index_name: str) -> DataFrame | None:
        path = self._dir(index_name)
        if not os.path.isdir(path) or not any(
            f.endswith(".json") for f in os.listdir(path)
        ):
            return None
        return spark.read.json(path)

    def delete_index(self, index_name: str) -> None:
        shutil.rmtree(self._dir(index_name), ignore_errors=True)


class ParquetPartitionedSink:
    """Warehouse sink: hive-partitioned parquet with DYNAMIC partition
    overwrite — the write path a curated 100 TB corpus actually lands
    on (the ES index the reference feeds is a SERVING copy; the corpus
    of record lives partitioned in object storage).

    Semantics: ``write`` replaces ONLY the partitions present in the
    incoming frame (``partitionOverwriteMode=dynamic``) and leaves
    every other partition untouched — per-partition idempotent
    re-ingestion, the batch analog of the ES positional upsert this
    module's other sinks model. Executors write their partitions
    directly; the driver never holds data. Downstream readers get
    partition pruning on the partition columns for free.
    """

    def __init__(self, root: str, partition_by: tuple[str, ...]):
        if not partition_by:
            raise ValueError("partition_by must name at least one column")
        self.root = root
        self.partition_by = tuple(partition_by)

    def _dir(self, index_name: str) -> str:
        return os.path.join(self.root, index_name)

    def index_exists(self, index_name: str) -> bool:
        return os.path.isdir(self._dir(index_name))

    def write(self, spark: SparkSession, df_with_id: DataFrame, index_name: str) -> IndexStats:
        t0 = time.time()
        (
            df_with_id.write.mode("overwrite")
            # per-write override: only partitions present in df are
            # replaced; absent ones survive (no session-conf mutation)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_by)
            .parquet(self._dir(index_name))
        )
        return IndexStats(
            index_name, num_docs=df_with_id.count(), took_sec=time.time() - t0
        )

    def read(self, spark: SparkSession, index_name: str) -> DataFrame | None:
        if not self.index_exists(index_name):
            return None
        return spark.read.parquet(self._dir(index_name))

    def delete_index(self, index_name: str) -> None:
        shutil.rmtree(self._dir(index_name), ignore_errors=True)


def _iter_jsonl(path: str):
    for fn in os.listdir(path):
        if fn.endswith(".json"):
            with open(os.path.join(path, fn)) as f:
                yield from f


def es_mapping_for_schema(schema) -> dict:
    """Explicit Elasticsearch mapping derived from a Spark schema — the
    A12 improvement SURVEY.md names: the reference creates indexes with
    no mapping body (elastic_controller.go:168) because it never knows
    result types; Spark's analyzer does, so the index can be created
    with the types the data actually has (int64 stays ``long`` instead
    of whatever dynamic mapping infers from the first document).

    Rules mirror ES dynamic-mapping conventions: strings become
    ``text`` with a ``keyword`` subfield, timestamps/dates ``date``,
    integers ``long``, floats ``double``; ES arrays are implicit, so an
    ArrayType maps to its element type; StructType nests as object
    ``properties``.
    """
    from pyspark.sql import types as T

    def es_type(dt) -> dict:
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return {"type": "long"}
        if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
            return {"type": "double"}
        if isinstance(dt, T.BooleanType):
            return {"type": "boolean"}
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            return {"type": "date"}
        if isinstance(dt, T.BinaryType):
            return {"type": "binary"}
        if isinstance(dt, T.ArrayType):
            return es_type(dt.elementType)
        if isinstance(dt, T.MapType):
            # a JSON object with open keys — dynamic object mapping
            # (the text fallback would reject every document).
            return {"type": "object"}
        if isinstance(dt, T.StructType):
            return {"properties": {f.name: es_type(f.dataType) for f in dt.fields}}
        return {
            "type": "text",
            "fields": {"keyword": {"type": "keyword", "ignore_above": 256}},
        }

    return {"properties": {f.name: es_type(f.dataType) for f in schema.fields}}


def post_bulk_ndjson(
    base_url: str,
    headers: dict[str, str],
    lines: list[str],
    *,
    max_retries: int,
    retry_wait: float,
    timeout: float,
    retry_statuses: tuple[int, ...] = (429, 502, 503, 504),
) -> tuple[int, int]:
    """POST one ``_bulk`` NDJSON body and return (ok, failed) item
    counts — request-level retry with linear backoff on the
    reference's status set (elastic_controller.go:52-64). Module-level
    so BOTH executor paths share it: HttpBulkSink's ``mapInArrow``
    partitions and the Python Data Source task writer
    (sources/es_datasource.py)."""
    import json as _json  # noqa: PLC0415 — executor-side
    import time as _time  # noqa: PLC0415
    import urllib.error  # noqa: PLC0415
    import urllib.request  # noqa: PLC0415

    body = ("\n".join(lines) + "\n").encode()
    req = urllib.request.Request(
        base_url + "/_bulk", data=body, method="POST", headers=headers
    )
    for attempt in range(max_retries + 1):
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                data = _json.loads(resp.read())
            ok = failed = 0
            for item in data.get("items", []):
                status = item.get("index", {}).get("status", 500)
                if status < 300:
                    ok += 1
                else:
                    failed += 1
            return ok, failed
        except urllib.error.HTTPError as e:
            if e.code in retry_statuses and attempt < max_retries:
                _time.sleep(retry_wait * (attempt + 1))
                continue
            raise
    raise RuntimeError("unreachable")


class HttpBulkSink:
    """Executable Elasticsearch ``_bulk`` path over plain HTTP — the
    reference's actual write protocol (``esutil.BulkIndexer`` → POST
    ``/_bulk``, elastic_controller.go:184-250) runnable offline with no
    connector jar and no client library: executors speak the wire
    format directly.

    Scale shape:

    - both NDJSON lines are rendered JVM-side (``to_json`` over the
      action struct and over the document struct), so Python only
      receives ``(action, doc)`` string pairs through ``mapInArrow`` —
      no pandas hop, no per-row ``json.dumps``, and the document never
      round-trips a Python object; each partition returns one
      ``(n_ok, n_failed)`` row, summed on the driver (no shuffle);
    - each partition accumulates NDJSON action/source line pairs and
      POSTs when the buffer reaches ``flush_bytes`` (5 MB default,
      parity elastic_controller.go:46) — executor memory held per task
      is one flush buffer, independent of partition size;
    - flush also fires when ``flush_interval_sec`` (30 s default,
      parity with the reference's FlushInterval,
      elastic_controller.go:149) elapses between flushes — checked as
      docs stream through the partition (no background ticker thread;
      for a batch partition the end-of-partition flush dominates, the
      interval matters when the sink is reused under streaming
      ``foreachBatch`` with slow upstream batches);
    - request-level retry on 429/502/503/504 up to ``max_retries``
      (parity :52-64, same status set);
    - per-item statuses from each response feed ``num_docs`` (flushed
      OK) and ``num_failed`` exactly like the reference's
      OnSuccess/OnFailure callbacks (:210-222) — the counter can
      actually move, unlike a constant;
    - index auto-create is HEAD-then-PUT (:161-181).
    """

    RETRY_STATUSES = (429, 502, 503, 504)

    def __init__(
        self,
        base_url: str = "http://localhost:9200",
        flush_bytes: int = 5 * 1024 * 1024,
        max_retries: int = 5,
        retry_wait: float = 0.2,
        timeout: float = 10.0,
        username: str | None = None,
        password: str | None = None,
        flush_interval_sec: float = 30.0,
        explicit_mapping: bool = False,
    ):
        if "://" not in base_url:
            base_url = "http://" + base_url
        self.base_url = base_url.rstrip("/")
        self.flush_bytes = flush_bytes
        self.max_retries = max_retries
        self.retry_wait = retry_wait
        self.timeout = timeout
        self.flush_interval_sec = flush_interval_sec
        # SURVEY §2.A A12 flags the reference's body-less index create
        # (elastic_controller.go:168 — ES dynamic mapping infers types
        # per document) and names the improvement: derive an explicit
        # mapping from the result schema, which Spark knows at analyze
        # time and the reference never has. Off by default (parity).
        self.explicit_mapping = explicit_mapping
        # Basic auth parity with the reference's client config
        # (elastic_controller.go:54-62: ELASTICSEARCH_USERNAME/PASSWORD).
        self._auth = None
        if username:
            import base64

            self._auth = "Basic " + base64.b64encode(
                f"{username}:{password or ''}".encode()
            ).decode()

    def _headers(self, content_type: str = "application/x-ndjson") -> dict[str, str]:
        h = {"Content-Type": content_type}
        if self._auth:
            h["Authorization"] = self._auth
        return h

    def _request(
        self,
        method: str,
        path: str,
        body: bytes | None = None,
        content_type: str = "application/x-ndjson",
    ) -> int:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.base_url + path,
            data=body,
            method=method,
            headers=self._headers(content_type),
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    def index_exists(self, index_name: str) -> bool:
        return self._request("HEAD", f"/{index_name}") == 200

    def delete_index(self, index_name: str) -> bool:
        """DELETE /{index}; True if it existed. The overwrite-mode
        primitive for the Data Source writer (the reference only ever
        appends; SaveMode.Overwrite needs a recreate)."""
        return self._request("DELETE", f"/{index_name}") == 200

    def refresh(self, index_name: str) -> bool:
        """POST /{index}/_refresh — the read-visibility barrier a test
        or a strictly-ordered pipeline issues after a bulk load (ES
        makes bulk writes searchable only after a refresh cycle)."""
        return (
            self._request(
                "POST", f"/{index_name}/_refresh", content_type="application/json"
            )
            == 200
        )

    def swap_alias(self, alias: str, new_index: str, old_index: str | None = None) -> bool:
        """Atomically point ``alias`` at ``new_index`` (removing it from
        ``old_index`` in the SAME ``_aliases`` request) — the
        zero-downtime reindex pattern: readers query the alias while a
        fresh index is bulk-loaded, then the swap flips them over in
        one atomic action set. The reference writes straight to a named
        index (elastic_controller.go:276-297) and has no cutover story;
        this is the operational improvement a production indexer needs.
        """
        import json as _json

        actions: list[dict] = []
        if old_index:
            actions.append({"remove": {"index": old_index, "alias": alias}})
        actions.append({"add": {"index": new_index, "alias": alias}})
        status = self._request(
            "POST",
            "/_aliases",
            body=_json.dumps({"actions": actions}).encode(),
            content_type="application/json",
        )
        return status == 200

    def ensure_index(self, index_name: str, schema=None) -> bool:
        """HEAD-then-PUT parity (elastic_controller.go:161-181). With
        ``explicit_mapping`` and a schema, the create carries a typed
        mappings body instead of relying on ES dynamic mapping."""
        if self.index_exists(index_name):
            return True
        if self.explicit_mapping and schema is not None:
            import json as _json

            # The mappings body is JSON, not NDJSON — real ES enforces
            # strict content types (406 on x-ndjson for this call).
            self._request(
                "PUT",
                f"/{index_name}",
                body=_json.dumps({"mappings": es_mapping_for_schema(schema)}).encode(),
                content_type="application/json",
            )
        else:
            self._request("PUT", f"/{index_name}")
        return False

    def write(self, spark: SparkSession, df_with_id: DataFrame, index_name: str) -> IndexStats:
        t0 = time.time()
        self.ensure_index(index_name, schema=df_with_id.drop(ID_COL).schema)

        doc_cols = [c for c in df_with_id.columns if c != ID_COL]
        meta = F.struct(
            F.lit(index_name).alias("_index"), F.col(ID_COL).cast("string").alias("_id")
        )
        payload = df_with_id.select(
            F.to_json(F.struct(meta.alias("index"))).alias("action"),
            F.to_json(F.struct(*doc_cols)).alias("doc"),
        )

        base_url = self.base_url
        flush_bytes = self.flush_bytes
        max_retries = self.max_retries
        retry_wait = self.retry_wait
        timeout = self.timeout
        retry_statuses = self.RETRY_STATUSES
        headers = self._headers()
        flush_interval = self.flush_interval_sec

        def send_partition(batches):
            import time as _time

            import pyarrow as pa

            from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
                post_bulk_ndjson,
            )

            def post_bulk(lines: list[str]) -> tuple[int, int]:
                return post_bulk_ndjson(
                    base_url,
                    headers,
                    lines,
                    max_retries=max_retries,
                    retry_wait=retry_wait,
                    timeout=timeout,
                    retry_statuses=retry_statuses,
                )

            n_ok = n_failed = 0
            lines: list[str] = []
            buf_size = 0
            last_flush = _time.monotonic()
            for batch in batches:
                actions, docs = (c.to_pylist() for c in batch.columns)
                for action, doc in zip(actions, docs):
                    lines.extend((action, doc))
                    buf_size += len(action) + len(doc) + 2
                    if buf_size >= flush_bytes or (
                        _time.monotonic() - last_flush >= flush_interval
                    ):
                        ok, failed = post_bulk(lines)
                        n_ok += ok
                        n_failed += failed
                        lines, buf_size = [], 0
                        last_flush = _time.monotonic()
            if lines:
                ok, failed = post_bulk(lines)
                n_ok += ok
                n_failed += failed
            yield pa.RecordBatch.from_pydict({"n_ok": [n_ok], "n_failed": [n_failed]})

        # One (n_ok, n_failed) row per partition: summed here, no shuffle.
        counts = payload.mapInArrow(send_partition, "n_ok long, n_failed long").collect()
        return IndexStats(
            index_name,
            num_docs=sum(r.n_ok for r in counts),
            num_failed=sum(r.n_failed for r in counts),
            took_sec=time.time() - t0,
        )


class ElasticsearchSink:
    """elasticsearch-spark connector sink with the reference's bulk
    tuning. The connector jar is not in this container, so ``write``
    degrades to raising with the exact spark-submit config needed;
    ``options()`` is unit-tested for parity.
    """

    def __init__(
        self,
        nodes: str = "localhost:9200",
        username: str | None = None,
        password: str | None = None,
    ):
        self.nodes = nodes
        self.username = username
        self.password = password

    CONNECTOR_CLASS = "org.elasticsearch.spark.sql.DefaultSource"

    def connector_available(self, spark: SparkSession) -> bool:
        """True when the elasticsearch-spark connector is loadable —
        the gate create_app uses to fall back to HttpBulkSink (same
        endpoint, same wire protocol) instead of shipping a sink that
        can only raise. Checks Spark's own classloader first:
        ``--packages``/``spark.jars`` jars live in Spark's mutable URL
        classloader, which plain ``Class.forName`` (system classpath)
        cannot see."""
        try:
            spark._jvm.org.apache.spark.util.Utils.classForName(
                self.CONNECTOR_CLASS, True, False
            )
            return True
        except Exception:
            pass
        try:
            spark._jvm.java.lang.Class.forName(self.CONNECTOR_CLASS)
            return True
        except Exception:
            return False

    def options(self, index_name: str) -> dict[str, str]:
        opts = {
            "es.nodes": self.nodes,
            "es.resource": index_name,
            # auto-create parity: elastic_controller.go:168 (PUT with no mapping)
            "es.index.auto.create": "true",
            # bulk sizing parity: 5 MB flush threshold (elastic_controller.go:46)
            "es.batch.size.bytes": "5mb",
            "es.batch.size.entries": "0",
            # retry/backoff parity: max 5, on 429/502/503/504 (:52-64)
            "es.batch.write.retry.count": "5",
            "es.batch.write.retry.wait": "10s",
            "es.mapping.id": ID_COL,
            "es.write.operation": "index",
        }
        if self.username:
            opts["es.net.http.auth.user"] = self.username
        if self.password:
            opts["es.net.http.auth.pass"] = self.password
        return opts

    def write(self, spark: SparkSession, df_with_id: DataFrame, index_name: str) -> IndexStats:
        t0 = time.time()
        try:
            (
                df_with_id.write.format("org.elasticsearch.spark.sql")
                .options(**self.options(index_name))
                .mode("append")
                .save()
            )
        except Exception as e:  # connector jar absent in this environment
            raise RuntimeError(
                "elasticsearch-spark connector not on classpath; submit with "
                "--packages org.elasticsearch:elasticsearch-spark-30_2.13:<ver>"
            ) from e
        return IndexStats(index_name, num_docs=df_with_id.count(), took_sec=time.time() - t0)


def positional_ids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry validating the distributed ID assignment:
    the range-partition + offset machinery must reproduce a global
    ``row_number()`` exactly. Uses checkpoint mode: the result is
    consumed at a point outside this function's control, so the backing
    blocks are GC-scoped and a post-cleanup re-evaluation fails loudly
    rather than silently renumbering (see with_positional_ids)."""
    df = query_df(
        spark,
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000",
    )
    return (
        with_positional_ids(df, order_cols=["o_orderkey"], checkpoint=True)
        .select(F.col(ID_COL).alias("doc_id"), "o_orderkey", "o_orderstatus")
        .orderBy("doc_id")
    )


POSITIONAL_IDS_ORACLE = """
SELECT row_number() OVER (ORDER BY o_orderkey) AS doc_id, o_orderkey, o_orderstatus
FROM orders
WHERE o_totalprice > 100000
ORDER BY doc_id
"""


def query_registry() -> dict[str, dict]:
    return {
        "indexer_positional_ids": {
            "fn": positional_ids_query,
            "oracle": POSITIONAL_IDS_ORACLE,
        },
    }


def save(
    spark: SparkSession,
    sql: str,
    index_name: str,
    sink,
    order_cols: list[str] | None = None,
) -> IndexStats:
    """POST /elastic/save/ semantics (elastic_controller.go:253-301):
    validate+run the query, assign positional IDs, bulk-write to the
    sink — as one Spark lineage, no loopback HTTP, no driver buffering.
    """
    df = query_df(spark, sql)
    handles: list[DataFrame] = []
    with_ids = with_positional_ids(df, order_cols=order_cols, release=handles)
    try:
        stats = sink.write(spark, with_ids, index_name)
    finally:
        # The sink's write action is done — the sorted cache backing the
        # positional IDs is no longer load-bearing. Without this every
        # save() leaked one cached sorted copy until session end.
        for h in handles:
            h.unpersist()
    return stats
