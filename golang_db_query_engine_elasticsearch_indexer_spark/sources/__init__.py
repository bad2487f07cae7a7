"""Source connectors: named formats behind the registry seam.

Reference parity: the reference's only "sources" are live MySQL /
Postgres databases selected by ``(dbDriver, dbName)`` (base.go:38-66) —
it owns no data and no formats. Our engine internalizes storage
(SURVEY.md §0), so a *source* here is (format, location) registered in
the Spark catalog. The ``jdbc`` builder keeps the live-RDBMS federation
seam the reference has (Q2: its postgres branch never actually worked;
ours is one option-dict away from either backend).

Scale posture: every reader returns a *lazy* DataFrame — registration
reads footers/headers only. Parquet scans get predicate pushdown and
column pruning from Catalyst for free; CSV/JSON get column pruning and
(for CSV) filter pushdown per Spark's datasource rules. binaryFile is
the multimodal ingest path (BinaryType content + typed metadata),
fed to the Pandas-UDF feature extractors in operators/multimodal.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
    IncorrectDbDriverError,
)

#: format name -> (reader format, default options)
_FORMATS: dict[str, tuple[str, dict[str, str]]] = {
    "parquet": ("parquet", {}),
    "csv": ("csv", {"header": "true", "inferSchema": "true"}),
    "json": ("json", {}),
    "orc": ("orc", {}),
    # raw-lines corpus ingest: one string column ``value`` per line —
    # the front door of a text-pipeline (documents arrive as flat text
    # long before they have schema); wholetext=false keeps it splittable
    "text": ("text", {}),
}

#: file suffixes recognized when scanning a directory for tables
_SUFFIXES = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".orc": "orc",
    ".txt": "text",
}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Lazy reader for one table at ``path`` in ``fmt``.

    ``fmt="elastic"`` treats ``path`` as an Elasticsearch INDEX name
    and reads through the sliced-scroll Data Source (es_scroll.py):
    connection settings come from options (``url``/``username``/
    ``password``), falling back to the reference's environment names
    (ELASTICSEARCH_HOST/USERNAME/PASSWORD via config.app_config) —
    the same resolution order the Go client uses."""
    if fmt == "elastic":
        from golang_db_query_engine_elasticsearch_indexer_spark.config import (  # noqa: PLC0415
            app_config,
        )
        from golang_db_query_engine_elasticsearch_indexer_spark.sources.es_scroll import (  # noqa: PLC0415
            FORMAT_NAME as _SCROLL,
            register as _register_scroll,
        )

        _register_scroll(spark)
        cfg = app_config()
        opts = dict(options or {})
        opts.setdefault("index", path)
        if "url" not in opts and cfg.get("ELASTICSEARCH_HOST"):
            opts["url"] = cfg["ELASTICSEARCH_HOST"]
        for env_key, opt_key in (
            ("ELASTICSEARCH_USERNAME", "username"),
            ("ELASTICSEARCH_PASSWORD", "password"),
        ):
            if opt_key not in opts and cfg.get(env_key):
                opts[opt_key] = cfg[env_key]
        schema = opts.pop("schema", None)
        reader = spark.read.format(_SCROLL).options(**opts)
        if schema:
            reader = reader.schema(schema)
        return reader.load()
    if fmt not in _FORMATS:
        raise IncorrectDbDriverError(f"Unknown source format {fmt!r}")
    reader_fmt, defaults = _FORMATS[fmt]
    return spark.read.format(reader_fmt).options(**{**defaults, **(options or {})}).load(path)


def register_dir(
    spark: SparkSession,
    directory: str,
    fmt: str | None = None,
    options: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Register every recognized table file/dir under ``directory`` as a
    temp view named after its basename. Metadata-only (generalizes
    session.register_sf_dir beyond the fixture layout/format). A view
    that shadows a source table lasts until the next register_sf_dir
    on ``spark``, which drops it."""
    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(directory)):
        base, ext = os.path.splitext(entry)
        efmt = fmt or _SUFFIXES.get(ext)
        if efmt is None:
            continue
        df = read_table(spark, os.path.join(directory, entry), efmt, options)
        df.createOrReplaceTempView(base)
        out[base] = df
    return out


def read_binary_dir(
    spark: SparkSession, directory: str, glob: str | None = None
) -> DataFrame:
    """Multimodal ingest: opaque bytes + typed metadata per file.

    Schema: (path string, modificationTime timestamp, length long,
    content binary). Feature extraction over ``content`` belongs in
    Arrow-batched Pandas UDFs (operators/multimodal.py), never
    row-at-a-time Python.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(directory)


def jdbc_options(
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> dict[str, str]:
    """Option dict for a federated JDBC read (reference's mysql/postgres
    backends, base.go:38-66).

    The partitioning quartet is what makes a JDBC scan parallel instead
    of a single-connection trickle — required posture for any sizable
    table; Spark pushes filters and column pruning into the remote SQL.
    """
    opts = {"url": url, "dbtable": table}
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    if driver:
        opts["driver"] = driver
    if partition_column is not None:
        if num_partitions is None or lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires num_partitions, lower_bound, upper_bound"
            )
        opts.update(
            {
                "partitionColumn": partition_column,
                "numPartitions": str(num_partitions),
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
            }
        )
    return opts


def read_jdbc(spark: SparkSession, **kwargs) -> DataFrame:
    """Lazy federated read; connects only when an action runs. Needs a
    JDBC driver jar on the classpath — Spark ships embedded Derby, which
    the tests use for a real connection-level round-trip (write via
    Spark JDBC, read back partitioned); MySQL/Postgres (the reference's
    backends, base.go:38-66) are the same option dict with their jar."""
    return spark.read.format("jdbc").options(**jdbc_options(**kwargs)).load()
