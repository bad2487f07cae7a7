"""SparkSession factory and named-source registry.

Reference parity: base.go:38-66 ``Initialize(dbDriver, dbName)`` opens a
database handle for a (driver, database) pair read from ``.env``. Here a
*source* is a directory of Parquet tables, registered once as a Spark
catalog database of external tables; ``dbDriver`` becomes a
registry-name allowlist (query_controller.go:46-51) and ``dbName``
selects the directory. A request that names a source runs on its own
child session bound to that database; one that names none reads the
app session's catalog.

Scale posture: registration is metadata-only (Parquet footers); no data
moves until a query runs. On a real cluster the same registry would
point at object-store prefixes and a persistent metastore.
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
    IncorrectDbDriverError,
    ParamsNullError,
)

# Tables the driver-generated fixture dirs contain (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns across fixture generations. Current fixtures store
# parquet TIMESTAMP(MICROS), which surfaces natively as timestamp_ntz
# (isAdjustedToUTC=false) — no conversion. Older generations stored
# TIMESTAMP(NANOS); with spark.sql.legacy.parquet.nanosAsLong those
# surface as LongType nanoseconds, and register_sf_dir converts them to
# timestamp_ntz. The conversion is gated on the SURFACED type (LongType),
# i.e. on the parquet footer — never on an assumed unit.
NANO_TS_COLUMNS = {"l_shipdate", "o_orderdate", "ts"}

#: Runtime confs the engine's semantics depend on — applied by
#: build_session AND by the driver contract's ``_configure`` onto a
#: stock session (one list, so the two can't drift):
#: UTC + NTZ keep timestamps oracle-comparable; nanosAsLong tolerates
#: TIMESTAMP(NANOS) fixture generations; AQE owns runtime re-planning;
#: the recursion cap covers the date-spine entry's one-level-per-day
#: recursion over any realistic span (default 100 would fail >100-day
#: tables at runtime while the uncapped DuckDB oracle succeeds).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.cteRecursionLevelLimit": "36600",
    # Python Data Source filter pushdown (4.1 opt-in): the elastic
    # scroll reader translates Spark Filters into ES bool.filter
    # clauses; with this off Spark REFUSES any reader that implements
    # pushFilters (the reader offers .option("pushdown","false") as
    # the per-read escape hatch on foreign sessions).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def build_session(
    app_name: str = "golang_db_query_engine_elasticsearch_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    Local-mode knobs follow the test environment (local[N] single JVM);
    the AQE/shuffle settings are the ones that matter at cluster scale:
    AQE re-plans joins and coalesces/splits shuffle partitions at
    runtime, which is what keeps a fixed ``shuffle.partitions`` from
    being wrong at 1000x the data.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class SourceRegistry:
    """Named source backends behind one parameter.

    Replaces the reference's ``dbDriver``/``dbName`` pair
    (query_controller.go:55-58 + base.go:38-66). ``drivers`` is the
    allowlist; each driver maps ``db_name -> parquet directory``.
    """

    def __init__(self) -> None:
        self._drivers: dict[str, dict[str, str]] = {"parquet": {}}

    def register_driver(self, driver: str) -> None:
        self._drivers.setdefault(driver, {})

    def register_source(self, driver: str, db_name: str, path: str) -> None:
        if driver not in self._drivers:
            raise IncorrectDbDriverError(f"Incorrect database driver provided: {driver!r}")
        self._drivers[driver][db_name] = path

    def validate_driver(self, driver: str) -> None:
        """Parity with dbDriverValidator (query_controller.go:46-51)."""
        if not driver:
            raise ParamsNullError()
        if driver not in self._drivers:
            raise IncorrectDbDriverError(f"Incorrect database driver provided: {driver!r}")

    def resolve(self, driver: str, db_name: str) -> str:
        self.validate_driver(driver)
        if not db_name:
            raise ParamsNullError()
        try:
            return self._drivers[driver][db_name]
        except KeyError:
            raise IncorrectDbDriverError(
                f"Unknown database {db_name!r} for driver {driver!r}"
            ) from None

    def attach(self, spark: SparkSession, driver: str, db_name: str) -> SparkSession:
        """A new child session of ``spark`` bound to the source's database;
        ``spark`` is left as it is. The child has its own temp views and
        runtime conf, which starts from the builder-time conf only."""
        sf_dir = self.resolve(driver, db_name)
        child = spark.newSession()
        register_sf_dir(child, sf_dir)
        return child


def default_registry() -> SourceRegistry:
    """Registry preloaded with the driver fixture scale factors."""
    reg = SourceRegistry()
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}"
        if os.path.isdir(path):
            reg.register_source("parquet", f"sf{sf}", path)
    return reg


def footer_schemas(
    tables: tuple[str, ...], sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, T.StructType]:
    """``{table: schema}`` for fixture tables of ``sf_dir``, read from the
    Parquet footers with no session: the schemas DuckDB oracles compile
    against. Timestamps map to timestamp_ntz, as the catalog surfaces
    them (register_sf_dir converts nanosecond columns to the same)."""
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    return {
        t: from_arrow_schema(
            pq.read_schema(os.path.join(sf_dir, f"{t}.parquet")),
            prefer_timestamp_ntz=True,
        )
        for t in tables
    }


# Serializes database creation, so no session sees a half-built source.
_CREATE_LOCK = threading.Lock()


def register_sf_dir(spark: SparkSession, sf_dir: str) -> str:
    """Bind ``spark`` to the catalog database of ``sf_dir``; return its name.

    The database holds one external Parquet table per fixture file
    present (footer reads only, safe at any scale). It is created once
    per catalog, so every session of the SparkContext shares it; its
    location is the warehouse default, never ``sf_dir`` (dropping a
    database deletes its location). Each call drops the temp views that
    would shadow the source's tables, then makes the database current.
    """
    sf_dir = os.path.realpath(sf_dir)
    # named by the realpath: a label such as ``sf0.01`` may name
    # different directories
    db = "src_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    paths = {t: os.path.join(sf_dir, f"{t}.parquet") for t in FIXTURE_TABLES}
    paths = {t: p for t, p in paths.items() if os.path.exists(p)}
    with _CREATE_LOCK:
        if not spark.catalog.databaseExists(db):
            spark.sql(f"CREATE DATABASE {db}")
            try:
                for name, path in paths.items():
                    _create_table(spark, db, name, path)
            except Exception:
                spark.sql(f"DROP DATABASE {db} CASCADE")
                raise
    for name in paths:
        spark.catalog.dropTempView(name)
    spark.catalog.setCurrentDatabase(db)
    return db


def _create_table(spark: SparkSession, db: str, name: str, path: str) -> None:
    """Create ``db.name`` over ``path``. Where a
    NANO_TS_COLUMNS column surfaces as LongType, ``db.name`` is a view
    converting it to timestamp_ntz over the raw table ``db._raw_name``."""
    schema = spark.read.parquet(path).schema
    nanos = {
        f.name for f in schema.fields
        if f.name in NANO_TS_COLUMNS and isinstance(f.dataType, T.LongType)
    }
    table = f"{db}._raw_{name}" if nanos else f"{db}.{name}"
    spark.catalog.createTable(table, path=path, source="parquet", schema=schema)
    if nanos:
        cols = ", ".join(
            f"CAST(timestamp_micros(`{c}` div 1000) AS TIMESTAMP_NTZ) AS `{c}`"
            if c in nanos else f"`{c}`"
            for c in schema.names
        )
        spark.sql(f"CREATE VIEW {db}.{name} AS SELECT {cols} FROM {table}")
