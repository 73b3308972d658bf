"""Table sources.

The driver's synthetic tables (TESTDATA.md / FIXTURES.md) are one parquet
file per table under an ``sf_dir``. All loads go through :func:`load_table`
so the two schema quirks are handled in exactly one place:

* ``events.ts`` has shipped as either parquet INT64 TIMESTAMP(NANOS) or
  TIMESTAMP(MICROS) across driver testdata regenerations; both are
  normalized to a microsecond ``TimestampType`` by :func:`normalize_event_ts`.
  For the NANOS form Spark's vectorized reader rejects the type, so we read
  it as a raw long (``spark.sql.legacy.parquet.nanosAsLong``) and derive µs
  via integer division (``ts DIV 1000`` — floor/truncation, which is exactly
  how the DuckDB oracle's ns->us view conversion behaves). Never divide the
  raw long by 1000.0: epoch-nanos ~1.7e18 exceeds double's 53-bit mantissa
  and float division silently corrupts microseconds.
* every other timestamp column is parquet TIMESTAMP(MILLIS, isAdjustedToUTC
  =false) and arrives as ``TimestampNTZType`` — time-zone free, matching
  DuckDB's naive TIMESTAMP.

Each table's schema is inferred once per Spark application. A plain
``spark.read.parquet`` submits one footer/schema-inference job on every
call (``mergeSchemasInParallel`` runs a job even for a single file), and
the registry reads its tables hundreds of times per pass. :func:`table_schema`
infers the schema on the first read and keeps it in ``_SCHEMA_CACHE``;
:func:`load_table` then reads with ``spark.read.schema(cached).parquet``,
which runs no job. The cache:

* is keyed by ``(applicationId, path, modification time, length)``, read
  through the path's Hadoop ``FileSystem`` (so ``s3a://`` / ``hdfs://``
  tables work too; for a directory, the newest entry's time and the total
  length). A table rewritten in place is re-inferred instead of being read
  with a stale schema, which would silently give null columns;
* evicts, on insert, the entries of dead applications and older versions of
  the same path, like the other session caches;
* is guarded by a lock, because ``load_table`` is called from threads;
* holds schemas, never ``DataFrame``s: every call builds a fresh read, so
  two loads of one table in a self-join get distinct attribute ids, and
  plans, column pruning and pushdown are exactly those of an inferred read.

The cached schema is the one Spark infers under ``nanosAsLong``, so the
``events.ts`` normalization above sees the same types on every load.

At 100 TB these reads stay scan-friendly: ``spark.read.parquet`` keeps
Catalyst's column pruning / predicate pushdown / partition pruning intact
(the ``withColumn`` on events is a projection on top of the scan and does
not block pushdown of filters on other columns).
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from aind_data_transformation_spark.session import apply_runtime_confs

TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


#: (applicationId, path, modification time, length) -> inferred StructType
_SCHEMA_CACHE: dict = {}
_SCHEMA_LOCK = threading.Lock()


def _path_version(spark: SparkSession, path: str) -> tuple[int, int] | None:
    """(modification time, length) of ``path`` from its Hadoop FileSystem;
    for a directory, the newest entry's time and the entries' total length.
    ``None`` when the path does not exist."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    try:
        statuses = fs.listStatus(hpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    return (
        max((st.getModificationTime() for st in statuses), default=0),
        sum(st.getLen() for st in statuses),
    )


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The footer schema of one driver table, inferred once per Spark
    application and table version (see module docstring). Applies the
    runtime confs first, so the schema is always inferred under
    ``nanosAsLong``. A missing table raises Spark's own
    ``AnalysisException``."""
    apply_runtime_confs(spark)
    path = table_path(sf_dir, name)
    version = _path_version(spark, path)
    if version is None:
        return spark.read.parquet(path).schema  # raises PATH_NOT_FOUND
    app = spark.sparkContext.applicationId
    key = (app, path) + version
    with _SCHEMA_LOCK:
        hit = _SCHEMA_CACHE.get(key)
    if hit is not None:
        return hit
    schema = spark.read.parquet(path).schema
    with _SCHEMA_LOCK:
        for stale in [k for k in _SCHEMA_CACHE if k[0] != app or k[1] == path]:
            del _SCHEMA_CACHE[stale]
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with its cached schema (no inference job after
    the first load); normalizes ``events.ts`` to microsecond timestamps (see
    module docstring)."""
    schema = table_schema(spark, sf_dir, name)  # also applies runtime confs
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond UTC ``TimestampType``
    regardless of how the generator wrote it: INT64 TIMESTAMP(NANOS) parquet
    arrives as a raw long (via ``nanosAsLong``) and is floor-divided to µs;
    TIMESTAMP(MICROS) parquet arrives as TIMESTAMP_NTZ and is cast —
    value-preserving because every engine session pins
    ``spark.sql.session.timeZone=UTC`` (session.py RUNTIME_CONFS)."""
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    suffix: str = "",
    tables: tuple[str, ...] | None = None,
) -> None:
    """Register driver tables as temp views (``name + suffix``) so
    pipelines can run against the pure SQL surface (``spark.sql``) with the
    same normalized schemas as :func:`load_table`. Pass ``tables`` to
    register only what the query reads. The first load of a table in a
    Spark application runs its footer/schema-inference job; later
    registrations reuse the cached schema (module docstring) and run no
    job, but each still analyzes one read plan."""
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}{suffix}")


def read_csv(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """CSV ingestion with an explicit StructType (schema inference is a
    full extra pass over the data — never acceptable at 100 TB)."""
    apply_runtime_confs(spark)
    reader = spark.read.schema(schema).option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """JSON-lines ingestion with an explicit StructType."""
    apply_runtime_confs(spark)
    reader = spark.read.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)
