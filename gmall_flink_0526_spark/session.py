"""SparkSession factory.

The reference pins parallelism to the Kafka partition count
(``RT/app/dwd/BaseLogApp.java:29``) and runs everything at UTC+8 string
timestamps (``RT/utils/DateTimeUtil.java:11-21``). Here the session is
tuned for a *Spark* deployment instead:

- ``spark.sql.shuffle.partitions`` sized to the executor-thread count
  (env ``SPARK_GRAFT_CPUS``, default all cores) — on a real cluster this
  would be ~2-3x total cores; AQE coalesces down at runtime.
- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Session timezone pinned to UTC so batch results compare bit-for-bit
  against the DuckDB oracle (DuckDB timestamps are UTC-naive). The
  reference's UTC+8 string round-trips live in
  :mod:`gmall_flink_0526_spark.functions.timeutil` and are explicit
  about their zone, so the session TZ stays neutral.
- Arrow enabled for every pandas interchange (Pandas UDFs,
  ``applyInPandas``, ``toPandas``).

:func:`load_tables` also keeps a process-level memo of each input
table's inferred schema, keyed on the file version (size and mtime,
read through Hadoop's FileSystem) and on the parquet read settings
that shape the schema. Inferring reads the parquet footer in a Spark
job of its own, so only the first load of each file version pays one;
later loads of the same version pass the memoized schema and run none.
Only these static input tables use the memo: channel and dim-store
reads open a fresh path on every call, where it would never hit.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "gmall_flink_0526_spark",
    *,
    cpus: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session, configured for deterministic local
    testing and scale-ready defaults.

    ``cpus`` controls both local parallelism and shuffle partitions; on
    a real cluster only the latter matters (master comes from
    spark-submit).
    """
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, DEFAULT_SHUFFLE_PARTITIONS)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); Spark's reader has no
        # nanosecond timestamp type, so read them as epoch-nanos longs and
        # convert in load_tables (integer division — double math would lose
        # precision above 2^53 ns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``
    and restore the caller's value on exit, also when the block raises.
    A streaming query reads the count when it starts and keeps it in its
    checkpoint, so restoring the session value does not touch a query
    that is still running."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


TESTDATA_TABLES = (
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


# Parquet read settings that change the schema Spark infers from a footer.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# path -> ((file fingerprint, schema settings), inferred StructType); one
# entry per path, replaced when either half of the key changes. Two
# concurrent loads of one path at worst both infer; either entry is valid.
_SCHEMA_MEMO: dict = {}


def _fingerprint(spark: SparkSession, path: str):
    """``(path, size, mtime)`` of the file, or of every data file under
    the directory, read through Hadoop's FileSystem; None if absent."""
    from .sources.fs import _fs_and_path

    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    files, it = [], fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith((".", "_")):
            files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)``, reusing the schema inferred by an
    earlier read of the same file version under the same settings."""
    fp = _fingerprint(spark, path)
    if fp is None:
        return spark.read.parquet(path)  # Spark's own path-not-found error
    key = (fp, tuple(spark.conf.get(k) for k in _PARQUET_SCHEMA_CONFS))
    hit = _SCHEMA_MEMO.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[path] = (key, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict:
    """Load driver testdata parquet tables and register temp views.

    Returns ``{name: DataFrame}``. Registering views means operators can
    be written in either the DataFrame dialect or ``spark.sql`` — the
    plan is the same after Catalyst.

    ``spark.read.parquet(path)`` infers the schema from the file footer,
    which costs one Spark job per call. The schema of each path is kept
    in a process-level memo keyed on the file version (size and mtime of
    the file, or of every data file under a directory, via Hadoop's
    FileSystem) and on the parquet read settings that shape the inferred
    schema. The first load of each file version still pays the footer
    job; a later load passes the schema and runs none. A rewritten file
    or a changed setting is inferred again. The memo holds a plain
    ``StructType``, so it outlives ``spark.stop()``; it never caches
    data, and every call still scans its input. Only these static input
    tables use it: channel and dim-store reads open a fresh path on
    every call, where a memo would never hit.
    """
    from pyspark.sql import functions as F

    # The caller's session may be a vanilla one (the external correctness
    # driver builds its own); nanosAsLong is runtime-settable, so pin it
    # here rather than relying on get_spark() having run. Without it any
    # events.parquet read dies with PARQUET_TYPE_ILLEGAL (TIMESTAMP(NANOS)).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    out = {}
    for name in names or TESTDATA_TABLES:
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        # Nanosecond timestamps arrive as epoch-nanos longs (see
        # nanosAsLong in get_spark); truncate to micros like every
        # µs-resolution engine (DuckDB included) does on read.
        for field in df.schema.fields:
            if field.name == "ts" and field.dataType.typeName() == "long":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def local_table(spark: SparkSession, rows, schema):
    """A small driver-built table (``rows`` of tuples or ``Row``s) as a
    JVM-local relation.

    ``spark.createDataFrame(list)`` plans a Python RDD scan, so every
    scan of the frame — every micro-batch that broadcasts or joins it —
    runs a Python-worker job just to read a few rows. Built over pandas
    with Arrow (on in :func:`get_spark`) the same rows become a
    ``LocalRelation``, which the planner scans and broadcasts on the
    driver with no job at all. ``schema`` is a ``StructType`` or a DDL
    string.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=schema.names)
    return spark.createDataFrame(pdf, schema)
