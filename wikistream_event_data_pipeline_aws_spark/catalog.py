"""Testdata catalog and the engine's one parquet read path.

The reference addresses layered Iceberg tables by ``namespace.table``
and always scans with partition predicates (reference
``silver_batch_job.py:263-266``). Here the source tables are the
driver's synthetic parquet files; loading is lazy (a scan node in the
logical plan), so Catalyst still gets full predicate pushdown and
column pruning on top of them.

One read path: every single-path parquet read in the engine goes
through :func:`read_parquet` (source tables, warehouse tables, merge
sinks, DQ audit lookups, fixture read-backs). A schema-less
``spark.read.parquet(path)`` runs one Spark job only to read a footer;
:func:`parquet_schema` reads that footer on the driver instead, through
Spark's own footer reader and schema converter (the same session confs
and the same ``org.apache.spark.sql.parquet.row.metadata`` handling as
inference), so the schema is the inferred one by construction and the
read starts no job. Nothing is cached: the footer read costs a few
milliseconds, and a cache keyed on file fingerprints would miss after
every warehouse write. The shortcut does not apply, and the read falls back
to plain inference (same schema, same errors), for a non-local path,
``spark.sql.parquet.mergeSchema`` on, partition type inference on,
``_metadata``/``_common_metadata`` summary files present, no data file
found, a directory level that is not ``k=v``, a partition column that
is also a file column, or a footer that fails to read. Multi-path
snapshot reads (``operators/snapshots.py``) keep inference: their files
may legitimately differ in schema.

``events.parquet`` stores TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a long
of epoch-nanos and is converted here with integer arithmetic
(``ts div 1000`` — no float rounding) to a microsecond timestamp,
matching what a DuckDB/pyarrow reader sees after ns->us truncation.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from .session import ensure_session_confs

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _listed(name: str) -> bool:
    """Spark's file-listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    hidden ``_``/``.`` names and in-flight copies are not table files."""
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(root: str) -> str | None:
    """The one file non-merging inference reads: Spark sorts the listed
    files by path and takes the first (``ParquetUtils.splitFiles``).
    None when nothing is listed, or when a summary file is (inference
    would read the summary instead). Listed with ``os.scandir``: a Hadoop
    FS call per entry through py4j made a partitioned read slower than
    the inference job it replaces."""
    if os.path.isfile(root):
        return root
    files, dirs = [], [root]
    while dirs:
        try:
            entries = list(os.scandir(dirs.pop()))
        except OSError:
            return None
        for e in entries:
            if e.name.startswith(_SUMMARY_FILES):
                return None
            if _listed(e.name):
                (dirs if e.is_dir() else files).append(e.path)
    return min(files, default=None)


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read on the
    driver from one footer without a Spark job, or None where that
    shortcut does not apply (see the module docstring)."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    jss = spark._jsparkSession
    sql_conf = jss.sessionState().conf()
    hadoop_conf = jss.sessionState().newHadoopConf()
    if (
        sql_conf.isParquetSchemaMergingEnabled()
        or sql_conf.partitionColumnTypeInferenceEnabled()
        or not (url.scheme or hadoop_conf.get("fs.defaultFS", "file:///").startswith("file:"))
    ):
        return None
    root = os.path.abspath(url.path)
    first = _first_data_file(root)
    if first is None:
        return None
    rel = os.path.relpath(os.path.dirname(first), root) if first != root else "."
    levels = [] if rel == "." else rel.split(os.sep)
    if not all("=" in level for level in levels):
        return None
    part_cols = [unquote(level.split("=", 1)[0]) for level in levels]

    # classes by full name: one gateway round trip each, where a
    # ``spark._jvm.org.apache...`` walk spends one per package level
    gateway = spark.sparkContext._gateway._gateway_client
    st = os.stat(first)
    status = JavaClass("org.apache.hadoop.fs.FileStatus", gateway)(
        st.st_size, False, 1, st.st_blksize, st.st_mtime_ns // 1_000_000,
        JavaClass("org.apache.hadoop.fs.Path", gateway)(first),
    )
    fmt = getattr(
        JavaClass("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$", gateway),
        "MODULE$",
    )
    try:
        footers = fmt.readParquetFootersInParallel(
            hadoop_conf, spark._jvm.PythonUtils.toSeq([status]), sql_conf.ignoreCorruptFiles()
        )
        schema = fmt.readSchema(footers, jss)
    except Py4JJavaError:
        return None
    if schema.isEmpty():
        return None
    data = _parse_datatype_json_string(schema.get().json())
    names = {f.name.lower() for f in data.fields}
    if any(c.lower() in names for c in part_cols):
        return None
    return StructType(data.fields + [StructField(c, StringType(), True) for c in part_cols])


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job."""
    schema = parquet_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # epoch-nanos long -> microsecond timestamp, integer math only
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ under inferTimestampNTZ; functions like
            # unix_micros accept only LTZ. The session timezone is pinned
            # UTC, so the cast reinterprets the same wall-clock instant —
            # value-identical to what DuckDB reads from the same file.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, prefix: str = "") -> dict[str, DataFrame]:
    """Register every table as a temp view (reference S12 pattern,
    ``bronze_streaming_job.py:260``) so plans can be written in SQL."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(f"{prefix}{name}")
    return dfs
