"""The one parquet read path (catalog.read_parquet / parquet_schema):
the driver-side footer read must give exactly the schema Spark infers,
start no Spark job, and hand every case it does not cover back to
plain inference — with inference's own schema or error."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wikistream_event_data_pipeline_aws_spark.catalog import (
    TABLES,
    load_table,
    parquet_schema,
    read_parquet,
)
from wikistream_event_data_pipeline_aws_spark.operators.merge import (
    insert_only_parquet,
    upsert_parquet,
)
from wikistream_event_data_pipeline_aws_spark.session import ensure_session_confs

_SF_DIRS = [os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01")]


def _same_as_inference(spark, path):
    ensure_session_confs(spark)
    assert parquet_schema(spark, path) is not None
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("sf_dir", _SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("table", TABLES)
def test_testdata_tables_match_inference(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not generated")
    _same_as_inference(spark, path)


def test_epoch_nanos_and_ntz_timestamps_match_inference(spark, tmp_path):
    """TIMESTAMP(NANOS) arrives as a bigint under nanosAsLong and an
    isAdjustedToUTC=false micros column as timestamp_ntz — through the
    footer read exactly as through inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ensure_session_confs(spark)
    cases = {
        "bigint": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns", tz="UTC")),
        "timestamp_ntz": pa.array([1_700_000_000_123_456, None], pa.timestamp("us")),
    }
    for want, ts in cases.items():
        path = str(tmp_path / f"{want}.parquet")
        pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path)
        _same_as_inference(spark, path)
        assert dict(read_parquet(spark, path).dtypes)["ts"] == want


def test_partitioned_upsert_table_matches_inference(spark, sf_dir, tmp_path):
    path = str(tmp_path / "silver")
    ev = load_table(spark, sf_dir, "events").limit(200).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    for batch in (ev, ev.limit(50)):
        upsert_parquet(
            spark, path, batch, keys=["event_id"], order_by=["ts"], partition_by=["event_date"]
        )
    _same_as_inference(spark, path)
    assert read_parquet(spark, path).schema["event_date"].dataType.simpleString() == "string"


def test_appended_insert_only_table_matches_inference(spark, tmp_path):
    path = str(tmp_path / "bronze")
    for lo in (0, 10, 20):
        src = spark.range(lo, lo + 15).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        insert_only_parquet(spark, path, src, keys=["k"])
    _same_as_inference(spark, path)
    assert read_parquet(spark, path).count() == 35


def _write(spark, path):
    spark.range(5).withColumn("s", F.col("id").cast("string")).coalesce(1).write.parquet(path)


def test_non_local_path_falls_back(spark):
    assert parquet_schema(spark, "s3a://bucket/events.parquet") is None


@pytest.mark.parametrize(
    "key", ["spark.sql.parquet.mergeSchema", "spark.sql.sources.partitionColumnTypeInference.enabled"]
)
def test_inference_confs_fall_back(spark, tmp_path, key):
    path = str(tmp_path / "t")
    _write(spark, path)
    ensure_session_confs(spark)
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert parquet_schema(spark, path) is None
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, prev)
    assert parquet_schema(spark, path) is not None


@pytest.mark.parametrize("summary", ["_metadata", "_common_metadata"])
def test_summary_files_fall_back(spark, tmp_path, summary):
    """Inference reads a summary file before any part file; the footer
    shortcut steps aside and inference decides."""
    path = str(tmp_path / "t")
    _write(spark, path)
    part = next(n for n in os.listdir(path) if n.endswith(".parquet"))
    shutil.copy(os.path.join(path, part), os.path.join(path, summary))
    ensure_session_confs(spark)
    assert parquet_schema(spark, path) is None
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_no_data_file_falls_back_with_the_same_error(spark, tmp_path):
    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    (empty / "_SUCCESS").write_text("")
    for path in (str(empty), str(tmp_path / "missing")):
        assert parquet_schema(spark, path) is None
        with pytest.raises(Exception) as inferred:
            spark.read.parquet(path)
        with pytest.raises(type(inferred.value)) as routed:
            read_parquet(spark, path)
        assert str(routed.value) == str(inferred.value)


def test_unreadable_footer_and_plain_subdirs_fall_back(spark, tmp_path):
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    assert parquet_schema(spark, str(corrupt)) is None
    nested = str(tmp_path / "nested")
    _write(spark, f"{nested}/plain")
    assert parquet_schema(spark, nested) is None


def test_partition_column_inside_the_files_falls_back(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "overlap"
    (path / "part=1").mkdir(parents=True)
    pq.write_table(pa.table({"id": [1], "part": ["1"]}), str(path / "part=1" / "x.parquet"))
    ensure_session_confs(spark)
    assert parquet_schema(spark, str(path)) is None
    assert read_parquet(spark, str(path)).schema == spark.read.parquet(str(path)).schema


def test_read_parquet_starts_no_job(spark, sf_dir, tmp_path):
    path = str(tmp_path / "p")
    spark.range(20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    ).write.partitionBy("part").parquet(path)
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet must not run a job")
    try:
        read_parquet(spark, path).schema
        load_table(spark, sf_dir, "events").schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
