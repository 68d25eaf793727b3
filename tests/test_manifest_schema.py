"""The manifest's recorded table schema (the Iceberg table-metadata
analog): producers record what they wrote, commits merge it by column
name, and readers fall back to footer inference whenever a version has
no schema that covers every live file."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from signaldb_spark import catalog
from signaldb_spark.storage.hot import HotStore, flush_hot
from signaldb_spark.storage.manifest import (
    ManifestTable,
    compact_partition_manifest,
    write_batch_manifest,
)


def _rows(spark, n, hour=3, start=0):
    return spark.range(start, start + n).select(
        F.col("id"),
        F.lit("2024-01-01").cast("date").alias("date_day"),
        F.lit(hour).alias("hour"),
        (F.col("id") * 2).alias("value"),
    )


def _inferred(spark, mt):
    return spark.read.option("basePath", mt.data_dir).parquet(*mt.files())


def _names(m):
    return [f["name"] for f in m["schema"]["fields"]]


def _strip_schema(mt):
    """Rewrite the current version as a pre-schema (legacy) manifest."""
    path = mt._manifest_path(mt.current_version())
    with open(path) as fh:
        m = json.load(fh)
    m.pop("schema")
    with open(path, "w") as fh:
        json.dump(m, fh)


def test_commits_union_schemas_by_name(spark, tmp_path):
    """A hot flush whose batches add a column appends it to the recorded
    schema; older files read it as null."""
    table = str(tmp_path / "t")
    assert write_batch_manifest(_rows(spark, 4), table, "t", batch_id=1)
    mt = ManifestTable(table)
    assert _names(mt.load_manifest()) == ["id", "value"]
    store = HotStore(table)
    store.ack(_rows(spark, 3, start=10).withColumn("new_attr", F.lit("x")))
    flush_hot(spark, table, "t")
    assert _names(mt.load_manifest()) == ["id", "value", "new_attr"]
    df = mt.read(spark)
    assert df.columns == ["id", "value", "new_attr", "date_day", "hour"]
    assert df.count() == 7
    assert df.filter(F.col("new_attr").isNotNull()).count() == 3


def test_type_conflict_drops_the_record_and_reads_infer(spark, tmp_path):
    table = str(tmp_path / "t")
    assert write_batch_manifest(_rows(spark, 4), table, "t", batch_id=1)
    assert write_batch_manifest(
        _rows(spark, 2, hour=4).withColumn("value", F.col("value").cast("string")),
        table, "t", batch_id=2,
    )
    mt = ManifestTable(table)
    assert mt.load_manifest()["schema"] is None
    assert mt.read(spark).schema == _inferred(spark, mt).schema
    # files of unknown schema stay live: later commits record none either
    assert write_batch_manifest(_rows(spark, 2, hour=5), table, "t", batch_id=3)
    assert mt.load_manifest()["schema"] is None


def test_legacy_manifest_reads_as_before_until_rewritten(spark, tmp_path):
    """A manifest written before schemas were recorded reads by inference,
    exactly as before; a compaction replacing all its files records the
    schema again."""
    table = str(tmp_path / "t")
    assert write_batch_manifest(_rows(spark, 6).repartition(3), table, "t", batch_id=1)
    mt = ManifestTable(table)
    _strip_schema(mt)
    catalog._RELATION_MEMO.pop(spark, None)
    legacy = mt.read(spark)
    inferred = _inferred(spark, mt)
    assert legacy.schema == inferred.schema
    assert sorted(map(str, legacy.collect())) == sorted(map(str, inferred.collect()))
    assert write_batch_manifest(_rows(spark, 2), table, "t", batch_id=2)
    assert mt.load_manifest()["schema"] is None
    assert compact_partition_manifest(spark, table, "t", "2024-01-01", 3) == 1
    assert _names(mt.load_manifest()) == ["id", "value"]
    assert mt.read(spark).count() == 8


def test_bucketed_table_after_compaction_reads_the_same(spark, tmp_path):
    """After compaction a bucket_by table keeps its bucket directories:
    the bucket column stays path-derived, out of the recorded schema,
    and reads with and without the record return the same schema and
    rows."""
    table = str(tmp_path / "t")
    rows = spark.range(64).select(
        F.lower(F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 32, "0"))
        .alias("trace_id"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * 1_000_000
        ).alias("timestamp"),
        F.col("id").alias("value"),
    ).withColumn("date_day", F.to_date("timestamp")).withColumn(
        "hour", F.hour("timestamp")
    )
    assert write_batch_manifest(
        rows, table, "traces", batch_id=1, bucket_by=("trace_id", 4)
    )
    mt = ManifestTable(table)
    n = compact_partition_manifest(spark, table, "traces", "2024-01-01", 0)
    m = mt.load_manifest()
    assert n == len(m["files"]) > 1
    assert all("/trace_id_bucket=" in f for f in m["files"])
    assert "trace_id_bucket" not in _names(m)
    catalog._RELATION_MEMO.pop(spark, None)
    recorded = mt.read(spark)
    recorded_rows = sorted(map(str, recorded.collect()))
    _strip_schema(mt)
    catalog._RELATION_MEMO.pop(spark, None)
    inferred = mt.read(spark)
    assert recorded.schema == inferred.schema
    assert recorded_rows == sorted(map(str, inferred.collect()))
    assert len(recorded_rows) == 64
    assert all("compact-" in f for f in mt.load_manifest()["files"])
