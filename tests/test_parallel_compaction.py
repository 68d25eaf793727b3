"""Multi-partition compaction through the ops-compact route, and the
shared write-conf guard.

The route rewrites every partition it names in one compaction pass:
one Spark job writes all the replacement files, then one CAS-retried
manifest commit per partition swaps them in. The write-conf pin is a
per-session depth-counted guard that concurrent writers share. These
tests pin (a) a pass over several partitions lands every partition's
rewrite with no lost rows and one file per partition, in partition
order, (b) the conf guard restores the caller's values only after the
LAST writer exits.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from signaldb_spark.api import SignalDBAPI
from signaldb_spark.catalog import signal_table_path
from signaldb_spark.storage.manifest import (
    ManifestTable,
    stats_visible_writes,
    write_batch_manifest,
)


def _build_logs_table(spark, base, hours=4, files_per_hour=3):
    path = signal_table_path(base, "acme", "prod", "logs")
    for b in range(files_per_hour):
        df = spark.range(hours * 10).select(
            F.lit("2024-01-01").alias("date_day"),
            (F.col("id") % hours).cast("int").alias("hour"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("timestamp"),
            (F.col("id") + b * 1000).alias("value"),
        )
        write_batch_manifest(
            df.repartition(F.col("date_day"), F.col("hour")),
            path, "logs", batch_id=b,
        )
    return path


def test_ops_compact_parallel_partitions_match_serial_contract(
    spark, tmp_path
):
    base = str(tmp_path)
    path = _build_logs_table(spark, base, hours=4, files_per_hour=3)
    mt = ManifestTable(path)
    rows_before = mt.read(spark).count()
    api = SignalDBAPI(spark, base, "acme", "prod")

    out = api.ops_compact("logs", day="2024-01-01", dry_run=False)
    assert out["status"] == "success", out
    assert len(out["data"]) == 4
    # partition order preserved, every rewrite landed exactly one file
    assert [r["hour"] for r in out["data"]] == [0, 1, 2, 3]
    for r in out["data"]:
        assert r["files_before"] == 3
        assert r["files_after"] == 1
    # no lost or duplicated rows, snapshot consistent
    assert ManifestTable(path).read(spark).count() == rows_before
    m = ManifestTable(path).load_manifest()
    assert len(m["files"]) == 4
    assert all("compact-" in f for f in m["files"])


def test_stats_visible_writes_is_reentrant_across_threads(spark):
    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "INT96")  # a caller value the guard must restore
    inside = threading.Barrier(3, timeout=30)
    errors: list[Exception] = []

    def writer():
        try:
            with stats_visible_writes(spark):
                inside.wait()  # all three hold the pin at once
                assert spark.conf.get(key) == "TIMESTAMP_MICROS"
                inside.wait()
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors
    # last exit restored the caller's value exactly once
    assert spark.conf.get(key) == "INT96"
    spark.conf.set(key, "TIMESTAMP_MICROS")
