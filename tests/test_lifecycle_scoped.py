"""Partition-scoped lifecycle contracts: input-scoped delta commits,
manifest-derived partition identity, size-aware candidacy, and declared
sort orders — the reference's compactor-partition-scoped-lifecycle and
declared-sort-orders changes (openspec/changes/), re-expressed over the
snapshot-manifest protocol (storage/manifest.py, maintenance/jobs.py).

The scenarios mirror the reference specs directly:
- compaction/spec.md "Delta commits that tolerate concurrent ingest"
  (appends elsewhere never conflict; a retention drop of the job's own
  inputs does),
- compaction/spec.md "Candidacy triggers on small files" (small files
  are the inputs; at-target files stay byte-for-byte untouched),
- design.md #930 (partition identity from manifest entries, never path
  parsing; unclassifiable files are a loud error),
- declared-data-ordering/spec.md (declared ⇒ physically true per file;
  mixed populations classify inexact; compaction converges to exact).
"""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest
from pyspark.sql import functions as F

from signaldb_spark.maintenance.jobs import (
    apply_retention,
    compaction_candidates,
    compaction_cycle,
    list_hour_partitions,
    partition_file_counts,
    partition_files,
)
from signaldb_spark.storage.manifest import (
    ManifestTable,
    UnclassifiableFile,
    compact_partition_manifest,
    write_batch_manifest,
)


def _rows(spark, n, day="2024-01-01", hour=3, start_id=0):
    return spark.range(start_id, start_id + n).select(
        F.col("id"),
        (F.lit(dt.datetime(2024, 1, 1, hour)).cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("timestamp"),
        F.lit(day).alias("date_day"),
        F.lit(hour).alias("hour"),
        (F.col("id") * 2).alias("value"),
    )


# --------------------------------------------------- delta-commit races


def test_compaction_aborts_when_retention_dropped_its_inputs(
    spark, tmp_path, monkeypatch
):
    """Retention drops the partition a compaction job was rewriting
    before the job commits → the commit MUST abort (compaction/spec.md
    conflict scenario). Without the input-scoped precondition the
    replacement files would re-enter the manifest and resurrect every
    row retention just dropped."""
    table = str(tmp_path / "t")
    for b in range(3):
        write_batch_manifest(
            _rows(spark, 20, hour=3, start_id=20 * b).repartition(2),
            table, "logs", batch_id=b,
        )
    write_batch_manifest(_rows(spark, 10, hour=4), table, "logs", batch_id=99)
    mt = ManifestTable(table)
    orig = ManifestTable.commit

    def racy(self, *a, **k):
        # restore first so the injected retention commit runs clean
        monkeypatch.setattr(ManifestTable, "commit", orig)
        dropped = apply_retention(table, keep={("2024-01-01", 4)})
        assert dropped == [("2024-01-01", 3)]
        return orig(self, *a, **k)

    monkeypatch.setattr(ManifestTable, "commit", racy)
    assert compact_partition_manifest(spark, table, "logs", "2024-01-01", 3) == 0
    # the drop stands: no resurrection through the replacement files
    assert list_hour_partitions(table) == [("2024-01-01", 4)]
    assert mt.read(spark).count() == 10
    # the staged replacement files are never-referenced orphans
    assert any("compact-" in f for f in mt.find_orphans())


def test_compaction_commit_tolerates_concurrent_appends(
    spark, tmp_path, monkeypatch
):
    """Ingest lands new files — in this very partition — while the
    rewrite runs; the delta commit removes exactly its inputs, so the
    commit succeeds and the concurrent batch survives untouched
    (compaction/spec.md: appends elsewhere never invalidate)."""
    table = str(tmp_path / "t")
    for b in range(3):
        write_batch_manifest(
            _rows(spark, 20, hour=3, start_id=20 * b).repartition(2),
            table, "logs", batch_id=b,
        )
    mt = ManifestTable(table)
    orig = ManifestTable.commit

    def racy(self, *a, **k):
        monkeypatch.setattr(ManifestTable, "commit", orig)
        assert write_batch_manifest(
            _rows(spark, 10, hour=3, start_id=1000), table, "logs", batch_id=50
        )
        return orig(self, *a, **k)

    monkeypatch.setattr(ManifestTable, "commit", racy)
    n = compact_partition_manifest(spark, table, "logs", "2024-01-01", 3)
    assert n == 1
    after = mt.read(spark)
    assert after.count() == 70  # 60 compacted + 10 appended mid-job
    # the concurrent batch's file is live alongside the replacement
    files = partition_files(table, "2024-01-01", 3)
    assert any("batch-50-" in f for f in files)
    assert any("compact-" in f for f in files)


# ------------------------------------------- size-aware scoped rewrites


def test_small_file_inputs_leave_at_target_files_untouched(spark, tmp_path):
    """Job inputs are the files below target size; an already-compacted
    big file is not rewritten (no write amplification) and stays
    byte-for-byte identical — compaction/spec.md candidacy, D3."""
    table = str(tmp_path / "t")
    write_batch_manifest(
        _rows(spark, 4000).repartition(1), table, "logs", batch_id=0
    )
    for b in range(1, 4):
        write_batch_manifest(
            _rows(spark, 5, start_id=4000 + 5 * b).repartition(1),
            table, "logs", batch_id=b,
        )
    mt = ManifestTable(table)
    sizes = mt.file_sizes()
    big = max(sizes, key=sizes.get)
    big_bytes = sizes[big]
    small_max = max(v for f, v in sizes.items() if f != big)
    assert small_max < big_bytes
    threshold = (small_max + big_bytes) // 2
    n = compact_partition_manifest(
        spark, table, "logs", "2024-01-01", 3, max_input_bytes=threshold
    )
    assert n == 1
    files = partition_files(table, "2024-01-01", 3)
    assert len(files) == 2  # untouched big + one merged replacement
    assert big in files
    assert os.path.getsize(os.path.join(mt.data_dir, big)) == big_bytes
    assert mt.read(spark).count() == 4015


def test_compaction_candidates_size_aware_ordering(spark, tmp_path):
    """Candidacy counts files BELOW target size per partition (small
    files are never excluded for being small — the #934 inversion) and
    returns worst-fragmented first."""
    table = str(tmp_path / "t")
    bid = 0
    # hour 1: four small files; hour 2: two small; hour 3: one big + one
    # small (below the 2-small threshold); hour 4: one big only
    for hour, smalls in ((1, 4), (2, 2), (3, 1)):
        for i in range(smalls):
            write_batch_manifest(
                _rows(spark, 5, hour=hour, start_id=100 * hour + 5 * i)
                .repartition(1),
                table, "logs", batch_id=bid,
            )
            bid += 1
    for hour in (3, 4):
        write_batch_manifest(
            _rows(spark, 4000, hour=hour).repartition(1),
            table, "logs", batch_id=bid,
        )
        bid += 1
    sizes = ManifestTable(table).file_sizes()
    bigs = sorted(sizes.values())[-2:]  # the two 4000-row files
    small_max = max(v for v in sizes.values() if v not in bigs)
    assert small_max < min(bigs)
    threshold = (small_max + min(bigs)) // 2
    cands = compaction_candidates(table, target_bytes=threshold, min_small_files=2)
    assert cands == [("2024-01-01", 1), ("2024-01-01", 2)]


def test_compaction_cycle_size_aware_with_budget(spark, tmp_path):
    """compaction_cycle(target_bytes=...) processes worst-first and
    max_partitions_per_cycle is enforced (every planning limit is
    enforced or deleted — D3)."""
    from signaldb_spark.catalog import signal_table_path

    base = str(tmp_path)
    table = signal_table_path(base, "acme", "prod", "logs")
    bid = 0
    for hour, smalls in ((1, 4), (2, 3), (5, 2)):
        for i in range(smalls):
            write_batch_manifest(
                _rows(spark, 5, hour=hour, start_id=100 * hour + 5 * i)
                .repartition(1),
                table, "logs", batch_id=bid,
            )
            bid += 1
    now = dt.datetime(2024, 1, 2)
    done = compaction_cycle(
        spark, base, "acme", "prod", "logs", now=now,
        target_bytes=10_000_000, max_partitions_per_cycle=2,
    )
    assert done == [("2024-01-01", 1), ("2024-01-01", 2)]
    rest = compaction_cycle(
        spark, base, "acme", "prod", "logs", now=now,
        target_bytes=10_000_000,
    )
    assert rest == [("2024-01-01", 5)]
    assert ManifestTable(table).read(spark).count() == 45


# ------------------------------------- manifest-derived partition identity


def test_unclassifiable_live_file_fails_lifecycle_loudly(spark, tmp_path):
    """A live file with no recorded partition and no parseable hive path
    aborts lifecycle passes (UnclassifiableFile) instead of being
    silently skipped — a skipped file would never age out while staying
    in every query result (#930). Status surfaces stay non-strict."""
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10).repartition(1), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    # an externally-added root-level file enters the manifest verbatim
    src = os.path.join(mt.data_dir, partition_files(table, "2024-01-01", 3)[0])
    with open(os.path.join(mt.data_dir, "stray.parquet"), "wb") as fh:
        with open(src, "rb") as s:
            fh.write(s.read())
    assert mt.commit(["stray.parquet"])
    with pytest.raises(UnclassifiableFile):
        apply_retention(table, keep=set())
    with pytest.raises(UnclassifiableFile):
        compact_partition_manifest(spark, table, "logs", "2024-01-01", 3)
    # ops/status surfaces are non-strict: they report, they don't manage
    assert partition_file_counts(table) == {("2024-01-01", 3): 1}
    assert list_hour_partitions(table) == [("2024-01-01", 3)]


def test_recorded_partition_identity_beats_path_layout(spark, tmp_path):
    """A file whose PATH says nothing joins a partition through its
    manifest-recorded partition struct: lifecycle classifies from
    manifest entries, not path strings (#930 — the reference reads
    data_file.partition(), we read the recorded struct)."""
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10).repartition(1), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    src = os.path.join(mt.data_dir, partition_files(table, "2024-01-01", 3)[0])
    with open(os.path.join(mt.data_dir, "blob-0001.parquet"), "wb") as fh:
        with open(src, "rb") as s:
            fh.write(s.read())
    assert mt.commit(
        ["blob-0001.parquet"],
        partitions={"blob-0001.parquet": {"date_day": "2024-01-01", "hour": 3}},
    )
    assert "blob-0001.parquet" in partition_files(table, "2024-01-01", 3)
    assert partition_file_counts(table)[("2024-01-01", 3)] == 2
    # retention drops it with its partition — it cannot outlive the unit
    assert apply_retention(table, keep=set()) == [("2024-01-01", 3)]
    assert mt.load_manifest()["files"] == []


# ------------------------------------------------- declared sort orders


def test_declared_ordering_classification_and_convergence(spark, tmp_path):
    """Writers that sorted declare; mixed populations classify inexact;
    compaction converges the population back to exact (the
    declared-data-ordering contract + the proposal's cutover story).
    The honesty invariant holds by construction: only the producer that
    performed the sort writes the claim."""
    table = str(tmp_path / "t")
    for b in range(2):
        write_batch_manifest(
            _rows(spark, 10, start_id=10 * b), table, "logs", batch_id=b
        )
    mt = ManifestTable(table)
    # "logs" sorts by (timestamp, ...); only timestamp exists in this
    # frame, so the claim is its honest prefix
    assert mt.declared_ordering(["timestamp"]) == "exact"
    # an external producer adds a file WITHOUT sorting — it must not
    # declare, and the population degrades to inexact, never to wrong
    src = os.path.join(mt.data_dir, partition_files(table, "2024-01-01", 3)[0])
    dest_rel = os.path.join("date_day=2024-01-01", "hour=3", "ext.parquet")
    with open(os.path.join(mt.data_dir, dest_rel), "wb") as fh:
        with open(src, "rb") as s:
            fh.write(s.read())
    assert mt.commit([dest_rel])
    assert mt.declared_ordering(["timestamp"]) == "inexact"
    # compaction rewrites sorted and claims — exact again
    assert compact_partition_manifest(spark, table, "logs", "2024-01-01", 3) == 1
    assert mt.declared_ordering(["timestamp"]) == "exact"
    # a claim for a DIFFERENT order is not a claim for this one
    assert mt.declared_ordering(["value"]) == "none"


def test_retention_replans_when_compaction_swapped_files(
    spark, tmp_path, monkeypatch
):
    """The mirror race: retention plans its remove list, a concurrent
    compaction swaps the partition's files for compact-* replacements
    and commits first. Retention's commit must NOT land against the
    stale plan (the replacements would survive the 'drop' and resurrect
    the partition) — it re-plans from the fresh snapshot and drops the
    replacement files too."""
    table = str(tmp_path / "t")
    for b in range(3):
        write_batch_manifest(
            _rows(spark, 20, hour=3, start_id=20 * b).repartition(2),
            table, "logs", batch_id=b,
        )
    write_batch_manifest(_rows(spark, 10, hour=4), table, "logs", batch_id=99)
    mt = ManifestTable(table)
    orig = ManifestTable.commit
    seen = {"compacted": False}

    def racy(self, *a, **k):
        monkeypatch.setattr(ManifestTable, "commit", orig)
        assert compact_partition_manifest(
            spark, table, "logs", "2024-01-01", 3) == 1
        seen["compacted"] = True
        return orig(self, *a, **k)

    monkeypatch.setattr(ManifestTable, "commit", racy)
    dropped = apply_retention(table, keep={("2024-01-01", 4)})
    assert seen["compacted"]
    assert dropped == [("2024-01-01", 3)]
    assert list_hour_partitions(table) == [("2024-01-01", 4)]
    assert mt.read(spark).count() == 10  # hour-3 rows truly gone


# ---------------------------------- bare directories are read-only input


def test_bare_directory_is_refused_and_left_in_place(spark, tmp_path):
    """A hive directory no manifest tracks is read-only input: the
    listing functions see no partitions in it, and compaction,
    retention and a recording rule raise, naming the path, without
    touching a file. (Rewriting it would need a non-atomic swap; a
    manifest committed over it would shadow its files.)"""
    from signaldb_spark.maintenance.jobs import compact_partition
    from signaldb_spark.promql.lowering import PromCtx
    from signaldb_spark.promql.rules import record_rule
    from signaldb_spark.schemas.signal_schemas import METRICS_GAUGE
    from signaldb_spark.storage.manifest import manifest_table
    from signaldb_spark.testing import gen_metrics

    gauge = spark.createDataFrame(gen_metrics()[0], METRICS_GAUGE)
    path = str(tmp_path / "metrics_gauge")
    gauge.repartition(3).write.partitionBy("date_day", "hour").parquet(path)

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(root, f), path),
             os.path.getsize(os.path.join(root, f)))
            for root, _dirs, files in os.walk(path) for f in files
        )

    before = tree()
    assert any(rel.endswith(".parquet") for rel, _size in before)
    assert list_hour_partitions(path) == []
    assert partition_file_counts(path) == {}
    assert partition_files(path, "2024-01-01", 0) == []
    assert compaction_candidates(path, target_bytes=1 << 30) == []

    with pytest.raises(ValueError, match=re.escape(path)):
        compact_partition(spark, path, "metrics_gauge", "2024-01-01", 0)
    with pytest.raises(ValueError, match=re.escape(path)):
        apply_retention(path, keep=set())
    ctx = PromCtx(spark, gauge, None, None,
                  "2024-01-01 00:00:00", "2024-01-01 01:00:00", 600)
    with pytest.raises(ValueError, match=re.escape(path)):
        record_rule(ctx, "sum by (service_name) (process_cpu_usage)",
                    "job:cpu:sum", path)
    assert tree() == before
    assert manifest_table(path) is None
