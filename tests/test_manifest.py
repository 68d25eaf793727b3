"""Manifest-committed table protocol: snapshot isolation, idempotent
replay, orphan GC, commit races — the object-store-safe path that
replaces directory renames (storage/manifest.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from signaldb_spark.storage.manifest import (
    CommitConflict,
    ManifestTable,
    compact_partition_manifest,
    write_batch_manifest,
)


def _rows(spark, n, day="2024-01-01", hour=3):
    return spark.range(n).select(
        F.col("id"),
        F.lit(day).alias("date_day"),
        F.lit(hour).alias("hour"),
        (F.col("id") * 2).alias("value"),
    )


def test_idempotent_replay_with_different_file_counts(spark, tmp_path):
    table = str(tmp_path / "t")
    df = _rows(spark, 100)
    assert write_batch_manifest(df.repartition(4), table, "logs", batch_id=7)
    mt = ManifestTable(table)
    assert mt.read(spark).count() == 100
    # replay of batch 7 with DIFFERENT parallelism: no-op, no dupes
    assert not write_batch_manifest(df.repartition(2), table, "logs", batch_id=7)
    assert mt.read(spark).count() == 100
    # a new batch appends
    assert write_batch_manifest(_rows(spark, 50), table, "logs", batch_id=8)
    assert mt.read(spark).count() == 150


def test_crashed_attempt_is_invisible_and_gc_able(spark, tmp_path):
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    # simulate a crashed attempt: files land in data/ but no commit
    part = os.path.join(mt.data_dir, "date_day=2024-01-01", "hour=3")
    committed = set(os.listdir(part))
    stray = os.path.join(part, "batch-2-deadbeef-00000.parquet")
    with open(next(os.path.join(part, f) for f in committed), "rb") as fh:
        payload = fh.read()
    with open(stray, "wb") as fh:
        fh.write(payload)
    # readers see only the committed snapshot
    assert mt.read(spark).count() == 10
    assert mt.find_orphans() == [
        os.path.relpath(stray, mt.data_dir)
    ]
    # expire_snapshots must NOT touch it: a never-referenced file may be
    # a concurrent writer's staged batch mid-commit (zero-grace deletion
    # there is the lost-staged-file hazard); reclaim is the grace-period
    # orphan sweep's job
    mt.expire_snapshots(keep_last=1)
    assert os.path.exists(stray)
    import datetime as dt

    from signaldb_spark.maintenance.jobs import cleanup_orphans

    assert cleanup_orphans(
        table, grace_seconds=3600,
        now=dt.datetime.now() + dt.timedelta(hours=2),
    ) == [os.path.relpath(stray, mt.data_dir)]
    assert not os.path.exists(stray)
    assert mt.read(spark).count() == 10


def test_concurrent_reader_survives_compaction(spark, tmp_path):
    table = str(tmp_path / "t")
    for b in range(4):
        write_batch_manifest(_rows(spark, 25).repartition(3), table, "logs", batch_id=b)
    mt = ManifestTable(table)
    v_before = mt.current_version()
    reader = mt.read(spark, version=v_before)  # snapshot pinned to v_before
    n_files = compact_partition_manifest(spark, table, "logs", "2024-01-01", 3)
    assert n_files == 1
    # the pinned reader still collects — old files exist until expiration
    assert reader.count() == 100
    # fresh read sees the compacted snapshot, same rows
    after = mt.read(spark)
    assert after.count() == 100
    assert after.inputFiles() and len(after.inputFiles()) == 1
    # expiration retires the pre-compaction files
    dropped = mt.expire_snapshots(keep_last=1)
    assert len(dropped) == 12  # 4 batches × 3 files
    assert mt.read(spark).count() == 100


def test_partition_pruning_survives_manifest_read(spark, tmp_path):
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10, hour=3), table, "logs", batch_id=1)
    write_batch_manifest(_rows(spark, 10, hour=4), table, "logs", batch_id=2)
    mt = ManifestTable(table)
    df = mt.read(spark).filter(F.col("hour") == 3)
    assert df.count() == 10
    # partition columns come from the hive layout → pruned at planning
    # (PartitionFilters, not a data filter)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "(hour" in plan.split("PartitionFilters", 1)[1][:200]


def test_commit_conflict_retries(spark, tmp_path):
    table = str(tmp_path / "t")
    mt = ManifestTable(table)
    os.makedirs(mt.data_dir, exist_ok=True)
    mt.commit(["a.parquet"])
    # another writer steals version 2
    mt._put_if_absent({"version": 2, "files": ["a.parquet", "x.parquet"], "batches": []}, 2)
    with pytest.raises(CommitConflict):
        mt._put_if_absent({"version": 2, "files": [], "batches": []}, 2)
    # high-level commit retries onto version 3 and preserves the winner's file
    mt.commit(["b.parquet"])
    assert mt.current_version() == 3
    assert set(mt.load_manifest()["files"]) == {"a.parquet", "b.parquet", "x.parquet"}


def test_retention_via_manifest_commit(spark, tmp_path):
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10, day="2024-01-01"), table, "logs", batch_id=1)
    write_batch_manifest(_rows(spark, 10, day="2024-01-02"), table, "logs", batch_id=2)
    mt = ManifestTable(table)
    old_day = [f for f in mt.load_manifest()["files"] if f.startswith("date_day=2024-01-01")]
    mt.commit([], remove_files=old_day)
    assert mt.read(spark).count() == 10
    assert {str(r.date_day) for r in mt.read(spark).select("date_day").distinct().collect()} == {
        "2024-01-02"
    }


def test_streaming_ingest_through_manifest(spark, tmp_path):
    """End-to-end: the OTLP file-source stream commits micro-batches via
    the manifest protocol; a snapshot read returns every ingested row
    and a RE-RUN with a fresh checkpoint does not duplicate (batch-id
    lineage guard)."""
    import json

    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.storage import ManifestTable
    from signaldb_spark.streaming.ingest import ingest_otlp_logs_stream

    src = tmp_path / "src"
    src.mkdir()
    base = str(tmp_path / "tables")
    payload = json.dumps({"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": "api"}}]},
        "scopeLogs": [{"scope": {"name": "t", "version": "1"}, "logRecords": [{
            "timeUnixNano": "1704067200000000000",
            "observedTimeUnixNano": "1704067200000000000",
            "severityText": "INFO", "severityNumber": 9,
            "body": {"stringValue": "hello"},
            "attributes": [{"key": "user", "value": {"stringValue": "u1"}}],
            "traceId": "ab" * 16, "spanId": "cd" * 8,
        }]}],
    }]})
    (src / "a.json").write_text(payload)
    ingest_otlp_logs_stream(
        spark, str(src), base, checkpoint_dir=str(tmp_path / "ck1")
    )
    mt = ManifestTable(signal_table_path(base, "acme", "prod", "logs"))
    first = mt.read(spark)
    n = first.count()
    assert n > 0 and mt.current_version() >= 1
    # replay with a NEW checkpoint: the stream reprocesses batch 0, but
    # the manifest's batch lineage refuses the duplicate commit
    ingest_otlp_logs_stream(
        spark, str(src), base, checkpoint_dir=str(tmp_path / "ck2")
    )
    assert ManifestTable(mt.table_path).read(spark).count() == n


def test_maintenance_cycle_end_to_end(spark, tmp_path):
    """Full manifest-table maintenance pass: multi-file closed partition
    compacts under a lease, an out-of-retention partition drops via a
    snapshot commit, snapshot expiration deletes exactly the bytes no
    retained snapshot references, and partition pruning still works on
    the snapshot read."""
    import datetime as dt
    import io
    import os
    import contextlib

    from pyspark.sql import functions as F

    from signaldb_spark.catalog import optional_table, signal_table_path
    from signaldb_spark.maintenance.jobs import (
        list_hour_partitions,
        maintenance_cycle,
        partition_files,
    )
    from signaldb_spark.storage import ManifestTable, write_batch_manifest

    base = str(tmp_path / "b")
    path = signal_table_path(base, "acme", "prod", "logs")
    rows = [
        (dt.datetime(2024, 1, 1, h, m), f"log {h}:{m}", "2024-01-01", h)
        for h in (0, 1)
        for m in (0, 10, 20)
    ]
    df = spark.createDataFrame(
        rows, "timestamp timestamp, body string, date_day string, hour int"
    )
    # three separate batches → multi-file partitions + three snapshots
    for i in range(3):
        write_batch_manifest(
            df.filter(F.minute("timestamp") == i * 10), path, "logs", batch_id=i
        )
    assert len(partition_files(path, "2024-01-01", 0)) == 3
    out = maintenance_cycle(
        spark, base, "acme", "prod", "logs",
        keep_partitions={("2024-01-01", 0)},
        keep_snapshots=1,
        now=dt.datetime(2024, 1, 2),
    )
    assert set(out["compacted"]) == {("2024-01-01", 0), ("2024-01-01", 1)}
    assert out["dropped"] == [("2024-01-01", 1)]
    assert out["expired_files"]  # compacted-away + dropped bytes died
    assert list_hour_partitions(path) == [("2024-01-01", 0)]
    assert len(partition_files(path, "2024-01-01", 0)) == 1
    t = optional_table(spark, base, "acme", "prod", "logs")
    assert t.count() == 3  # hour 0 rows only
    # no orphan bytes remain on disk beyond the live snapshot
    mt = ManifestTable(path)
    assert mt.find_orphans() == []
    # partition pruning reaches the snapshot read
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        t.filter(F.col("hour") == 0).select("body").explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "hour" in p.split("PartitionFilters", 1)[1][:200]


def test_maintenance_orphan_clock_is_wall_time(spark, tmp_path):
    """The orphan sweep must never run on the logical retention clock:
    a caller replaying maintenance with a future `now` must not delete
    a writer's freshly staged (uncommitted) file — grace is real
    elapsed time, with a days-scale default (ADVICE round 5)."""
    import datetime as dt

    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.maintenance.jobs import maintenance_cycle

    base = str(tmp_path / "b")
    path = signal_table_path(base, "acme", "prod", "logs")
    write_batch_manifest(_rows(spark, 10), path, "logs", batch_id=1)
    mt = ManifestTable(path)
    part = os.path.join(mt.data_dir, "date_day=2024-01-01", "hour=3")
    committed = next(f for f in os.listdir(part) if f.endswith(".parquet"))
    stray = os.path.join(part, "batch-9-deadbeef-00000.parquet")
    with open(stray, "wb") as fh:
        fh.write(open(os.path.join(part, committed), "rb").read())
    out = maintenance_cycle(
        spark, base, "acme", "prod", "logs",
        now=dt.datetime.now() + dt.timedelta(days=365),  # logical clock
    )
    assert out["orphans_deleted"] == []
    assert os.path.exists(stray)  # a slow writer's staged file survives


def _ts_rows(spark, n, day, hour):
    base = f"{day} {hour:02d}:00:00"
    return spark.range(n).select(
        F.col("id"),
        F.lit(day).alias("date_day"),
        F.lit(hour).alias("hour"),
        (F.to_timestamp(F.lit(base)) + F.make_interval(secs=F.col("id"))).alias(
            "timestamp"
        ),
        (F.col("id") * 2).alias("value"),
    )


def test_manifest_records_file_stats(spark, tmp_path):
    table = str(tmp_path / "t")
    write_batch_manifest(_ts_rows(spark, 60, "2024-01-01", 3), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    m = mt.load_manifest()
    assert m["files"] and set(m["stats"]) == set(m["files"])
    # across all the batch's files: epoch µs for 03:00:00 .. +59s
    lo = min(s["timestamp"][0] for s in m["stats"].values())
    hi = max(s["timestamp"][1] for s in m["stats"].values())
    assert lo == 1704078000_000000 and hi == 1704078000_000000 + 59_000_000


def test_stats_pruning_skips_disjoint_files(spark, tmp_path):
    table = str(tmp_path / "t")
    # two batches, one hour apart — different files, disjoint time ranges
    write_batch_manifest(_ts_rows(spark, 10, "2024-01-01", 3), table, "logs", batch_id=1)
    write_batch_manifest(_ts_rows(spark, 10, "2024-01-01", 4), table, "logs", batch_id=2)
    mt = ManifestTable(table)
    all_files = mt.files()
    assert len(all_files) >= 2
    lo = 1704081600_000000  # 04:00:00
    hi = lo + 3600_000000
    kept, pruned = mt.pruned_files("timestamp", lo, hi)
    assert pruned >= 1 and len(kept) < len(all_files)
    # pruned read returns exactly the hour-4 rows once the row predicate
    # is applied (stats bound files, not rows)
    import datetime as dt

    lo_ts = dt.datetime(2024, 1, 1, 4, 0, 0)
    out = mt.read(spark, between=("timestamp", lo, hi)).filter(
        F.col("timestamp") >= F.lit(lo_ts)
    )
    assert out.count() == 10
    assert len(out.inputFiles()) == len(kept)


def test_stats_pruning_keeps_statless_files(spark, tmp_path):
    table = str(tmp_path / "t")
    # batch with NO timestamp column → no stats recorded for its files
    write_batch_manifest(_rows(spark, 10), table, "logs", batch_id=1)
    write_batch_manifest(_ts_rows(spark, 10, "2024-01-02", 5), table, "logs", batch_id=2)
    mt = ManifestTable(table)
    m = mt.load_manifest()
    with_stats = [f for f in m["files"] if f in m["stats"]]
    without = [f for f in m["files"] if f not in m["stats"]]
    assert with_stats and without
    # a window far away prunes ONLY the stats-bearing files
    kept, pruned = mt.pruned_files("timestamp", 0, 1_000_000)
    assert pruned == len(with_stats)
    assert sorted(kept) == sorted(
        os.path.join(mt.data_dir, f) for f in without
    )


def test_compaction_refreshes_stats_and_drops_removed(spark, tmp_path):
    table = str(tmp_path / "t")
    for b in range(3):
        write_batch_manifest(
            _ts_rows(spark, 20, "2024-01-01", 3).repartition(2), table, "logs", batch_id=b
        )
    mt = ManifestTable(table)
    old_files = set(mt.load_manifest()["files"])
    compact_partition_manifest(spark, table, "logs", "2024-01-01", 3)
    m = mt.load_manifest()
    # stats for retired files dropped; the compacted file has fresh stats
    assert not (set(m["stats"]) & old_files)
    assert set(m["stats"]) == set(m["files"])
    lo = min(s["timestamp"][0] for s in m["stats"].values())
    hi = max(s["timestamp"][1] for s in m["stats"].values())
    assert lo == 1704078000_000000 and hi == 1704078000_000000 + 19_000_000


def test_index_store_roundtrip_and_versions(spark, tmp_path):
    """PQ codebooks survive the session: train → save → load → search
    gives identical results; retrain appends a new version and readers
    can still pin the old one."""
    from pyspark.sql import functions as F

    from signaldb_spark.operators.similarity import pq_adc_topn, pq_codes, pq_train
    from signaldb_spark.storage.index_store import IndexStore

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(embs, "vec_id", "embedding", dims=8, m=2, k=4, iterations=1)
    codes = pq_codes(embs, "vec_id", "embedding", dims=8, m=2, k=4, iterations=1)

    store = IndexStore(str(tmp_path / "embeddings"))
    v1 = store.save("pq_main", "pq", {"m": 2, "k": 4, "codebooks": books},
                    table_snapshot_version=3)
    assert v1 == 1
    loaded = store.load("pq_main")
    assert loaded["kind"] == "pq" and loaded["table_snapshot_version"] == 3

    query = rows[0][1]
    direct = [tuple(r) for r in pq_adc_topn(codes, books, query, n=5).collect()]
    via_store = [
        tuple(r) for r in pq_adc_topn(codes, loaded["codebooks"], query, n=5).collect()
    ]
    assert direct == via_store

    v2 = store.save("pq_main", "pq", {"m": 2, "k": 4, "codebooks": books})
    assert v2 == 2 and store.versions("pq_main") == [1, 2]
    assert store.load("pq_main", version=1)["table_snapshot_version"] == 3


# ------------------------------------------------------------- hot / cold


def test_hot_data_visible_before_any_commit(spark, tmp_path):
    """First-run experience: a table with hot batches but no committed
    snapshot serves hot-only (reference: unflushed-data-visibility
    proposal, 'first-run experience')."""
    from signaldb_spark.storage.hot import HotStore, hybrid_read

    table = str(tmp_path / "t")
    store = HotStore(table)
    assert hybrid_read(spark, table) is None
    assert store.ack(_rows(spark, 10)) == 1
    assert store.ack(_rows(spark, 5)) == 2
    df = hybrid_read(spark, table)
    assert df.count() == 15


def test_flush_advances_watermark_no_dup_no_omission(spark, tmp_path):
    from signaldb_spark.storage.hot import (
        HotStore,
        committed_watermark,
        flush_hot,
        hybrid_read,
    )

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 10))
    store.ack(_rows(spark, 5))
    assert hybrid_read(spark, table).count() == 15
    wm = flush_hot(spark, table, "logs")
    assert wm == 2 and committed_watermark(table) == 2
    # across the flush boundary the row count is unchanged: the flushed
    # rows are now cold AND still present as hot files, but the
    # watermark drops the hot copies
    assert hybrid_read(spark, table).count() == 15
    assert store.sequences() == [1, 2]  # flush does not reclaim
    # new hot data post-flush unions on top of cold
    store.ack(_rows(spark, 3))
    assert hybrid_read(spark, table).count() == 18
    # replayed flush of the same range is a no-op commit
    assert flush_hot(spark, table, "logs") == 3  # flushes only seq 3
    assert hybrid_read(spark, table).count() == 18


def test_flush_replay_is_idempotent(spark, tmp_path):
    from signaldb_spark.storage.hot import HotStore, flush_hot, hybrid_read

    table = str(tmp_path / "t")
    HotStore(table).ack(_rows(spark, 10))
    assert flush_hot(spark, table, "logs") == 1
    # replay with the same high-water sequence: lineage key matches, no
    # second commit, no duplicated rows
    assert flush_hot(spark, table, "logs") == 1
    mt = ManifestTable(table)
    assert sum(b == "hotflush-1" for b in mt.load_manifest()["batches"]) == 1
    assert hybrid_read(spark, table).count() == 10


def test_commit_precondition_is_compare_and_swap(spark, tmp_path):
    """A falsy precondition aborts the commit with False and no version
    bump — the CAS hook watermark-bearing commits use (ADVICE round 5)."""
    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    v = mt.current_version()
    ok = mt.commit([], batch_id="x", properties={"p": 1},
                   precondition=lambda m: False)
    assert ok is False and mt.current_version() == v
    assert "x" not in mt.load_manifest()["batches"]
    # a truthy precondition commits normally
    assert mt.commit([], batch_id="x", properties={"p": 1},
                     precondition=lambda m: m["version"] == v)
    assert mt.load_manifest()["props"]["p"] == 1


def test_concurrent_flush_loser_aborts_no_duplication(spark, tmp_path, monkeypatch):
    """Two racing flushes: the loser's commit must abort, whatever the
    relative high-water marks — flush_hot CASes on the watermark it
    planned against, so the second committer always sees a moved
    watermark and backs off instead of re-adding already-flushed
    batches or regressing the watermark (ADVICE round 5).

    Deterministic interleaving: flusher A plans against wm=-1 with only
    seq 1 published; while A is inside its commit, a new ack lands and
    flusher B runs to completion (flushing seqs 1-2, wm→2); A's commit
    then finds wm=2 != -1 and aborts."""
    from signaldb_spark.storage import hot as hotmod

    table = str(tmp_path / "t")
    store = hotmod.HotStore(table)
    store.ack(_rows(spark, 10))  # seq 1

    orig_commit = hotmod.ManifestTable.commit
    state = {"injected": False}

    def racing_commit(self, *args, **kwargs):
        if not state["injected"]:
            state["injected"] = True
            store.ack(_rows(spark, 5))  # seq 2 lands mid-flush
            hotmod.flush_hot(spark, table, "logs")  # B wins: wm -> 2
        return orig_commit(self, *args, **kwargs)

    monkeypatch.setattr(hotmod.ManifestTable, "commit", racing_commit)
    wm = hotmod.flush_hot(spark, table, "logs")  # A planned wm=-1, hi=1
    monkeypatch.undo()

    assert wm == 2  # A reports the winner's watermark, not a regression
    assert hotmod.committed_watermark(table) == 2
    mt = ManifestTable(table)
    batches = mt.load_manifest()["batches"]
    assert "hotflush-2" in batches and "hotflush-1" not in batches
    # no duplication: 10 + 5 rows exactly, across cold+hot union
    assert hotmod.hybrid_read(spark, table).count() == 15
    assert mt.read(spark).count() == 15


def test_ack_surfaces_non_collision_errors(spark, tmp_path, monkeypatch):
    """ack retries only the claimed-sequence collision; a persistent
    EACCES must raise, not spin forever claiming sequences."""
    import errno as _errno

    from signaldb_spark.storage import hot as hotmod

    table = str(tmp_path / "t")
    store = hotmod.HotStore(table)
    assert store.ack(_rows(spark, 3)) == 1

    def denied(src, dst):
        raise OSError(_errno.EACCES, "permission denied", dst)

    monkeypatch.setattr(hotmod.os, "rename", denied)
    with pytest.raises(OSError) as ei:
        store.ack(_rows(spark, 3))
    assert ei.value.errno == _errno.EACCES
    monkeypatch.undo()
    # sequence space unpolluted by the failed attempt
    assert store.ack(_rows(spark, 3)) == 2


def test_failed_ack_reclaims_staging_dir(spark, tmp_path, monkeypatch):
    """A raising ack must not leak its .tmp-* staging directory:
    nothing else sweeps them (gc only removes published seq-* dirs), so
    crashed-ack orphans would otherwise accumulate unboundedly."""
    import errno as _errno
    import os as _os

    from signaldb_spark.storage import hot as hotmod

    table = str(tmp_path / "t")
    store = hotmod.HotStore(table)

    def denied(src, dst):
        raise OSError(_errno.EACCES, "permission denied", dst)

    monkeypatch.setattr(hotmod.os, "rename", denied)
    with pytest.raises(OSError):
        store.ack(_rows(spark, 3))
    monkeypatch.undo()
    leftovers = [n for n in _os.listdir(store.hot_dir) if n.startswith(".tmp-")]
    assert leftovers == []
    # the store still works and sequences stay clean
    assert store.ack(_rows(spark, 3)) == 1


def test_gc_reclaims_only_covered_sequences(spark, tmp_path):
    from signaldb_spark.storage.hot import HotStore, flush_hot, hybrid_read

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 10))
    flush_hot(spark, table, "logs")
    store.ack(_rows(spark, 4))
    assert store.gc(1) == [1]
    assert store.sequences() == [2]
    assert hybrid_read(spark, table).count() == 14


def test_watermark_survives_unrelated_commits(spark, tmp_path):
    """Table properties carry forward: a later plain batch commit must
    not lose the hot watermark (else flushed hot batches would
    reappear as duplicates)."""
    from signaldb_spark.storage.hot import (
        HotStore,
        committed_watermark,
        flush_hot,
        hybrid_read,
    )

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 10))
    flush_hot(spark, table, "logs")
    assert committed_watermark(table) == 1
    write_batch_manifest(_rows(spark, 7), table, "logs", batch_id=99)
    assert committed_watermark(table) == 1
    assert hybrid_read(spark, table).count() == 17


def test_hot_before_cold_ordering_prevents_duplication(spark, tmp_path):
    """The reader's hot list is snapshot BEFORE the manifest: a flush
    landing in between leaves the flushed batch in both the hot list
    and the cold snapshot — the (later-read) watermark must drop the
    hot copy."""
    from signaldb_spark.storage.hot import HotStore, ManifestTable, flush_hot
    from signaldb_spark.storage.hot import committed_watermark
    from signaldb_spark.storage import hot as hotmod

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 10))
    # simulate the race by replaying hybrid_read's steps with a flush
    # wedged between the hot listing and the manifest read
    hot_seqs = store.sequences()
    flush_hot(spark, table, "logs")
    wm = committed_watermark(table)
    cold = ManifestTable(table).read(spark)
    hot = store.read_hot(spark, above=wm, seqs=hot_seqs)
    assert hot is None  # covered by the watermark -> dropped
    assert cold.count() == 10


def test_optional_table_serves_hot_union(spark, tmp_path):
    """The catalog chokepoint (optional_table) serves acked hot data
    before any commit, and exactly-once across the flush boundary."""
    from signaldb_spark.catalog import optional_table, signal_table_path
    from signaldb_spark.storage.hot import HotStore, flush_hot

    base = str(tmp_path)
    path = signal_table_path(base, "acme", "default", "logs")
    assert optional_table(spark, base, "acme", "default", "logs") is None
    HotStore(path).ack(_rows(spark, 12))
    df = optional_table(spark, base, "acme", "default", "logs")
    assert df is not None and df.count() == 12
    flush_hot(spark, path, "logs")
    assert optional_table(spark, base, "acme", "default", "logs").count() == 12


# ------------------------------------------------- stats-ordered TopK scan


def _seq_ts_rows(spark, n, day, hour, start):
    """n rows with distinct increasing timestamps inside (day, hour)."""
    return spark.range(n).select(
        F.col("id"),
        F.lit(day).alias("date_day"),
        F.lit(hour).alias("hour"),
        (F.lit(start).cast("timestamp") + F.make_interval(secs=F.col("id")))
        .alias("timestamp"),
    )


def test_read_recent_topk_matches_full_scan(spark, tmp_path):
    table = str(tmp_path / "t")
    for b, (day, hour, start) in enumerate([
        ("2024-01-01", 3, "2024-01-01 03:00:00"),
        ("2024-01-01", 4, "2024-01-01 04:00:00"),
        ("2024-01-02", 9, "2024-01-02 09:00:00"),
    ]):
        write_batch_manifest(_seq_ts_rows(spark, 50, day, hour, start), table, "logs", batch_id=b)
    mt = ManifestTable(table)
    top, files_read = mt.read_recent_topk(spark, "timestamp", 10)
    got = [r.timestamp for r in top.select("timestamp").collect()]
    want = [
        r.timestamp
        for r in mt.read(spark).orderBy(F.desc("timestamp")).limit(10)
        .select("timestamp").collect()
    ]
    assert got == want
    # the newest hour alone satisfies the limit: the scan must not have
    # opened every file
    assert files_read < len(mt.load_manifest()["files"])


def test_read_recent_topk_reads_everything_when_needed(spark, tmp_path):
    table = str(tmp_path / "t")
    write_batch_manifest(
        _seq_ts_rows(spark, 5, "2024-01-01", 3, "2024-01-01 03:00:00"),
        table, "logs", batch_id=1)
    write_batch_manifest(
        _seq_ts_rows(spark, 5, "2024-01-01", 4, "2024-01-01 04:00:00"),
        table, "logs", batch_id=2)
    mt = ManifestTable(table)
    top, files_read = mt.read_recent_topk(spark, "timestamp", 100)
    assert top.count() == 10
    assert files_read == len(mt.load_manifest()["files"])
    empty = ManifestTable(str(tmp_path / "none"))
    assert empty.read_recent_topk(spark, "timestamp", 5) == (None, 0)


def test_cleanup_orphans_grace_period(spark, tmp_path):
    """Grace-period orphan reclamation: a crashed write attempt's file
    deletes once it ages past the grace window; a fresh (possibly
    mid-commit) file survives; committed files are never candidates —
    liveness comes from the union of retained manifests, not age."""
    import datetime as dt

    from signaldb_spark.maintenance.jobs import cleanup_orphans

    table = str(tmp_path / "t")
    write_batch_manifest(_rows(spark, 10), table, "logs", batch_id=1)
    mt = ManifestTable(table)
    part = os.path.join(mt.data_dir, "date_day=2024-01-01", "hour=3")
    committed = next(f for f in os.listdir(part) if f.endswith(".parquet"))
    payload = open(os.path.join(part, committed), "rb").read()
    stray = os.path.join(part, "batch-9-deadbeef-00000.parquet")
    with open(stray, "wb") as fh:
        fh.write(payload)
    # inside the grace window: kept (a writer may be about to commit it)
    assert cleanup_orphans(table, grace_seconds=3600) == []
    assert os.path.exists(stray)
    # past the grace window: reclaimed; the committed file is untouched
    future = dt.datetime.now() + dt.timedelta(hours=2)
    deleted = cleanup_orphans(table, grace_seconds=3600, now=future)
    assert deleted == [os.path.relpath(stray, mt.data_dir)]
    assert not os.path.exists(stray)
    assert os.path.exists(os.path.join(part, committed))
    assert mt.read(spark).count() == 10
    # idempotent
    assert cleanup_orphans(table, grace_seconds=0) == []


# ----------------------------------------- hot/streaming guard pins (r9)


def test_hybrid_read_pins_one_manifest_version(spark, tmp_path, monkeypatch):
    """The watermark and the cold file list resolve from ONE pinned
    manifest version: a flush committing between two independent
    resolutions would pair an old watermark with the new file list and
    duplicate every flushed row."""
    from signaldb_spark.storage.hot import (
        HotStore,
        ManifestTable,
        flush_hot,
        hybrid_read,
    )

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 10))
    flush_hot(spark, table, "logs")  # manifest v exists; wm covers seq 1
    store.ack(_rows(spark, 5))  # new hot batch, not yet flushed

    orig = ManifestTable.read
    fired = {"n": 0}

    def racy_read(self, spark_, version=None, **k):
        # a flush lands between hybrid_read's watermark resolution and
        # its cold read; the pinned version must make this invisible
        if fired["n"] == 0:
            fired["n"] = 1
            monkeypatch.setattr(ManifestTable, "read", orig)
            flush_hot(spark_, table, "logs")
        return orig(self, spark_, version=version, **k)

    monkeypatch.setattr(ManifestTable, "read", racy_read)
    got = hybrid_read(spark, table)
    assert fired["n"] == 1
    assert got.count() == 15  # 10 cold + 5 hot, no duplication


def test_hot_sequences_beyond_eight_digits_stay_visible(spark, tmp_path):
    """seq numbers format with {:08d} — past 99,999,999 the name grows
    to 9 digits and must still be listed (an exactly-8 regex silently
    orphaned such acked batches forever)."""
    import os

    from signaldb_spark.storage.hot import HotStore

    table = str(tmp_path / "t")
    store = HotStore(table)
    s1 = store.ack(_rows(spark, 3))
    big = os.path.join(table, "hot", "seq-100000000")
    os.rename(os.path.join(table, "hot", f"seq-{s1:08d}"), big)
    assert store.sequences() == [100000000]
    assert store.read_hot(spark).count() == 3
    # and the next ack claims a HIGHER sequence, never a collision
    s2 = store.ack(_rows(spark, 2))
    assert s2 == 100000001


def test_read_hot_merges_schemas_across_batches(spark, tmp_path):
    """A column added in a newer hot batch must survive a union read of
    old + new batches (single-footer schema picking silently dropped
    it)."""
    from pyspark.sql import functions as F

    from signaldb_spark.storage.hot import HotStore

    table = str(tmp_path / "t")
    store = HotStore(table)
    store.ack(_rows(spark, 4))
    store.ack(_rows(spark, 3).withColumn("new_attr", F.lit("x")))
    hot = store.read_hot(spark)
    assert "new_attr" in hot.columns
    assert hot.filter(F.col("new_attr").isNotNull()).count() == 3


def test_tail_rejects_metric_queries_and_runs_output_stages(spark, tmp_path):
    """tail_logs raises cleanly on a metric expression and executes the
    pipeline's output stages (line_format) like the batch path."""
    import json
    import os

    import pytest as _pytest

    from signaldb_spark.streaming.ingest import tail_logs

    src = tmp_path / "src"
    os.makedirs(src)
    with _pytest.raises(ValueError, match="log selector"):
        tail_logs(spark, str(src), 'count_over_time({service_name="x"}[5m])')
    payload = {
        "resourceLogs": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeLogs": [{"logRecords": [{
                "timeUnixNano": "1704067200000000000",
                "severityText": "INFO",
                "body": {"stringValue": "hello"},
            }]}],
        }]
    }
    (src / "b.json").write_text(json.dumps(payload))
    stream = tail_logs(
        spark, str(src), '{service_name="api"} | line_format "L:{{__line__}}"'
    )
    q = (
        stream.writeStream.format("memory").queryName("tail_r9")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from tail_r9").collect()
    assert len(rows) == 1 and rows[0].body == "L:hello"


# ---------------------------------------------------------- point lookup


def _trace_rows(spark, n, day="2024-01-01"):
    """n spans with deterministic 32-hex trace ids over 4 hours."""
    return spark.range(n).select(
        F.lower(F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 32, "0"))
        .alias("trace_id"),
        F.lit(day).alias("date_day"),
        (F.col("id") % 4).cast("int").alias("hour"),
        (F.col("id") * 3).alias("value"),
    )


def _tid(i):
    return format(i, "032x")


def test_point_lookup_bloom_and_bucket_pruning(spark, tmp_path):
    """The substrate's whole point: a point lookup plans 1-ish files,
    a definite miss plans zero, and results equal the full scan's."""
    table = str(tmp_path / "t")
    df = _trace_rows(spark, 400).repartition("date_day", "hour")
    assert write_batch_manifest(
        df, table, "traces", batch_id=1, bucket_by=("trace_id", 8),
    )
    mt = ManifestTable(table)
    n_files = len(mt.files())
    assert n_files >= 8  # 4 hours x buckets present

    probe = _tid(123)
    fs, pruned = mt.pruned_files_point("trace_id", probe)
    assert pruned >= n_files - 3  # bucket+bloom leave ~1 candidate
    got = mt.point_lookup(spark, "trace_id", probe).collect()
    assert [r["value"] for r in got] == [369]

    # full-scan parity: same rows whatever the pruning dropped
    full = mt.read(spark).filter(F.col("trace_id") == probe).collect()
    assert sorted(map(str, got)) == sorted(map(str, full))

    # a key that never existed: blooms prove absence in ~99% of
    # candidate files; whatever survives filters to zero rows
    miss = mt.point_lookup(spark, "trace_id", "f" * 32)
    assert miss is None or miss.count() == 0


def test_bucket_parity_python_vs_spark(spark):
    """bucket_of (driver probe) and bucket_expr (writer column) MUST
    agree for every value — the contract the layout stands on."""
    from signaldb_spark.storage.blooms import bucket_expr, bucket_of

    df = _trace_rows(spark, 257).select(
        "trace_id", bucket_expr("trace_id", 16).alias("b")
    )
    for r in df.collect():
        assert bucket_of(r["trace_id"], 16) == r["b"], r["trace_id"]


def test_point_pruning_keeps_files_without_evidence(spark, tmp_path):
    """Files committed without blooms/bucket (older layout) are always
    kept — pruning is evidence-based, never a correctness filter."""
    table = str(tmp_path / "t")
    mt = ManifestTable(table)
    # files of a producer that built no sidecars, committed with no
    # bloom entry although the table property declares trace_id
    _trace_rows(spark, 50).repartition(1).write.partitionBy(
        "date_day", "hour"
    ).parquet(mt.data_dir)
    rel_files = [
        os.path.relpath(os.path.join(r, n), mt.data_dir)
        for r, _d, ns in os.walk(mt.data_dir) for n in ns
        if n.endswith(".parquet")
    ]
    assert mt.commit(rel_files, batch_id=1, properties={"bloom.cols": "trace_id"})
    assert rel_files and not mt.load_manifest()["blooms"]
    fs, pruned = mt.pruned_files_point("trace_id", _tid(7))
    assert len(fs) == len(mt.files()) and pruned == 0
    assert mt.point_lookup(spark, "trace_id", _tid(7)).count() == 1


def test_point_pruning_composes_with_time_window(spark, tmp_path):
    """between= applies stats pruning before any sidecar read."""
    table = str(tmp_path / "t")
    rows = spark.range(100).select(
        F.lower(F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 32, "0"))
        .alias("trace_id"),
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("id") * 3_600_000_000
        ).alias("timestamp"),
    ).withColumn("date_day", F.to_date("timestamp")).withColumn(
        "hour", F.hour("timestamp")
    ).repartition("date_day", "hour")
    assert write_batch_manifest(rows, table, "traces", batch_id=1)
    mt = ManifestTable(table)
    import datetime as dt

    lo = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 1, 5, tzinfo=dt.timezone.utc)
    fs, pruned = mt.pruned_files_point(
        "trace_id", _tid(2), between=("timestamp", lo, hi)
    )
    assert len(fs) <= 2 and pruned >= len(mt.files()) - 2
    # the key exists OUTSIDE the window: time pruning wins, zero rows
    fs2, _ = mt.pruned_files_point(
        "trace_id", _tid(50), between=("timestamp", lo, hi)
    )
    assert fs2 == []


def test_compaction_rebuilds_blooms_for_replacements(spark, tmp_path):
    """The compactor is a producer: replacement files get fresh
    sidecars (from the bloom.cols table property), removed files'
    entries drop, and point lookups stay exact across the rewrite."""
    table = str(tmp_path / "t")
    df = _trace_rows(spark, 200).repartition(4)
    assert write_batch_manifest(df, table, "traces", batch_id=1)
    mt = ManifestTable(table)
    before = mt.point_lookup(spark, "trace_id", _tid(77)).collect()
    n = compact_partition_manifest(spark, table, "traces", "2024-01-01", 1)
    assert n == 1
    m = mt.load_manifest()
    new_files = [f for f in m["files"] if "compact-" in f]
    assert new_files and all(
        "trace_id" in m["blooms"].get(f, {}) for f in new_files
    )
    after = mt.point_lookup(spark, "trace_id", _tid(77)).collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    # bloom pruning still bites post-compaction
    _fs, pruned = mt.pruned_files_point("trace_id", _tid(77))
    assert pruned > 0


def test_partial_compaction_keeps_bucket_layout(spark, tmp_path):
    """Compacting one hour of a bucket_by table rewrites it into the
    hour's bucket directories: later reads see every row (a flat
    replacement next to bucket dirs made partition discovery refuse
    the table) and point lookups still bucket-prune the compacted hour."""
    from signaldb_spark.storage.blooms import bucket_of

    table = str(tmp_path / "t")
    rows = _trace_rows(spark, 120).withColumn(
        "hour", (F.col("hour") % 2).cast("int")
    )
    for b in range(3):
        assert write_batch_manifest(
            rows.filter(F.col("value") % 9 == 3 * b), table, "traces",
            batch_id=b, bucket_by=("trace_id", 4),
        )
    mt = ManifestTable(table)
    assert compact_partition_manifest(spark, table, "traces", "2024-01-01", 0) > 0
    assert mt.read(spark).count() == 120
    m = mt.load_manifest()
    hour0 = [f for f in m["files"] if f.startswith("date_day=2024-01-01/hour=0/")]
    assert hour0 and all("compact-" in f for f in hour0)
    assert {m["parts"][f]["trace_id_bucket"] for f in hour0} == {0, 1, 2, 3}
    probe = _tid(4)  # hour 0
    target = bucket_of(probe, 4)
    fs, pruned = mt.pruned_files_point("trace_id", probe)
    kept0 = [f for f in fs if "/hour=0/" in f]
    assert kept0 and all(f"trace_id_bucket={target}/" in f for f in kept0)
    assert pruned >= len(hour0) - 1
    got = mt.point_lookup(spark, "trace_id", probe).collect()
    assert [r["value"] for r in got] == [12]


def test_expire_snapshots_reclaims_sidecars(spark, tmp_path):
    from signaldb_spark.storage.blooms import BLOOMS_DIR

    table = str(tmp_path / "t")
    assert write_batch_manifest(
        _trace_rows(spark, 100).repartition(2), table, "traces",
        batch_id=1,
    )
    mt = ManifestTable(table)
    old_files = set(mt.load_manifest()["files"])
    compact_partition_manifest(spark, table, "traces", "2024-01-01", 2)
    dead = mt.expire_snapshots(keep_last=1)
    assert set(dead) & old_files
    bdir = os.path.join(table, BLOOMS_DIR)
    left = {
        os.path.relpath(os.path.join(r, n), bdir)
        for r, _d, ns in os.walk(bdir) for n in ns
    }
    # every surviving sidecar belongs to a live file
    live = set(mt.load_manifest()["files"])
    for s in left:
        assert s.rsplit(".", 2)[0] in live, s


def test_flush_builds_blooms_for_declared_cols(spark, tmp_path):
    """The hot flush is the third producer: when the table declares
    bloom columns, flushed files get sidecars too, and a point lookup
    stays exact across the flush boundary."""
    from signaldb_spark.storage.hot import HotStore, flush_hot

    table = str(tmp_path / "t")
    assert write_batch_manifest(
        _trace_rows(spark, 60).repartition(1), table, "traces",
        batch_id=1,
    )
    store = HotStore(table)
    store.ack(_trace_rows(spark, 40).withColumn(
        "trace_id",
        F.lower(F.lpad(F.conv((F.col("value") + 1000).cast("string"), 10, 16),
                       32, "0")),
    ))
    flush_hot(spark, table, "traces")
    mt = ManifestTable(table)
    m = mt.load_manifest()
    flushed = [f for f in m["files"] if "hotflush" in f]
    assert flushed and all(
        "trace_id" in m["blooms"].get(f, {}) for f in flushed
    )
    # a key that lives only in the flushed range: found, and pruned to
    # a strict subset of files
    tid = format(1000 + 3 * 3, "032x")  # value = id*3 for id=3
    fs, pruned = mt.pruned_files_point("trace_id", tid)
    assert pruned >= 1
    assert mt.point_lookup(spark, "trace_id", tid).count() == 1


def test_small_signal_files_carry_no_fixed_size_bloom(spark, tmp_path):
    """A ~100-row ``logs`` or ``traces`` batch writes files that are
    column data plus a footer, not a bloom written at parquet's 1 MiB
    maximum whatever the row count. The overhead is the file size minus
    its column chunks (pyarrow exposes no bloom offset). The one parquet
    bloom left, on ``trace_id``, is sized by its expected ndv (64 KiB)
    and written only for a chunk that fell back from dictionary
    encoding, as distinct per-record trace ids make it."""
    import pyarrow.parquet as pq

    from signaldb_spark.schemas.signal_schemas import LOGS, TRACES
    from signaldb_spark.testing import gen_logs, gen_traces

    for table, rows, schema in (
        ("logs", gen_logs(100), LOGS),
        ("traces", gen_traces(30), TRACES),
    ):
        path = str(tmp_path / table)
        assert 90 <= len(rows) <= 150
        assert write_batch_manifest(
            spark.createDataFrame(rows, schema).repartition(1), path, table,
            batch_id=1,
        )
        mt = ManifestTable(path)
        for f in mt.files():
            md = pq.ParquetFile(f).metadata
            cols = [
                md.row_group(g).column(c)
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            ]
            trace_id_blooms = sum(
                c.path_in_schema == "trace_id" and not c.has_dictionary_page
                for c in cols
            )
            overhead = os.path.getsize(f) - sum(
                c.total_compressed_size for c in cols
            )
            if table == "traces":
                # spans share their trace's id: the chunk keeps its
                # dictionary, so no parquet bloom at all
                assert trace_id_blooms == 0, f
            assert overhead < (64 << 10) * (1 + trace_id_blooms), (table, f)
