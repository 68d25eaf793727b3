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
    compact_partitions_manifest,
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


def _two_hour_table(spark, base):
    """A ``logs`` table with hours 3 and 4 of 2024-01-01, three files
    each (20 rows per file); returns its path."""
    from signaldb_spark.catalog import signal_table_path

    table = signal_table_path(base, "acme", "prod", "logs")
    for b in range(3):
        write_batch_manifest(
            _rows(spark, 20, hour=3, start_id=20 * b)
            .unionByName(_rows(spark, 20, hour=4, start_id=100 + 20 * b))
            .repartition("hour"),
            table, "logs", batch_id=b,
        )
    assert partition_file_counts(table) == {
        ("2024-01-01", 3): 3, ("2024-01-01", 4): 3}
    return table


def test_pass_commits_each_hour_alone_when_retention_drops_one(
    spark, tmp_path, monkeypatch
):
    """A two-hour pass writes both hours in one job, then retention
    drops hour 3 before the pass commits. Only hour 3's commit aborts:
    hour 4 lands, the cycle reports hour 4 alone, no dropped row comes
    back, and hour 3's replacement file is a never-referenced orphan."""
    base = str(tmp_path)
    table = _two_hour_table(spark, base)
    mt = ManifestTable(table)
    orig = ManifestTable.commit

    def racy(self, *a, **k):
        monkeypatch.setattr(ManifestTable, "commit", orig)
        assert apply_retention(table, keep={("2024-01-01", 4)}) == [
            ("2024-01-01", 3)]
        return orig(self, *a, **k)

    monkeypatch.setattr(ManifestTable, "commit", racy)
    done = compaction_cycle(spark, base, "acme", "prod", "logs",
                            now=dt.datetime(2024, 1, 2))
    assert done == [("2024-01-01", 4)]
    assert partition_file_counts(table) == {("2024-01-01", 4): 1}
    assert mt.read(spark).count() == 60
    assert sorted(r.id for r in mt.read(spark).collect()) == list(range(100, 160))
    orphans = mt.find_orphans()
    assert any("compact-" in f and "hour=3" in f for f in orphans), orphans
    assert not any("compact-" in f and "hour=4" in f for f in orphans), orphans


def test_failed_pass_releases_every_lease(spark, tmp_path, monkeypatch):
    """A pass whose write raises releases all its leases, so another
    holder's next pass acquires and compacts every partition."""
    from signaldb_spark.maintenance.lease import LeaseManager
    from signaldb_spark.storage import manifest

    base = str(tmp_path)
    table = _two_hour_table(spark, base)
    orig = manifest._write_commit

    def broken(*a, **k):
        raise RuntimeError("write failed")

    monkeypatch.setattr(manifest, "_write_commit", broken)
    with pytest.raises(RuntimeError, match="write failed"):
        compaction_cycle(spark, base, "acme", "prod", "logs",
                         now=dt.datetime(2024, 1, 2),
                         manager=LeaseManager(base, holder_id="a"))
    monkeypatch.setattr(manifest, "_write_commit", orig)
    done = compaction_cycle(spark, base, "acme", "prod", "logs",
                            now=dt.datetime(2024, 1, 2),
                            manager=LeaseManager(base, holder_id="b"))
    assert done == [("2024-01-01", 3), ("2024-01-01", 4)]
    assert ManifestTable(table).read(spark).count() == 120


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


def _claimed_files_read_back_sorted(table: str) -> int:
    """Every live file with a ``sorts`` claim holds its rows in that
    order; returns how many claimed files were checked."""
    import pyarrow.parquet as pq

    mt = ManifestTable(table)
    m = mt.load_manifest()
    sorts = m.get("sorts") or {}
    checked = 0
    for f in m["files"]:
        claim = sorts.get(f)
        if claim is None:
            continue
        rows = pq.ParquetFile(os.path.join(mt.data_dir, f)).read(
            columns=claim
        ).to_pylist()
        keys = [tuple(r[c] for c in claim) for r in rows]
        assert keys == sorted(keys), (f, claim)
        checked += 1
    return checked


def test_sort_claims_hold_on_disk(spark, tmp_path):
    """Declared ⇒ physically true per file, for every producer that
    claims: the batch sink (partition columns computed from the
    timestamp, as ingest derives them, and literal, as ``_rows`` builds
    them), the hot flush, and a ``bucket_by`` table before and after
    partition compaction; then one compaction pass over three hours of
    a plain and of a ``bucket_by`` table. Input rows arrive shuffled,
    several per timestamp, so a dropped sort shows on every claimed
    column."""
    from signaldb_spark.storage.hot import HotStore, flush_hot

    def shuffled(df):
        return df.withColumn(
            "timestamp",
            F.lit(dt.datetime(2024, 1, 1, 3)).cast("timestamp")
            + F.make_interval(secs=((F.col("id") * 7919) % 97).cast("double")),
        ).select(
            "*",
            F.concat(F.lit("svc-"), (F.col("id") % 5).cast("string"))
            .alias("service_name"),
            F.element_at(F.array(F.lit("info"), F.lit("warn")),
                         (F.col("id") % 2 + 1).cast("int")).alias("severity_text"),
        ).orderBy(F.rand(7)).repartition(3)

    computed = str(tmp_path / "computed")
    df = shuffled(_rows(spark, 400)).withColumn(
        "timestamp", F.col("timestamp") + F.make_interval(
            mins=((F.col("id") % 3) * 40).cast("int"))
    )
    assert write_batch_manifest(
        df.withColumn("date_day", F.to_date("timestamp"))
        .withColumn("hour", F.hour("timestamp")),
        computed, "logs", batch_id=0,
    )
    assert len(list_hour_partitions(computed)) > 1

    literal = str(tmp_path / "literal")
    assert write_batch_manifest(shuffled(_rows(spark, 400)), literal, "logs",
                                batch_id=0)

    hot = str(tmp_path / "hot")
    store = HotStore(hot)
    for b in range(2):
        store.ack(shuffled(_rows(spark, 200, start_id=200 * b)))
    assert flush_hot(spark, hot, "logs") == 2

    bucketed = str(tmp_path / "bucketed")
    for b in range(3):
        assert write_batch_manifest(
            shuffled(_rows(spark, 200, start_id=200 * b))
            .withColumn("trace_id", F.format_string("%032x", "id")),
            bucketed, "logs", batch_id=b, bucket_by=("trace_id", 4),
        )
    def three_hours(df):
        # hours 3-5 of the same day, each row's timestamp inside its hour
        return df.withColumn("hour", (F.col("id") % 3 + 3).cast("int")).withColumn(
            "timestamp",
            F.col("timestamp") + F.make_interval(hours=F.col("hour") - 3))

    multi = str(tmp_path / "multi")
    multi_bucketed = str(tmp_path / "multi_bucketed")
    for b in range(3):
        rows = three_hours(shuffled(_rows(spark, 300, start_id=300 * b)))
        assert write_batch_manifest(rows, multi, "logs", batch_id=b)
        assert write_batch_manifest(
            rows.withColumn("trace_id", F.format_string("%032x", "id")),
            multi_bucketed, "logs", batch_id=b, bucket_by=("trace_id", 4),
        )
    checked = {t: _claimed_files_read_back_sorted(t)
               for t in (computed, literal, hot, bucketed, multi, multi_bucketed)}
    assert compact_partition_manifest(
        spark, bucketed, "logs", "2024-01-01", 3) == 4
    checked["compacted"] = _claimed_files_read_back_sorted(bucketed)
    # one pass over three hours: one replacement file per hour, or per
    # bucket directory of an hour
    hours = [("2024-01-01", h) for h in (3, 4, 5)]
    for t, per_hour in ((multi, 1), (multi_bucketed, 4)):
        before = ManifestTable(t).read(spark).count()
        assert compact_partitions_manifest(spark, t, "logs", hours) == dict.fromkeys(
            hours, per_hour)
        files = ManifestTable(t).load_manifest()["files"]
        assert all("compact-" in f for f in files), files
        dirs = [os.path.dirname(f) for f in files]
        assert len(dirs) == len(set(dirs)) == 3 * per_hour, files
        assert ManifestTable(t).read(spark).count() == before
        checked[f"compacted {os.path.basename(t)}"] = (
            _claimed_files_read_back_sorted(t))
    assert all(checked.values()), checked
    for t in (computed, literal, hot, bucketed, multi, multi_bucketed):
        assert ManifestTable(t).declared_ordering(
            ["timestamp", "service_name", "severity_text"]) == "exact", t


def test_large_pass_shuffles_whole_directories(spark, tmp_path, monkeypatch):
    """A pass whose recorded input bytes exceed ``SMALL_SCAN_BYTES``
    spreads over the cores instead of coalescing to one task: its write
    input plans ONE exchange, hashed on the partition columns (plus the
    bucket column of a ``bucket_by`` table), so every hour or bucket
    directory still gets exactly one file, read back in its claimed
    order. At the threshold the pass stays one task with no exchange."""
    import re

    from signaldb_spark.storage import manifest

    plans = []
    orig = manifest._write_commit

    def spy(df, *a, **k):
        plans.append(df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        return orig(df, *a, **k)

    monkeypatch.setattr(manifest, "_write_commit", spy)
    hours = [("2024-01-01", h) for h in (3, 4, 5)]

    def table(name, total, bucket_by=None):
        path = str(tmp_path / name)
        for b in range(3):
            rows = _rows(spark, 300, start_id=300 * b).withColumn(
                "hour", (F.col("id") % 3 + 3).cast("int"))
            if bucket_by:
                rows = rows.withColumn("trace_id", F.format_string("%032x", "id"))
            assert write_batch_manifest(rows, path, "logs", batch_id=b,
                                        bucket_by=bucket_by)
        mt = ManifestTable(path)
        files = mt.load_manifest()["files"]
        sizes = {f: total // len(files) for f in files}
        sizes[files[0]] += total - sum(sizes.values())
        mt.commit([], sizes=sizes)
        plans.clear()
        return path

    for name, total, bucket_by, shuffled in (
        ("at", manifest.SMALL_SCAN_BYTES, None, False),
        ("above", manifest.SMALL_SCAN_BYTES + 1, None, True),
        ("above_bucketed", manifest.SMALL_SCAN_BYTES + 1, ("trace_id", 4), True),
    ):
        path = table(name, total, bucket_by)
        per_hour = 4 if bucket_by else 1
        assert compact_partitions_manifest(spark, path, "logs", hours) == (
            dict.fromkeys(hours, per_hour)), name
        (plan,) = plans
        exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
        assert len(exchanges) == (1 if shuffled else 0), (name, plan)
        if shuffled:
            keys = re.search(r"hashpartitioning\(([^)]*)\)", plan).group(1)
            cols = [re.sub(r"#\d+", "", c.strip()) for c in keys.split(",")]
            assert cols[:-1] == ["date_day", "hour", *(
                ["trace_id_bucket"] if bucket_by else [])], (name, keys)
        else:
            assert re.search(r"^Coalesce \(\d+\)$", plan, re.M), plan
        mt = ManifestTable(path)
        files = mt.load_manifest()["files"]
        dirs = [os.path.dirname(f) for f in files]
        assert len(dirs) == len(set(dirs)) == 3 * per_hour, (name, files)
        assert _claimed_files_read_back_sorted(path) == 3 * per_hour, name
        assert mt.read(spark).count() == 900, name


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
