"""Maintenance jobs: compaction, retention, attribute stats/promotion.

Spark analogs of the reference's compactor
(src/compactor/: planner.rs partition-close gating, rewriter.rs
streaming two-pass rewrite with sort orders, retention/, attr_stats.rs,
attr_promotion.rs). The reference streams partitions under a memory
pool and rewrites one partition per job; Spark's sortWithinPartitions +
partitioned write spills automatically and writes many partition
directories at once, so a compaction pass is ONE read→sort→write job
over every partition it leased, followed by one manifest commit per
partition.

Every job here maintains manifest-committed tables only
(storage.manifest). A bare parquet directory is read-only input: the
listing functions see no partitions in it, and the mutating entry
points (:func:`compact_partition`, :func:`apply_retention`) refuse it.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage.manifest import (
    ManifestTable,
    compact_partition_manifest,
    compact_partitions_manifest,
    manifest_table,
)


def _manifest_or_raise(table_path: str, action: str) -> ManifestTable:
    """The table's manifest handle; a mutating job on a bare directory
    raises instead of rewriting files no manifest tracks, or silently
    skipping them (the reference compactor rework's #930 rule)."""
    mt = manifest_table(table_path)
    if mt is None:
        raise ValueError(
            f"{action}: {table_path} is not a manifest-committed table "
            "(a bare parquet directory is read-only input)"
        )
    return mt


def _hour_keys(mt: ManifestTable | None, strict: bool = False) -> dict[str, tuple[str, int]]:
    """(date_day, hour) of each live file of a manifest table, from ONE
    manifest parse; files without an absolute-hour identity are left
    out. Empty for a bare directory or no table."""
    if mt is None:
        return {}
    return {
        f: (str(ident["date_day"]), ident["hour"])
        for f, ident in mt.file_partitions(strict=strict).items()
        if "date_day" in ident and isinstance(ident.get("hour"), int)
    }


def list_hour_partitions(table_path: str) -> list[tuple[str, int]]:
    """Enumerate (date_day, hour) partition pairs of the two-level
    layout — the absolute-hour unit retention/compaction operate on.

    Enumerates the CURRENT SNAPSHOT's file list, not the directory tree:
    orphaned files from crashed attempts must not resurrect partitions.
    Identity comes from the manifest's recorded partition structs
    (hive-path fallback for pre-recording entries,
    storage.manifest.file_partitions) — never a fresh path parse."""
    return sorted(set(_hour_keys(manifest_table(table_path)).values()))


def partition_file_counts(table_path: str) -> dict[tuple[str, int], int]:
    """File count per (day, hour) from ONE manifest parse — status over
    a 1000-partition table must not re-open the manifest per
    partition."""
    return dict(Counter(_hour_keys(manifest_table(table_path)).values()))


def partition_files(table_path: str, day: str, hour: int) -> list[str]:
    """Parquet files of one partition: the current snapshot's list
    (orphans excluded)."""
    return sorted(
        f for f, key in _hour_keys(manifest_table(table_path)).items()
        if key == (day, int(hour))
    )


def is_partition_closed(hour: int, day: dt.date, lateness_seconds: int, now: dt.datetime) -> bool:
    """A partition is open (accepting late writes, never compacted)
    until lateness elapses past its end (is_partition_closed,
    src/compactor/src/planner.rs:83-118)."""
    end = dt.datetime.combine(day, dt.time()) + dt.timedelta(hours=hour + 1)
    return now >= end + dt.timedelta(seconds=lateness_seconds)


def compaction_candidates(
    table_path: str,
    target_bytes: int,
    min_small_files: int = 2,
) -> list[tuple[str, int]]:
    """Size-aware compaction candidacy (the reference compactor
    rework's D3): a partition is a candidate when it holds at least
    ``min_small_files`` files BELOW ``target_bytes``. Small files are
    never excluded for being small (the defect the reference's #934
    fixes — its old min-input-size filter skipped exactly the files
    compaction exists to merge); files already at/above target size
    don't count toward candidacy and won't be rewritten. Candidates
    return largest-small-file-count first, so a bounded compactor pass
    burns its budget where fragmentation is worst. One manifest parse
    for the whole table."""
    mt = manifest_table(table_path)
    sizes = mt.file_sizes() if mt is not None else {}
    small = Counter(
        key for f, key in _hour_keys(mt, strict=True).items()
        if sizes.get(f, 0) < target_bytes
    )
    return sorted(
        (k for k, n in small.items() if n >= min_small_files),
        key=lambda k: (-small[k], k),
    )


def compact_partition(
    spark: SparkSession, table_path: str, table: str, day: str, hour: int,
) -> int:
    """Rewrite one (day, hour) partition into one file (one per bucket
    on a ``bucket_by`` table), sorted by the table's order
    (rewriter.rs:591-616), keeping bloom filters. Returns the number of
    files after rewrite.

    This is the one-partition pass of
    storage.manifest.compact_partitions_manifest, the same pass
    :func:`compaction_cycle` and the ops-compact route run over many
    partitions: snapshot-isolated, ONE manifest commit swaps the
    replacement files in, concurrent readers keep their snapshot, and
    there is no window without the partition's data. A bare parquet
    directory raises ``ValueError``."""
    _manifest_or_raise(table_path, "compact_partition")
    return compact_partition_manifest(spark, table_path, table, day, hour)


def compaction_cycle(
    spark: SparkSession,
    base: str,
    tenant: str,
    dataset: str,
    table: str,
    lateness_seconds: int = 3600,
    now: dt.datetime | None = None,
    manager=None,
    target_bytes: int | None = None,
    min_small_files: int = 2,
    max_partitions_per_cycle: int | None = None,
) -> list[tuple[str, int]]:
    """One compactor pass over a table, safe to run from many instances
    at once (the reference's run loop: planner → lease → rewriter,
    src/compactor/src/lib.rs): enumerate closed partitions, take every
    per-partition lease it can get, rewrite all the leased partitions
    in ONE Spark job with one manifest commit per partition
    (storage.manifest.compact_partitions_manifest), and release every
    lease, whether the pass succeeded or raised. Partitions whose lease
    is held by a live peer are skipped — duplicate work is prevented,
    not just tolerated. Returns the partitions whose commit landed; a
    partition whose commit aborted (say, retention dropped its inputs
    mid-pass) is left out.

    With ``target_bytes``, candidacy is size-aware (see
    :func:`compaction_candidates`): partitions with at least
    ``min_small_files`` files under target size qualify, worst
    fragmentation first, and the rewrite touches ONLY the small files
    (at-target files stay byte-identical — no rewrite amplification).
    ``max_partitions_per_cycle`` bounds the leases one pass takes — an
    enforced budget, per the reference's D3 rule that every planning
    limit is either enforced or deleted."""
    from ..catalog import signal_table_path
    from .lease import LeaseManager, partition_unit

    now = now or dt.datetime.now(dt.UTC).replace(tzinfo=None)
    manager = manager or LeaseManager(base)
    table_path = signal_table_path(base, tenant, dataset, table)
    if target_bytes is not None:
        candidates = compaction_candidates(table_path, target_bytes, min_small_files)
    else:
        # count-based candidacy: any partition of more than one file
        # (small-file candidates only, src/compactor/src/planner.rs)
        counts = partition_file_counts(table_path)
        candidates = sorted(k for k, n in counts.items() if n > 1)
    leases = {}
    try:
        for day, hour in candidates:
            if (max_partitions_per_cycle is not None
                    and len(leases) >= max_partitions_per_cycle):
                break
            if not is_partition_closed(
                hour, dt.date.fromisoformat(day), lateness_seconds, now
            ):
                continue
            lease = manager.try_acquire(
                partition_unit(tenant, dataset, table, day, hour)
            )
            if lease is not None:
                leases[day, hour] = lease
        if not leases:
            return []
        files = compact_partitions_manifest(
            spark, table_path, table, list(leases), max_input_bytes=target_bytes,
        )
    finally:
        for lease in leases.values():
            manager.release(lease)
    return [k for k in leases if files[k]]


def maintenance_cycle(
    spark: SparkSession,
    base: str,
    tenant: str,
    dataset: str,
    table: str,
    keep_partitions: "set[tuple[str, int]] | None" = None,
    keep_snapshots: int = 2,
    lateness_seconds: int = 3600,
    now: dt.datetime | None = None,
    manager=None,
    orphan_grace_seconds: float = 259200.0,
) -> dict:
    """The full maintenance pass a manifest table needs, in reference
    order (src/compactor/src/lib.rs run loop: planner → rewriter →
    retention → snapshot expiration → orphan sweep):

    1. lease-guarded compaction of closed multi-file partitions;
    2. retention drop of partitions outside ``keep_partitions`` (one
       snapshot commit, readers stay whole);
    3. ``expire_snapshots(keep_last=keep_snapshots)`` — manifests older
       than the horizon go away and the files no retained snapshot
       references (compacted-away, retention-dropped) are deleted;
    4. grace-period orphan sweep (``cleanup_orphans``) — crashed write
       attempts reclaim by default WITHOUT shortening time-travel
       history (the lifecycle-reclamation default the reference's
       compactor rework turns on). The sweep clock is WALL TIME, never
       the ``now`` retention clock: retention is a logical decision
       ("which partitions to keep") that callers may pin or replay,
       but orphan grace protects concurrent writers' staged-but-
       uncommitted files, and only real elapsed time says whether a
       writer can still be in flight. ``orphan_grace_seconds`` defaults
       to 3 days (Iceberg's remove_orphan_files posture), far above any
       stage-to-commit latency.

    Returns {"compacted": [...], "dropped": [...], "expired_files":
    [...], "orphans_deleted": [...]}. No-op steps are safe to rerun;
    the whole cycle is idempotent."""
    from ..catalog import signal_table_path

    table_path = signal_table_path(base, tenant, dataset, table)
    compacted = compaction_cycle(
        spark, base, tenant, dataset, table,
        lateness_seconds=lateness_seconds, now=now, manager=manager,
    )
    dropped: list[tuple[str, int]] = []
    if keep_partitions is not None:
        dropped = apply_retention(table_path, keep_partitions)
    expired: list[str] = []
    mt = manifest_table(table_path)
    if mt is not None:
        expired = mt.expire_snapshots(keep_last=keep_snapshots)
    orphans = cleanup_orphans(table_path, grace_seconds=orphan_grace_seconds)
    return {"compacted": compacted, "dropped": dropped,
            "expired_files": expired, "orphans_deleted": orphans}


def cleanup_orphans(
    table_path: str,
    grace_seconds: float = 259200.0,
    now: dt.datetime | None = None,
) -> list[str]:
    """Default-on physical reclamation of orphaned data files with a
    grace period — the lifecycle-reclamation contract of the
    reference's compactor-partition-scoped-lifecycle change: liveness
    derives from the UNION of retained manifests' file lists (never
    snapshot age, the #925 data-loss hazard), and a file must sit
    unreferenced for ``grace_seconds`` past its last modification
    before deletion, which protects a concurrent writer's just-staged
    files whose commit has not landed yet. The grace clock must be
    WALL TIME (``now`` exists only so tests can age files without
    sleeping — never pass a logical/retention clock here: a future
    ``now`` would delete a slow writer's staged files and the commit
    that follows would reference deleted data). The 3-day default
    matches Iceberg's remove_orphan_files posture — the grace must
    exceed the slowest plausible stage-to-commit latency, not a
    typical one. Unlike expire_snapshots
    (which retires whole manifest versions), this reclaims crashed
    write attempts WITHOUT shortening time-travel history. Returns the
    deleted relative paths; idempotent and safe to run concurrently
    with ingest."""
    import time as _time

    mt = manifest_table(table_path)
    if mt is None:
        return []
    cutoff = (
        _time.time() if now is None else now.timestamp()
    ) - grace_seconds
    deleted = []
    for rel in mt.find_orphans():
        path = os.path.join(mt.data_dir, rel)
        try:
            if os.path.getmtime(path) > cutoff:
                continue  # inside the grace window — maybe mid-commit
            os.unlink(path)
        except FileNotFoundError:
            continue
        deleted.append(rel)
        d = os.path.dirname(path)
        while d != mt.data_dir and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    return deleted


def apply_retention(
    table_path: str, keep: set[tuple[str, int]]
) -> list[tuple[str, int]]:
    """Drop (day, hour) partitions outside the retention window
    (retention cutoff job, src/compactor/src/retention/). Returns the
    dropped partitions.

    The drop is ONE snapshot commit removing the files (readers on the
    old snapshot stay whole; the bytes die later in expire_snapshots) —
    the Iceberg retention semantics. The pass runs on STRICT manifest
    partition identity: a live file whose partition cannot be
    classified raises storage.manifest.UnclassifiableFile instead of
    being silently skipped, because a skipped file would never age out
    while staying in every query result (the reference compactor
    rework's #930 rule). For the same reason a bare parquet directory
    raises ``ValueError`` rather than being skipped; a table not created
    yet has nothing to drop."""
    from ..storage.manifest import _parse_hive_partition

    if not os.path.isdir(table_path):
        return []
    mt = _manifest_or_raise(table_path, "apply_retention")

    def _key(cur_parts: dict, f: str):
        ident = cur_parts.get(f) or _parse_hive_partition(f) or {}
        if "date_day" in ident and isinstance(ident.get("hour"), int):
            return (str(ident["date_day"]), ident["hour"])
        return None

    # plan-commit loop with an input-scoped precondition (the mirror of
    # compaction's): the drop lands only if the dropped partitions'
    # CURRENT file membership still equals the plan. A concurrent
    # compaction that swapped old files for replacements between our
    # plan and commit would otherwise survive the drop — its
    # replacement files aren't in our remove list — resurrecting the
    # partition retention just reported dropped. On a failed
    # precondition we re-plan from the fresh snapshot and retry.
    for _ in range(20):
        # files without an absolute-hour identity belong to a
        # non-time-partitioned table: retention n/a
        remove = {
            f: key for f, key in _hour_keys(mt, strict=True).items()
            if key not in keep
        }
        dropped = sorted(set(remove.values()))
        if not remove:
            return dropped

        def unchanged(cur, planned=set(remove), keys=set(dropped)):
            parts = cur.get("parts") or {}
            live = {f for f in cur["files"] if _key(parts, f) in keys}
            return live == planned

        if mt.commit([], remove_files=list(remove), precondition=unchanged):
            return dropped
    raise RuntimeError("retention lost the planning race 20 times; aborting")


def attribute_stats(
    df: DataFrame, attr_col: str = "log_attributes", exact: bool = False
) -> DataFrame:
    """Per-key presence count + cardinality over a table — the
    promotion-input stats pass (src/compactor/src/attr_stats.rs) and the
    /prometheus/api/v1/label_stats read-back (promql.rs:275-311), as one
    explode + aggregate. The row total for the presence ratio is a
    broadcast-joined scalar from the same job (count-star resolves from
    parquet footers), not a separate collect-then-count action.

    ``exact=False`` (the scale default) estimates cardinality with HLL,
    emitted as ``approx_cardinality``; ``exact=True`` uses
    count(distinct) — cross-engine deterministic, so the correctness
    gate runs in this mode — emitted as ``cardinality`` (an exact count
    under an "approx" name would mislead API consumers)."""
    exploded = df.select(F.explode_outer(F.col(attr_col)).alias("key", "val"))
    total_df = df.groupBy().agg(F.count(F.lit(1)).alias("_total"))
    card = (
        F.count_distinct(F.col("val")) if exact else F.approx_count_distinct("val")
    )
    card_name = "cardinality" if exact else "approx_cardinality"
    return (
        exploded.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("presence"),
            card.alias(card_name),
        )
        .crossJoin(F.broadcast(total_df))
        .withColumn("presence_ratio", F.round(F.col("presence") / F.col("_total"), 6))
        .drop("_total")
    )


def promotion_decisions(
    stats: DataFrame,
    demand: dict[str, int] | None = None,
    width_budget: int = 16,
    min_presence_ratio: float = 0.1,
) -> DataFrame:
    """Promote attributes to materialized label_<key> columns by
    query-demand × presence under a schema-width budget
    (src/compactor/src/attr_promotion.rs:82-153 policy shape; the
    streak hysteresis lives with the caller that persists decisions).
    """
    d = demand or {}
    demand_df = stats.sparkSession.createDataFrame(
        list(d.items()) or [("", 0)], "key string, demand long"
    )
    scored = (
        stats.join(F.broadcast(demand_df), "key", "left")
        .fillna({"demand": 0})
        .withColumn("score", F.col("presence_ratio") * (1 + F.col("demand")))
        .filter(F.col("presence_ratio") >= min_presence_ratio)
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(width_budget)
        .withColumn("action", F.lit("promote"))
    )
    card_name = "cardinality" if "cardinality" in stats.columns else "approx_cardinality"
    return scored.select("key", "presence", card_name, "score", "action")


def promote_attribute(df: DataFrame, key: str, attr_col: str = "log_attributes") -> DataFrame:
    """Materialize one attribute into a ``label_<key>`` column — the
    write-side half of attribute promotion (add_label_columns,
    src/common/src/iceberg/evolution.rs). Applied to new writes; old
    parquet files simply lack the column and null-fill at read via
    schema merging — the exact metadata-only evolution semantics of the
    reference (storage-layout.md:775-785)."""
    from pyspark.sql import functions as F

    return df.withColumn(f"label_{key}", F.element_at(F.col(attr_col), key))


def read_with_evolution(spark: SparkSession, table_path: str) -> DataFrame:
    """Read a table whose files straddle a column addition: schema
    merging unions file schemas; missing columns null-fill."""
    return spark.read.option("mergeSchema", "true").parquet(table_path)


def detect_field_types(kv: DataFrame, field_col: str = "field",
                       value_col: str = "v") -> DataFrame:
    """detected_fields type sniffing over an exploded (field, value)
    frame (logs.rs:483-577): per-value classification (true/false →
    bool, integer format, float parse, else string), then the
    reference's per-key resolution — all-bool → boolean, int-only →
    int, int+float → float, any string → string — plus an exact
    distinct count (the reference reports a capped lower bound). One
    partial+final aggregation on the key; shared by the
    ``detected_fields`` gate query and the Loki façade route."""
    v = F.col(value_col)
    is_bool = v.isin("true", "false")
    is_int = v.rlike("^[+-]?[0-9]+$")
    is_float = v.try_cast("double").isNotNull()
    agg = kv.filter(v.isNotNull()).groupBy(field_col).agg(
        F.max((~is_bool & ~is_int & ~is_float).cast("int")).alias("s"),
        F.max((~is_bool & is_int).cast("int")).alias("i"),
        F.max((~is_bool & ~is_int & is_float).cast("int")).alias("f"),
        F.max(is_bool.cast("int")).alias("b"),
        F.count_distinct(v).alias("cardinality"),
    )
    dtype = (
        F.when((F.col("s") == 0) & (F.col("i") == 0) & (F.col("f") == 0)
               & (F.col("b") == 1), "boolean")
        .when((F.col("s") == 0) & (F.col("i") == 1) & (F.col("f") == 0)
              & (F.col("b") == 0), "int")
        .when((F.col("s") == 0) & (F.col("f") == 1) & (F.col("b") == 0), "float")
        .otherwise("string")
    )
    return agg.select(F.col(field_col), dtype.alias("dtype"), "cardinality")


def detected_labels(df: DataFrame, attr_col: str = "log_attributes", cap: int = 1000) -> DataFrame:
    """Label-name discovery: materialized label_* columns plus the keys
    present in the attribute map, deduped/sorted/capped
    (labels endpoint, logs.rs:397-475)."""
    from pyspark.sql import functions as F

    mat = [c[len("label_"):] for c in df.columns if c.startswith("label_")]
    keys = df.select(F.explode(F.map_keys(F.col(attr_col))).alias("label"))
    mat_df = df.sparkSession.createDataFrame([(m,) for m in mat] or [("",)], "label string")
    return (
        keys.unionByName(mat_df.filter(F.col("label") != ""))
        .filter(F.col("label").isNotNull() & (F.col("label") != ""))
        .distinct()
        .orderBy("label")
        .limit(cap)
    )


def label_values(
    df: DataFrame, label: str, attr_col: str = "log_attributes", cap: int = 1000
) -> DataFrame:
    """Label-value discovery (/loki/api/v1/label/<name>/values —
    get_label_values, logs.rs:415-476): a well-known label routes to its
    dedicated column, a materialized ``label_<name>`` column to that
    column, anything else to the attribute map's value for the key.
    Distinct non-empty values, sorted, capped — the distinct runs
    in-engine on a single projected column, so at 100 TB the scan is one
    pruned column plus a tiny-result shuffle (the reference instead
    samples LABEL_SCAN_LIMIT attribute documents driver-side)."""
    from pyspark.sql import functions as F

    from ..logql.lowering import WELL_KNOWN

    if not label:
        raise ValueError("label name must not be empty")
    if label in WELL_KNOWN and WELL_KNOWN[label] in df.columns:
        col = F.col(WELL_KNOWN[label])
    elif f"label_{label}" in df.columns:
        col = F.col(f"label_{label}")
    elif label in df.columns:
        col = F.col(label)
    else:
        col = F.col(attr_col)[label]
    return (
        df.select(col.cast("string").alias("value"))
        .filter(F.col("value").isNotNull() & (F.col("value") != ""))
        .distinct()
        .orderBy("value")
        .limit(cap)
    )


def log_series(df: DataFrame, cap: int = 1000) -> DataFrame:
    """Series discovery (/loki/api/v1/series — get_series,
    logs.rs:578-633): distinct (service_name, level) label sets over the
    (already selector-filtered) stream, empty/null labels omitted from
    the set, rows with no labels dropped, deterministic order + cap.
    Output keeps one column per label (null = absent) — the shaper
    renders the BTreeMap form."""
    from pyspark.sql import functions as F

    svc = F.when(
        F.col("service_name").isNotNull() & (F.col("service_name") != ""),
        F.col("service_name"),
    )
    lvl = F.when(
        F.col("severity_text").isNotNull() & (F.col("severity_text") != ""),
        F.col("severity_text"),
    )
    return (
        df.select(svc.alias("service_name"), lvl.alias("level"))
        .filter(F.col("service_name").isNotNull() | F.col("level").isNotNull())
        .distinct()
        .orderBy(F.col("service_name").asc_nulls_first(), F.col("level").asc_nulls_first())
        .limit(cap)
    )
