"""Round-18 staging battery: the point-lookup pruning substrate under
the driver oracle, plus the deterministic-limit-cut contract.

Round 12 adds the two driver-side file-pruning layers for
``WHERE key = 'x'`` (storage/blooms.py + ManifestTable.pruned_files_point):
per-file bloom sidecars (the Iceberg puffin analog) and md5-bucket hive
partitioning (the Iceberg ``bucket(N, col)`` transform analog) — the
layers that make trace-by-id plan 1-2 files instead of every file in
the window at 100 TB (reference lookup shape: trace.rs:111-170, which
leans on partition + stats pruning only). These gates put every layer
under the DuckDB oracle:

- the md5-bucket function itself is RESTATED IN SQL by the oracle
  (``('0x' || substr(md5(id),1,15))::BIGINT % n``), so writer/prober
  parity is driver-oracle-proven, not just pytest-pinned;
- point lookups through the storage layer, through a time window, and
  through the real ``api.tempo_trace`` route all hash-compare against
  the oracle's restatement of the same row;
- the LogQL limit cut under FORCED timestamp ties pins the explicit
  (timestamp, trace_id) tie-break the engine applies before a clamp —
  the determinism contract a partition-order-dependent cut would break.

Fixture: a manifest-backed traces table (write_batch_manifest with
bucket_by; trace_id sidecars come with the table kind) built 1:1 from
day-1 events — 24 hour dirs x buckets, one file each, so sidecar count
stays bounded at every SF — and a tie-heavy logs table whose timestamps
are truncated to the hour.
"""

from __future__ import annotations

import tempfile as _tempfile

from pyspark.sql import functions as F

from .bench_round16 import (
    _BODY_SQL,
    _SEV_SQL,
    events_logs_frame,
)
from .catalog import load_table, signal_table_path

QUERIES: dict = {}
ORACLES: dict = {}

_R18_CACHE: dict = {}

_BUCKETS = 8
_DAY1_END = "2024-01-02"

# the oracle's restatement of storage/blooms.bucket_of — md5-prefix
# (60 bits) mod n, computable identically by Python, Spark SQL, and
# DuckDB; any drift between writer and prober fails these gates
_BUCKET_SQL = (
    "(('0x' || substr(md5(lower(lpad(hex(event_id), 32, '0'))), 1, 15))"
    f"::BIGINT % {_BUCKETS})"
)

_TID_SQL = "lower(lpad(hex(event_id), 32, '0'))"


def _traces_frame_day1(e):
    """Day-1 events → the at-rest traces shape the round-16/17 gates
    use (same derivations, so oracles stay shared closed forms)."""
    day = F.to_date("ts").alias("date_day")
    hour = F.hour("ts").cast("int").alias("hour")
    start_ns = F.unix_micros("ts") * 1000
    dur_ns = F.round(F.col("value") * 1e6).cast("bigint")
    return e.filter(F.col("ts") < _DAY1_END).select(
        F.lower(F.lpad(F.hex("event_id"), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex("event_id"), 16, "0")).alias("span_id"),
        F.lit(None).cast("string").alias("parent_span_id"),
        F.concat(F.lit("op-"), (F.col("event_id") % 3).cast("string"))
        .alias("span_name"),
        F.col("event_type").alias("service_name"),
        start_ns.alias("start_time_unix_nano"),
        (start_ns + dur_ns).alias("end_time_unix_nano"),
        dur_ns.alias("duration_nanos"),
        F.lit("SERVER").alias("span_kind"),
        F.when(F.col("user_id") % 10 == 0, "Error").otherwise("Ok")
        .alias("status_code"),
        F.lit(None).cast("string").alias("status_message"),
        F.lit(True).alias("is_root"),
        F.col("ts").alias("timestamp"),
        day, hour,
    )


def _manifest_traces_base(spark, sf_dir: str) -> str:
    """Build (once per process+sf) the manifest-backed traces table for
    tenant acme/prod: bloom sidecars on trace_id + 8-way md5 buckets.
    Repartitioned BY the partition columns first so each
    (day, hour, bucket) dir holds ONE file — bounded sidecar count and
    fixture wall-clock at every SF."""
    key = ("traces", sf_dir)
    if key in _R18_CACHE:
        return _R18_CACHE[key]
    from .storage.manifest import write_batch_manifest

    base = _tempfile.mkdtemp(prefix="sdb-r18-traces-")
    e = load_table(spark, sf_dir, "events")
    tr = _traces_frame_day1(e).repartition(
        F.col("date_day"), F.col("hour")
    )
    ok = write_batch_manifest(
        tr, signal_table_path(base, "acme", "prod", "traces"), "traces",
        batch_id=1, bucket_by=("trace_id", _BUCKETS),
    )
    assert ok, "fixture commit failed"
    _R18_CACHE[key] = base
    return base


def _probe_event_id(spark, sf_dir: str) -> int:
    key = ("probe", sf_dir)
    if key not in _R18_CACHE:
        e = load_table(spark, sf_dir, "events")
        _R18_CACHE[key] = int(
            e.filter(F.col("ts") < _DAY1_END).agg(F.min("event_id"))
            .collect()[0][0]
        )
    return _R18_CACHE[key]


def _mt(spark, sf_dir):
    from .storage.manifest import ManifestTable

    return ManifestTable(
        signal_table_path(_manifest_traces_base(spark, sf_dir),
                          "acme", "prod", "traces")
    )


# ------------------------------------------------- storage-layer gates


def q_trace_point_lookup_bucketed(spark, sf_dir):
    """Point lookup through the full substrate (bucket prune → stats →
    bloom sidecars → row filter): the span row for the min day-1 event
    id, with the pruning effectiveness asserted inline — the lookup
    must plan a HANDFUL of files (the bucket's true hit + bloom fpp),
    never the table."""
    mt = _mt(spark, sf_dir)
    tid = format(_probe_event_id(spark, sf_dir), "032x")
    fs, pruned = mt.pruned_files_point("trace_id", tid)
    total = len(mt.files())
    assert 1 <= len(fs) <= max(3, total // _BUCKETS), (len(fs), total)
    assert pruned == total - len(fs)
    df = mt.point_lookup(spark, "trace_id", tid)
    return df.select(
        "trace_id", "span_name", "service_name", "duration_nanos",
        "status_code",
    )


ORACLE_TRACE_POINT_LOOKUP_BUCKETED = f"""
SELECT {_TID_SQL} AS trace_id,
       'op-' || (event_id % 3) AS span_name,
       event_type AS service_name,
       CAST(round(value * 1e6) AS BIGINT) AS duration_nanos,
       CASE WHEN user_id % 10 = 0 THEN 'Error' ELSE 'Ok' END AS status_code
FROM events
WHERE event_id = (SELECT min(event_id) FROM events WHERE ts < '{_DAY1_END}')
"""

QUERIES["trace_point_lookup_bucketed"] = q_trace_point_lookup_bucketed
ORACLES["trace_point_lookup_bucketed"] = ORACLE_TRACE_POINT_LOOKUP_BUCKETED


def q_trace_bucket_census(spark, sf_dir):
    """Writer/prober/oracle three-way bucket parity: per-bucket span
    counts where the bucket is the ENGINE's recorded hive partition
    value — and the oracle recomputes the same md5-prefix bucket in
    pure SQL. Any hash drift (writer expression, probe function, or
    endianness of the prefix parse) lands here as a count mismatch."""
    mt = _mt(spark, sf_dir)
    df = spark.read.option("basePath", mt.data_dir).parquet(*mt.files())
    return (
        df.groupBy(F.col("trace_id_bucket").cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
        .orderBy("bucket")
    )


ORACLE_TRACE_BUCKET_CENSUS = f"""
SELECT {_BUCKET_SQL} AS bucket, count(*) AS n_spans
FROM events WHERE ts < '{_DAY1_END}'
GROUP BY 1 ORDER BY 1
"""

QUERIES["trace_bucket_census"] = q_trace_bucket_census
ORACLES["trace_bucket_census"] = ORACLE_TRACE_BUCKET_CENSUS


def q_point_lookup_time_sliced(spark, sf_dir):
    """Point lookup composed with a time window (between=): stats
    pruning drops out-of-window files BEFORE any sidecar read, and a
    key that exists only OUTSIDE the window answers empty — both
    halves in one result relation."""
    import datetime as dt

    mt = _mt(spark, sf_dir)
    probe = _probe_event_id(spark, sf_dir)
    tid = format(probe, "032x")
    lo = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 1, 11, 59, 59, 999999, tzinfo=dt.timezone.utc)

    def half(window_tag, window):
        df = mt.point_lookup(spark, "trace_id", tid, between=window)
        n = 0 if df is None else df.count()
        return (window_tag, int(n))

    rows = [
        half("morning", ("timestamp", lo, hi)),
        half("full_day", ("timestamp", lo, dt.datetime(
            2024, 1, 2, tzinfo=dt.timezone.utc))),
    ]
    return spark.createDataFrame(rows, "window string, n_rows long")


ORACLE_POINT_LOOKUP_TIME_SLICED = f"""
WITH probe AS (
  SELECT min(event_id) AS eid FROM events WHERE ts < '{_DAY1_END}'
)
SELECT 'morning' AS window,
       (SELECT count(*) FROM events, probe
        WHERE event_id = eid AND ts < '2024-01-01 12:00:00') AS n_rows
UNION ALL
SELECT 'full_day',
       (SELECT count(*) FROM events, probe
        WHERE event_id = eid AND ts < '{_DAY1_END}')
"""

QUERIES["point_lookup_time_sliced"] = q_point_lookup_time_sliced
ORACLES["point_lookup_time_sliced"] = ORACLE_POINT_LOOKUP_TIME_SLICED


def q_point_lookup_absent_key(spark, sf_dir):
    """A key that never existed: the relation states zero rows found
    (the oracle agrees from the raw data), and the inline assert pins
    the at-scale property — bloom sidecars prove absence for ~99% of
    the probed candidates, so a miss touches at most a couple of files
    instead of scanning the window."""
    mt = _mt(spark, sf_dir)
    absent = "f" * 32  # > any 60-bit event-id hex, present at no SF
    fs, pruned = mt.pruned_files_point("trace_id", absent)
    total = len(mt.files())
    # bucket keeps ~1/8, blooms then drop all but fpp stragglers
    assert len(fs) <= max(3, total // _BUCKETS // 4 + 2), (len(fs), total)
    df = mt.point_lookup(spark, "trace_id", absent)
    n = 0 if df is None else df.count()
    return spark.createDataFrame([(int(n),)], "n_rows long")


ORACLE_POINT_LOOKUP_ABSENT_KEY = f"""
SELECT count(*) AS n_rows FROM events
WHERE {_TID_SQL} = '{"f" * 32}'
"""

QUERIES["point_lookup_absent_key"] = q_point_lookup_absent_key
ORACLES["point_lookup_absent_key"] = ORACLE_POINT_LOOKUP_ABSENT_KEY


# ------------------------------------------------------ route-level gate


def q_api_tempo_trace_pruned(spark, sf_dir):
    """GET /tempo/api/traces/<id> with the point-lookup fast path
    ACTIVE (manifest-backed traces table, no pending hot batches):
    the route's envelope must be byte-equivalent to the ordinary-scan
    answer the round-17 gate pinned — same trace JSON, now planned from
    the bucket+bloom candidate files. The fast-path engagement itself
    is asserted inline (the pruned plan is a strict subset of files)."""
    from .api import SignalDBAPI

    base = _manifest_traces_base(spark, sf_dir)
    api = SignalDBAPI(spark, base, "acme", "prod")
    mt = _mt(spark, sf_dir)
    tid = format(_probe_event_id(spark, sf_dir), "032x")
    fs, _ = mt.pruned_files_point("trace_id", tid)
    assert 0 < len(fs) < len(mt.files()), "fast path must prune"
    out = api.tempo_trace(tid)
    assert out.get("traceID") == tid, out
    s = out["spans"][0]
    rows = [(
        out["traceID"], int(out["spanCount"]),
        int(out["startTimeUnixNano"]), int(out["endTimeUnixNano"]),
        s["span_id"], s["span_name"], s["service_name"],
        int(s["duration_nanos"]), s["status_code"], len(s["children"]),
    )]
    return spark.createDataFrame(rows, (
        "trace_id string, span_count int, start_ns long, end_ns long,"
        " span_id string, span_name string, service_name string,"
        " duration_ns long, status_code string, n_children int"
    ))


ORACLE_API_TEMPO_TRACE_PRUNED = f"""
SELECT {_TID_SQL} AS trace_id, 1 AS span_count,
       epoch_us(ts) * 1000 AS start_ns,
       epoch_us(ts) * 1000 + CAST(round(value * 1e6) AS BIGINT) AS end_ns,
       lower(lpad(hex(event_id), 16, '0')) AS span_id,
       'op-' || (event_id % 3) AS span_name,
       event_type AS service_name,
       CAST(round(value * 1e6) AS BIGINT) AS duration_ns,
       CASE WHEN user_id % 10 = 0 THEN 'Error' ELSE 'Ok' END AS status_code,
       0 AS n_children
FROM events
WHERE event_id = (SELECT min(event_id) FROM events WHERE ts < '{_DAY1_END}')
"""

QUERIES["api_tempo_trace_pruned"] = q_api_tempo_trace_pruned
ORACLES["api_tempo_trace_pruned"] = ORACLE_API_TEMPO_TRACE_PRUNED


# -------------------------------------------- deterministic limit cut


def _tied_logs_base(spark, sf_dir: str) -> str:
    """Logs table whose timestamps are truncated to the HOUR — massive
    deliberate ties, so a binding limit cut is decided entirely by the
    tie-break contract (timestamp DESC, trace_id DESC), never by
    partition order."""
    key = ("tied", sf_dir)
    if key in _R18_CACHE:
        return _R18_CACHE[key]
    base = _tempfile.mkdtemp(prefix="sdb-r18-tied-")
    e = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("hour", F.col("ts"))
    )
    logs = events_logs_frame(e).repartition(F.col("date_day"), F.col("hour"))
    (
        logs.write.mode("overwrite").partitionBy("date_day", "hour")
        .parquet(signal_table_path(base, "acme", "prod", "logs"))
    )
    _R18_CACHE[key] = base
    return base


def q_logql_tie_cut_determinism(spark, sf_dir):
    """The limit cut under forced timestamp ties: newest-120 error-line
    entries where EVERY timestamp is shared by many rows. WHICH rows
    survive is pinned by the engine's (timestamp, trace_id) descending
    tie-break — the oracle restates it as (ts, event_id) DESC since the
    trace id is fixed-width event-id hex. The sum of surviving event
    ids (parsed back out of the returned lines) catches any wrong
    choice at the cut boundary, which a count alone would miss."""
    from .api import SignalDBAPI

    api = SignalDBAPI(spark, _tied_logs_base(spark, sf_dir), "acme", "prod")
    out = api.loki_query_range(
        '{service_name="click"} |= "error"',
        "2024-01-01", "2024-02-01", step_seconds=60,
        limit=120, direction="backward",
    )
    assert out["status"] == "success", out
    rows = []
    for stream in out["data"]["result"]:
        for ns_str, line in stream["values"]:
            rows.append((int(ns_str), line))
    df = spark.createDataFrame(rows, "ns long, line string")
    evt = F.regexp_extract("line", r"evt=(\d+)", 1).cast("long")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(evt).alias("evt_sum"),
        F.min("ns").alias("min_ns"),
        F.max("ns").alias("max_ns"),
    )


ORACLE_LOGQL_TIE_CUT_DETERMINISM = f"""
SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS evt_sum,
       min(epoch_us(date_trunc('hour', ts)) * 1000) AS min_ns,
       max(epoch_us(date_trunc('hour', ts)) * 1000) AS max_ns
FROM (
  SELECT event_id, ts FROM events
  WHERE event_type = 'click'
    AND {_BODY_SQL.replace("event_id", "event_id")} LIKE '%error%'
  ORDER BY date_trunc('hour', ts) DESC, event_id DESC LIMIT 120
)
"""

QUERIES["logql_tie_cut_determinism"] = q_logql_tie_cut_determinism
ORACLES["logql_tie_cut_determinism"] = ORACLE_LOGQL_TIE_CUT_DETERMINISM


# ------------------------------------------------- z-order clustering


def _zorder_events_base(spark, sf_dir: str) -> str:
    """Week-1 events rewritten as a z-ordered manifest table on
    (event_type, ts) — the layout where BOTH a type-only and a
    time-only range predicate skip files (storage/zorder.py)."""
    key = ("zorder", sf_dir)
    if key in _R18_CACHE:
        return _R18_CACHE[key]
    from .storage.manifest import write_batch_manifest, zorder_compact_table

    base = _tempfile.mkdtemp(prefix="sdb-r18-zorder-")
    e = load_table(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-08")
    df = e.select(
        "event_id", "user_id", "event_type",
        F.col("ts").alias("timestamp"),
        F.col("value"),
        F.to_date("ts").alias("date_day"),
        F.hour("ts").cast("int").alias("hour"),
    ).repartition(8)
    table = signal_table_path(base, "acme", "prod", "events_z")
    assert write_batch_manifest(
        df, table, "events_z", batch_id=1, stats_cols=("timestamp",)
    )
    n = zorder_compact_table(
        spark, table, ["event_type", "timestamp"], n_files=16
    )
    # range-repartition skips empty partitions at tiny SFs; what matters
    # is that the rewrite committed
    assert 1 <= n <= 16, n
    _R18_CACHE[key] = base
    return base


def q_zorder_two_dim_scan(spark, sf_dir):
    """A (type, 2-day-window) slice over the z-ordered table: the
    per-day exact-cents rollup equals the oracle's restatement from raw
    events, and the inline asserts pin the clustering's whole point —
    the manifest prunes files on the TYPE predicate alone, on the TIME
    predicate alone, and tighter on their conjunction (no single sort
    order gives all three)."""
    import datetime as dt

    from .storage.manifest import ManifestTable

    base = _zorder_events_base(spark, sf_dir)
    mt = ManifestTable(signal_table_path(base, "acme", "prod", "events_z"))
    total = len(mt.files())
    lo = dt.datetime(2024, 1, 3, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 4, 23, 59, 59, 999999, tzinfo=dt.timezone.utc)
    svc_kept, _ = mt.pruned_files_multi([("event_type", "click", "click")])
    t_kept, _ = mt.pruned_files_multi([("timestamp", lo, hi)])
    both_kept, _ = mt.pruned_files_multi(
        [("event_type", "click", "click"), ("timestamp", lo, hi)]
    )
    assert len(svc_kept) < total and len(t_kept) < total, (
        len(svc_kept), len(t_kept), total
    )
    assert len(both_kept) <= min(len(svc_kept), len(t_kept))
    df = spark.read.option("basePath", mt.data_dir).parquet(*both_kept)
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        df.filter(
            (F.col("event_type") == "click")
            & (F.col("timestamp") >= F.lit(lo.replace(tzinfo=None)))
            & (F.col("timestamp") <= F.lit(hi.replace(tzinfo=None)))
        )
        .groupBy(F.to_date("timestamp").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).alias("cents"),
        )
        .orderBy("day")
    )


ORACLE_ZORDER_TWO_DIM_SCAN = """
SELECT CAST(ts AS DATE) AS day, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
WHERE event_type = 'click'
  AND ts >= '2024-01-03' AND ts <= '2024-01-04 23:59:59.999999'
GROUP BY 1 ORDER BY 1
"""

QUERIES["zorder_two_dim_scan"] = q_zorder_two_dim_scan
ORACLES["zorder_two_dim_scan"] = ORACLE_ZORDER_TWO_DIM_SCAN


def q_zorder_rewrite_census(spark, sf_dir):
    """Rewrite-loses-nothing proof under the oracle: the per-type exact
    census (rows, cents, id-sum) of the ENTIRE z-ordered table equals
    the oracle's census of raw week-1 events — any row lost, duplicated
    or value-mangled by the clustering rewrite lands here."""
    from .storage.manifest import ManifestTable

    base = _zorder_events_base(spark, sf_dir)
    mt = ManifestTable(signal_table_path(base, "acme", "prod", "events_z"))
    df = mt.read(spark)
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).alias("cents"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .orderBy("event_type")
    )


ORACLE_ZORDER_REWRITE_CENSUS = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events WHERE ts < '2024-01-08'
GROUP BY 1 ORDER BY 1
"""

QUERIES["zorder_rewrite_census"] = q_zorder_rewrite_census
ORACLES["zorder_rewrite_census"] = ORACLE_ZORDER_REWRITE_CENSUS


def q_point_lookup_after_compaction(spark, sf_dir):
    """The compactor's sidecar-rebuild contract under the driver
    oracle: a fresh bloomed table is compacted (one partition rewritten
    to one file), then the point lookup must still find exactly the
    probe row THROUGH the rebuilt sidecars — with pruning still biting,
    asserted inline. Fresh fixture per call (the bench runs each query
    twice; compaction mutates the table)."""
    import uuid as _uuid

    from .storage.manifest import (
        ManifestTable,
        compact_partition_manifest,
        write_batch_manifest,
    )

    base = _tempfile.mkdtemp(prefix=f"sdb-r18-pcomp-{_uuid.uuid4().hex[:6]}-")
    e = load_table(spark, sf_dir, "events")
    tr = _traces_frame_day1(e).repartition(F.col("date_day"), F.col("hour"))
    table = signal_table_path(base, "acme", "prod", "traces")
    assert write_batch_manifest(tr, table, "traces", batch_id=1)
    day = "2024-01-01"
    for hour in (0, 1):
        compact_partition_manifest(spark, table, "traces", day, hour)
    mt = ManifestTable(table)
    m = mt.load_manifest()
    compacted = [f for f in m["files"] if "compact-" in f]
    assert compacted and all(
        "trace_id" in m["blooms"].get(f, {}) for f in compacted
    ), "compactor must rebuild sidecars"
    tid = format(_probe_event_id(spark, sf_dir), "032x")
    fs, pruned = mt.pruned_files_point("trace_id", tid)
    assert pruned > 0 and len(fs) < len(m["files"]), (len(fs), pruned)
    df = mt.point_lookup(spark, "trace_id", tid)
    return df.select(
        "trace_id", "span_name", "service_name", "duration_nanos",
        "status_code",
    )


# identical row to the bucketed lookup gate: same probe, same at-rest
# derivations — only the storage lifecycle differs
ORACLES_POINT_LOOKUP_AFTER_COMPACTION = ORACLE_TRACE_POINT_LOOKUP_BUCKETED

QUERIES["point_lookup_after_compaction"] = q_point_lookup_after_compaction
ORACLES["point_lookup_after_compaction"] = (
    ORACLES_POINT_LOOKUP_AFTER_COMPACTION
)
