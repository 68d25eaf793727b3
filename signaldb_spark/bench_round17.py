"""Round-17 staging battery: the façade routes that still lacked a
driver-oracle gate after round 16 — exactly the corners the round-10
verdict named (loki_tail streaming envelope, pyroscope_render_diff,
ops_compact dry-run) plus the remaining read-only discovery/ops
envelopes.

Every gate runs the real ``SignalDBAPI`` route method, parses the JSON
envelope BACK into rows, and lets the DuckDB oracle restate the result
from raw events parquet — the same contract the round-16 envelope gates
proved for query_range/search/sql. New fixture surface: a deterministic
``profiles`` table (stack depth and sample type keyed on event parity,
sample weight = cents) and a manifest-backed ops table whose per-
partition file count is a CLOSED FORM the oracle can state (one commit
per event-id parity → n_files = count of parities present per hour).

Reference parity: endpoints/ops.rs (compact + status), pyroscope.rs
(render/render-diff/discovery), tempo.rs (trace-by-id, metrics 501 —
implemented here), logs.rs (volume/patterns/detected_fields), and the
live tail the reference tracks as its unimplemented #380.
"""

from __future__ import annotations

import tempfile as _tempfile
import uuid as _uuid

from pyspark.sql import functions as F

from .bench_round16 import (
    _BODY_SQL,
    _CENTS_SQL,
    _SEV_SQL,
    DAY,
    END,
    START,
    _api,
    _cents_col,
    _sev_col,
    _signal_base,
    events_logs_frame,
    run_routes_concurrent,
)
from .catalog import load_table, signal_table_path

QUERIES: dict = {}
ORACLES: dict = {}

_R17_CACHE: dict = {}

# the diff windows: contiguous halves of January at microsecond
# precision, restated verbatim by every diff oracle
MID_END = "2024-01-15 23:59:59.999999"
MID = "2024-01-16 00:00:00"


# --------------------------------------------------------- fixtures


def _profiles_frame(e):
    """events → PROFILES at-rest rows: one single-stack profile per
    event. Stack depth keys on event-id parity (even: svc→op, odd:
    svc→op→db), sample weight = cents, sample type cpu/alloc_space by
    the same parity — every flamegraph/discovery oracle has a closed
    form (schema: schemas/signal_schemas.py PROFILES)."""
    day = F.to_date("ts").alias("date_day")
    hour = F.hour("ts").cast("int").alias("hour")
    cents = _cents_col()
    even = (F.col("event_id") % 2) == 0
    svc_frame = F.concat(F.lit("svc:"), F.col("event_type"))
    op_frame = F.concat(F.lit("op"), (F.col("event_id") % 3).cast("string"))
    stack = F.when(even, F.array(svc_frame, op_frame)).otherwise(
        F.array(svc_frame, op_frame, F.lit("db"))
    )
    sample = F.struct(
        F.lit(0).cast("int").alias("stacktrace_idx"),
        cents.alias("value"),
    )
    return e.select(
        F.col("event_id").cast("string").alias("profile_id"),
        F.col("ts").alias("timestamp"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("duration_nano"),
        F.when(even, "cpu").otherwise("alloc_space").alias("sample_type_type"),
        F.when(even, "nanoseconds").otherwise("bytes").alias("sample_type_unit"),
        F.lit(None).cast("long").alias("period"),
        F.col("event_type").alias("service_name"),
        F.to_json(F.array(stack)).alias("stacktraces_json"),
        F.to_json(F.array(sample)).alias("samples_json"),
        F.lit(None).cast("map<string,string>").alias("resource_attributes"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")),
        ).alias("attributes"),
        F.lower(F.lpad(F.hex("event_id"), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex("event_id"), 16, "0")).alias("span_id"),
        day, hour,
    )


def _api17(spark, sf_dir):
    """The round-16 signal base (logs/gauge/traces) extended with the
    profiles table, then a fresh façade handle."""
    base = _signal_base(spark, sf_dir)
    key = ("profiles", sf_dir)
    if key not in _R17_CACHE:
        e = load_table(spark, sf_dir, "events")
        (
            _profiles_frame(e).repartition(4)
            .write.mode("overwrite")
            .parquet(signal_table_path(base, "acme", "prod", "profiles"))
        )
        _R17_CACHE[key] = True
    return _api(spark, sf_dir)


def _ops_base(spark, sf_dir, cache: bool = True,
              max_hour: int | None = None) -> str:
    """A manifest-backed day-1 logs table committed in TWO batches split
    by event-id parity, each repartitioned by (date_day, hour) so every
    commit lands exactly one file per non-empty partition. Per-hour
    file count is therefore count(DISTINCT event_id % 2) over that hour
    — a closed form the DuckDB oracle states from raw events.
    ``max_hour`` bounds the partition count for gates that rebuild the
    fixture per call (the rewrite gate rebuilds and compacts it on
    every run, so 24 partitions x 2 runs would dominate its bench
    wall-clock)."""
    from .storage.manifest import write_batch_manifest

    key = ("ops", sf_dir)
    if cache and key in _R17_CACHE:
        return _R17_CACHE[key]
    base = _tempfile.mkdtemp(prefix="sdb-r17-ops-")
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < "2024-01-02 00:00:00"
    )
    if max_hour is not None:
        e = e.filter(F.hour("ts") < max_hour)
    logs = events_logs_frame(e)
    path = signal_table_path(base, "acme", "prod", "logs")
    for batch_id, parity in ((0, 0), (1, 1)):
        batch = logs.filter(
            (F.conv(F.substring("span_id", 9, 8), 16, 10).cast("long") % 2)
            == parity
        )
        # span_id is the zero-padded event-id hex, so parity of the id
        # == parity of its low hex digits; route through the persisted
        # column to keep the frame self-contained
        write_batch_manifest(
            batch.repartition(F.col("date_day"), F.col("hour")),
            path, "logs", batch_id=batch_id,
        )
    if cache:
        _R17_CACHE[key] = base
    return base


_OPS_PARTITIONS_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date_day,
       CAST(hour(ts) AS INT) AS hour,
       CAST(count(DISTINCT event_id % 2) AS INT) AS n_files
FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
GROUP BY 1, 2
"""


# ------------------------------------------------- ops route envelopes


def q_api_ops_compact_dryrun(spark, sf_dir):
    """POST /api/v1/ops/compact dry-run (endpoints/ops.rs): the
    what-would-be-rewritten report over every partition of a manifest
    table — per (day, hour) file counts and the would_compact flag,
    with zero bytes touched. The fixture's two parity-split commits
    make the per-hour file count a closed form for the oracle."""
    from .api import SignalDBAPI

    base = _ops_base(spark, sf_dir)
    api = SignalDBAPI(spark, base, "acme", "prod")
    out = api.ops_compact("logs", dry_run=True)
    assert out["status"] == "success" and out["dry_run"] is True, out
    rows = [
        (r["date_day"], int(r["hour"]), int(r["n_files"]),
         bool(r["would_compact"]))
        for r in out["data"]
    ]
    df = spark.createDataFrame(
        rows, "date_day string, hour int, n_files int, would_compact boolean"
    )
    return df.orderBy("date_day", "hour")


ORACLE_API_OPS_COMPACT_DRYRUN = f"""
SELECT date_day, hour, n_files, n_files > 1 AS would_compact
FROM ({_OPS_PARTITIONS_SQL}) ORDER BY date_day, hour
"""

QUERIES["api_ops_compact_dryrun"] = q_api_ops_compact_dryrun
ORACLES["api_ops_compact_dryrun"] = ORACLE_API_OPS_COMPACT_DRYRUN


def q_api_ops_compact_status(spark, sf_dir):
    """GET /ops/compact/status: partition inventory + per-partition
    file counts from ONE manifest parse. The manifest version is pinned
    inline (2 after exactly two commits); the partition rows go under
    the oracle."""
    from .api import SignalDBAPI

    base = _ops_base(spark, sf_dir)
    api = SignalDBAPI(spark, base, "acme", "prod")
    out = api.ops_compact_status("logs")
    assert out["status"] == "success", out
    assert out["data"]["manifest_version"] == 2, out["data"]
    rows = [
        (r["date_day"], int(r["hour"]), int(r["n_files"]))
        for r in out["data"]["partitions"]
    ]
    df = spark.createDataFrame(rows, "date_day string, hour int, n_files int")
    return df.orderBy("date_day", "hour")


ORACLE_API_OPS_COMPACT_STATUS = f"""
SELECT date_day, hour, n_files
FROM ({_OPS_PARTITIONS_SQL}) ORDER BY date_day, hour
"""

QUERIES["api_ops_compact_status"] = q_api_ops_compact_status
ORACLES["api_ops_compact_status"] = ORACLE_API_OPS_COMPACT_STATUS


def q_api_ops_compact_rewrite(spark, sf_dir):
    """POST /api/v1/ops/compact (real rewrite): every day-1 partition
    compacts to one file under snapshot isolation, and the data
    survives byte-for-byte — files_before/after from the route envelope
    joined with post-compaction row counts + cents sums read back
    through the tenant session. Fresh fixture per call (compaction
    mutates it, and the bench runs every query twice), bounded to six
    hour-partitions — the route compacts them in one pass: one Spark
    job writes every partition's file, then one manifest commit per
    partition, as the reference's per-partition rewriter commits."""
    from .api import SignalDBAPI

    base = _ops_base(spark, sf_dir, cache=False, max_hour=6)
    api = SignalDBAPI(spark, base, "acme", "prod")
    out = api.ops_compact("logs", day="2024-01-01", dry_run=False)
    assert out["status"] == "success" and out["dry_run"] is False, out
    rows = [
        (r["date_day"], int(r["hour"]), int(r["files_before"]),
         int(r["files_after"]))
        for r in out["data"]
    ]
    env = spark.createDataFrame(
        rows, "date_day string, hour int, files_before int, files_after int"
    )
    logs = api.session.table("logs")
    cents = F.regexp_extract("body", r"cents=(-?\d+)", 1).cast("long")
    post = logs.groupBy(
        F.col("date_day").cast("string").alias("date_day"),
        F.col("hour").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(cents).cast("long").alias("cents_sum"),
    )
    return env.join(post, ["date_day", "hour"]).orderBy("date_day", "hour")


ORACLE_API_OPS_COMPACT_REWRITE = f"""
SELECT date_day, hour, n_files AS files_before, 1 AS files_after,
       CAST(n_rows AS BIGINT) AS n_rows, CAST(cents_sum AS BIGINT) AS cents_sum
FROM (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date_day,
         CAST(hour(ts) AS INT) AS hour,
         CAST(count(DISTINCT event_id % 2) AS INT) AS n_files,
         count(*) AS n_rows, sum({_CENTS_SQL}) AS cents_sum
  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' AND hour(ts) < 6
  GROUP BY 1, 2
) ORDER BY date_day, hour
"""

QUERIES["api_ops_compact_rewrite"] = q_api_ops_compact_rewrite
ORACLES["api_ops_compact_rewrite"] = ORACLE_API_OPS_COMPACT_REWRITE


# ---------------------------------------------------- live tail (loki)


def q_api_loki_tail_envelope(spark, sf_dir):
    """GET /loki/api/v1/tail (the reference's unimplemented #380): the
    live-tail stream drained over a bounded OTLP/JSON source dir — the
    same LogQL selector pipeline as the batch path, on a streaming
    DataFrame, memory-sinked with availableNow and rolled up per
    severity. The oracle restates the tailed subset (one service, line
    filter) from raw events."""
    src_key = ("tail_src", sf_dir)
    if src_key not in _R17_CACHE:
        src = _tempfile.mkdtemp(prefix="sdb-r17-tail-")
        e = load_table(spark, sf_dir, "events")
        ns = (F.unix_micros("ts") * 1000).cast("string")
        body = F.concat(
            _sev_col(), F.lit(" evt="), F.col("event_id").cast("string"),
            F.lit(" cents="), _cents_col().cast("string"),
        )

        def attr(k, v):
            return F.struct(
                F.lit(k).alias("key"),
                F.struct(v.alias("stringValue")).alias("value"),
            )

        rec = F.struct(
            ns.alias("timeUnixNano"),
            ns.alias("observedTimeUnixNano"),
            _sev_col().alias("severityText"),
            F.lit(9).cast("int").alias("severityNumber"),
            F.struct(body.alias("stringValue")).alias("body"),
            F.array(attr("uid", F.col("user_id").cast("string")))
            .alias("attributes"),
            F.lower(F.lpad(F.hex("event_id"), 32, "0")).alias("traceId"),
            F.lower(F.lpad(F.hex("event_id"), 16, "0")).alias("spanId"),
        )
        payload = F.to_json(F.struct(F.array(F.struct(
            F.struct(
                F.array(attr("service.name", F.col("event_type")))
                .alias("attributes")
            ).alias("resource"),
            F.array(F.struct(
                F.struct(
                    F.lit("bench").alias("name"), F.lit("1").alias("version")
                ).alias("scope"),
                F.array(rec).alias("logRecords"),
            )).alias("scopeLogs"),
        )).alias("resourceLogs")))
        e.select(payload.alias("value")).coalesce(4).write.mode(
            "overwrite"
        ).text(src)
        _R17_CACHE[src_key] = src
    src = _R17_CACHE[src_key]

    api = _api17(spark, sf_dir)
    svc = load_table(spark, sf_dir, "events").agg(
        F.min("event_type")
    ).collect()[0][0]
    stream = api.loki_tail(src, f'{{service_name="{svc}"}} |= "cents="')
    qn = "r17_tail_" + _uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory").queryName(qn)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    tailed = spark.table(qn)
    cents = F.regexp_extract("body", r"cents=(-?\d+)", 1).cast("long")
    return (
        tailed.groupBy("severity_text")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("cents_sum"),
        )
        .orderBy("severity_text")
    )


ORACLE_API_LOKI_TAIL_ENVELOPE = f"""
SELECT {_SEV_SQL} AS severity_text, CAST(count(*) AS BIGINT) AS n,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum
FROM events
WHERE event_type = (SELECT min(event_type) FROM events)
GROUP BY 1 ORDER BY 1
"""

QUERIES["api_loki_tail_envelope"] = q_api_loki_tail_envelope
ORACLES["api_loki_tail_envelope"] = ORACLE_API_LOKI_TAIL_ENVELOPE


# ------------------------------------------------ pyroscope envelopes

_FLAME_E_SQL = f"""
  SELECT event_type AS svc, CAST(event_id % 3 AS INT) AS k,
         {_CENTS_SQL} AS w, event_id % 2 = 0 AS even, ts
  FROM events
"""


def q_api_pyroscope_render_envelope(spark, sf_dir):
    """GET /pyroscope/render: the merged flamegraph over every profile
    — cumulative AND self weight per frame path (flamegraph_self's one
    prefix-explode + one groupBy). The fixture's parity-keyed stack
    depths give the oracle a three-level closed form."""
    api = _api17(spark, sf_dir)
    out = api.pyroscope_render()
    rows = [
        (r["path"], int(r["depth"]), r["frame"], int(r["value"]),
         int(r["value_self"]))
        for r in out["flamegraph"]
    ]
    df = spark.createDataFrame(
        rows,
        "path string, depth int, frame string, value long, value_self long",
    )
    return df.orderBy("depth", "path")


ORACLE_API_PYROSCOPE_RENDER_ENVELOPE = f"""
WITH e AS ({_FLAME_E_SQL})
SELECT path, depth, frame, CAST(value AS BIGINT) AS value,
       CAST(value_self AS BIGINT) AS value_self
FROM (
  SELECT 'svc:' || svc AS path, 1 AS depth, 'svc:' || svc AS frame,
         sum(w) AS value, 0 AS value_self
  FROM e GROUP BY svc
  UNION ALL
  SELECT 'svc:' || svc || ';op' || k, 2, 'op' || k, sum(w),
         COALESCE(sum(w) FILTER (WHERE even), 0)
  FROM e GROUP BY svc, k
  UNION ALL
  SELECT 'svc:' || svc || ';op' || k || ';db', 3, 'db',
         sum(w) FILTER (WHERE NOT even), sum(w) FILTER (WHERE NOT even)
  FROM e GROUP BY svc, k HAVING count(*) FILTER (WHERE NOT even) > 0
) ORDER BY depth, path
"""

QUERIES["api_pyroscope_render_envelope"] = q_api_pyroscope_render_envelope
ORACLES["api_pyroscope_render_envelope"] = ORACLE_API_PYROSCOPE_RENDER_ENVELOPE


def q_api_pyroscope_render_diff_envelope(spark, sf_dir):
    """GET /pyroscope/render-diff: differential flamegraph between the
    two January halves — one pass over the union of both windows, both
    weights landing in the same reduce row (no two-flamegraph join);
    paths absent from a window report 0."""
    api = _api17(spark, sf_dir)
    out = api.pyroscope_render_diff(START, MID_END, MID, END)
    rows = [
        (r["path"], int(r["depth"]), r["frame"], int(r["base_value"]),
         int(r["comp_value"]), int(r["delta"]))
        for r in out["flamegraphDiff"]
    ]
    df = spark.createDataFrame(
        rows,
        "path string, depth int, frame string, base_value long,"
        " comp_value long, delta long",
    )
    return df.orderBy("depth", "path")


ORACLE_API_PYROSCOPE_RENDER_DIFF_ENVELOPE = f"""
WITH e AS (
  SELECT *, ts >= TIMESTAMP '{MID}' AS in_comp
  FROM ({_FLAME_E_SQL})
  WHERE ts BETWEEN TIMESTAMP '{START}' AND TIMESTAMP '{END}'
)
SELECT path, depth, frame, CAST(base_value AS BIGINT) AS base_value,
       CAST(comp_value AS BIGINT) AS comp_value,
       CAST(comp_value - base_value AS BIGINT) AS delta
FROM (
  SELECT 'svc:' || svc AS path, 1 AS depth, 'svc:' || svc AS frame,
         COALESCE(sum(w) FILTER (WHERE NOT in_comp), 0) AS base_value,
         COALESCE(sum(w) FILTER (WHERE in_comp), 0) AS comp_value
  FROM e GROUP BY svc
  UNION ALL
  SELECT 'svc:' || svc || ';op' || k, 2, 'op' || k,
         COALESCE(sum(w) FILTER (WHERE NOT in_comp), 0),
         COALESCE(sum(w) FILTER (WHERE in_comp), 0)
  FROM e GROUP BY svc, k
  UNION ALL
  SELECT 'svc:' || svc || ';op' || k || ';db', 3, 'db',
         COALESCE(sum(w) FILTER (WHERE NOT even AND NOT in_comp), 0),
         COALESCE(sum(w) FILTER (WHERE NOT even AND in_comp), 0)
  FROM e GROUP BY svc, k HAVING count(*) FILTER (WHERE NOT even) > 0
) ORDER BY depth, path
"""

QUERIES["api_pyroscope_render_diff_envelope"] = (
    q_api_pyroscope_render_diff_envelope
)
ORACLES["api_pyroscope_render_diff_envelope"] = (
    ORACLE_API_PYROSCOPE_RENDER_DIFF_ENVELOPE
)


def q_api_pyroscope_discovery_envelope(spark, sf_dir):
    """/pyroscope/profile-types + /label-names + /label-values on the
    real façade, as one (kind, value) relation: sample-type strings
    ("type:unit"), label names (attribute keys + service_name), and
    value routing (service_name → column, host → attribute map)."""
    api = _api17(spark, sf_dir)
    types, names, svc_vals, host_vals = run_routes_concurrent(
        api.pyroscope_profile_types,
        api.pyroscope_label_names,
        lambda: api.pyroscope_label_values("service_name"),
        lambda: api.pyroscope_label_values("host"),
    )
    rows = [("ptype", t) for t in types["profileTypes"]]
    rows += [("label", n) for n in names["names"]]
    rows += [("service", v) for v in svc_vals["names"]]
    rows += [("host", v) for v in host_vals["names"]]
    df = spark.createDataFrame(rows, "kind string, value string")
    return df.orderBy("kind", "value")


ORACLE_API_PYROSCOPE_DISCOVERY_ENVELOPE = """
SELECT kind, value FROM (
  SELECT DISTINCT 'ptype' AS kind,
         CASE WHEN event_id % 2 = 0 THEN 'cpu:nanoseconds'
              ELSE 'alloc_space:bytes' END AS value FROM events
  UNION ALL SELECT 'label', 'host'
  UNION ALL SELECT 'label', 'service_name'
  UNION ALL SELECT DISTINCT 'service', event_type FROM events
  UNION ALL SELECT DISTINCT 'host', 'h' || (user_id % 5) FROM events
) ORDER BY kind, value
"""

QUERIES["api_pyroscope_discovery_envelope"] = (
    q_api_pyroscope_discovery_envelope
)
ORACLES["api_pyroscope_discovery_envelope"] = (
    ORACLE_API_PYROSCOPE_DISCOVERY_ENVELOPE
)


# ----------------------------------------------------- tempo envelopes


def q_api_tempo_trace_envelope(spark, sf_dir):
    """GET /tempo/api/traces/<id>: point lookup → span hierarchy →
    Tempo trace JSON (trace_to_tempo), parsed back — ids, ns bounds,
    duration, status, and span count for the deterministically-chosen
    min-event-id trace."""
    api = _api17(spark, sf_dir)
    min_id = load_table(spark, sf_dir, "events").agg(
        F.min("event_id")
    ).collect()[0][0]
    tid = format(int(min_id), "x").zfill(32)
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


ORACLE_API_TEMPO_TRACE_ENVELOPE = """
SELECT lower(lpad(hex(event_id), 32, '0')) AS trace_id, 1 AS span_count,
       epoch_us(ts) * 1000 AS start_ns,
       epoch_us(ts) * 1000 + CAST(round(value * 1e6) AS BIGINT) AS end_ns,
       lower(lpad(hex(event_id), 16, '0')) AS span_id,
       'op-' || (event_id % 3) AS span_name,
       event_type AS service_name,
       CAST(round(value * 1e6) AS BIGINT) AS duration_ns,
       CASE WHEN user_id % 10 = 0 THEN 'Error' ELSE 'Ok' END AS status_code,
       0 AS n_children
FROM events WHERE event_id = (SELECT min(event_id) FROM events)
"""

QUERIES["api_tempo_trace_envelope"] = q_api_tempo_trace_envelope
ORACLES["api_tempo_trace_envelope"] = ORACLE_API_TEMPO_TRACE_ENVELOPE


def q_api_tempo_metrics_envelope(spark, sf_dir):
    """GET /tempo/api/metrics/query_range (the reference answers 501):
    TraceQL metrics rate() by service through the route's series
    envelope — labels list, timestampMs bucket math, spans-per-second
    values — parsed back under the oracle."""
    api = _api17(spark, sf_dir)
    out = api.tempo_metrics_query_range(
        "{ duration >= 0ns } | rate() by (service_name)",
        START, END, step_seconds=DAY,
    )
    assert "series" in out, out
    rows = []
    for series in out["series"]:
        labels = {kv["key"]: kv["value"] for kv in series["labels"]}
        for s in series["samples"]:
            rows.append((
                labels["service_name"], s["timestampMs"] // 1000,
                float(s["value"]),
            ))
    df = spark.createDataFrame(
        rows, "service_name string, bucket long, rate double"
    )
    return df.select(
        "service_name", "bucket", F.round("rate", 6).alias("rate")
    ).orderBy("service_name", "bucket")


ORACLE_API_TEMPO_METRICS_ENVELOPE = """
SELECT event_type AS service_name,
       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket,
       round(count(*) / 86400.0, 6) AS rate
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["api_tempo_metrics_envelope"] = q_api_tempo_metrics_envelope
ORACLES["api_tempo_metrics_envelope"] = ORACLE_API_TEMPO_METRICS_ENVELOPE


def q_api_pyroscope_trace_profiles(spark, sf_dir):
    """GET /pyroscope/trace/{trace_id}: the profile↔trace pivot — the
    ProfileSummary envelope (ns-string timestamp/duration, sample
    type/unit, spanID) for the min-event-id trace, parsed back
    (pyroscope.rs:554 profiles_by_trace; tempo_api ProfileSummary)."""
    api = _api17(spark, sf_dir)
    min_id = load_table(spark, sf_dir, "events").agg(
        F.min("event_id")
    ).collect()[0][0]
    tid = format(int(min_id), "x").zfill(32)
    out = api.pyroscope_profiles_by_trace(tid)
    rows = [
        (p["profileID"], int(p["timeUnixNano"]), int(p["durationNano"]),
         p["sampleType"], p["sampleUnit"], p["serviceName"],
         p.get("spanID", ""))
        for p in out["profiles"]
    ]
    return spark.createDataFrame(rows, (
        "profile_id string, ts_ns long, duration_ns long,"
        " sample_type string, sample_unit string, service_name string,"
        " span_id string"
    ))


ORACLE_API_PYROSCOPE_TRACE_PROFILES = """
SELECT CAST(event_id AS VARCHAR) AS profile_id,
       epoch_us(ts) * 1000 AS ts_ns,
       CAST(round(value * 1e6) AS BIGINT) AS duration_ns,
       CASE WHEN event_id % 2 = 0 THEN 'cpu' ELSE 'alloc_space' END
         AS sample_type,
       CASE WHEN event_id % 2 = 0 THEN 'nanoseconds' ELSE 'bytes' END
         AS sample_unit,
       event_type AS service_name,
       lower(lpad(hex(event_id), 16, '0')) AS span_id
FROM events WHERE event_id = (SELECT min(event_id) FROM events)
"""

QUERIES["api_pyroscope_trace_profiles"] = q_api_pyroscope_trace_profiles
ORACLES["api_pyroscope_trace_profiles"] = ORACLE_API_PYROSCOPE_TRACE_PROFILES


def q_api_tempo_metrics_instant(spark, sf_dir):
    """GET /tempo/api/metrics/query (instant form; the reference
    answers 501): rate() by service over the whole window — one sample
    per series, value = matching spans / window seconds."""
    api = _api17(spark, sf_dir)
    out = api.tempo_metrics_query(
        "{ duration >= 0ns } | rate() by (service_name)", START, END
    )
    assert "series" in out, out
    window_s = 31 * DAY
    rows = []
    for series in out["series"]:
        labels = {kv["key"]: kv["value"] for kv in series["labels"]}
        s = series["samples"][0]
        assert s["timestampMs"] == 1706745600000, s  # epoch_ms(END)
        rows.append((labels["service_name"], float(s["value"]) * window_s))
    df = spark.createDataFrame(rows, "service_name string, n_spans double")
    return df.select(
        "service_name", F.round("n_spans", 3).alias("n_spans")
    ).orderBy("service_name")


ORACLE_API_TEMPO_METRICS_INSTANT = """
SELECT event_type AS service_name,
       round(CAST(count(*) AS DOUBLE), 3) AS n_spans
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["api_tempo_metrics_instant"] = q_api_tempo_metrics_instant
ORACLES["api_tempo_metrics_instant"] = ORACLE_API_TEMPO_METRICS_INSTANT


# ------------------------------------------------ prometheus envelopes


def q_api_prom_discovery_envelope(spark, sf_dir):
    """/prometheus/api/v1/labels + /label/<x>/values + /series on the
    real façade as one relation: well-known label names plus attribute
    keys, job→service_name value routing, and series identities for a
    plain selector."""
    api = _api17(spark, sf_dir)
    labels, values, series = run_routes_concurrent(
        lambda: api.prom_labels(START, END),
        lambda: api.prom_label_values("job", START, END),
        lambda: api.prom_series("ev_value", START, END),
    )
    assert labels["status"] == "success", labels
    rows = [("label", n, "") for n in labels["data"]]
    rows += [("job", v, "") for v in values["data"]]
    rows += [("series", s["__name__"], s["job"]) for s in series["data"]]
    df = spark.createDataFrame(rows, "kind string, a string, b string")
    return df.orderBy("kind", "a", "b")


ORACLE_API_PROM_DISCOVERY_ENVELOPE = """
SELECT kind, a, b FROM (
  SELECT 'label' AS kind, '__name__' AS a, '' AS b
  UNION ALL SELECT 'label', 'job', ''
  UNION ALL SELECT 'label', 'uid', ''
  UNION ALL SELECT DISTINCT 'job', event_type, '' FROM events
  UNION ALL SELECT DISTINCT 'series', 'ev_value', event_type FROM events
) ORDER BY kind, a, b
"""

QUERIES["api_prom_discovery_envelope"] = q_api_prom_discovery_envelope
ORACLES["api_prom_discovery_envelope"] = ORACLE_API_PROM_DISCOVERY_ENVELOPE


def q_api_prom_tsdb_status_envelope(spark, sf_dir):
    """GET /prometheus/api/v1/status/tsdb: series-cardinality analysis
    — per metric, distinct (service, label_*) series counts through the
    route's seriesCountByMetricName envelope."""
    api = _api17(spark, sf_dir)
    out = api.prom_status_tsdb(START, END)
    assert out["status"] == "success", out
    rows = [
        (d["name"], int(d["value"]))
        for d in out["data"]["seriesCountByMetricName"]
    ]
    df = spark.createDataFrame(rows, "metric string, series_count long")
    return df.orderBy("metric")


ORACLE_API_PROM_TSDB_STATUS_ENVELOPE = """
SELECT 'ev_value' AS metric,
       CAST(count(DISTINCT event_type) AS BIGINT) AS series_count
FROM events
"""

QUERIES["api_prom_tsdb_status_envelope"] = q_api_prom_tsdb_status_envelope
ORACLES["api_prom_tsdb_status_envelope"] = (
    ORACLE_API_PROM_TSDB_STATUS_ENVELOPE
)


def q_api_prom_label_stats_envelope(spark, sf_dir):
    """GET /prometheus/api/v1/label_stats over the logs table: per-key
    presence, exact cardinality, and presence ratio (the route's
    exact=True form — cross-engine deterministic)."""
    api = _api17(spark, sf_dir)
    out = api.prom_label_stats("logs", exact=True)
    assert out["status"] == "success", out
    rows = [
        (d["key"], int(d["presence"]), int(d["cardinality"]),
         float(d["presence_ratio"]))
        for d in out["data"]
    ]
    df = spark.createDataFrame(
        rows,
        "key string, presence long, cardinality long, presence_ratio double",
    )
    return df.orderBy("key")


ORACLE_API_PROM_LABEL_STATS_ENVELOPE = """
SELECT 'uid' AS key, CAST(count(*) AS BIGINT) AS presence,
       CAST(count(DISTINCT user_id) AS BIGINT) AS cardinality,
       CAST(1.0 AS DOUBLE) AS presence_ratio
FROM events
"""

QUERIES["api_prom_label_stats_envelope"] = q_api_prom_label_stats_envelope
ORACLES["api_prom_label_stats_envelope"] = (
    ORACLE_API_PROM_LABEL_STATS_ENVELOPE
)


def q_api_prom_metadata_envelope(spark, sf_dir):
    """GET /prometheus/api/v1/metadata: metric name → type, where the
    type IS the signal table the metric lands in (gauge here) — no
    metadata sidecar to drift."""
    api = _api17(spark, sf_dir)
    out = api.prom_metadata()
    assert out["status"] == "success", out
    rows = [
        (name, m["type"])
        for name, metas in out["data"].items()
        for m in metas
    ]
    df = spark.createDataFrame(rows, "metric string, type string")
    return df.orderBy("metric", "type")


ORACLE_API_PROM_METADATA_ENVELOPE = """
SELECT 'ev_value' AS metric, 'gauge' AS type
"""

QUERIES["api_prom_metadata_envelope"] = q_api_prom_metadata_envelope
ORACLES["api_prom_metadata_envelope"] = ORACLE_API_PROM_METADATA_ENVELOPE


# ------------------------------------------------------ loki envelopes


def q_api_loki_volume_envelope(spark, sf_dir):
    """GET /loki/api/v1/index/volume: per-stream ingested bytes (UTF-8
    octet length of the body) through the vector envelope — the body
    never shuffles (map-side octet_length + partial sum)."""
    api = _api17(spark, sf_dir)
    out = api.loki_index_volume()
    assert out["status"] == "success", out
    rows = [
        (r["metric"]["service_name"], int(r["value"]))
        for r in out["data"]["result"]
    ]
    df = spark.createDataFrame(rows, "service_name string, volume_bytes long")
    return df.orderBy("service_name")


ORACLE_API_LOKI_VOLUME_ENVELOPE = f"""
SELECT event_type AS service_name,
       CAST(sum(length({_BODY_SQL})) AS BIGINT) AS volume_bytes
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["api_loki_volume_envelope"] = q_api_loki_volume_envelope
ORACLES["api_loki_volume_envelope"] = ORACLE_API_LOKI_VOLUME_ENVELOPE


def q_api_loki_volume_range_envelope(spark, sf_dir):
    """GET /loki/api/v1/index/volume_range: per-stream volume SERIES —
    the matrix envelope's [bucket, bytes-string] pairs parsed back at a
    daily step."""
    api = _api17(spark, sf_dir)
    out = api.loki_index_volume_range(START, END, step_seconds=DAY)
    assert out["status"] == "success", out
    rows = []
    for series in out["data"]["result"]:
        svc = series["metric"]["service_name"]
        for b, v in series["values"]:
            rows.append((svc, int(b), int(v)))
    df = spark.createDataFrame(
        rows, "service_name string, bucket long, volume_bytes long"
    )
    return df.orderBy("service_name", "bucket")


ORACLE_API_LOKI_VOLUME_RANGE_ENVELOPE = f"""
SELECT event_type AS service_name,
       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket,
       CAST(sum(length({_BODY_SQL})) AS BIGINT) AS volume_bytes
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["api_loki_volume_range_envelope"] = q_api_loki_volume_range_envelope
ORACLES["api_loki_volume_range_envelope"] = (
    ORACLE_API_LOKI_VOLUME_RANGE_ENVELOPE
)


def q_api_loki_patterns_envelope(spark, sf_dir):
    """GET /loki/api/v1/patterns: Drain-style template mining — numeric
    runs collapse to <N>, one template per severity here, with count
    and the deterministic min-body example."""
    api = _api17(spark, sf_dir)
    out = api.loki_patterns()
    assert out["status"] == "success", out
    rows = [(d["pattern"], int(d["count"]), d["example"]) for d in out["data"]]
    df = spark.createDataFrame(rows, "pattern string, cnt long, example string")
    return df.orderBy("pattern")


ORACLE_API_LOKI_PATTERNS_ENVELOPE = f"""
SELECT regexp_replace(body, '[0-9]+', '<N>', 'g') AS pattern,
       CAST(count(*) AS BIGINT) AS cnt, min(body) AS example
FROM (SELECT {_BODY_SQL} AS body FROM events)
GROUP BY 1 ORDER BY 1
"""

QUERIES["api_loki_patterns_envelope"] = q_api_loki_patterns_envelope
ORACLES["api_loki_patterns_envelope"] = ORACLE_API_LOKI_PATTERNS_ENVELOPE


def q_api_loki_detected_fields_envelope(spark, sf_dir):
    """GET /loki/api/v1/detected_fields: per-attribute sniffed type +
    exact cardinality (logs.rs:483-577 envelope) — the uid attribute is
    all-integer strings, so the sniffer must say int."""
    api = _api17(spark, sf_dir)
    out = api.loki_detected_fields()
    rows = [
        (d["label"], d["type"], int(d["cardinality"]))
        for d in out["fields"]
    ]
    df = spark.createDataFrame(
        rows, "label string, dtype string, cardinality long"
    )
    return df.orderBy("label")


ORACLE_API_LOKI_DETECTED_FIELDS_ENVELOPE = """
SELECT 'uid' AS label, 'int' AS dtype,
       CAST(count(DISTINCT user_id) AS BIGINT) AS cardinality
FROM events
"""

QUERIES["api_loki_detected_fields_envelope"] = (
    q_api_loki_detected_fields_envelope
)
ORACLES["api_loki_detected_fields_envelope"] = (
    ORACLE_API_LOKI_DETECTED_FIELDS_ENVELOPE
)
