"""End-to-end streaming ingest (OTLP/JSON → hour-partitioned logs) and
maintenance job tests."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from signaldb_spark.catalog import optional_table, signal_table_path
from signaldb_spark.maintenance.jobs import (
    apply_retention,
    attribute_stats,
    compact_partition,
    is_partition_closed,
    list_hour_partitions,
    promotion_decisions,
)
from signaldb_spark.streaming.ingest import ingest_otlp_logs_stream


def _otlp_log_payload(ts_ns: int, service: str, severity: str, body: str, attrs: dict) -> str:
    return json.dumps(
        {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": service}}
                        ]
                    },
                    "scopeLogs": [
                        {
                            "scope": {"name": "test", "version": "1"},
                            "logRecords": [
                                {
                                    "timeUnixNano": str(ts_ns),
                                    "observedTimeUnixNano": str(ts_ns),
                                    "severityText": severity,
                                    "severityNumber": 9,
                                    "body": {"stringValue": body},
                                    "attributes": [
                                        {"key": k, "value": {"stringValue": str(v)}}
                                        for k, v in attrs.items()
                                    ],
                                    "traceId": "ab" * 16,
                                    "spanId": "cd" * 8,
                                }
                            ],
                        }
                    ],
                }
            ]
        }
    )


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("otlp_src")
    base = str(tmp_path_factory.mktemp("ingest_base"))
    t0 = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    lines = []
    for i in range(200):
        ts = t0 + i * 60_000_000_000  # one per minute → spans 4 hours
        lines.append(
            _otlp_log_payload(
                ts, ["api", "web"][i % 2], ["info", "error"][i % 3 == 0],
                f"request {i} status={200 + (i % 2) * 300}",
                {"env": "prod", "idx": i},
            )
        )
    (src / "batch1.jsonl").write_text("\n".join(lines[:120]))
    (src / "batch2.jsonl").write_text("\n".join(lines[120:]))
    ingest_otlp_logs_stream(spark, str(src), base)
    return str(src), base


def test_ingest_counts_and_partitioning(spark, ingested):
    _, ingested = ingested
    logs = optional_table(spark, ingested, "acme", "prod", "logs")
    assert logs is not None and logs.count() == 200
    path = signal_table_path(ingested, "acme", "prod", "logs")
    parts = list_hour_partitions(path)
    assert len(parts) >= 3  # spread across (day, hour) partitions
    assert all(isinstance(d, str) and isinstance(h, int) for d, h in parts)
    # the DEFAULT sink commits through the snapshot-manifest protocol
    from signaldb_spark.storage import ManifestTable

    assert ManifestTable(path).current_version() >= 1


def test_ingest_idempotent_restart(spark, ingested):
    """Re-running the stream with the same checkpoint must not duplicate
    rows (the WAL replay idempotency analog,
    tests-integration/tests/writer/wal_replay_idempotency.rs)."""
    src, base = ingested
    before = optional_table(spark, base, "acme", "prod", "logs").count()
    ingest_otlp_logs_stream(spark, src, base)  # same checkpoint, no new files
    after = optional_table(spark, base, "acme", "prod", "logs").count()
    assert (before, after) == (200, 200)


def test_ingest_schema_and_derived_columns(spark, ingested):
    _, ingested = ingested
    logs = optional_table(spark, ingested, "acme", "prod", "logs")
    row = logs.filter("severity_text = 'error'").first()
    assert row.service_name in ("api", "web")
    assert row.log_attributes["env"] == "prod"
    assert any(t.startswith("env=") for t in row.attr_tokens)
    assert row.trace_id == "ab" * 16


def test_compaction_reduces_files_and_sorts(spark, ingested):
    from signaldb_spark.maintenance.jobs import partition_files
    from signaldb_spark.storage import ManifestTable

    _, ingested = ingested
    path = signal_table_path(ingested, "acme", "prod", "logs")
    parts = list_hour_partitions(path)
    day, hour = parts[0]
    # concurrent reader holds the pre-compaction snapshot
    mt = ManifestTable(path)
    pre_version = mt.current_version()
    pre_reader = mt.read(spark, version=pre_version)
    n_files = compact_partition(spark, path, "logs", day, hour)
    assert n_files == 1
    assert len(partition_files(path, day, hour)) == 1
    files = [
        os.path.join(mt.data_dir, f) for f in partition_files(path, day, hour)
    ]
    part = spark.read.option("basePath", mt.data_dir).parquet(*files)
    ts = [r.timestamp for r in part.select("timestamp").collect()]
    assert ts == sorted(ts)  # clustering order applied
    # table still whole
    assert optional_table(spark, ingested, "acme", "prod", "logs").count() == 200
    # the mid-compaction reader's snapshot stays fully readable: the
    # compacted-away files are deleted by snapshot expiration, not commit
    assert pre_reader.count() == 200


def test_partition_close_gate():
    day = dt.date(2024, 1, 1)
    now = dt.datetime(2024, 1, 1, 2, 0, 0)
    assert is_partition_closed(0, day, lateness_seconds=3600, now=now)
    assert not is_partition_closed(1, day, lateness_seconds=3600, now=now)


def test_retention_drops_partitions(spark, ingested):
    _, ingested = ingested
    path = signal_table_path(ingested, "acme", "prod", "logs")
    parts = list_hour_partitions(path)
    keep = set(parts[1:])
    dropped = apply_retention(path, keep)
    assert dropped == [parts[0]]
    assert list_hour_partitions(path) == sorted(keep)


def test_attribute_stats_and_promotion(spark, ingested):
    _, ingested = ingested
    logs = optional_table(spark, ingested, "acme", "prod", "logs")
    stats = attribute_stats(logs)
    rows = {r.key: r for r in stats.collect()}
    assert rows["env"].presence_ratio == 1.0
    assert rows["idx"].approx_cardinality > 50
    decisions = promotion_decisions(stats, demand={"env": 10}, width_budget=1)
    top = decisions.collect()
    assert len(top) == 1 and top[0].key == "env" and top[0].action == "promote"


def test_live_windowed_aggregation(spark, tmp_path_factory):
    """Streaming windowed aggregation with watermark — live tail
    (capability upgrade over the reference, overview.md:247)."""
    src = tmp_path_factory.mktemp("otlp_live")
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    lines = [
        _otlp_log_payload(t0 + i * 10_000_000_000, "api", "info", f"m {i}", {})
        for i in range(30)
    ]
    (src / "a.jsonl").write_text("\n".join(lines))
    from signaldb_spark.streaming.ingest import live_severity_counts

    agg = live_severity_counts(spark, str(src), window="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("live_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM live_counts").collect()
    assert out and sum(r["count"] for r in out) == 30


def _otlp_trace_payload(trace_id, spans):
    """spans: list of (span_id, parent, name, start_ns, end_ns, status_code)."""
    return json.dumps(
        {
            "resourceSpans": [
                {
                    "resource": {"attributes": [
                        {"key": "service.name", "value": {"stringValue": "api"}}]},
                    "scopeSpans": [
                        {
                            "scope": {"name": "t", "version": "1"},
                            "spans": [
                                {
                                    "traceId": trace_id,
                                    "spanId": sid,
                                    "parentSpanId": parent or "",
                                    "name": name,
                                    "kind": 2,
                                    "startTimeUnixNano": str(s),
                                    "endTimeUnixNano": str(e),
                                    "attributes": [
                                        {"key": "http.method", "value": {"stringValue": "GET"}}
                                    ],
                                    "traceState": "vendor=1",
                                    "events": [
                                        {"timeUnixNano": str(s + 500), "name": "exception",
                                         "attributes": [{"key": "exception.type",
                                                         "value": {"stringValue": "IOError"}}]}
                                    ],
                                    "links": [
                                        {"traceId": "cc" * 16, "spanId": "dd" * 8,
                                         "attributes": []}
                                    ],
                                    "status": {"code": code, "message": ""},
                                }
                                for sid, parent, name, s, e, code in spans
                            ],
                        }
                    ],
                }
            ]
        }
    )


def test_flatten_otlp_traces(spark):
    from signaldb_spark.sources.otlp import flatten_otlp_traces

    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    line = _otlp_trace_payload(
        "ff" * 16,
        [
            ("aa" * 8, None, "root", t0, t0 + 5_000_000, 1),
            ("bb" * 8, "aa" * 8, "child", t0 + 1_000_000, t0 + 2_000_000, 2),
        ],
    )
    raw = spark.createDataFrame([(line,)], "value string")
    rows = {r.span_id: r for r in flatten_otlp_traces(raw).collect()}
    root = rows["aa" * 8]
    child = rows["bb" * 8]
    assert root.is_root and not child.is_root
    assert child.parent_span_id == "aa" * 8
    assert root.status_code == "Ok" and child.status_code == "Error"
    assert root.span_kind == "SERVER"
    assert root.duration_nanos == 5_000_000
    assert root.span_attributes["http.method"] == "GET"
    assert root.service_name == "api"
    # events/links persist at rest (flight/schema.rs:57-84)
    assert root.events[0].name == "exception"
    assert root.events[0].timestamp_unix_nano == t0 + 500
    assert root.events[0].attributes["exception.type"] == "IOError"
    assert root.links[0].trace_id == "cc" * 16 and root.links[0].span_id == "dd" * 8
    assert root.trace_state == "vendor=1"


def test_otlp_ns_to_us_is_exact(spark):
    """ns→µs must use integer div: float /1000 drifts ±1µs at 2024+ epochs."""
    from signaldb_spark.sources.otlp import flatten_otlp_traces

    t0 = 1704067200_000_000_000 + 123_456_789  # odd sub-second ns
    line = _otlp_trace_payload("ee" * 16, [("aa" * 8, None, "r", t0, t0 + 7, 1)])
    raw = spark.createDataFrame([(line,)], "value string")
    row = flatten_otlp_traces(raw).collect()[0]
    assert row.timestamp.microsecond == 123_456


def test_dead_letter_flagging(spark):
    from signaldb_spark.sources.otlp import OTLP_LOGS_SCHEMA, with_dead_letter_flag

    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    good = _otlp_log_payload(t0, "api", "info", "fine", {})
    raw = spark.createDataFrame(
        [(good,), ("garbage {",), ('{"unrelated": 1}',)], "value string"
    )
    flagged = with_dead_letter_flag(raw, OTLP_LOGS_SCHEMA)
    dead = flagged.filter("_dead").count()
    ok = flagged.filter("NOT _dead").count()
    assert (ok, dead) == (1, 2)


def test_flatten_otlp_metrics_routing(spark):
    """Data points explode one-row-per-point and route per metric type
    (conversion_metrics target_table analog)."""
    from signaldb_spark.sources.otlp import flatten_otlp_metrics

    payload = json.dumps({
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeMetrics": [{
                "metrics": [
                    {"name": "cpu", "unit": "1", "gauge": {"dataPoints": [
                        {"timeUnixNano": "1704067200000000000", "asDouble": 0.5, "attributes": []},
                        {"timeUnixNano": "1704067210000000000", "asDouble": 0.6, "attributes": []},
                    ]}},
                    {"name": "reqs", "unit": "1", "sum": {
                        "dataPoints": [
                            {"timeUnixNano": "1704067200000000000", "asInt": "42", "attributes": [
                                {"key": "path", "value": {"stringValue": "/v1"}}]},
                        ],
                        "aggregationTemporality": 2, "isMonotonic": True}},
                    {"name": "lat", "histogram": {
                        "dataPoints": [
                            {"timeUnixNano": "1704067200000000000", "count": "10", "sum": 123.0,
                             "bucketCounts": ["2", "6", "2"], "explicitBounds": [10.0, 20.0],
                             "attributes": []}],
                        "aggregationTemporality": 2}},
                    {"name": "lat_exp", "exponentialHistogram": {
                        "dataPoints": [
                            {"timeUnixNano": "1704067200000000000", "count": "7", "sum": 70.0,
                             "min": 1.0, "max": 30.0, "scale": 2, "zeroCount": "1",
                             "positive": {"offset": 3, "bucketCounts": ["1", "2", "3"]},
                             "negative": {"offset": 0, "bucketCounts": []},
                             "zeroThreshold": 1e-9, "flags": 0, "attributes": []}],
                        "aggregationTemporality": 2}},
                    {"name": "rpc_lat", "summary": {
                        "dataPoints": [
                            {"timeUnixNano": "1704067200000000000", "count": "100", "sum": 250.0,
                             "quantileValues": [{"quantile": 0.5, "value": 2.0},
                                                  {"quantile": 0.99, "value": 9.0}],
                             "flags": 0, "attributes": []}]}},
                ]
            }]
        }]
    })
    raw = spark.createDataFrame([(payload,)], "value string")
    tables = flatten_otlp_metrics(raw)
    g = tables["metrics_gauge"].collect()
    s = tables["metrics_sum"].collect()
    h = tables["metrics_histogram"].collect()
    assert len(g) == 2 and {r.value for r in g} == {0.5, 0.6}
    assert len(s) == 1 and s[0].value == 42.0 and s[0].is_monotonic
    assert s[0].attributes["path"] == "/v1"
    assert len(h) == 1 and h[0].bucket_counts == [2.0, 6.0, 2.0] and h[0]["count"] == 10
    # exp-histogram + summary routing (schema_transform.rs:1493,1698)
    eh = tables["metrics_exponential_histogram"].collect()
    sm = tables["metrics_summary"].collect()
    assert len(eh) == 1 and eh[0]["count"] == 7 and eh[0].scale == 2
    assert eh[0].zero_count == 1 and eh[0].positive_offset == 3
    assert eh[0].positive_bucket_counts == [1, 2, 3]
    assert eh[0].aggregation_temporality == 2
    assert len(sm) == 1 and sm[0]["count"] == 100 and sm[0]["sum"] == 250.0
    assert [q.quantile for q in sm[0].quantile_values] == [0.5, 0.99]
    assert all(r.service_name == "api" for r in g + s + h + eh + sm)


def test_remote_write_flatten_and_routing(spark):
    from signaldb_spark.sources.remote_write import flatten_remote_write

    payload = json.dumps({
        "timeseries": [
            {"labels": [{"name": "__name__", "value": "http_requests_total"},
                         {"name": "job", "value": "api"},
                         {"name": "code", "value": "200"}],
             "samples": [{"value": 100.0, "timestamp": 1704067200000},
                          {"value": 105.0, "timestamp": 1704067210000}]},
            {"labels": [{"name": "__name__", "value": "cpu_usage"},
                         {"name": "job", "value": "api"}],
             "samples": [{"value": 0.7, "timestamp": 1704067200000}]},
        ]
    })
    raw = spark.createDataFrame([(payload,)], "value string")
    out = flatten_remote_write(raw)
    s = out["metrics_sum"].collect()
    g = out["metrics_gauge"].collect()
    assert len(s) == 2 and all(r.metric_name == "http_requests_total" for r in s)
    assert all(r.is_monotonic for r in s) and s[0].attributes["code"] == "200"
    assert len(g) == 1 and g[0].metric_name == "cpu_usage" and g[0].value == 0.7
    assert all(r.service_name == "api" for r in s + g)


def test_snappy_block_roundtrip_and_copies():
    """Pure-Python snappy: all-literal roundtrip, plus a hand-crafted
    stream with an overlapping copy (RLE) and a corrupt-offset reject
    (format_description.txt semantics)."""
    from signaldb_spark.sources.remote_write import (
        snappy_compress_literal,
        snappy_decompress,
    )

    data = b"prometheus remote write " * 100
    assert snappy_decompress(snappy_compress_literal(data)) == data
    # preamble 12; literal "abcd" (tag 3<<2); copy1 len 8 off 4 -> abab...
    crafted = bytes([12, 3 << 2]) + b"abcd" + bytes([(4 << 2) | 1, 4])
    assert snappy_decompress(crafted) == b"abcdabcdabcd"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snappy_decompress(bytes([4, (4 << 2) | 1, 200]))  # offset past start


def test_remote_write_wire_decode_e2e(spark):
    """Full wire path: proto-encode a WriteRequest, snappy it, decode
    via the Arrow-batched decoder, flatten, and check routing — the
    acceptor pipeline (prometheus_handler.rs) end to end."""
    import json as _json

    from signaldb_spark.sources.remote_write import (
        decode_write_requests,
        encode_write_request,
        flatten_remote_write,
        snappy_compress_literal,
    )

    req = {"timeseries": [
        {"labels": [{"name": "__name__", "value": "http_requests_total"},
                    {"name": "job", "value": "api"},
                    {"name": "instance", "value": "i-1"}],
         "samples": [{"value": 42.0, "timestamp": 1704067200000}]},
        {"labels": [{"name": "__name__", "value": "mem_bytes"},
                    {"name": "job", "value": "api"}],
         "samples": [{"value": 512.5, "timestamp": 1704067200000},
                     {"value": 513.5, "timestamp": 1704067260000}]},
    ]}
    payload = snappy_compress_literal(encode_write_request(req))
    raw = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    decoded = decode_write_requests(raw)
    got = _json.loads(decoded.first().value)
    assert [ts.pop("histograms") for ts in got["timeseries"]] == [[], []]
    assert got == req
    routed = flatten_remote_write(decoded)
    sums = routed["metrics_sum"].collect()
    gauges = routed["metrics_gauge"].collect()
    assert len(sums) == 1 and sums[0].metric_name == "http_requests_total"
    assert sums[0].value == 42.0 and sums[0].is_monotonic
    assert len(gauges) == 2 and {g.value for g in gauges} == {512.5, 513.5}


def test_schema_evolution_null_fill(spark, tmp_path_factory):
    """Old files lack the promoted column; merged read null-fills —
    the add_label_columns metadata-only evolution semantics."""
    from signaldb_spark.maintenance.jobs import promote_attribute, read_with_evolution

    base = str(tmp_path_factory.mktemp("evo")) + "/logs"
    old = spark.createDataFrame(
        [("a", {"env": "prod"}), ("b", {"env": "staging"})],
        "body string, log_attributes map<string,string>",
    )
    old.write.mode("append").parquet(base)
    new = promote_attribute(
        spark.createDataFrame(
            [("c", {"env": "prod"})], "body string, log_attributes map<string,string>"
        ),
        "env",
    )
    new.write.mode("append").parquet(base)
    merged = read_with_evolution(spark, base)
    assert "label_env" in merged.columns
    rows = {r.body: r.label_env for r in merged.collect()}
    assert rows == {"a": None, "b": None, "c": "prod"}


def test_detected_labels_includes_materialized(spark, ingested):
    _, base = ingested
    from signaldb_spark.maintenance.jobs import detected_labels

    logs = optional_table(spark, base, "acme", "prod", "logs")
    labels = [r.label for r in detected_labels(logs).collect()]
    assert "env" in labels and "idx" in labels
    assert "namespace" in labels  # from label_namespace materialized column
    assert labels == sorted(labels)


# ------------------------------------------------------------ leases


def test_lease_acquire_contention_and_release(tmp_path):
    """Two compactor instances contend for one work unit: exactly one
    wins; release frees the unit (LeaseManager::try_acquire/release,
    src/compactor/src/lease/mod.rs)."""
    from signaldb_spark.maintenance.lease import LeaseManager, partition_unit

    base = str(tmp_path)
    a = LeaseManager(base, holder_id="a", ttl_seconds=300)
    b = LeaseManager(base, holder_id="b", ttl_seconds=300)
    unit = partition_unit("acme", "prod", "logs", "2024-01-01", 3)
    la = a.try_acquire(unit)
    assert la is not None and la.holder_id == "a"
    assert b.try_acquire(unit) is None  # held and live
    # an unrelated unit is independently acquirable
    assert b.try_acquire(partition_unit("acme", "prod", "logs", "2024-01-01", 4))
    a.release(la)
    lb = b.try_acquire(unit)
    assert lb is not None and lb.holder_id == "b"


def test_lease_expiry_takeover_and_lost_renew(tmp_path):
    """An expired lease (crashed holder) is taken over automatically;
    the late original holder's renew reports the lease lost."""
    from signaldb_spark.maintenance.lease import LeaseManager

    clock = [1000.0]
    base = str(tmp_path)
    a = LeaseManager(base, holder_id="a", ttl_seconds=10, now=lambda: clock[0])
    b = LeaseManager(base, holder_id="b", ttl_seconds=10, now=lambda: clock[0])
    la = a.try_acquire("u")
    assert la is not None
    clock[0] = 1005.0
    assert b.try_acquire("u") is None  # still live
    renewed = a.renew(la)
    assert renewed is not None and renewed.expires_at == 1015.0
    clock[0] = 1020.0  # past the renewed expiry → crashed-holder takeover
    lb = b.try_acquire("u")
    assert lb is not None and lb.holder_id == "b"
    assert a.renew(renewed) is None  # lost — holder must stop
    a.release(renewed)  # no-op: must not disturb b's lease
    assert b.renew(lb) is not None


def test_compaction_cycle_multi_instance(spark, tmp_path):
    """Two concurrent compactor passes split the closed partitions with
    no overlap and no loss — the lease-guarded run loop
    (src/compactor/src/lib.rs planner→lease→rewriter)."""
    from signaldb_spark.maintenance.jobs import compaction_cycle, partition_file_counts
    from signaldb_spark.maintenance.lease import LeaseManager, partition_unit
    from signaldb_spark.storage import write_batch_manifest

    base = str(tmp_path)
    path = signal_table_path(base, "acme", "prod", "logs")
    rows = [
        (dt.datetime(2024, 1, 1, h, m), f"log {h}:{m}", "2024-01-01", h)
        for h in range(4)
        for m in range(0, 60, 5)
    ]
    df = spark.createDataFrame(
        rows, "timestamp timestamp, body string, date_day string, hour int"
    )
    write_batch_manifest(df.repartition(3), path, "logs", batch_id=0)
    now = dt.datetime(2024, 1, 2)  # everything closed
    candidates = {k for k, n in partition_file_counts(path).items() if n > 1}
    assert len(candidates) >= 2
    # instance A holds one candidate's lease mid-work; B's cycle must
    # skip exactly that partition and compact the rest
    a = LeaseManager(base, holder_id="a")
    held_day, held_hour = sorted(candidates)[0]
    held = a.try_acquire(partition_unit("acme", "prod", "logs", held_day, held_hour))
    assert held is not None
    b_done = compaction_cycle(
        spark, base, "acme", "prod", "logs",
        now=now, manager=LeaseManager(base, holder_id="b"),
    )
    assert set(b_done) == candidates - {(held_day, held_hour)}
    a.release(held)
    a_done = compaction_cycle(
        spark, base, "acme", "prod", "logs", now=now, manager=a,
    )
    assert a_done == [(held_day, held_hour)]  # only the remaining unit
    # a third pass finds no candidates at all — the cycle is idempotent
    assert compaction_cycle(spark, base, "acme", "prod", "logs", now=now) == []
    assert optional_table(spark, base, "acme", "prod", "logs").count() == len(rows)


def test_dead_letter_sink_e2e(spark, tmp_path_factory):
    """Poison payloads are preserved verbatim in the dead-letter sink
    while good rows land in the table; replaying the stream duplicates
    neither (wal/mod.rs:806 dead_letter + replay idempotency)."""
    from signaldb_spark.streaming.ingest import read_dead_letters

    src = tmp_path_factory.mktemp("dlq_src")
    base = str(tmp_path_factory.mktemp("dlq_base"))
    t0 = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    lines = [
        _otlp_log_payload(t0 + i * 60_000_000_000, "api", "info", f"req {i}", {})
        for i in range(10)
    ]
    poison = ["garbage {", '{"unrelated": 1}']
    (src / "batch1.jsonl").write_text("\n".join(lines[:5] + poison[:1]))
    (src / "batch2.jsonl").write_text("\n".join(lines[5:] + poison[1:]))
    ingest_otlp_logs_stream(spark, str(src), base)
    logs = optional_table(spark, base, "acme", "prod", "logs")
    assert logs is not None and logs.count() == 10
    dead = read_dead_letters(spark, base, "acme", "prod", "logs")
    rows = {r.payload: r.reason for r in dead.collect()}
    assert set(rows) == set(poison)  # raw bytes preserved exactly
    assert all(v == "undecodable payload" for v in rows.values())
    # replay with the same checkpoint: neither side duplicates
    ingest_otlp_logs_stream(spark, str(src), base)
    assert optional_table(spark, base, "acme", "prod", "logs").count() == 10
    assert read_dead_letters(spark, base, "acme", "prod", "logs").count() == 2


def test_metric_exemplars_persisted_as_json(spark):
    """Data-point exemplars land in the at-rest ``exemplars`` JSON blob
    with the reference's key shape (extract_exemplars,
    conversion_metrics.rs:1318-1383; storage-layout.md:519 col 17);
    points without exemplars store NULL."""
    from signaldb_spark.sources.otlp import flatten_otlp_metrics

    payload = json.dumps({
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeMetrics": [{
                "metrics": [
                    {"name": "cpu", "unit": "1", "gauge": {"dataPoints": [
                        {"timeUnixNano": "1704067200000000000", "asDouble": 0.5,
                         "attributes": [],
                         "exemplars": [
                             {"timeUnixNano": "1704067200500000000", "asDouble": 0.7,
                              "traceId": "ab" * 16, "spanId": "cd" * 8,
                              "filteredAttributes": [
                                  {"key": "pod", "value": {"stringValue": "p1"}}]},
                             {"timeUnixNano": "1704067201000000000", "asInt": "3"},
                         ]},
                        {"timeUnixNano": "1704067210000000000", "asDouble": 0.6,
                         "attributes": []},
                    ]}},
                ]}]}]})
    raw = spark.createDataFrame([(payload,)], "value string")
    gauge = flatten_otlp_metrics(raw)["metrics_gauge"].orderBy("timestamp").collect()
    ex = json.loads(gauge[0].exemplars)
    assert ex[0] == {
        "time_unix_nano": 1704067200500000000,
        "value": 0.7,
        "filtered_attributes": {"pod": "p1"},
        "trace_id": "ab" * 16,
        "span_id": "cd" * 8,
    }
    assert ex[1]["value"] == 3.0 and "trace_id" not in ex[1]
    assert gauge[1].exemplars is None


def test_rollup_hybrid_exact(spark):
    """Hybrid rollup+raw stats must equal the straight raw aggregation:
    count/min/max exactly, sum to FP tolerance, across a split that
    lands on a bucket boundary."""
    from pyspark.sql import functions as F

    from signaldb_spark.maintenance.rollup import hybrid_stats, rollup_metrics

    rows = []
    for h in range(48):  # two days, hourly-ish samples, two series
        for svc in ("a", "b"):
            for k in range(3):
                rows.append(
                    (f"2024-03-0{1 + h // 24} {h % 24:02d}:{k * 7:02d}:00",
                     svc, "m", float(h * 10 + k), {"u": svc})
                )
    raw = spark.createDataFrame(
        rows, "timestamp string, service_name string, metric_name string,"
              " value double, attributes map<string,string>"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    split = "2024-03-02 00:00:00"
    rollup = rollup_metrics(raw.filter(F.col("timestamp") < split), 3600)
    got = {
        (r.bucket, r.service_name): (r.cnt, r.vmin, r.vmax, round(r.vsum, 6))
        for r in hybrid_stats(
            raw, rollup, "2024-03-01 00:00:00", "2024-03-03 00:00:00",
            split, 86400, 3600,
        ).collect()
    }
    want = {
        (r.bucket, r.service_name): (r.cnt, r.vmin, r.vmax, round(r.vsum, 6))
        for r in raw.groupBy(
            (F.floor(F.col("timestamp").cast("double") / 86400) * 86400)
            .cast("long").alias("bucket"),
            "service_name",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum("value").alias("vsum"),
        )
        .collect()
    }
    assert got == want and len(want) == 4

    # misaligned step must be rejected
    import pytest

    with pytest.raises(ValueError):
        hybrid_stats(raw, rollup, "2024-03-01", "2024-03-03", split, 5400, 3600)


def test_rollup_incremental_append_merges_exact(spark, tmp_path):
    """Partial rollup rows appended batch-by-batch (straddling buckets,
    late data) must re-merge at read to exactly the single-shot rollup
    of the full data."""
    from pyspark.sql import functions as F

    from signaldb_spark.maintenance.rollup import (
        append_rollup, read_rollup, rollup_metrics,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "timestamp string, service_name string, metric_name string,"
                  " value double, attributes map<string,string>"
        ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))

    b1 = mk([("2024-03-01 10:05:00", "a", "m", 1.0, {"u": "x"}),
             ("2024-03-01 10:55:00", "a", "m", 3.0, {"u": "x"}),
             ("2024-03-01 11:05:00", "b", "m", 7.0, {"u": "y"})])
    b2 = mk([("2024-03-01 10:30:00", "a", "m", 5.0, {"u": "x"}),   # same bucket as b1
             ("2024-03-01 09:59:00", "a", "m", 2.0, {"u": "x"})])  # late arrival
    path = str(tmp_path / "rollup")
    append_rollup(b1, path)
    append_rollup(b2, path)
    got = {
        (r.bucket, r.service_name, r.attr_key): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in read_rollup(spark, path).collect()
    }
    want = {
        (r.bucket, r.service_name, r.attr_key): (r.cnt, r.vsum, r.vmin, r.vmax)
        for r in rollup_metrics(b1.unionByName(b2)).collect()
    }
    assert got == want and len(want) == 3


def test_deduped_stream_drops_replayed_records(spark, tmp_path_factory):
    """A record re-sent in a LATER micro-batch (at-least-once upstream)
    is dropped by dropDuplicatesWithinWatermark state; distinct records
    with the same timestamp survive."""
    import json, os, time
    from pyspark.sql import functions as F
    from signaldb_spark.streaming.ingest import deduped_stream

    src = str(tmp_path_factory.mktemp("dedup_src"))
    out_name = f"dedup_sink_{int(time.time()*1000)}"
    rows1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "v": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:00:05", "v": 2.0},
    ]
    rows2 = [
        {"event_id": 2, "ts": "2024-01-01T10:00:05", "v": 2.0},  # replay
        {"event_id": 3, "ts": "2024-01-01T10:00:05", "v": 3.0},  # same ts, new id
    ]
    for i, rows in enumerate([rows1, rows2]):
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
    schema = "event_id long, ts string, v double"
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .withColumn("timestamp", F.to_timestamp("ts"))
    )
    deduped = deduped_stream(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory").queryName(out_name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        r["event_id"] for r in spark.sql(f"select * from {out_name}").collect()
    )
    assert got == [1, 2, 3]


def test_stream_interval_join_matches_within_window(spark, tmp_path_factory):
    """Purchases stream joins clicks stream on user within [-5 min, 0]:
    a click 2 min before matches, a click 20 min before does not, and
    state expiry conditions are accepted by the planner (the query runs
    with watermarks on both sides)."""
    import json, os, time
    from pyspark.sql import functions as F
    from signaldb_spark.streaming.ingest import stream_interval_join

    lsrc = str(tmp_path_factory.mktemp("sj_left"))
    rsrc = str(tmp_path_factory.mktemp("sj_right"))
    out_name = f"sj_sink_{int(time.time()*1000)}"
    purchases = [
        {"user": 1, "ts": "2024-01-01T10:10:00", "amount": 9.0},
        {"user": 2, "ts": "2024-01-01T10:10:00", "amount": 7.0},
    ]
    clicks = [
        {"user": 1, "cts": "2024-01-01T10:08:00", "page": "a"},   # 2 min before -> match
        {"user": 2, "cts": "2024-01-01T09:50:00", "page": "b"},   # 20 min before -> no match
    ]
    with open(os.path.join(lsrc, "l.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in purchases))
    with open(os.path.join(rsrc, "r.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in clicks))
    l = (
        spark.readStream.format("json").schema("user long, ts string, amount double")
        .load(lsrc).withColumn("timestamp", F.to_timestamp("ts")).drop("ts")
    )
    r = (
        spark.readStream.format("json").schema("user long, cts string, page string")
        .load(rsrc).withColumn("r_timestamp", F.to_timestamp("cts")).drop("cts")
    )
    joined = stream_interval_join(
        l, r, ["user"], before_seconds=300, after_seconds=0, watermark="1 hour"
    )
    q = (
        joined.writeStream.format("memory").queryName(out_name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(f"select user, page from {out_name}").collect()
    assert [(r["user"], r["page"]) for r in rows] == [(1, "a")]


def test_exphist_quantile_over_flattened_ingest(spark):
    """Glue: the at-rest rows produced by the OTLP exp-histogram
    flattener feed exphist_quantile directly — the end of the ingest
    path is the start of the query path."""
    import json
    from signaldb_spark.sources.otlp import flatten_otlp_metrics
    from signaldb_spark.operators.exphist import exphist_quantile

    payload = json.dumps({
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeMetrics": [{"metrics": [
                {"name": "lat_exp", "exponentialHistogram": {
                    "dataPoints": [
                        {"timeUnixNano": "1704067200000000000", "count": "4",
                         "scale": 0, "zeroCount": "0",
                         "positive": {"offset": 0, "bucketCounts": ["2", "2"]},
                         "negative": {"offset": 0, "bucketCounts": []},
                         "zeroThreshold": 0.0, "flags": 0, "attributes": []}],
                    "aggregationTemporality": 2}},
            ]}],
        }]
    })
    raw = spark.createDataFrame([(payload,)], "value string")
    at_rest = flatten_otlp_metrics(raw)["metrics_exponential_histogram"]
    out = exphist_quantile(at_rest, 0.5, ["service_name", "metric_name"]).collect()
    # rank 2 -> bucket (1,2] cum 2 >= 2: 1 + (2-1)*2/2 = 2.0
    assert out[0]["value"] == 2.0


def test_traces_and_metrics_streaming_ingest_e2e(spark, tmp_path_factory):
    """Trace and metrics streams drain through the manifest-committed
    sink: spans land in traces/, datapoints route per metric type into
    their own tables in the SAME micro-batch, and a fresh-checkpoint
    replay duplicates none of them (batch lineage guard per table)."""
    from signaldb_spark.storage import ManifestTable
    from signaldb_spark.streaming.ingest import (
        ingest_otlp_metrics_stream,
        ingest_otlp_traces_stream,
    )

    base = str(tmp_path_factory.mktemp("tm_base"))
    t0 = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)

    tsrc = tmp_path_factory.mktemp("tm_traces")
    (tsrc / "t.jsonl").write_text(
        _otlp_trace_payload(
            "ff" * 16,
            [("aa" * 8, None, "root", t0, t0 + 5_000_000, 1),
             ("bb" * 8, "aa" * 8, "child", t0 + 1_000_000, t0 + 2_000_000, 2)],
        )
    )
    ingest_otlp_traces_stream(spark, str(tsrc), base)
    traces = optional_table(spark, base, "acme", "prod", "traces")
    assert traces is not None and traces.count() == 2
    assert ManifestTable(
        signal_table_path(base, "acme", "prod", "traces")
    ).current_version() >= 1

    msrc = tmp_path_factory.mktemp("tm_metrics")
    payload = json.dumps({
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeMetrics": [{"metrics": [
                {"name": "cpu", "unit": "1", "gauge": {"dataPoints": [
                    {"timeUnixNano": str(t0), "asDouble": 0.5, "attributes": []}]}},
                {"name": "reqs", "unit": "1", "sum": {
                    "dataPoints": [
                        {"timeUnixNano": str(t0), "asInt": "42", "attributes": []}],
                    "aggregationTemporality": 2, "isMonotonic": True}},
            ]}],
        }]
    })
    (msrc / "m.jsonl").write_text(payload)
    ingest_otlp_metrics_stream(spark, str(msrc), base)
    gauge = optional_table(spark, base, "acme", "prod", "metrics_gauge")
    msum = optional_table(spark, base, "acme", "prod", "metrics_sum")
    assert gauge is not None and gauge.count() == 1
    assert msum is not None and msum.count() == 1
    # fresh-checkpoint replay: manifests refuse the duplicate batch
    ingest_otlp_metrics_stream(
        spark, str(msrc), base, checkpoint_dir=str(tmp_path_factory.mktemp("ck2"))
    )
    assert optional_table(spark, base, "acme", "prod", "metrics_gauge").count() == 1
    assert optional_table(spark, base, "acme", "prod", "metrics_sum").count() == 1


def test_otlp_protobuf_trace_wire_roundtrip(spark):
    """OTLP/gRPC protobuf wire path: encode an ExportTraceServiceRequest
    with the pure-Python writer, decode with the pure-Python reader,
    flatten through the standard JVM expressions — end to end without
    any protobuf library."""
    from pyspark.sql import functions as F

    from signaldb_spark.sources.otlp import flatten_otlp_traces
    from signaldb_spark.sources.otlp_pb import (
        decode_otlp_trace_requests,
        encode_trace_request,
        parse_trace_request,
    )

    req = {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"stringValue": "checkout"}},
                        {"key": "host", "value": {"stringValue": "h1"}},
                    ]
                },
                "scopeSpans": [
                    {
                        "scope": {"name": "lib", "version": "1.2"},
                        "spans": [
                            {
                                "traceId": "0af7651916cd43dd8448eb211c80319c",
                                "spanId": "b7ad6b7169203331",
                                "name": "GET /cart",
                                "kind": 2,
                                "startTimeUnixNano": "1704067200000000000",
                                "endTimeUnixNano": "1704067200123000000",
                                "attributes": [
                                    {"key": "http.status_code", "value": {"intValue": "200"}},
                                    {"key": "retried", "value": {"boolValue": True}},
                                    {"key": "ratio", "value": {"doubleValue": 0.25}},
                                ],
                                "events": [
                                    {
                                        "timeUnixNano": "1704067200050000000",
                                        "name": "exception",
                                        "attributes": [
                                            {"key": "exception.type",
                                             "value": {"stringValue": "IOError"}}
                                        ],
                                    }
                                ],
                                "links": [
                                    {
                                        "traceId": "ffffffffffffffffffffffffffffffff",
                                        "spanId": "aaaaaaaaaaaaaaaa",
                                        "attributes": [],
                                    }
                                ],
                                "status": {"code": 2, "message": "boom"},
                            },
                            {
                                "traceId": "0af7651916cd43dd8448eb211c80319c",
                                "spanId": "c7ad6b7169203332",
                                "parentSpanId": "b7ad6b7169203331",
                                "name": "SELECT cart",
                                "kind": 3,
                                "startTimeUnixNano": "1704067200010000000",
                                "endTimeUnixNano": "1704067200020000000",
                                "attributes": [],
                            },
                        ],
                    }
                ],
            }
        ]
    }
    wire = encode_trace_request(req)
    decoded = parse_trace_request(wire)
    spans = decoded["resourceSpans"][0]["scopeSpans"][0]["spans"]
    assert [s["spanId"] for s in spans] == ["b7ad6b7169203331", "c7ad6b7169203332"]
    assert spans[0]["status"] == {"code": 2, "message": "boom"}
    assert spans[0]["events"][0]["name"] == "exception"
    assert spans[0]["links"][0]["spanId"] == "aaaaaaaaaaaaaaaa"
    attrs = {a["key"]: a["value"] for a in spans[0]["attributes"]}
    assert attrs["http.status_code"]["intValue"] == "200"
    assert attrs["retried"]["boolValue"] is True
    assert attrs["ratio"]["doubleValue"] == 0.25

    raw = spark.createDataFrame([(bytearray(wire),)], "payload binary")
    flat = flatten_otlp_traces(decode_otlp_trace_requests(raw))
    rows = {r.span_id: r for r in flat.collect()}
    assert set(rows) == {"b7ad6b7169203331", "c7ad6b7169203332"}
    root = rows["b7ad6b7169203331"]
    assert root.service_name == "checkout"
    assert root.duration_nanos == 123000000
    assert root.status_code == "Error"
    assert root.parent_span_id is None and root.is_root
    child = rows["c7ad6b7169203332"]
    assert child.parent_span_id == "b7ad6b7169203331" and not child.is_root


def test_otlp_protobuf_logs_wire_roundtrip(spark):
    from signaldb_spark.sources.otlp import flatten_otlp_logs
    from signaldb_spark.sources.otlp_pb import (
        decode_otlp_logs_requests,
        encode_logs_request,
    )

    req = {
        "resourceLogs": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"stringValue": "api"}}
                    ]
                },
                "scopeLogs": [
                    {
                        "logRecords": [
                            {
                                "timeUnixNano": "1704067200000000000",
                                "severityNumber": 17,
                                "severityText": "ERROR",
                                "body": {"stringValue": "upstream timeout"},
                                "attributes": [
                                    {"key": "status", "value": {"intValue": "503"}}
                                ],
                                "traceId": "0af7651916cd43dd8448eb211c80319c",
                                "spanId": "b7ad6b7169203331",
                            },
                            {
                                "timeUnixNano": "1704067201000000000",
                                "severityText": "INFO",
                                "body": {"stringValue": "request handled"},
                            },
                        ]
                    }
                ],
            }
        ]
    }
    raw = spark.createDataFrame(
        [(bytearray(encode_logs_request(req)),)], "payload binary"
    )
    rows = sorted(
        flatten_otlp_logs(decode_otlp_logs_requests(raw)).collect(),
        key=lambda r: str(r.timestamp),
    )
    assert len(rows) == 2
    assert rows[0].service_name == "api" and rows[0].severity_text == "ERROR"
    assert rows[0].body == "upstream timeout"
    assert rows[0].trace_id == "0af7651916cd43dd8448eb211c80319c"
    assert rows[0].log_attributes["status"] == "503"
    assert rows[1].body == "request handled" and rows[1].severity_text == "INFO"


def test_otlp_protobuf_metrics_wire_roundtrip(spark):
    """OTLP metrics protobuf wire → all five metric kinds route to
    their tables through the standard flattener — zigzag scale/offset,
    packed fixed64 bucket counts, packed varint exp-buckets included."""
    from signaldb_spark.sources.otlp import flatten_otlp_metrics
    from signaldb_spark.sources.otlp_pb import (
        decode_otlp_metrics_requests,
        encode_metrics_request,
    )

    t = "1704067200000000000"
    req = {
        "resourceMetrics": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"stringValue": "api"}}
                    ]
                },
                "scopeMetrics": [
                    {
                        "metrics": [
                            {"name": "cpu", "unit": "1", "gauge": {"dataPoints": [
                                {"timeUnixNano": t, "asDouble": 0.7, "attributes": []}
                            ]}},
                            {"name": "reqs_total", "sum": {
                                "dataPoints": [{"timeUnixNano": t, "asInt": "42"}],
                                "aggregationTemporality": 2, "isMonotonic": True}},
                            {"name": "latency", "histogram": {
                                "dataPoints": [{
                                    "timeUnixNano": t, "count": "7", "sum": 91.5,
                                    "bucketCounts": ["3", "2", "2"],
                                    "explicitBounds": [10.0, 50.0]}],
                                "aggregationTemporality": 2}},
                            {"name": "latency_exp", "exponentialHistogram": {
                                "dataPoints": [{
                                    "timeUnixNano": t, "count": "5", "sum": 30.0,
                                    "scale": -1, "zeroCount": "1",
                                    "positive": {"offset": -2,
                                                 "bucketCounts": ["2", "2"]}}]}},
                            {"name": "rt_summary", "summary": {
                                "dataPoints": [{
                                    "timeUnixNano": t, "count": "9", "sum": 45.0,
                                    "quantileValues": [
                                        {"quantile": 0.5, "value": 4.0},
                                        {"quantile": 0.99, "value": 12.0}]}]}},
                        ]
                    }
                ],
            }
        ]
    }
    raw = spark.createDataFrame(
        [(bytearray(encode_metrics_request(req)),)], "payload binary"
    )
    tables = flatten_otlp_metrics(decode_otlp_metrics_requests(raw))
    g = tables["metrics_gauge"].collect()
    assert len(g) == 1 and g[0].metric_name == "cpu" and g[0].value == 0.7
    assert g[0].service_name == "api"
    s = tables["metrics_sum"].collect()
    assert len(s) == 1 and s[0].value == 42.0 and s[0].is_monotonic
    h = tables["metrics_histogram"].collect()
    assert len(h) == 1 and h[0]["count"] == 7 and h[0]["sum"] == 91.5
    assert list(h[0].bucket_counts) == [3.0, 2.0, 2.0]
    assert list(h[0].explicit_bounds) == [10.0, 50.0]
    e = tables["metrics_exponential_histogram"].collect()
    assert len(e) == 1 and e[0].scale == -1 and e[0].positive_offset == -2
    assert list(e[0].positive_bucket_counts) == [2, 2]
    su = tables["metrics_summary"].collect()
    assert len(su) == 1 and su[0]["count"] == 9


def test_protobuf_trace_stream_to_manifest_table(spark, tmp_path):
    """Wire → stream → manifest table, end to end: protobuf bodies in a
    binaryFile stream decode, flatten, and manifest-commit; a poison
    payload dead-letters instead of wedging; replays stay idempotent."""
    import os

    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.sources.otlp_pb import encode_trace_request
    from signaldb_spark.storage.manifest import ManifestTable
    from signaldb_spark.streaming.ingest import (
        ingest_otlp_traces_pb_stream,
        read_dead_letters,
    )

    src = tmp_path / "wire"
    src.mkdir()
    base = str(tmp_path / "tables")

    def req(trace_id, n_spans):
        return {
            "resourceSpans": [{
                "resource": {"attributes": [
                    {"key": "service.name", "value": {"stringValue": "svc"}}]},
                "scopeSpans": [{"spans": [
                    {"traceId": trace_id, "spanId": f"{i:016x}",
                     "name": f"op{i}", "kind": 1,
                     "startTimeUnixNano": str(1704067200_000000000 + i),
                     "endTimeUnixNano": str(1704067200_000001000 + i),
                     "attributes": []}
                    for i in range(n_spans)
                ]}],
            }]
        }

    (src / "a.pb").write_bytes(encode_trace_request(req("aa" * 16, 3)))
    (src / "b.pb").write_bytes(encode_trace_request(req("bb" * 16, 2)))
    (src / "poison.pb").write_bytes(b"\xff\xff\xff\x07 not a proto")
    ingest_otlp_traces_pb_stream(spark, str(src), base)

    mt = ManifestTable(signal_table_path(base, "acme", "prod", "traces"))
    out = mt.read(spark)
    assert out.count() == 5
    assert set(r.trace_id for r in out.select("trace_id").collect()) == {
        "aa" * 16, "bb" * 16
    }
    dead = read_dead_letters(spark, base, "acme", "prod", "traces")
    assert dead is not None and dead.count() == 1
    # replay the whole stream from a fresh checkpoint: manifest batch
    # lineage makes it a no-op
    ingest_otlp_traces_pb_stream(
        spark, str(src), base, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    assert mt.read(spark).count() == 5


def test_protobuf_metrics_stream_routes_all_kinds(spark, tmp_path):
    """One protobuf metrics stream → five manifest-committed tables in
    the same micro-batch."""
    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.sources.otlp_pb import encode_metrics_request
    from signaldb_spark.storage.manifest import ManifestTable
    from signaldb_spark.streaming.ingest import ingest_otlp_pb_stream

    t = "1704067200000000000"
    req = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "svc"}}]},
            "scopeMetrics": [{"metrics": [
                {"name": "g", "gauge": {"dataPoints": [
                    {"timeUnixNano": t, "asDouble": 1.0}]}},
                {"name": "c_total", "sum": {
                    "dataPoints": [{"timeUnixNano": t, "asInt": "3"}],
                    "aggregationTemporality": 2, "isMonotonic": True}},
                {"name": "h", "histogram": {"dataPoints": [{
                    "timeUnixNano": t, "count": "2", "sum": 5.0,
                    "bucketCounts": ["1", "1"], "explicitBounds": [1.0]}],
                    "aggregationTemporality": 2}},
                {"name": "eh", "exponentialHistogram": {"dataPoints": [{
                    "timeUnixNano": t, "count": "1", "sum": 2.0, "scale": 0,
                    "zeroCount": "0",
                    "positive": {"offset": 0, "bucketCounts": ["1"]}}]}},
                {"name": "s", "summary": {"dataPoints": [{
                    "timeUnixNano": t, "count": "4", "sum": 8.0,
                    "quantileValues": [{"quantile": 0.5, "value": 2.0}]}]}},
            ]}],
        }]
    }
    src = tmp_path / "wire"
    src.mkdir()
    (src / "m.pb").write_bytes(encode_metrics_request(req))
    base = str(tmp_path / "tables")
    ingest_otlp_pb_stream(spark, str(src), base, "metrics")
    for table in ("metrics_gauge", "metrics_sum", "metrics_histogram",
                  "metrics_exponential_histogram", "metrics_summary"):
        mt = ManifestTable(signal_table_path(base, "acme", "prod", table))
        assert mt.read(spark).count() == 1, table


def test_live_tail_applies_selector_pipeline(spark, tmp_path):
    """Loki /tail analog: the batch lowering's filter expressions run
    unchanged on the stream — matchers, line filter, and a parsed
    label filter all apply before rows reach the sink."""
    import json

    from signaldb_spark.streaming.ingest import tail_logs

    src = tmp_path / "lines"
    src.mkdir()

    def rec(svc, body):
        return json.dumps({
            "resourceLogs": [{
                "resource": {"attributes": [
                    {"key": "service.name", "value": {"stringValue": svc}}]},
                "scopeLogs": [{"logRecords": [{
                    "timeUnixNano": "1704067200000000000",
                    "severityText": "INFO",
                    "body": {"stringValue": body},
                    "attributes": [],
                }]}],
            }]
        })

    (src / "a.json").write_text("\n".join([
        rec("api", "status=500 fail"),
        rec("api", "status=200 ok"),
        rec("web", "status=500 fail"),
    ]))
    tail = tail_logs(
        spark, str(src), '{service_name="api"} |= "status" | logfmt | status = "500"'
    )
    q = (
        tail.writeStream.format("memory").queryName("tail_sink")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM tail_sink").collect()
    assert len(rows) == 1
    assert rows[0].service_name == "api" and "500" in rows[0].body


def test_remote_write_native_histogram_wire_roundtrip(spark):
    """Prometheus >=2.40 native histograms (TimeSeries.histograms=4):
    span/delta wire decode -> OTLP exponential-histogram rows. Checks
    the index convention shift (OTLP offset = prom index - 1), delta
    accumulation across span gaps, and a negative-side first span."""
    from signaldb_spark.sources.remote_write import (
        decode_write_requests,
        encode_write_request,
        flatten_remote_write,
        snappy_compress_literal,
    )

    req = {"timeseries": [{
        "labels": [{"name": "__name__", "value": "rpc_latency_seconds"},
                   {"name": "job", "value": "api"},
                   {"name": "le_zone", "value": "eu"}],
        "histograms": [{
            "count_int": 22, "sum": 55.5, "schema": 3,
            "zero_threshold": 1e-128, "zero_count_int": 2,
            "positive_spans": [{"offset": 1, "length": 2},
                               {"offset": 3, "length": 2}],
            "positive_deltas": [5, -2, 1, 3],
            "negative_spans": [{"offset": -2, "length": 2}],
            "negative_deltas": [1, 1],
            "timestamp": 1704067200000,
        }],
    }]}
    payload = snappy_compress_literal(encode_write_request(req))
    raw = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    out = flatten_remote_write(decode_write_requests(raw))
    rows = out["metrics_exponential_histogram"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.metric_name == "rpc_latency_seconds" and r.service_name == "api"
    assert r.scale == 3 and r["count"] == 22 and r.zero_count == 2
    # prom positive indices [1,2] + [6,7]; deltas 5,-2,1,3 -> 5,3,4,7
    assert r.positive_offset == 0
    assert r.positive_bucket_counts == [5, 3, 0, 0, 0, 4, 7]
    assert r.negative_offset == -3 and r.negative_bucket_counts == [1, 2]
    assert r.aggregation_temporality == 2 and r.sum == 55.5
    assert r.attributes["le_zone"] == "eu" and "job" not in r.attributes
    assert str(r.timestamp).startswith("2024-01-01 00:00:00")


def test_remote_write_float_histogram_and_quantile_gate(spark):
    """Float-histogram decode (absolute packed counts) + the full loop:
    remote_write wire -> exponential-histogram rows -> exphist_quantile
    returns a median inside the crossing bucket's bounds."""
    from signaldb_spark.operators.exphist import exphist_quantile
    from signaldb_spark.sources.remote_write import (
        decode_write_requests,
        flatten_remote_write,
        encode_write_request,
        snappy_compress_literal,
    )

    # scale 0 (base 2): prom idx 1 -> (1,2], idx 2 -> (2,4], idx 3 -> (4,8]
    req = {"timeseries": [{
        "labels": [{"name": "__name__", "value": "req_size_bytes"},
                   {"name": "job", "value": "web"}],
        "histograms": [{
            "count_float": 10.0, "sum": 30.0, "schema": 0,
            "zero_count_float": 0.0,
            "positive_spans": [{"offset": 1, "length": 3}],
            "positive_counts": [2.0, 6.0, 2.0],
            "timestamp": 1704067200000,
        }],
    }]}
    payload = snappy_compress_literal(encode_write_request(req))
    raw = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    hist = flatten_remote_write(decode_write_requests(raw))[
        "metrics_exponential_histogram"
    ]
    assert hist.first().positive_bucket_counts == [2, 6, 2]
    q = exphist_quantile(hist, 0.5, ["metric_name"]).collect()
    assert len(q) == 1
    # rank 5 of 10 lands in the middle bucket (2, 4]
    assert 2.0 < q[0].value <= 4.0


def test_remote_write_stream_ingest_and_query_loop(spark, tmp_path):
    """POST /api/v1/write analog end to end: snappy+proto WriteRequest
    files → float samples in gauge/sum, native histograms in
    metrics_exponential_histogram — all manifest-committed under one
    batch id; a corrupt payload dead-letters; replay no-ops; and the
    ingested exp-histogram is readable through exphist_quantile (the
    full native-histogram loop)."""
    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.operators.exphist import exphist_quantile
    from signaldb_spark.sources.remote_write import (
        encode_write_request,
        snappy_compress_literal,
    )
    from signaldb_spark.storage.manifest import ManifestTable
    from signaldb_spark.streaming.ingest import ingest_remote_write_stream

    req = {"timeseries": [
        {"labels": [{"name": "__name__", "value": "http_requests_total"},
                    {"name": "job", "value": "api"}],
         "samples": [{"value": 7.0, "timestamp": 1704067200000}]},
        {"labels": [{"name": "__name__", "value": "mem_bytes"},
                    {"name": "job", "value": "api"}],
         "samples": [{"value": 128.0, "timestamp": 1704067200000}]},
        {"labels": [{"name": "__name__", "value": "req_size_bytes"},
                    {"name": "job", "value": "web"}],
         "histograms": [{
             "count_int": 10, "sum": 30.0, "schema": 0, "zero_count_int": 0,
             "positive_spans": [{"offset": 1, "length": 3}],
             "positive_deltas": [2, 4, -4],
             "timestamp": 1704067200000}]},
    ]}
    src = tmp_path / "rw"
    src.mkdir()
    (src / "w1.bin").write_bytes(snappy_compress_literal(encode_write_request(req)))
    (src / "bad.bin").write_bytes(b"\x05not-snappy")
    base = str(tmp_path / "tables")
    ingest_remote_write_stream(spark, str(src), base)

    counts = {}
    for table in ("metrics_gauge", "metrics_sum", "metrics_exponential_histogram"):
        mt = ManifestTable(signal_table_path(base, "acme", "prod", table))
        counts[table] = mt.read(spark).count()
    assert counts == {
        "metrics_gauge": 1, "metrics_sum": 1,
        "metrics_exponential_histogram": 1,
    }
    # dead letter captured
    from signaldb_spark.streaming.ingest import read_dead_letters

    dl = read_dead_letters(spark, base, "acme", "prod", "remote_write")
    assert dl is not None and dl.count() == 1

    # replay with the same checkpoint: no duplicates
    ingest_remote_write_stream(spark, str(src), base)
    mt = ManifestTable(
        signal_table_path(base, "acme", "prod", "metrics_exponential_histogram")
    )
    hist = mt.read(spark)
    assert hist.count() == 1
    # query the ingested native histogram: deltas 2,4,-4 -> counts 2,6,2;
    # p50 rank 5 lands in the (2,4] bucket
    q = exphist_quantile(hist, 0.5, ["metric_name"]).collect()
    assert len(q) == 1 and 2.0 < q[0].value <= 4.0


def test_otlp_exphist_table_name_matches_query_side(spark, tmp_path):
    """Regression: flatten_otlp_metrics must emit the SAME table name
    the catalog/query side reads (metrics_exponential_histogram) — the
    old 'metrics_exp_histogram' key made wire-ingested exp-histograms
    invisible to every query path."""
    from signaldb_spark.catalog import SIGNAL_TABLES, optional_table
    from signaldb_spark.sources.otlp import flatten_otlp_metrics
    from signaldb_spark.sources.otlp_pb import encode_metrics_request
    from signaldb_spark.streaming.ingest import ingest_otlp_pb_stream

    req = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "svc"}}]},
            "scopeMetrics": [{"metrics": [
                {"name": "eh", "exponentialHistogram": {"dataPoints": [{
                    "timeUnixNano": "1704067200000000000", "count": "1",
                    "sum": 2.0, "scale": 0, "zeroCount": "0",
                    "positive": {"offset": 0, "bucketCounts": ["1"]}}]}},
            ]}],
        }]
    }
    import json as _json

    raw = spark.createDataFrame([(_json.dumps(req),)], "value string")
    keys = set(flatten_otlp_metrics(raw))
    assert "metrics_exponential_histogram" in keys
    assert keys <= set(SIGNAL_TABLES)

    src = tmp_path / "wire"
    src.mkdir()
    (src / "m.pb").write_bytes(encode_metrics_request(req))
    base = str(tmp_path / "tables")
    ingest_otlp_pb_stream(spark, str(src), base, "metrics")
    t = optional_table(spark, base, "acme", "prod", "metrics_exponential_histogram")
    assert t is not None and t.count() == 1


def test_deduplicated_stream_drops_resent_records(spark, tmp_path):
    """An at-least-once producer re-sends a whole payload: every record
    inside duplicates. The watermarked stream dedup keeps exactly one
    row per (time, stream, body) while distinct records survive."""
    from signaldb_spark.streaming.ingest import deduplicated_log_stream

    src = tmp_path / "dup_src"
    src.mkdir()
    t0 = 1704067200_000_000_000
    a = _otlp_log_payload(t0, "api", "info", "hello once", {})
    b = _otlp_log_payload(t0 + 1_000_000_000, "api", "info", "hello twice", {})
    # the producer's retry re-sends payload `a` verbatim; `b` arrives once
    (src / "batch1.jsonl").write_text("\n".join([a, a, b]))
    (src / "batch2.jsonl").write_text(a)  # and once more in a later file

    dedup = deduplicated_log_stream(spark, str(src))
    q = (
        dedup.writeStream.format("memory").queryName("dedup_sink")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT body FROM dedup_sink ORDER BY body").collect()
    assert [r.body for r in rows] == ["hello once", "hello twice"]


def test_partition_file_counts_single_parse(spark, ingested):
    """partition_file_counts agrees with per-partition partition_files on
    a manifest table but parses the manifest exactly once — the status
    endpoint over a 1000-partition table must not re-open it per row."""
    from signaldb_spark.maintenance.jobs import (
        list_hour_partitions,
        partition_file_counts,
        partition_files,
    )

    _, base = ingested
    path = signal_table_path(base, "acme", "prod", "logs")
    counts = partition_file_counts(path)
    parts = list_hour_partitions(path)
    assert parts and set(counts) == set(parts)
    for d, h in parts:
        assert counts[(d, h)] == len(partition_files(path, d, h))


def test_deduplicated_stream_keeps_distinct_attrs(spark, tmp_path):
    """Two genuinely distinct records sharing (time, stream, body) but
    differing in attributes must BOTH survive — the dedup identity is
    the full row, not the body alone."""
    from signaldb_spark.streaming.ingest import deduplicated_log_stream

    src = tmp_path / "dup_attrs_src"
    src.mkdir()
    t0 = 1704067200_000_000_000
    a = _otlp_log_payload(t0, "api", "info", "same body", {"k": "one"})
    b = _otlp_log_payload(t0, "api", "info", "same body", {"k": "two"})
    (src / "batch.jsonl").write_text("\n".join([a, b, a]))  # a re-sent once

    dedup = deduplicated_log_stream(spark, str(src))
    q = (
        dedup.writeStream.format("memory").queryName("dedup_attrs_sink")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT log_attributes['k'] AS k FROM dedup_attrs_sink ORDER BY k"
    ).collect()
    assert [r.k for r in rows] == ["one", "two"]
    assert "_attr_sig" not in spark.table("dedup_attrs_sink").columns


def test_partition_file_counts_skips_malformed_entries(spark, tmp_path):
    """A corrupt manifest entry with a non-numeric hour is SKIPPED, like
    list_hour_partitions does — the ops status endpoint must not raise
    on one bad path."""
    import json
    import os

    from signaldb_spark.maintenance.jobs import partition_file_counts
    from signaldb_spark.storage.manifest import ManifestTable

    path = str(tmp_path / "tbl")
    mt = ManifestTable(path)
    os.makedirs(mt.manifest_dir)
    os.makedirs(mt.data_dir)
    mt.commit([
        os.path.join("date_day=2024-01-01", "hour=3", "a.parquet"),
        os.path.join("date_day=2024-01-01", "hour=bad", "b.parquet"),
    ])
    counts = partition_file_counts(path)
    assert counts == {("2024-01-01", 3): 1}


def test_ingest_rejects_over_quota_tenant(spark, tmp_path):
    """The ingest path gates each micro-batch on the tenant's cached
    storage usage (storage_usage.rs check_ingest): an over-quota tenant's
    stream fails with quota_exceeded; a fresh tracker (usage unknown)
    never blocks."""
    import pytest

    from signaldb_spark.storage.quota import StorageUsageTracker

    src = tmp_path / "quota_src"
    src.mkdir()
    (src / "b.jsonl").write_text(
        _otlp_log_payload(1704067200_000_000_000, "api", "info", "hi", {})
    )
    base = str(tmp_path / "tables")

    # usage unknown: accounting lag must not block the first drain
    lagging = StorageUsageTracker(overrides={"acme": 1})
    ingest_otlp_logs_stream(spark, str(src), base, usage_tracker=lagging)
    assert optional_table(spark, base, "acme", "prod", "logs").count() == 1

    # refreshed: the tenant is over its 1-byte quota → stream rejects
    lagging.refresh(base)
    (src / "c.jsonl").write_text(
        _otlp_log_payload(1704067201_000_000_000, "api", "info", "again", {})
    )
    with pytest.raises(Exception, match="quota_exceeded"):
        ingest_otlp_logs_stream(spark, str(src), base, usage_tracker=lagging)


def test_metrics_ingest_dead_letters_required_violations(spark, tmp_path):
    """Issue-#1060 analog: a metrics_sum datapoint whose non-nullable
    value is null is a DETERMINISTIC refusal — it must dead-letter, not
    wedge the drain or shadow the healthy points in the same batch."""
    from signaldb_spark.streaming.ingest import (
        ingest_otlp_metrics_stream,
        read_dead_letters,
    )

    src = tmp_path / "m_src"
    src.mkdir()
    payload = json.dumps({
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "api"}}]},
            "scopeMetrics": [{"metrics": [
                {"name": "reqs", "sum": {
                    "dataPoints": [
                        # healthy point
                        {"timeUnixNano": "1704067200000000000", "asInt": "42",
                         "attributes": []},
                        # poison: no asInt/asDouble -> null required value
                        {"timeUnixNano": "1704067210000000000",
                         "attributes": []},
                    ],
                    "aggregationTemporality": 2, "isMonotonic": True}},
            ]}],
        }]
    })
    (src / "b.jsonl").write_text(payload)
    base = str(tmp_path / "tables")
    ingest_otlp_metrics_stream(spark, str(src), base)

    t = optional_table(spark, base, "acme", "prod", "metrics_sum")
    assert t.count() == 1  # the healthy point committed
    assert t.first().value == 42.0
    dead = read_dead_letters(spark, base, "acme", "prod", "metrics_sum")
    assert dead is not None and dead.count() == 1
    row = dead.first()
    assert row.reason == "required column is null"
    assert '"metric_name":"reqs"' in row.payload
