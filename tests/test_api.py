"""Endpoint façade e2e: every reference HTTP endpoint's dispatch runs
against the generated signal tables and returns the right envelope —
the "a reference user could switch" surface in one object."""

from __future__ import annotations

import pytest

from signaldb_spark.api import SignalDBAPI
from signaldb_spark.testing import write_signal_tables

START, END = "2024-01-01 00:00:00", "2024-01-01 04:00:00"


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("api_signals"))
    write_signal_tables(spark, base)
    return SignalDBAPI(spark, base, "acme", "prod")


def test_prom_query_range_matrix(api):
    out = api.prom_query_range(
        "sum by (service_name) (rate(http_requests_total[10m]))", START, END, 600
    )
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "matrix" and out["data"]["result"]
    first = out["data"]["result"][0]
    assert "metric" in first and first["values"]


def test_prom_query_instant_vector(api):
    out = api.prom_query("process_cpu_usage", "2024-01-01 00:45:00", lookback_s=3600)
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "vector" and out["data"]["result"]


def test_prom_query_error_envelope(api):
    out = api.prom_query_range("no_such_function(up[5m])", START, END, 600)
    assert out["status"] == "error" and out["error"]


def test_prom_discovery(api):
    labels = api.prom_labels(START, END)
    assert labels["status"] == "success" and "__name__" in labels["data"]
    values = api.prom_label_values("__name__", START, END)
    assert "process_cpu_usage" in values["data"]
    series = api.prom_series('{__name__="process_cpu_usage"}', START, END)
    assert series["status"] == "success" and series["data"]
    meta = api.prom_metadata()
    assert meta["data"]["process_cpu_usage"][0]["type"] == "gauge"
    assert meta["data"]["http_requests_total"][0]["type"] == "counter"


def test_loki_streams_and_matrix(api):
    streams = api.loki_query_range('{service_name="api"} |= "error"', START, END)
    assert streams["data"]["resultType"] == "streams"
    assert all(
        s["stream"]["service_name"] == "api" for s in streams["data"]["result"]
    )
    matrix = api.loki_query_range(
        'sum by (service_name) (count_over_time({service_name="api"}[1h]))',
        START, END, 3600,
    )
    assert matrix["data"]["resultType"] == "matrix" and matrix["data"]["result"]


def test_loki_instant_and_discovery(api):
    inst = api.loki_query(
        'sum(count_over_time({service_name="api"}[5m]))', END, lookback_s=3600
    )
    assert inst["data"]["resultType"] == "vector"
    labels = api.loki_labels()
    assert labels["status"] == "success" and labels["data"]
    series = api.loki_series()
    assert series["status"] == "success" and series["data"]


def test_tempo_trace_and_search(api, spark):
    found = api.tempo_search(tags="", limit=3)
    assert found["traces"]
    tid = found["traces"][0]["traceID"]
    trace = api.tempo_trace(tid)
    assert trace["traceID"] == tid and trace["spanCount"] >= 1 and trace["spans"]
    missing = api.tempo_trace("ffffffffffffffffffffffffffffffff")
    assert missing["status"] == "error"


def test_tempo_traceql_search_and_tags(api):
    out = api.tempo_search(q='{ duration >= 0ns }', limit=2, spss=1)
    assert out["traces"] and all(
        len(t["spanSet"]["spans"]) <= 1 for t in out["traces"]
    )
    tags = api.tempo_tags()
    assert "tagNames" in tags and tags["tagNames"]
    v2 = api.tempo_tags_v2()
    scopes = {s["name"] for s in v2["scopes"]}
    assert "intrinsic" in scopes
    vals = api.tempo_tag_values("service.name")
    assert vals["tagValues"]


def test_pyroscope_render_with_truncation(api):
    full = api.pyroscope_render()
    assert full["flamegraph"]
    cut = api.pyroscope_render(max_nodes=5)
    kept = [r for r in cut["flamegraph"] if r["frame"] != "other"]
    assert len(kept) <= 5


def test_ir_and_sql(api):
    ir = api.ir_query(
        {
            "version": 1,
            "from": "logs",
            "where": {"field": "service_name", "op": "eq", "value": "api"},
            "select": ["service_name", "body"],
            "limit": 5,
        }
    )
    assert ir["status"] == "success" and len(ir["data"]) == 5
    assert all(r["service_name"] == "api" for r in ir["data"])
    sql = api.sql("SELECT count(*) AS n FROM logs")
    assert sql["status"] == "success" and sql["data"][0]["n"] > 0
    bad = api.ir_query({"version": 99, "from": "logs"})
    assert bad["status"] == "error"


def test_prom_query_exemplars_windowed(api):
    """/api/v1/query_exemplars: Prometheus contract — only exemplars
    inside [start, end], optionally restricted by a series selector."""
    full = api.prom_query_exemplars(START, END)
    assert full["status"] == "success" and full["data"]
    series = full["data"][0]
    assert series["seriesLabels"]["__name__"] == "http_request_duration_ms"
    assert series["exemplars"][0]["labels"]["traceID"]
    n_full = sum(len(s["exemplars"]) for s in full["data"])

    narrow = api.prom_query_exemplars(START, "2024-01-01 00:10:00")
    n_narrow = sum(len(s["exemplars"]) for s in narrow["data"])
    assert 0 < n_narrow < n_full
    lo, hi = 1704067200e9, (1704067200 + 600) * 1e9
    assert all(
        lo <= e["timestamp"] * 1e9 <= hi
        for s in narrow["data"] for e in s["exemplars"]
    )

    disjoint = api.prom_query_exemplars("2024-01-02 00:00:00", "2024-01-02 01:00:00")
    assert disjoint["status"] == "success" and disjoint["data"] == []

    one = api.prom_query_exemplars(
        START, END, query='http_request_duration_ms{service_name="api"}'
    )
    assert one["data"] and all(
        s["seriesLabels"]["service_name"] == "api" for s in one["data"]
    )
    none = api.prom_query_exemplars(START, END, query='no_such_metric')
    assert none["data"] == []
    bad = api.prom_query_exemplars(START, END, query='sum(up)')
    assert bad["status"] == "error"


def test_loki_index_volume_windowed(api):
    """/loki/api/v1/index/volume: range-scoped per-stream byte volume,
    served by the same oracle-gated aggregation as logql_volume."""
    full = api.loki_index_volume()
    assert full["status"] == "success"
    result = full["data"]["result"]
    assert full["data"]["resultType"] == "vector" and result
    vols = [int(r["value"]) for r in result]
    assert vols == sorted(vols, reverse=True) and all(v > 0 for v in vols)

    windowed = api.loki_index_volume(START, "2024-01-01 00:30:00")
    wtotal = sum(int(r["value"]) for r in windowed["data"]["result"])
    assert 0 < wtotal < sum(vols)

    empty = api.loki_index_volume("2030-01-01 00:00:00", "2030-01-02 00:00:00")
    assert empty["data"]["result"] == []


def test_loki_tail_route(api, spark, tmp_path):
    """/loki/api/v1/tail: the façade returns the unstarted streaming
    DataFrame with the selector pipeline applied; memory sink e2e."""
    import json as _json

    src = tmp_path / "tail_src"
    src.mkdir()

    def rec(svc, body):
        return _json.dumps({
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

    (src / "a.json").write_text(
        "\n".join([rec("api", "boom error"), rec("web", "boom error"),
                   rec("api", "fine")])
    )
    tail = api.loki_tail(str(src), '{service_name="api"} |= "boom"')
    assert tail.isStreaming
    q = (
        tail.writeStream.format("memory").queryName("api_tail_sink")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM api_tail_sink").collect()
    assert len(rows) == 1 and rows[0].service_name == "api"


def test_pyroscope_discovery_routes(api):
    """/pyroscope/profile-types, /label-names, /label-values
    (endpoints/pyroscope.rs -> profile.rs:234-380 envelopes)."""
    types = api.pyroscope_profile_types()
    assert types["profileTypes"] and all(":" in t for t in types["profileTypes"])

    names = api.pyroscope_label_names()
    assert "service_name" in names["names"]

    values = api.pyroscope_label_values("service_name")
    assert values["names"] and all(isinstance(v, str) for v in values["names"])

    bad = api.pyroscope_label_values("__nope__")
    assert bad.get("status") == "error" or bad.get("names") == []


def test_prom_status_tsdb_route(api):
    out = api.prom_status_tsdb(START, END, top_n=5)
    assert out["status"] == "success"
    entries = out["data"]["seriesCountByMetricName"]
    assert entries and len(entries) <= 5
    counts = [e["value"] for e in entries]
    assert counts == sorted(counts, reverse=True) and all(c > 0 for c in counts)
    assert any(e["name"] == "process_cpu_usage" for e in entries)


def test_loki_patterns_route(api):
    out = api.loki_patterns(START, END, k=10)
    assert out["status"] == "success" and out["data"]
    top = out["data"][0]
    assert "<N>" in top["pattern"] and top["count"] >= out["data"][-1]["count"]
    assert top["example"]
    empty = api.loki_patterns("2030-01-01 00:00:00", "2030-01-02 00:00:00")
    assert empty["data"] == []


def test_loki_detected_fields_route(api):
    out = api.loki_detected_fields()
    assert out["fields"]
    by_label = {f["label"]: f for f in out["fields"]}
    assert all(
        f["type"] in ("string", "int", "float", "boolean") and f["cardinality"] > 0
        for f in out["fields"]
    )
    # fixture attrs carry env=prod/staging strings
    assert "env" in by_label and by_label["env"]["type"] == "string"


def test_tempo_metrics_query_range_route(api):
    rate = api.tempo_metrics_query_range(
        "{ duration >= 0ns } | rate()", START, END, step_seconds=3600
    )
    assert rate["series"]
    samples = rate["series"][0]["samples"]
    assert samples and all(s["value"] >= 0 for s in samples)
    ts = [s["timestampMs"] for s in samples]
    assert ts == sorted(ts)

    q90 = api.tempo_metrics_query_range(
        '{ span.http.method = "GET" } | quantile_over_time(duration, 0.9) '
        "by (service_name)", START, END, step_seconds=3600
    )
    assert q90["series"] and all(
        s["labels"][0]["key"] == "service_name" for s in q90["series"]
    )

    hist = api.tempo_metrics_query_range(
        "{ duration >= 0ns } | histogram_over_time(duration)",
        START, END, step_seconds=3600,
    )
    assert hist["series"] and any(
        lb["key"] == "le_nanos" for s in hist["series"] for lb in s["labels"]
    )

    bad = api.tempo_metrics_query_range("{ } | avg()", START, END)
    assert bad["status"] == "error"


def test_prom_label_stats_route(api):
    out = api.prom_label_stats("logs")
    assert out["status"] == "success" and out["data"]
    keys = {d["key"] for d in out["data"]}
    assert "env" in keys
    assert all(
        0 < d["presence_ratio"] <= 1 and d["cardinality"] > 0 for d in out["data"]
    )


def test_pyroscope_render_diff_route(api):
    mid = "2024-01-01 02:00:00"
    out = api.pyroscope_render_diff(START, mid, mid, END)
    assert out["flamegraphDiff"]
    r = out["flamegraphDiff"][0]
    assert {"base_value", "comp_value", "delta"} <= set(r)
    assert all(
        row["delta"] == row["comp_value"] - row["base_value"]
        for row in out["flamegraphDiff"]
    )


def test_pyroscope_profiles_by_trace_route(api, spark):
    """GET /pyroscope/trace/{trace_id} (pyroscope.rs:554) — the
    ProfileSummary envelope for one trace, plus the not-linked and
    span-narrowed forms."""
    profiles = api.session.table("profiles")
    row = profiles.filter("trace_id IS NOT NULL").select(
        "trace_id", "profile_id"
    ).first()
    out = api.pyroscope_profiles_by_trace(row["trace_id"])
    assert any(p["profileID"] == row["profile_id"] for p in out["profiles"])
    p = out["profiles"][0]
    assert {"profileID", "timeUnixNano", "durationNano", "sampleType",
            "sampleUnit", "serviceName"} <= set(p)
    assert int(p["timeUnixNano"]) > 0 and p["sampleType"] == "cpu"
    # ns strings are strings, per tempo_api::ProfileSummary
    assert isinstance(p["timeUnixNano"], str)
    none = api.pyroscope_profiles_by_trace("f" * 32)
    assert none["profiles"] == []


def test_tempo_metrics_query_instant_route(api):
    """GET /tempo/api/metrics/query — one sample per series over the
    whole window; rate * window = matching span count."""
    out = api.tempo_metrics_query(
        "{ duration >= 0ns } | rate() by (service_name)", START, END
    )
    assert out["series"]
    for s in out["series"]:
        assert len(s["samples"]) == 1
        assert s["samples"][0]["value"] >= 0
    total = sum(s["samples"][0]["value"] for s in out["series"])
    n_spans = api.session.table("traces").filter(
        f"timestamp BETWEEN '{START}' AND '{END}'"
    ).count()
    window_s = 4 * 3600
    assert abs(total * window_s - n_spans) < 1e-6
    bad = api.tempo_metrics_query("{ } | histogram_over_time(duration)",
                                  START, END)
    assert bad["status"] == "error"
    # instant quantile == the exact percentile over the whole window
    q50 = api.tempo_metrics_query(
        "{ duration >= 0ns } | quantile_over_time(duration, 0.5)",
        START, END,
    )
    assert len(q50["series"]) == 1
    from pyspark.sql import functions as F

    want = api.session.table("traces").filter(
        f"timestamp BETWEEN '{START}' AND '{END}'"
    ).agg(F.percentile(F.col("duration_nanos").cast("double"),
                       F.lit(0.5))).collect()[0][0]
    assert abs(q50["series"][0]["samples"][0]["value"] - want) < 1e-6


def test_ops_compact_routes(api):
    status = api.ops_compact_status("logs")
    assert status["status"] == "success"
    parts = status["data"]["partitions"]
    assert parts and all(p["n_files"] >= 1 for p in parts)

    dry = api.ops_compact("logs", dry_run=True)
    assert dry["dry_run"] is True and len(dry["data"]) == len(parts)

    d0 = parts[0]
    done = api.ops_compact("logs", day=str(d0["date_day"]), hour=d0["hour"])
    assert done["status"] == "success" and len(done["data"]) == 1
    assert done["data"][0]["files_after"] == 1
    # table still whole through the facade
    n = api.sql("SELECT count(*) AS n FROM logs")["data"][0]["n"]
    assert n > 0

    missing = api.ops_compact_status("nope")
    assert missing["status"] == "error"


def test_schemas_available_route(api):
    out = api.schemas_available()
    assert out["status"] == "success"
    by_table = {d["table"]: d for d in out["data"]}
    assert by_table["traces"]["current"] == "v2"
    assert "v1" in by_table["traces"]["versions"]
    assert by_table["logs"]["partition_by"] == ["date_day", "hour"]


def test_tempo_tag_values_v2_route(api):
    out = api.tempo_tag_values_v2("resource.service.name")
    assert out["tagValues"] and all(
        e["tag"] == "resource.service.name" and e["value"] for e in out["tagValues"]
    )
    v1 = api.tempo_tag_values("service.name")
    assert {e["value"] for e in out["tagValues"]} == set(v1["tagValues"])
    empty = api.tempo_tag_values_v2(
        "span.http.method", "2030-01-01 00:00:00", "2030-01-02 00:00:00"
    )
    assert empty["tagValues"] == []


def test_loki_index_volume_range_route(api):
    out = api.loki_index_volume_range(START, END, step_seconds=3600)
    assert out["status"] == "success"
    result = out["data"]["result"]
    assert out["data"]["resultType"] == "matrix" and result
    for series in result:
        buckets = [v[0] for v in series["values"]]
        assert buckets == sorted(buckets)
        assert all(int(v[1]) > 0 for v in series["values"])
    # windowed total equals the unwindowed volume endpoint's total
    total_range = sum(int(v[1]) for s in result for v in s["values"])
    total_flat = sum(
        int(r["value"]) for r in api.loki_index_volume(START, END)["data"]["result"]
    )
    assert total_range == total_flat


def test_prom_label_stats_approx_field_name(api):
    """exact=False responses must label the estimate approx_cardinality —
    an HLL estimate must not masquerade as the exact count."""
    out = api.prom_label_stats("logs", exact=False)
    assert out["status"] == "success" and out["data"]
    for d in out["data"]:
        assert "approx_cardinality" in d and "cardinality" not in d
        assert d["approx_cardinality"] > 0


def test_ops_compact_unknown_partition_not_found(api):
    """A typo'd day/hour must not report success-on-nothing."""
    out = api.ops_compact("logs", day="1999-01-01", dry_run=True)
    assert out["status"] == "error" and "no partition matches" in out["error"]


def test_tempo_tag_values_v2_one_sided_window(api):
    """start-only and end-only windows each filter their own side —
    previously a single-sided request silently dropped the bound."""
    lo = api.tempo_tag_values_v2("resource.service.name", start="2030-01-01 00:00:00")
    assert lo["tagValues"] == []
    hi = api.tempo_tag_values_v2("resource.service.name", end="1999-01-01 00:00:00")
    assert hi["tagValues"] == []
    both = api.tempo_tag_values_v2("resource.service.name", start=START)
    assert both["tagValues"]


def test_query_ir_rows_envelope(api):
    """POST /query (endpoints/query.rs:144): rows result — validated IR
    plan over the windowed logs table, shaped into the reference's
    columns/rows envelope with IR value types."""
    req = {
        "version": 1, "from": "logs", "result": "rows",
        "range": {"from": START, "to": END},
        "where": {"field": "severity_text", "op": "eq", "value": "error"},
        "select": ["timestamp", "service_name", "body", "severity_number"],
        "limit": 5,
    }
    out = api.query_ir(req)
    assert out["result"] == "rows"
    assert out["window"]["start_ns"] < out["window"]["end_ns"]
    names = [c["name"] for c in out["columns"]]
    assert names == ["timestamp", "service_name", "body", "severity_number"]
    types = {c["name"]: c["value_type"] for c in out["columns"]}
    assert types["timestamp"] == "timestamp_ns" and types["body"] == "string"
    # int columns must map by EXACT simpleString ('int'/'bigint'), not a
    # prefix that 'interval…' would also match
    assert types["severity_number"] == "int64"
    assert 0 < len(out["rows"]) <= 5
    assert all(isinstance(r[0], int) for r in out["rows"])  # ns-encoded


def test_query_ir_series_envelope_and_anchors(api):
    """series result: column 0 = time axis, last = value, middle =
    labels (query.rs:414-466); relative `now-…` anchors resolve against
    one stamped clock."""
    req = {
        "version": 1, "from": "logs", "result": "series",
        "range": {"from": "now-4h", "to": "now"},
        "aggregate": {"op": "count", "by": ["service_name"],
                      "step_seconds": 3600},
    }
    out = api.query_ir(req, now=END)
    assert out["result"] == "series" and out["series"]
    assert out["step_ns"] == 3600 * 10**9
    s = out["series"][0]
    assert set(s["labels"]) == {"service_name"}
    assert all(len(p) == 2 for p in s["points"])
    ts = [p[0] for p in s["points"]]
    assert ts == sorted(ts)


def test_query_ir_validation_and_errors(api):
    bad = api.query_ir({"version": 1, "from": "logs", "result": "cubes",
                        "range": {"from": START, "to": END}})
    assert bad["status"] == "error" and "unsupported result" in bad["error"]
    bad2 = api.query_ir({"version": 99, "from": "logs", "result": "rows",
                         "range": {"from": START, "to": END}})
    assert bad2["status"] == "error" and bad2["errorType"] == "bad_data"
    bad3 = api.query_ir({"version": 1, "from": "logs", "result": "rows",
                         "range": {"from": "now-1x", "to": "now"}})
    assert bad3["status"] == "error" and "invalid range" in bad3["error"]
    missing = api.query_ir({"version": 1, "from": "nope_table", "result": "rows",
                            "range": {"from": START, "to": END}})
    assert missing["errorType"] == "not_found"


def test_self_monitoring_dogfood_loop(spark, tmp_path_factory):
    """Self-monitoring acceptance (#455 criteria, adapted): instrumented
    query spans land in the _system tenant queryable via the SAME trace
    surface; the anti-loop guard suppresses _system requests; W3C
    traceparent joins parent/child into one trace; sampling=0 records
    nothing."""
    from signaldb_spark.api import SignalDBAPI
    from signaldb_spark.catalog import optional_table
    from signaldb_spark.monitoring import SYSTEM_DATASET, SYSTEM_TENANT, SelfMonitor
    from signaldb_spark.testing import write_signal_tables

    base = str(tmp_path_factory.mktemp("selfmon"))
    write_signal_tables(spark, base)
    mon = SelfMonitor(spark, base)
    api = mon.instrument(SignalDBAPI(spark, base, "acme", "prod"))

    ok = api.loki_labels()
    assert ok["status"] == "success"  # results pass through unchanged
    bad = api.prom_query_range("no_such_fn(up[5m])",
                               "2024-01-01 00:00:00",
                               "2024-01-01 01:00:00", 600)
    assert bad["status"] == "error"
    # child call joins the parent's trace via W3C context
    parent_trace = "ab" * 16
    api.loki_series(traceparent=f"00-{parent_trace}-{'cd' * 8}-01")
    assert mon.flush() == 3

    spans = optional_table(spark, base, SYSTEM_TENANT, SYSTEM_DATASET, "traces")
    rows = {r.span_name: r for r in spans.collect()}
    assert rows["loki_labels"].status_code == "STATUS_CODE_OK"
    assert rows["prom_query_range"].status_code == "STATUS_CODE_ERROR"
    assert rows["loki_series"].trace_id == parent_trace
    assert rows["loki_series"].parent_span_id == "cd" * 8
    assert not rows["loki_series"].is_root
    assert all(r.duration_nanos >= 0 for r in rows.values())

    # dogfooding: the engine's OWN trace surface queries the spans
    from signaldb_spark.traceql import parse_traceql
    from signaldb_spark.traceql.trace_ops import search

    hits = search(spans, parse_traceql('{ .service.name = "signaldb-spark" }'),
                  limit=10).collect()
    assert hits

    # anti-loop guard: a _system-tenant API is never re-instrumented
    sys_api = mon.instrument(
        SignalDBAPI(spark, base, SYSTEM_TENANT, SYSTEM_DATASET))
    sys_api.loki_labels()
    assert mon.flush() == 0

    # sampling ratio 0: nothing recorded
    mon0 = SelfMonitor(spark, base, sample_ratio=0.0)
    mon0.instrument(SignalDBAPI(spark, base, "acme", "prod")).loki_labels()
    assert mon0.flush() == 0


def test_response_trace_context_analog(spark, tmp_path_factory):
    """docs/users/response-trace-context.md without the transport: the
    proxy exposes the server span's W3C traceresponse + total timing
    after each call; the trailing flag reflects the sampling decision;
    the anti-loop guard yields no context at all."""
    from signaldb_spark.api import SignalDBAPI
    from signaldb_spark.monitoring import SYSTEM_TENANT, SelfMonitor
    from signaldb_spark.testing import write_signal_tables

    base = str(tmp_path_factory.mktemp("tracectx"))
    write_signal_tables(spark, base)
    mon = SelfMonitor(spark, base)
    api = mon.instrument(SignalDBAPI(spark, base, "acme", "prod"))
    api.loki_labels()
    st = api.last_server_timing
    assert st and st["traceresponse"].startswith("00-")
    assert st["traceresponse"].endswith("-01") and st["total_ms"] > 0

    sampled_out = SelfMonitor(spark, base, sample_ratio=0.0)
    api0 = sampled_out.instrument(SignalDBAPI(spark, base, "acme", "prod"))
    api0.loki_labels()
    assert api0.last_server_timing["traceresponse"].endswith("-00")
    assert sampled_out.flush() == 0

    sys_api = mon.instrument(
        SignalDBAPI(spark, base, SYSTEM_TENANT, "monitoring"))
    sys_api.loki_labels()
    assert sys_api.last_server_timing is None


def test_tail_topk_fast_path_matches_ordinary_scan(spark, tmp_path):
    """Backward log tails over a manifest-backed table take the
    statistics-ordered TopK path (declared-sort-orders analog) and
    return exactly what the ordinary scan returns; the fast path
    declines when unflushed hot batches exist."""
    from pyspark.sql import functions as F

    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.logql.parser import parse as logql_parse
    from signaldb_spark.storage.hot import HotStore, flush_hot
    from signaldb_spark.storage.manifest import ManifestTable, write_batch_manifest
    from signaldb_spark.testing import LOGS, gen_logs, write_signal_tables

    logs = spark.createDataFrame(gen_logs(), LOGS)
    fast_base = str(tmp_path / "fast")
    path = signal_table_path(fast_base, "acme", "prod", "logs")
    hours = sorted(
        (r.date_day, r.hour)
        for r in logs.select("date_day", "hour").distinct().collect()
    )
    assert len(hours) >= 3
    for i, (day, hour) in enumerate(hours):
        write_batch_manifest(
            logs.filter((F.col("date_day") == day) & (F.col("hour") == hour)),
            path, "logs", batch_id=i,
        )
    slow_base = str(tmp_path / "slow")
    write_signal_tables(spark, slow_base)
    api_fast = SignalDBAPI(spark, fast_base, "acme", "prod")
    api_slow = SignalDBAPI(spark, slow_base, "acme", "prod")

    q = '{service_name="api"} |= "error"'
    # limit covering every matching row: both paths return the full set
    out_fast = api_fast.loki_query_range(q, START, END, limit=100000)
    out_slow = api_slow.loki_query_range(q, START, END, limit=100000)
    assert out_fast == out_slow
    assert out_fast["data"]["result"]

    # the fast path actually triggers and early-stops: a small tail
    # reads fewer files than the table holds, with the same timestamps
    sel = logql_parse(q)
    top = api_fast._tail_topk(sel, START, END, 60, 5)
    assert top is not None
    mt = ManifestTable(path)
    got = sorted(r.timestamp for r in top.select("timestamp").collect())
    want = sorted(
        r.timestamp
        for r in api_slow.session.table("logs")
        .filter(F.col("service_name") == "api")
        .filter(F.col("body").contains("error"))
        .filter(F.col("timestamp").between(START, END))
        .orderBy(F.desc("timestamp")).limit(5).select("timestamp").collect()
    )
    assert got == want

    _top, files_read = mt.read_recent_topk(spark, "timestamp", 1)
    assert files_read < len(mt.load_manifest()["files"])

    # pending hot data -> the manifest scan cannot answer; fast path declines
    HotStore(path).ack(logs.limit(1))
    assert api_fast._tail_topk(sel, START, END, 60, 5) is None
    flush_hot(spark, path, "logs")
    assert api_fast._tail_topk(sel, START, END, 60, 5) is not None


def test_health_and_echo(api):
    assert api.health() == {"status": "success", "data": "ok"}
    assert api.tempo_echo() == "echo"


def test_facade_routes_run_under_execution_contract(spark, tmp_path_factory):
    """The execution contract holds on the REAL endpoints (opt-in
    runner): a deadline-exceeding façade query cancels server-side and
    comes back as the attributable timeout envelope; an over-limit
    tenant gets the attributable rejection; normal queries pass through
    unchanged (querier-execution-model, VERDICT r5 item 5)."""
    import threading
    import time as _time

    from signaldb_spark.execution import FairQueryRunner

    base = str(tmp_path_factory.mktemp("api_exec"))
    write_signal_tables(spark, base)
    runner = FairQueryRunner(spark, max_concurrent_per_tenant=1,
                             default_timeout_s=30.0)
    api = SignalDBAPI(spark, base, "acme", "prod", runner=runner)

    # normal query: unchanged envelope through the guarded path
    out = api.prom_query_range("sum(rate(http_requests_total[10m]))",
                               START, END, 600)
    assert out["status"] == "success" and out["data"]["result"]

    # deadline exceeded: attributable timeout envelope, prompt unwind.
    # (Route methods carry the guard: assert the decorator is present,
    # then drive _guarded with a heavy action so the test doesn't need
    # a pathological query string.)
    assert hasattr(type(api).prom_query_range, "__wrapped__")
    assert hasattr(type(api).loki_query_range, "__wrapped__")
    assert hasattr(type(api).tempo_search, "__wrapped__")
    slow_api = SignalDBAPI(spark, base, "acme", "prod", runner=runner,
                           query_timeout_s=1.0)

    def stalled(*a, **k):
        return spark.range(200_000).crossJoin(spark.range(200_000)).count()

    t0 = _time.time()
    out = slow_api._guarded(stalled)
    assert _time.time() - t0 < 25
    assert out["status"] == "error" and out["errorType"] == "timeout"
    assert "acme" in out["error"] and "1.0s" in out["error"]

    # bounded concurrency: second in-flight query for the SAME tenant is
    # rejected attributably; the envelope names the limit
    gate, entered = threading.Event(), threading.Event()

    def holder():
        def hold():
            entered.set()
            gate.wait(20)
            return {"status": "success"}
        return api._guarded(hold)

    th = threading.Thread(target=holder, daemon=True)
    th.start()
    assert entered.wait(10)
    busy = api.prom_query("process_cpu_usage", "2024-01-01 00:45:00")
    assert busy["status"] == "error"
    assert busy["errorType"] == "too_many_requests" and "acme" in busy["error"]
    gate.set()
    th.join(20)
    # slot released: the route works again
    ok = api.prom_query("process_cpu_usage", "2024-01-01 00:45:00",
                        lookback_s=3600)
    assert ok["status"] == "success"


# -------------------------------------------------- facade pins (r9)


def test_loki_forward_direction_orders_ascending(api):
    out = api.loki_query_range(
        '{service_name="api"}', START, END, limit=50, direction="forward"
    )
    assert out["status"] == "success"
    for stream in out["data"]["result"]:
        ts = [int(v[0]) for v in stream["values"]]
        assert ts == sorted(ts), "forward queries must ascend in time"
    back = api.loki_query_range(
        '{service_name="api"}', START, END, limit=50, direction="backward"
    )
    for stream in back["data"]["result"]:
        ts = [int(v[0]) for v in stream["values"]]
        assert ts == sorted(ts, reverse=True)


def test_loki_query_malformed_time_envelopes(api):
    out = api.loki_query('count_over_time({service_name="api"}[5m])',
                         time="not-a-date")
    assert out["status"] == "error"


def test_label_stats_answers_traces(api):
    out = api.prom_label_stats(table="traces")
    assert out["status"] == "success"
    assert any(d["key"] for d in out["data"])


def test_loki_query_range_limit_zero_is_empty_not_error(api):
    out = api.loki_query_range(
        '{service_name="api"}', START, END, limit=0, direction="backward"
    )
    assert out["status"] == "success"
    assert all(not s["values"] for s in out["data"]["result"])


def test_epoch_nanos_is_microsecond_exact():
    import datetime as dt

    from signaldb_spark.api import _epoch_nanos

    t = dt.datetime(2026, 3, 1, 12, 0, 0, 123456)
    assert _epoch_nanos(t) % 1_000_000_000 == 123_456_000
    assert _epoch_nanos(1755000000) == 1755000000 * 10**9


def test_loki_limit_clamps_to_max_entries(api):
    """An embedder-supplied unbounded limit must clamp to Loki's
    max_entries_limit_per_query BEFORE the global sort+limit lowers to
    takeOrdered — whose per-task buffer is O(limit) regardless of data
    size (limit=10^7 allocated gigabytes and killed the JVM before the
    clamp existed)."""
    from signaldb_spark.tenancy import MAX_LOG_ENTRIES

    out = api.loki_query_range(
        '{service_name=~".+"}', START, END, limit=10**9
    )
    assert out["status"] == "success", out
    total = sum(len(s["values"]) for s in out["data"]["result"])
    assert 0 < total <= MAX_LOG_ENTRIES


# ------------------------------------- reads follow the committed snapshot


def _loki_count(api) -> int:
    """Every fixture log row through the Loki metric path (the lowered
    ``count_over_time`` over the whole 4 h window)."""
    out = api.loki_query('sum(count_over_time({service_name=~".+"}[4h]))',
                         END, lookback_s=4 * 3600)
    assert out["status"] == "success", out
    return int(float(out["data"]["result"][0]["value"][1]))


def _sql_count(api, table: str) -> int:
    out = api.sql(f"SELECT count(*) AS n FROM {table}")
    assert out["status"] == "success", out
    return out["data"][0]["n"]


def test_routes_see_another_writers_append_without_refresh(spark, tmp_path):
    """A live façade reads each table's current snapshot per call: rows
    another writer commits after the façade was built are visible to
    Loki, SQL and Tempo search without ``refresh()``, and trace search
    and trace-by-id answer from the same snapshot."""
    from collections import Counter

    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.storage.manifest import write_batch_manifest
    from signaldb_spark.testing import LOGS, TRACES, gen_logs, gen_traces

    base = str(tmp_path)
    write_signal_tables(spark, base)
    api = SignalDBAPI(spark, base, "acme", "prod")
    assert _loki_count(api) == _sql_count(api, "logs") == 2000
    q = '{ .service.name = "fresh-svc" }'
    assert api.tempo_search(q=q, limit=50)["traces"] == []

    write_batch_manifest(
        spark.createDataFrame(gen_logs(500, seed=7), LOGS),
        signal_table_path(base, "acme", "prod", "logs"), "logs", batch_id=1,
    )
    assert _loki_count(api) == _sql_count(api, "logs") == 2500
    streams = api.loki_query_range('{service_name=~".+"}', START, END,
                                   limit=5000)
    assert sum(len(s["values"]) for s in streams["data"]["result"]) == 2500

    rows = [r[:4] + ("fresh-svc",) + r[5:] for r in gen_traces(5, seed=7)]
    write_batch_manifest(
        spark.createDataFrame(rows, TRACES),
        signal_table_path(base, "acme", "prod", "traces"), "traces",
        batch_id=1,
    )
    spans = Counter(r[0] for r in rows)
    found = api.tempo_search(q=q, limit=50)["traces"]
    assert sorted(t["traceID"] for t in found) == sorted(spans)
    for t in found:
        trace = api.tempo_trace(t["traceID"])
        assert trace["traceID"] == t["traceID"], trace
        assert trace["spanCount"] == spans[t["traceID"]]


def test_read_after_another_processes_maintenance_is_whole(spark, tmp_path):
    """Three maintenance passes (default ``keep_snapshots=2``), each
    followed by a commit, replace and then delete every file the façade
    saw when it was built; its next read resolves the current snapshot
    and counts exactly, instead of failing on a deleted file."""
    from signaldb_spark.catalog import signal_table_path
    from signaldb_spark.maintenance.jobs import maintenance_cycle
    from signaldb_spark.storage.manifest import ManifestTable, write_batch_manifest
    from signaldb_spark.testing import LOGS, gen_logs

    base = str(tmp_path)
    write_signal_tables(spark, base)
    path = signal_table_path(base, "acme", "prod", "logs")
    first = set(ManifestTable(path).files())
    api = SignalDBAPI(spark, base, "acme", "prod")
    assert _loki_count(api) == 2000
    for i in range(3):
        maintenance_cycle(spark, base, "acme", "prod", "logs")
        write_batch_manifest(
            spark.createDataFrame(gen_logs(100, seed=i), LOGS), path, "logs",
            batch_id=f"later-{i}",
        )
    assert not first & set(ManifestTable(path).files())
    assert _loki_count(api) == 2300
