"""Seeded OTLP/JSON generator and the independent Python oracle.

The engine only ever sees the payload files this module writes (one
OTLP/JSON export request per line, the format the file-source drains
read). Every generated row is also kept here in plain Python, so each
request class and the freshness probe can be answered without the
engine.

Time layout: the corpus starts at ``T0`` (2024-01-01, so every hour
partition is closed and compaction really runs). Each landed slice
covers its own time range; timestamps are unique microseconds across
the whole corpus, which makes every newest-N cut unambiguous.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

T0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z

SERVICES = [f"svc-{i:02d}" for i in range(8)]
# skewed service popularity (Zipf, s=1.1): the head service gets about a
# third of all traffic, the tail a few percent
SERVICE_WEIGHTS = [1.0 / (i + 1) ** 1.1 for i in range(len(SERVICES))]
SEVERITIES = ["info", "warn", "error", "debug"]
SEVERITY_WEIGHTS = [70, 15, 10, 5]
ROUTES = ["/api/cart", "/api/checkout", "/api/login", "/api/search", "/api/items"]
METHODS = ["GET", "POST"]
METRIC_INTERVAL_S = 15


@dataclass(frozen=True)
class SliceSize:
    """Rows generated per slice: logs, traces (each 2-6 spans) and
    metric scrapes (every METRIC_INTERVAL_S per service, all five kinds)."""

    seconds: int
    logs: int
    traces: int


@dataclass
class LogRow:
    ts_us: int
    service: str
    severity: str
    body: str


@dataclass
class SpanRow:
    trace_id: str
    span_id: str
    service: str
    start_ns: int
    dur_ns: int
    error: bool


@dataclass
class Oracle:
    """Plain-Python copy of every acknowledged row, kept sorted by time."""

    logs: list[LogRow] = field(default_factory=list)
    spans: list[SpanRow] = field(default_factory=list)
    trace_spans: dict[str, list[str]] = field(default_factory=dict)  # trace id -> span ids
    cpu: list[tuple[int, str, float]] = field(default_factory=list)  # (ts_us, svc, value)
    counts: dict[str, int] = field(default_factory=dict)  # table -> rows
    json_bytes: int = 0
    end_us: int = T0_NS // 1000
    log_ts: list[int] = field(default_factory=list)  # sorted logs[*].ts_us

    def logs_between(self, lo_us: int, hi_us: int) -> list[LogRow]:
        keys = self.log_ts
        return self.logs[bisect.bisect_left(keys, lo_us):bisect.bisect_right(keys, hi_us)]

    def spans_between(self, lo_us: int, hi_us: int) -> list[SpanRow]:
        return [s for s in self.spans if lo_us <= s.start_ns // 1000 <= hi_us]

    def cpu_between(self, lo_us: int, hi_us: int):
        return [p for p in self.cpu if lo_us <= p[0] <= hi_us]


def us_to_dt(us: int) -> dt.datetime:
    """Naive UTC datetime (the engine's session time zone is UTC)."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


def _kv(key: str, value) -> dict:
    if isinstance(value, bool):
        return {"key": key, "value": {"boolValue": value}}
    return {"key": key, "value": {"stringValue": str(value)}}


def _resource(service: str) -> dict:
    return {"attributes": [_kv("service.name", service), _kv("deployment.environment", "prod")]}


def _hex(rng: random.Random, nbytes: int) -> str:
    return f"{rng.getrandbits(nbytes * 8):0{nbytes * 2}x}"


class Generator:
    """Writes slices of OTLP/JSON payload files and records them in the
    oracle. ``landing`` is a scratch directory on the same filesystem as
    the source directories, so a payload file appears in its source
    directory atomically (write, then rename)."""

    def __init__(self, seed: int, src_dirs: dict[str, str], landing: str,
                 lines_per_request: int = 50):
        self.rng = random.Random(seed)
        self.src_dirs = src_dirs
        self.landing = landing
        self.lines_per_request = lines_per_request
        self.oracle = Oracle()
        self.cursor_us = T0_NS // 1000
        self.slices = 0
        self._sum_totals = {s: 0 for s in SERVICES}
        for d in (*src_dirs.values(), landing):
            os.makedirs(d, exist_ok=True)

    # -- record builders ------------------------------------------------
    def _service(self) -> str:
        return self.rng.choices(SERVICES, SERVICE_WEIGHTS)[0]

    def _logs(self, start_us: int, size: SliceSize, trace_ids: list[str]) -> list[dict]:
        rng, step = self.rng, size.seconds * 10**6 // size.logs
        by_service: dict[str, list] = {}
        for i in range(size.logs):
            ts_us = start_us + i * step + rng.randrange(step)
            svc, sev = self._service(), rng.choices(SEVERITIES, SEVERITY_WEIGHTS)[0]
            code = 500 if sev == "error" else 200
            body = (f"{rng.choice(METHODS)} {rng.choice(ROUTES)} status={code} "
                    f"dur={rng.randrange(1, 900)}ms")
            if sev == "error":
                body += " error: upstream timeout"
            self.oracle.logs.append(LogRow(ts_us, svc, sev, body))
            by_service.setdefault(svc, []).append({
                "timeUnixNano": str(ts_us * 1000),
                "observedTimeUnixNano": str(ts_us * 1000),
                "severityText": sev,
                "severityNumber": 9,
                "body": {"stringValue": body},
                "attributes": [_kv("env", "prod"), _kv("request.id", _hex(rng, 4))],
                "traceId": rng.choice(trace_ids) if trace_ids else "",
                "spanId": _hex(rng, 8),
            })
        self.oracle.counts["logs"] = self.oracle.counts.get("logs", 0) + size.logs
        return [
            {"resourceLogs": [{"resource": _resource(svc), "scopeLogs": [{
                "scope": {"name": "perfbench", "version": "1"}, "logRecords": chunk}]}]}
            for svc, recs in by_service.items()
            for chunk in _chunks(recs, self.lines_per_request)
        ]

    def _traces(self, start_us: int, size: SliceSize) -> tuple[list[dict], list[str]]:
        rng, step = self.rng, size.seconds * 10**6 // size.traces
        by_service: dict[str, list] = {}
        ids = []
        for j in range(size.traces):
            tid = _hex(rng, 16)
            ids.append(tid)
            root_us = start_us + j * step + rng.randrange(step // 2)
            n = rng.randrange(2, 7)
            root_id = _hex(rng, 8)
            for k in range(n):
                # children start at distinct microseconds inside the
                # root's slot, so start times stay unique corpus-wide
                s_us = root_us + k * max(1, step // (2 * n))
                sid = root_id if k == 0 else _hex(rng, 8)
                self.oracle.trace_spans.setdefault(tid, []).append(sid)
                svc = self._service()
                err = rng.random() < 0.08
                dur_ns = rng.randrange(1_000, 2_000_000) * 1000
                method, route = rng.choice(METHODS), rng.choice(ROUTES)
                self.oracle.spans.append(SpanRow(tid, sid, svc, s_us * 1000, dur_ns, err))
                by_service.setdefault(svc, []).append({
                    "traceId": tid, "spanId": sid,
                    "parentSpanId": "" if k == 0 else root_id,
                    "name": f"{method} {route}", "kind": 2 if k == 0 else 3,
                    "startTimeUnixNano": str(s_us * 1000),
                    "endTimeUnixNano": str(s_us * 1000 + dur_ns),
                    "attributes": [_kv("http.method", method), _kv("http.route", route),
                                   _kv("http.status_code", 500 if err else 200)],
                    "status": {"code": 2 if err else 1},
                })
        self.oracle.spans.sort(key=lambda s: s.start_ns)
        self.oracle.counts["traces"] = self.oracle.counts.get("traces", 0) + sum(
            len(v) for v in by_service.values())
        payloads = [
            {"resourceSpans": [{"resource": _resource(svc), "scopeSpans": [{
                "scope": {"name": "perfbench", "version": "1"}, "spans": chunk}]}]}
            for svc, spans in by_service.items()
            for chunk in _chunks(spans, self.lines_per_request)
        ]
        return payloads, ids

    def _metrics(self, start_us: int, size: SliceSize) -> list[dict]:
        """One request per (service, minute): gauge, sum, histogram,
        exponential histogram and summary points every METRIC_INTERVAL_S."""
        rng = self.rng
        payloads = []
        per_req = max(1, 60 // METRIC_INTERVAL_S)
        n_points = size.seconds // METRIC_INTERVAL_S
        for svc in SERVICES:
            for first in range(0, n_points, per_req):
                gauge, msum, hist, exph, summ = [], [], [], [], []
                for p in range(first, min(first + per_req, n_points)):
                    ts_us = start_us + p * METRIC_INTERVAL_S * 10**6
                    ns = str(ts_us * 1000)
                    cpu = float(rng.randrange(0, 100))
                    self.oracle.cpu.append((ts_us, svc, cpu))
                    self._sum_totals[svc] += rng.randrange(1, 50)
                    counts = [rng.randrange(0, 20) for _ in range(4)]
                    gauge.append({"timeUnixNano": ns, "asDouble": cpu, "attributes": []})
                    msum.append({"timeUnixNano": ns, "asInt": str(self._sum_totals[svc]),
                                 "attributes": []})
                    hist.append({"timeUnixNano": ns, "count": str(sum(counts)),
                                 "sum": float(sum(counts) * 3),
                                 "bucketCounts": [str(c) for c in counts],
                                 "explicitBounds": [0.1, 0.5, 2.5], "attributes": []})
                    exph.append({"timeUnixNano": ns, "count": str(sum(counts)),
                                 "sum": float(sum(counts) * 2), "scale": 1,
                                 "zeroCount": "0",
                                 "positive": {"offset": 0,
                                              "bucketCounts": [str(c) for c in counts]},
                                 "attributes": []})
                    summ.append({"timeUnixNano": ns, "count": str(sum(counts)),
                                 "sum": float(sum(counts)),
                                 "quantileValues": [{"quantile": 0.5, "value": 1.0},
                                                    {"quantile": 0.99, "value": 4.0}],
                                 "attributes": []})
                payloads.append({"resourceMetrics": [{"resource": _resource(svc), "scopeMetrics": [{
                    "metrics": [
                        {"name": "cpu_usage", "unit": "%", "gauge": {"dataPoints": gauge}},
                        {"name": "http_requests_total", "unit": "1", "sum": {
                            "dataPoints": msum, "aggregationTemporality": 2,
                            "isMonotonic": True}},
                        {"name": "http_request_duration_seconds", "unit": "s", "histogram": {
                            "dataPoints": hist, "aggregationTemporality": 2}},
                        {"name": "rpc_latency", "unit": "ms", "exponentialHistogram": {
                            "dataPoints": exph, "aggregationTemporality": 2}},
                        {"name": "gc_pause", "unit": "ms", "summary": {"dataPoints": summ}},
                    ]}]}]})
        n = len(SERVICES) * n_points
        for t in ("metrics_gauge", "metrics_sum", "metrics_histogram",
                  "metrics_exponential_histogram", "metrics_summary"):
            self.oracle.counts[t] = self.oracle.counts.get(t, 0) + n
        return payloads

    # -- landing --------------------------------------------------------
    def land(self, size: SliceSize, files_per_signal: int) -> None:
        """Generate the next time slice and move its payload files into
        the source directories. The slice is in the oracle once this
        returns."""
        start_us = self.cursor_us
        span_payloads, trace_ids = self._traces(start_us, size)
        per_signal = {
            "traces": span_payloads,
            "logs": self._logs(start_us, size, trace_ids),
            "metrics": self._metrics(start_us, size),
        }
        self.oracle.logs.sort(key=lambda r: r.ts_us)
        self.oracle.log_ts = [r.ts_us for r in self.oracle.logs]
        self.oracle.cpu.sort()
        staged, total = [], 0
        for signal, payloads in per_signal.items():
            for k in range(files_per_signal):
                lines = [json.dumps(p, separators=(",", ":"))
                         for p in payloads[k::files_per_signal]]
                if not lines:
                    continue
                data = ("\n".join(lines) + "\n").encode()
                name = f"slice{self.slices:05d}-{k:02d}.json"
                tmp = os.path.join(self.landing, f"{signal}-{name}")
                with open(tmp, "wb") as f:
                    f.write(data)
                staged.append((tmp, os.path.join(self.src_dirs[signal], name)))
                total += len(data)
        for tmp, dest in staged:
            os.replace(tmp, dest)
        self.cursor_us = start_us + size.seconds * 10**6
        self.oracle.end_us = self.cursor_us
        self.oracle.json_bytes += total
        self.slices += 1


def _chunks(items: list, n: int):
    for i in range(0, len(items), n):
        yield items[i:i + n]
