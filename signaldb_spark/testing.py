"""Deterministic signal-table fixture generator (FIXTURES §A).

Seeded synthetic traces/logs/metrics spread across ≥3 hour partitions,
with ≥10% nulls on nullable columns and attribute maps carrying both
shared and per-row keys — mirrors the reference's test generators
(tests-integration/src/generators/data_generator.rs) without copying
them. Committed hour-partitioned through the engine's own manifest sink
so partition pruning is exercised in tests.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import SparkSession

from .schemas.signal_schemas import (
    LOGS,
    METRICS_GAUGE,
    METRICS_HISTOGRAM,
    METRICS_SUM,
    PROFILES,
    TRACES,
)

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)
SERVICES = ["api", "web", "auth", "billing", "worker", "cron", "gateway", "search"]
SEVERITIES = ["debug", "info", "warn", "error"]
ENVIRONMENTS = ["prod", "staging", None]
BOUNDS = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0]


def _ts(rng: random.Random, hours: int = 4) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=rng.uniform(0, hours * 3600))


def _finish(row_ts: dt.datetime) -> tuple[dt.date, int]:
    return row_ts.date(), row_ts.hour


def gen_logs(n: int = 2000, seed: int = 42) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ts = _ts(rng)
        svc = rng.choice(SERVICES)
        sev = rng.choice(SEVERITIES)
        status = rng.choice([200, 200, 200, 404, 500, 503])
        dur_ms = round(rng.lognormvariate(3, 1), 3)
        body = (
            f"request handled path=/v{rng.randint(1, 3)}/items "
            f"status={status} duration={dur_ms}ms"
        )
        if sev == "error":
            body = f"error: upstream timeout status={status} duration={dur_ms}ms"
        attrs = {"status": str(status), "duration_ms": str(dur_ms), "env": rng.choice(["prod", "staging"])}
        if rng.random() < 0.3:
            attrs["region"] = rng.choice(["us-east", "eu-west"])
        tokens = [f"{k}={v}" for k, v in sorted(attrs.items())]
        trace_id = f"{rng.getrandbits(128):032x}" if rng.random() < 0.5 else None
        rows.append(
            (
                ts,
                ts if rng.random() > 0.1 else None,
                trace_id,
                f"{rng.getrandbits(64):016x}" if trace_id else None,
                1 if rng.random() > 0.1 else None,
                sev if rng.random() > 0.1 else None,
                {"debug": 5, "info": 9, "warn": 13, "error": 17}[sev],
                svc,
                body,
                "scope" if rng.random() > 0.5 else None,
                "1.0",
                {"env": attrs["env"]},
                None,
                attrs,
                tokens,
                rng.choice(["default", "jobs", None]),
                *_finish(ts),
            )
        )
    return rows


def gen_traces(n_traces: int = 300, seed: int = 42) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for _ in range(n_traces):
        trace_id = f"{rng.getrandbits(128):032x}"
        n_spans = rng.randint(2, 6)
        t0 = _ts(rng)
        root_span_id = f"{rng.getrandbits(64):016x}"
        for s in range(n_spans):
            span_id = root_span_id if s == 0 else f"{rng.getrandbits(64):016x}"
            is_root = s == 0
            start = t0 + dt.timedelta(milliseconds=rng.uniform(0, 50) * s)
            dur_ns = int(rng.lognormvariate(16, 1.5))
            start_ns = int(start.timestamp() * 1e9)
            status = "Error" if rng.random() < 0.05 else rng.choice(["Ok", "Unspecified"])
            events = (
                [{"name": "exception", "time_unix_nano": start_ns + dur_ns // 2,
                  "attributes": {"exception.type": "Timeout"}}]
                if status == "Error"
                else None
            )
            rows.append(
                (
                    trace_id,
                    span_id,
                    None if is_root else root_span_id,
                    rng.choice(["GET /items", "POST /checkout", "db.query", "cache.get"]),
                    rng.choice(SERVICES),
                    start_ns,
                    start_ns + dur_ns,
                    dur_ns,
                    "SERVER" if is_root else rng.choice(["CLIENT", "INTERNAL"]),
                    status,
                    "upstream timeout" if status == "Error" else None,
                    is_root,
                    {"http.method": rng.choice(["GET", "POST"]),
                     "http.status_code": str(rng.choice([200, 200, 500]))},
                    {"deployment.environment": rng.choice(["prod", "staging"])},
                    events,
                    None,
                    None,
                    "otel" if rng.random() > 0.5 else None,
                    "1.0",
                    None,
                    start,
                    *_finish(start),
                    rng.choice(ENVIRONMENTS),
                )
            )
    return rows


def gen_metrics(n_series_points: int = 360, seed: int = 42):
    """Gauge + monotonic-sum series on a regular 10s cadence with 1-2
    counter resets (FIXTURES §A3)."""
    rng = random.Random(seed)
    gauge, msum, hist = [], [], []
    for svc in SERVICES[:4]:
        counter = 0.0
        reset_at = {rng.randint(50, 150), rng.randint(200, 300)}
        for i in range(n_series_points):
            ts = EPOCH + dt.timedelta(seconds=10 * i)
            common = (
                ts,
                EPOCH,
                svc,
            )
            tail = (
                None,
                None,
                0,
                {"host": f"{svc}-1"},
                None,
                {"env": "prod"},
                None,
                ts.date(),
                ts.hour,
            )
            gauge.append(
                (*common, "process_cpu_usage", *tail, round(rng.uniform(0, 1), 6))
            )
            if i in reset_at:
                counter = 0.0
            counter += rng.uniform(0, 5)
            msum.append(
                (*common, "http_requests_total", *tail, round(counter, 6), 2, True)
            )
            if i % 6 == 0:
                samples = [min(max(rng.lognormvariate(3.5, 1), 0.1), 2000) for _ in range(20)]
                counts = [0.0] * (len(BOUNDS) + 1)
                for v in samples:
                    for bi, b in enumerate(BOUNDS):
                        if v <= b:
                            counts[bi] += 1
                            break
                    else:
                        counts[-1] += 1
                # One exemplar per datapoint in the at-rest JSON shape
                # (sources/otlp._exemplars_json) so the read-back
                # endpoint has rows to pivot to traces.
                ex_nanos = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e9)
                ex_id = rng.getrandbits(63)
                exemplars = (
                    '[{"time_unix_nano": %d, "value": %.6f, '
                    '"trace_id": "%032x", "span_id": "%016x"}]'
                    % (ex_nanos, samples[0], ex_id, ex_id & 0xFFFFFFFFFFFF)
                )
                htail = (*tail[:6], exemplars, *tail[7:])
                hist.append(
                    (
                        *common,
                        "http_request_duration_ms",
                        *htail,
                        len(samples),
                        float(sum(samples)),
                        float(min(samples)),
                        float(max(samples)),
                        counts,
                        list(BOUNDS),
                        2,
                    )
                )
    return gauge, msum, hist


def gen_profiles(n: int = 100, seed: int = 42) -> list[tuple]:
    """CPU profiles with known stack structure (FIXTURES §A5): every
    profile samples stacks rooted at 'main', so flamegraph('main') sums
    to the total sample weight."""
    import json

    rng = random.Random(seed)
    stacks = [
        ["main", "serve", "handler", "db_query"],
        ["main", "serve", "handler", "render"],
        ["main", "serve", "auth"],
        ["main", "gc"],
    ]
    rows = []
    for i in range(n):
        ts = _ts(rng)
        samples = [
            {"stacktrace_idx": rng.randrange(len(stacks)), "value": rng.randint(1, 100)}
            for _ in range(10)
        ]
        rows.append(
            (
                f"{rng.getrandbits(128):032x}",
                ts,
                10_000_000_000,
                "cpu",
                "nanoseconds",
                10_000_000,
                rng.choice(SERVICES[:4]),
                json.dumps(stacks),
                json.dumps(samples),
                {"host": "h1"},
                None,
                f"{rng.getrandbits(128):032x}" if rng.random() < 0.5 else None,
                None,
                *_finish(ts),
            )
        )
    return rows


def write_signal_tables(spark: SparkSession, base: str, tenant: str = "acme", dataset: str = "prod"):
    """Materialize the fixture tables hour-partitioned under
    {base}/{tenant}/{dataset}/{table}/ — the engine's storage layout:
    each table is one manifest commit (batch ``fixture``), as the ingest
    sinks write it."""
    from .catalog import signal_table_path
    from .storage.manifest import write_batch_manifest

    logs = spark.createDataFrame(gen_logs(), LOGS)
    traces = spark.createDataFrame(gen_traces(), TRACES)
    g, s, h = gen_metrics()
    gauge = spark.createDataFrame(g, METRICS_GAUGE)
    msum = spark.createDataFrame(s, METRICS_SUM)
    hist = spark.createDataFrame(h, METRICS_HISTOGRAM)
    profiles = spark.createDataFrame(gen_profiles(), PROFILES)
    for name, df in [
        ("logs", logs),
        ("traces", traces),
        ("metrics_gauge", gauge),
        ("metrics_sum", msum),
        ("metrics_histogram", hist),
        ("profiles", profiles),
    ]:
        write_batch_manifest(
            df.repartition(4), signal_table_path(base, tenant, dataset, name),
            name, batch_id="fixture",
        )
    return {"logs": logs.count(), "traces": traces.count(), "gauge": gauge.count()}
