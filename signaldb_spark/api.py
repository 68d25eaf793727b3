"""Endpoint façade: one method per reference HTTP endpoint.

The reference's router (src/router/src/endpoints/{promql,logql,tempo,
pyroscope}.rs + the Flight SQL path) is HTTP plumbing around exactly
this dispatch: parse params → pick the tenant's tables → lower → shape.
This module is that dispatch with the transport removed — a user of the
reference can drive every query they run today through one object,
getting the same response envelopes the reference emits. Any real HTTP
frontend is a ~20-line handler per route over these methods.

Time parameters accept the same forms the lowerings do (ISO strings or
datetimes); errors come back as the Prometheus-style error envelope
rather than raising, matching router behavior (error_envelope,
endpoints/promql.rs error paths).
"""

from __future__ import annotations

import datetime as dt
import functools
from typing import Any

from pyspark.sql import SparkSession

from .logql.lowering import LowerCtx, query_instant, query_logs, query_metric
from .logql.parser import parse as logql_parse
from .promql.lowering import PromCtx, query_range
from .shapers import (
    error_envelope,
    logs_to_loki_streams,
    matrix_to_instant_vector,
    matrix_to_prom,
    trace_to_tempo,
)
from .tenancy import TenantSession

DEFAULT_LOOKBACK_S = 300


def _minus_seconds(t, secs: float):
    if isinstance(t, str):
        t = dt.datetime.fromisoformat(t)
    return t - dt.timedelta(seconds=secs)


def _epoch_nanos(t) -> int:
    """ISO string / datetime / epoch-seconds number → epoch nanoseconds
    (naive timestamps are UTC, matching the session timezone pin).
    Integer arithmetic throughout: float seconds × 1e9 carries ~400 ns
    of error at 2026 epochs (the same trap shapers.py documents), which
    is enough to corrupt µs-precise cell values and window bounds."""
    import calendar

    if isinstance(t, str):
        t = dt.datetime.fromisoformat(t)
    if isinstance(t, dt.datetime):
        if t.tzinfo is None:
            secs = calendar.timegm(t.timetuple())
        else:
            secs = calendar.timegm(t.utctimetuple())
        return secs * 1_000_000_000 + t.microsecond * 1_000
    if isinstance(t, int):
        return t * 1_000_000_000
    return int(float(t) * 1e9)


def _guarded_route(fn):
    """Route the method through the façade's execution contract (see
    SignalDBAPI._guarded) — applied to every endpoint that evaluates a
    Spark plan over tenant data, INCLUDING the discovery/metadata
    routes: label/series/tag listings are distinct-aggregation scans
    plus a driver collect, exactly the shape the deadline and the
    per-tenant bound exist for. Only pure-driver routes (health, echo,
    schema listings) stay unguarded."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        return self._guarded(lambda: fn(self, *args, **kwargs))

    return wrapper


class SignalDBAPI:
    """Per-(tenant, dataset) query surface — the TenantCatalog-scoped
    router dispatch."""

    def __init__(self, spark: SparkSession, base: str, tenant: str = "acme",
                 dataset: str = "prod", runner=None,
                 query_timeout_s: float | None = None):
        self.spark = spark
        self.tenant = tenant
        self.dataset = dataset
        self.session = TenantSession(spark, base, tenant, dataset)
        # Execution contract (opt-in): pass an execution.FairQueryRunner
        # (typically one shared across all tenants' façades) and every
        # query-evaluating route runs under the tenant's FAIR pool with
        # a server-side-cancellable deadline and bounded concurrency —
        # the querier-execution-model applied at the real endpoints.
        self.runner = runner
        self.query_timeout_s = query_timeout_s

    def _guarded(self, thunk):
        """Chokepoint for the execution contract: with no runner this is
        a plain call (zero-overhead default); with one, the whole route
        evaluation (lowering + action) runs in the tenant's scheduler
        pool under a deadline that cancels the Spark job group on
        expiry, and contract violations come back as ATTRIBUTABLE error
        envelopes (who + budget), not as a hung request or a stranger's
        queue. Violations use the uniform error_envelope shape on EVERY
        surface — including Tempo/Pyroscope routes whose reference
        analogs emit bare (status, message) pairs — per the documented
        façade-wide error contract (shapers.error_envelope)."""
        if self.runner is None:
            return thunk()
        from .execution import QueryDeadlineExceeded, TenantOverConcurrency
        from .ratelimit import RateLimitExceeded

        try:
            return self.runner.run(
                self.tenant, thunk, timeout_s=self.query_timeout_s
            )
        except QueryDeadlineExceeded as e:
            return error_envelope(str(e), "timeout")
        except TenantOverConcurrency as e:
            return error_envelope(str(e), "too_many_requests")
        except RateLimitExceeded as e:
            # router query_rate_layer: HTTP 429 with the limiter's reason
            # (src/router/src/lib.rs:131-135)
            return error_envelope(str(e), "too_many_requests")

    def _prom_ctx(self, start, end, step_seconds: int) -> PromCtx:
        t = self.session.table
        return PromCtx(
            self.spark, t("metrics_gauge"), t("metrics_sum"),
            t("metrics_histogram"), start, end, step_seconds,
            tenant=self.tenant, dataset=self.dataset,
            exphist=t("metrics_exponential_histogram"),
        )

    def _logs_ctx(self, start, end, step_seconds: int = 60) -> LowerCtx | None:
        logs = self.session.table("logs")
        if logs is None:
            return None
        return LowerCtx(self.spark, logs, start, end, step_seconds,
                        tenant=self.tenant, dataset=self.dataset)

    # ------------------------------------------------- Prometheus surface
    # GET/POST /prometheus/api/v1/query_range (endpoints/promql.rs)

    @_guarded_route
    def prom_query_range(self, query: str, start, end, step_seconds: int) -> dict:
        try:
            return matrix_to_prom(
                query_range(self._prom_ctx(start, end, step_seconds), query)
            )
        except Exception as e:  # router behavior: envelope, not a 500
            return error_envelope(str(e))

    # GET/POST /prometheus/api/v1/query — instant: evaluate one lookback
    # window ending at `time`, reduce to the latest sample per series

    @_guarded_route
    def prom_query(self, query: str, time, lookback_s: int = DEFAULT_LOOKBACK_S) -> dict:
        try:
            ctx = self._prom_ctx(_minus_seconds(time, lookback_s), time, lookback_s)
            return matrix_to_instant_vector(query_range(ctx, query))
        except Exception as e:
            return error_envelope(str(e))

    # /prometheus/api/v1/labels, /label/<x>/values, /series, /metadata

    @_guarded_route
    def prom_labels(self, start, end) -> dict:
        from .promql.discovery import prom_labels

        ctx = self._prom_ctx(start, end, DEFAULT_LOOKBACK_S)
        return {"status": "success",
                "data": [r[0] for r in prom_labels(ctx).collect()]}

    @_guarded_route
    def prom_label_values(self, label: str, start, end) -> dict:
        from .promql.discovery import prom_label_values

        ctx = self._prom_ctx(start, end, DEFAULT_LOOKBACK_S)
        return {"status": "success",
                "data": [r[0] for r in prom_label_values(ctx, label).collect()]}

    @_guarded_route
    def prom_series(self, selector: str, start, end) -> dict:
        from .promql.discovery import prom_series

        ctx = self._prom_ctx(start, end, DEFAULT_LOOKBACK_S)
        return {"status": "success",
                "data": [r.asDict() for r in prom_series(ctx, selector).collect()]}

    # GET /prometheus/api/v1/query_exemplars (endpoints/promql.rs — the
    # reference stores exemplars but exposes no read-back endpoint; this
    # is the metrics→traces pivot Prometheus ships)

    @_guarded_route
    def prom_query_exemplars(self, start, end, query: str | None = None) -> dict:
        from pyspark.sql import functions as F

        from .promql.ast import VectorSelector
        from .promql.lowering import matcher_expr, query_exemplars

        hist = self.session.table("metrics_histogram")
        if hist is None:
            return error_envelope("no histogram table for tenant", "not_found")
        try:
            if query is not None:
                from .promql.parser import parse as promql_parse

                sel = promql_parse(query)
                if not isinstance(sel, VectorSelector):
                    return error_envelope(
                        "query_exemplars takes a series selector", "bad_data"
                    )
                if sel.metric:
                    hist = hist.filter(F.col("metric_name") == sel.metric)
                for m in sel.matchers:
                    hist = hist.filter(matcher_expr(hist, m))
            # Prometheus contract: only exemplars inside [start, end].
            lo, hi = _epoch_nanos(start), _epoch_nanos(end)
            ex = query_exemplars(hist).filter(
                F.col("time_unix_nano").between(lo, hi)
            )
            by_series: dict[tuple, list] = {}
            for r in ex.collect():
                d = r.asDict()
                key = (d["metric_name"], d["service_name"])
                by_series.setdefault(key, []).append({
                    "labels": {"traceID": d["trace_id"], "spanID": d["span_id"]},
                    "value": str(d["value"]),
                    "timestamp": d["time_unix_nano"] / 1e9,
                })
            data = [
                {"seriesLabels": {"__name__": m, "service_name": s},
                 "exemplars": sorted(ex, key=lambda e: e["timestamp"])}
                for (m, s), ex in sorted(by_series.items())
            ]
            return {"status": "success", "data": data}
        except Exception as e:
            return error_envelope(str(e))

    # GET /prometheus/api/v1/status/tsdb — series-cardinality analysis

    @_guarded_route
    def prom_status_tsdb(self, start, end, top_n: int = 10) -> dict:
        from .promql.discovery import tsdb_status

        ctx = self._prom_ctx(start, end, DEFAULT_LOOKBACK_S)
        rows = tsdb_status(ctx, top_n).collect()
        return {"status": "success", "data": {
            "seriesCountByMetricName": [
                {"name": r["metric"], "value": r["series_count"]} for r in rows
            ],
        }}

    # GET /prometheus/api/v1/label_stats (promql.rs:275-311)

    @_guarded_route
    def prom_label_stats(self, table: str = "logs", exact: bool = True) -> dict:
        from .maintenance.jobs import attribute_stats

        df = self.session.table(table)
        if df is None:
            return error_envelope(f"no {table} table for tenant", "not_found")
        # per-signal attribute homes: logs → log_attributes, traces →
        # span_attributes, metrics → attributes; falling back blindly to
        # 'attributes' made the route unanswerable for traces
        attr_col = next(
            (c for c in ("log_attributes", "span_attributes", "attributes")
             if c in df.columns),
            None,
        )
        if attr_col is None:
            return error_envelope(
                f"{table} has no attribute map column", "bad_data")
        # the response field name keeps the operator's exact-vs-approx
        # distinction — an HLL estimate must not masquerade as exact
        card = "cardinality" if exact else "approx_cardinality"
        rows = attribute_stats(df, attr_col=attr_col, exact=exact).collect()
        return {"status": "success", "data": sorted(
            ({"key": r["key"], "presence": r["presence"],
              card: r[card],
              "presence_ratio": r["presence_ratio"]} for r in rows),
            key=lambda d: d["key"],
        )}

    @_guarded_route
    def prom_metadata(self) -> dict:
        from .promql.discovery import metric_metadata

        tables = {
            n: self.session.table(n)
            for n in ("metrics_gauge", "metrics_sum", "metrics_histogram",
                      "metrics_exponential_histogram", "metrics_summary")
        }
        out: dict[str, list] = {}
        for r in metric_metadata(self.spark, tables).collect():
            out.setdefault(r["metric"], []).append({"type": r["type"], "help": "", "unit": ""})
        return {"status": "success", "data": out}

    # ------------------------------------------------------- Loki surface
    # GET /loki/api/v1/query_range (endpoints/logql.rs): log selectors
    # return streams, metric queries return a matrix

    @_guarded_route
    def loki_query_range(self, query: str, start, end, step_seconds: int = 60,
                         limit: int = 100, direction: str = "backward") -> dict:
        from .logql.ast import LogSelector
        from .tenancy import MAX_LOG_ENTRIES

        # clamp BEFORE both the tail-topk fast path and the ordinary
        # scan: Loki's max_entries_limit_per_query, and the guard
        # against takeOrdered's O(limit) per-task allocation
        limit = min(limit, MAX_LOG_ENTRIES)
        ctx = self._logs_ctx(start, end, step_seconds)
        if ctx is None:
            return error_envelope("no logs table for tenant")
        try:
            parsed = logql_parse(query)
            if isinstance(parsed, LogSelector):
                if direction == "backward":
                    fast = self._tail_topk(parsed, start, end, step_seconds, limit)
                    if fast is not None:
                        return logs_to_loki_streams(fast, direction=direction)
                rows = query_logs(ctx, parsed, limit=limit, direction=direction)
                return logs_to_loki_streams(rows, direction=direction)
            return matrix_to_prom(query_metric(ctx, query))
        except Exception as e:
            return error_envelope(str(e))

    def _tail_topk(self, sel, start, end, step_seconds, limit):
        """Statistics-ordered TopK fast path for backward log tails —
        the declared-sort-orders analog (reference: openspec/changes/
        declared-sort-orders): a manifest-backed logs table reads its
        newest files first and stops as soon as the limit is provably
        satisfied, instead of scanning the window (at 100 TB a tail
        reads the newest hour, not the whole day). Returns None when
        the fast path does not apply (non-manifest table, or unflushed
        hot batches whose rows the manifest cannot see) — callers fall
        back to the ordinary scan, so this is only ever an
        optimization, never a semantics change. Selector predicates and
        output stages apply per wave; the early-stop counts SURVIVING
        rows (read_recent_topk's transform contract)."""
        from .catalog import signal_table_path
        from .storage.hot import covering_snapshot

        if limit <= 0:
            # read_recent_topk's early-stop boundary probe indexes
            # rows[-1]; n=0 would IndexError — the slow path answers
            # the (empty) result correctly
            return None
        if any(s.name == "distinct" for s in sel.stages):
            # distinct keeps the EARLIEST row per combination — a
            # cross-row stage a partial newest-first file set answers
            # wrongly; it violates read_recent_topk's transform contract
            return None
        path = signal_table_path(
            self.session.base, self.tenant, self.dataset, "logs"
        )
        snap = covering_snapshot(path)
        if snap is None:
            return None
        mt, m = snap
        cold = mt.read(self.spark, manifest=m)  # for its columns
        if cold is None:
            return None
        from .logql.lowering import _apply_output_stages, apply_selector
        from .maintenance import attr_demand

        attr_demand.record_logql_query(
            sel, self.tenant, self.dataset, cold.columns
        )

        def transform(df):
            wave_ctx = LowerCtx(
                self.spark, df, start, end, step_seconds,
                tenant=self.tenant, dataset=self.dataset,
            )
            return _apply_output_stages(apply_selector(wave_ctx, sel), sel)

        top, _files = mt.read_recent_topk(
            self.spark, "timestamp", limit, transform=transform,
            tiebreak_col="trace_id", manifest=m,
        )
        return top

    # GET /loki/api/v1/query — instant metric query

    @_guarded_route
    def loki_query(self, query: str, time, lookback_s: int = DEFAULT_LOOKBACK_S) -> dict:
        try:
            # inside the try: a malformed ISO string (or a numeric epoch
            # minus timedelta TypeError) must envelope like every other
            # bad input, not raise to the transport
            ctx = self._logs_ctx(_minus_seconds(time, lookback_s), time, lookback_s)
            if ctx is None:
                return error_envelope("no logs table for tenant")
            return matrix_to_instant_vector(query_instant(ctx, query))
        except Exception as e:
            return error_envelope(str(e))

    # /loki/api/v1/labels, /label/<x>/values, /series, /index/volume

    @_guarded_route
    def loki_labels(self) -> dict:
        from .maintenance.jobs import detected_labels

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        return {"status": "success",
                "data": [r[0] for r in detected_labels(logs).collect()]}

    @_guarded_route
    def loki_label_values(self, label: str) -> dict:
        from .maintenance.jobs import label_values

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        return {"status": "success",
                "data": [r[0] for r in label_values(logs, label).collect()]}

    @_guarded_route
    def loki_series(self) -> dict:
        from .maintenance.jobs import log_series

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        return {"status": "success",
                "data": [
                    {k: v for k, v in r.asDict().items() if v is not None}
                    for r in log_series(logs).collect()
                ]}

    # GET /loki/api/v1/index/volume — per-stream ingested bytes over the
    # window (Loki volume API; beyond the reference's endpoint set)

    @_guarded_route
    def loki_index_volume(self, start=None, end=None) -> dict:
        from .logql.lowering import index_volume

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        vols = sorted(
            index_volume(logs, start, end).collect(),
            key=lambda r: (-r["volume_bytes"], r["service_name"]),
        )
        return {"status": "success", "data": {
            "resultType": "vector",
            "result": [
                {"metric": {"service_name": r["service_name"]},
                 "value": str(r["volume_bytes"])}
                for r in vols
            ],
        }}

    # GET /loki/api/v1/index/volume_range — per-stream volume SERIES

    @_guarded_route
    def loki_index_volume_range(self, start, end, step_seconds: int = 3600) -> dict:
        from .logql.lowering import index_volume_range

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        rows = index_volume_range(logs, step_seconds, start, end).collect()
        by_stream: dict[str, list] = {}
        for r in rows:
            by_stream.setdefault(r["service_name"], []).append(
                [r["bucket"], str(r["volume_bytes"])]
            )
        return {"status": "success", "data": {
            "resultType": "matrix",
            "result": [
                {"metric": {"service_name": s}, "values": vals}
                for s, vals in sorted(by_stream.items())
            ],
        }}

    # GET /loki/api/v1/patterns — Drain-style log template mining
    # (Loki 3.x pattern detection; beyond the reference's endpoint set)

    @_guarded_route
    def loki_patterns(self, start=None, end=None, k: int = 100) -> dict:
        from pyspark.sql import functions as F

        from .logql.lowering import log_patterns

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        from .operators.timeseries import time_window

        logs = time_window(logs, "timestamp", start, end)
        rows = log_patterns(logs, k=k).collect()
        return {"status": "success", "data": [
            {"pattern": r["template"], "count": r["count"],
             "example": r["example"]}
            for r in rows
        ]}

    # GET /loki/api/v1/detected_fields — per-attribute sniffed type +
    # cardinality (logs.rs:483-577 envelope)

    @_guarded_route
    def loki_detected_fields(self, start=None, end=None) -> dict:
        from pyspark.sql import functions as F

        from .maintenance.jobs import detect_field_types

        logs = self.session.table("logs")
        if logs is None:
            return error_envelope("no logs table for tenant", "not_found")
        from .operators.timeseries import time_window

        logs = time_window(logs, "timestamp", start, end)
        kv = logs.select(F.explode("log_attributes").alias("field", "v"))
        rows = detect_field_types(kv).orderBy("field").collect()
        return {"fields": [
            {"label": r["field"], "type": r["dtype"],
             "cardinality": r["cardinality"]}
            for r in rows
        ]}

    # GET /loki/api/v1/tail — live tail (reference's #380, unimplemented
    # there); returns the UNSTARTED streaming DataFrame so the transport
    # layer picks the sink (websocket push, memory for tests)

    def loki_tail(self, source_dir: str, query: str = '{service_name=~".+"}'):
        from .streaming.ingest import tail_logs

        return tail_logs(self.spark, source_dir, query)

    # ------------------------------------------------------ Tempo surface
    # GET /tempo/api/traces/<id> (endpoints/tempo.rs)

    @_guarded_route
    def tempo_trace(self, trace_id: str, start=None, end=None) -> dict:
        from .traceql.trace_ops import assemble_hierarchy, find_by_id

        traces = self._manifest_point_scan("traces", "trace_id", trace_id,
                                           start, end)
        if traces is None:
            traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        spans = find_by_id(traces, trace_id, start, end)
        rows = assemble_hierarchy(spans).collect()
        if not rows:
            return error_envelope(f"trace {trace_id} not found", "not_found")
        return trace_to_tempo(rows[0])

    def _manifest_point_scan(self, table: str, col: str, value: str,
                             start=None, end=None):
        """Manifest point-lookup fast path for ``col = value`` routes
        (trace-by-id, profiles-by-trace): plan only the files whose
        bucket/stats/bloom evidence says they might hold this key
        (ManifestTable.pruned_files_point) instead of the whole time
        window — at 100 TB the difference between opening every file's
        footer and touching the 1-2 real candidates. Returns None when
        it doesn't apply (non-manifest table, or unflushed hot batches
        the manifest can't see) — callers fall back to the ordinary
        scan; the route still applies the row-level equality, so this
        is only ever an optimization."""
        import os as _os

        from .catalog import signal_table_path
        from .storage.hot import covering_snapshot

        snap = covering_snapshot(signal_table_path(
            self.session.base, self.tenant, self.dataset, table
        ))
        if snap is None:
            return None
        mt, m = snap
        between = None
        if start is not None and end is not None:
            between = ("timestamp", start, end)
        fs, _pruned = mt.pruned_files_point(
            col, value, between=between, manifest=m
        )
        if not fs:
            # definite miss: answer through one EMPTY in-schema scan
            # (limit 0 over any committed file) so the route returns
            # its ordinary not_found envelope without data I/O
            if not m["files"]:
                return None
            return mt.scan(
                self.spark, m, [_os.path.join(mt.data_dir, m["files"][0])]
            ).limit(0)
        return mt.query_scan(self.spark, m, fs)

    # GET /tempo/api/search — q (TraceQL) or tags (logfmt), newest-N

    @_guarded_route
    def tempo_search(self, q: str | None = None, tags: str | None = None,
                     limit: int = 20, spss: int | None = None,
                     start=None, end=None) -> dict:
        from .traceql.parser import parse_tags
        from .traceql.trace_ops import search, search_traceql

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        try:
            if q is not None:
                rows = search_traceql(traces, q, tenant=self.tenant,
                                      dataset=self.dataset, limit=limit,
                                      spans_per_trace=spss, start=start, end=end)
            else:
                rows = search(traces, parse_tags(tags or ""), limit=limit,
                              spans_per_trace=spss, start=start, end=end)
            # collect INSIDE the try: DataFrames are lazy, so runtime
            # errors (corrupt file, executor-side failure) surface here,
            # not at plan construction — they must envelope too
            collected = [row.asDict() for row in rows.collect()]
        except Exception as e:
            return error_envelope(str(e))
        by_trace: dict[str, list] = {}
        for r in collected:
            by_trace.setdefault(r["trace_id"], []).append(r)
        out = []
        for tid, spans in sorted(
            by_trace.items(),
            key=lambda kv: -max(s["start_time_unix_nano"] for s in kv[1]),
        ):
            root = next((s for s in spans if s.get("is_root")), spans[0])
            out.append({
                "traceID": tid,
                "rootServiceName": root["service_name"],
                "rootTraceName": root["span_name"],
                "startTimeUnixNano": str(min(s["start_time_unix_nano"] for s in spans)),
                "spanSet": {"spans": [
                    {"spanID": s["span_id"],
                     "startTimeUnixNano": str(s["start_time_unix_nano"]),
                     "durationNanos": str(s["duration_nanos"])}
                    for s in spans
                ]},
            })
        return {"traces": out}

    # GET /tempo/api/metrics/query — instant TraceQL metrics
    # (the reference answers 501, tempo.rs:1284-1290)

    @_guarded_route
    def tempo_metrics_query(self, q: str, start, end) -> dict:
        """The instant form: one value per series over [start, end] —
        rate() = matching spans / window seconds, quantile = the exact
        interpolated quantile over every matching span."""
        from .traceql.trace_ops import metrics_query_instant

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        try:
            from .operators.timeseries import time_window

            # Boundary convention: the span window is INCLUSIVE
            # [start, end] while the rate denominator is the range
            # length end-start — the same asymmetry Prometheus rate()
            # has (boundary samples count, duration divides), so a span
            # timestamped exactly at `end` is in scope by design.
            window_s = (_epoch_nanos(end) - _epoch_nanos(start)) / 1e9
            if window_s <= 0:
                return error_envelope(
                    "instant metrics need end > start", "bad_request"
                )
            spans = time_window(traces, "timestamp", start, end)
            out = metrics_query_instant(spans, q, window_s)
        except Exception as e:
            return error_envelope(str(e))
        series_cols = [c for c in out.columns if c != "value"]
        rows = sorted(
            (r.asDict() for r in out.collect()),
            key=lambda r: [(c, r[c] is None, str(r[c])) for c in series_cols],
        )
        ts_ms = _epoch_nanos(end) // 1_000_000
        return {"series": [
            {
                "labels": [{"key": c, "value": str(r[c])}
                           for c in series_cols],
                "samples": [{
                    "timestampMs": ts_ms,
                    "value": float(r["value"])
                    if r["value"] is not None else None,
                }],
            }
            for r in rows
        ]}

    # GET /tempo/api/metrics/query_range — TraceQL metrics
    # (the reference answers 501 here, tempo.rs:1284-1304)

    @_guarded_route
    def tempo_metrics_query_range(self, q: str, start, end,
                                  step_seconds: int = 60) -> dict:
        from pyspark.sql import functions as F

        from .traceql.trace_ops import metrics_query

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        try:
            from .operators.timeseries import time_window

            # the shared window helper, like every other windowed route:
            # a raw between() with a None bound becomes a NULL predicate
            # that silently drops every row instead of opening that side
            spans = time_window(traces, "timestamp", start, end)
            out = metrics_query(spans, q, step_seconds)
        except Exception as e:
            return error_envelope(str(e))
        # histogram_over_time emits `count` per (bucket, le); rate and
        # quantile emit `value`
        val_col = "value" if "value" in out.columns else "count"
        series_cols = [c for c in out.columns if c not in ("bucket", val_col)]
        by_series: dict[tuple, list] = {}
        for r in (row.asDict() for row in out.collect()):
            key = tuple((c, r[c]) for c in series_cols)
            by_series.setdefault(key, []).append(r)
        return {"series": [
            {
                "labels": [{"key": k, "value": str(v)} for k, v in key],
                "samples": [
                    {"timestampMs": int(r["bucket"]) * 1000,
                     "value": float(r[val_col]) if r[val_col] is not None else None}
                    for r in sorted(rows, key=lambda r: r["bucket"])
                ],
            }
            # None-safe ordering: a by() over a nullable column yields a
            # None-labeled series, which plain tuple sort would TypeError
            for key, rows in sorted(
                by_series.items(),
                key=lambda kv: [(k, v is None, str(v)) for k, v in kv[0]],
            )
        ]}

    # /tempo/api/search/tags (+v2), /tag/<k>/values

    @_guarded_route
    def tempo_tags(self, scope: str = "unscoped") -> dict:
        from .traceql.trace_ops import tag_names

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        return {"tagNames": [r[0] for r in tag_names(traces, scope).collect()]}

    @_guarded_route
    def tempo_tags_v2(self) -> dict:
        from .traceql.trace_ops import tag_names_v2

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        scopes: dict[str, list] = {}
        for r in tag_names_v2(traces).collect():
            scopes.setdefault(r["scope"], []).append(r["name"])
        return {"scopes": [{"name": k, "tags": v} for k, v in sorted(scopes.items())]}

    @_guarded_route
    def tempo_tag_values(self, key: str, scope: str = "unscoped") -> dict:
        from .traceql.trace_ops import tag_values

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        return {"tagValues": [r[0] for r in tag_values(traces, scope, key).collect()]}

    # GET /tempo/api/v2/search/tag/<scoped>/values — same values in the
    # v2 {tagValues: [{tag, value}]} shape, scoped-tag path + optional
    # time bounds (tempo.rs search_tag_values_v2)

    @_guarded_route
    def tempo_tag_values_v2(self, scoped_tag: str, start=None, end=None) -> dict:
        from pyspark.sql import functions as F

        from .traceql.trace_ops import tag_values

        traces = self.session.table("traces")
        if traces is None:
            return error_envelope("no traces table for tenant", "not_found")
        from .operators.timeseries import time_window

        traces = time_window(traces, "timestamp", start, end)
        scope, key = "unscoped", scoped_tag
        for s in ("span", "resource"):
            if scoped_tag.startswith(s + "."):
                scope, key = s, scoped_tag[len(s) + 1:]
                break
        return {"tagValues": [
            {"tag": scoped_tag, "value": r[0]}
            for r in tag_values(traces, scope, key).collect()
        ]}

    # -------------------------------------------------- Pyroscope surface
    # GET /pyroscope/render — merged (optionally truncated) flamegraph

    @_guarded_route
    def pyroscope_render(self, max_nodes: int | None = None) -> dict:
        from .operators.profiles import flamegraph_self, flamegraph_truncate

        profiles = self.session.table("profiles")
        if profiles is None:
            return error_envelope("no profiles table for tenant", "not_found")
        fg = flamegraph_self(profiles)
        if max_nodes is not None:
            fg = flamegraph_truncate(fg, max_nodes)
        rows = sorted(
            (r.asDict() for r in fg.collect()),
            key=lambda r: (r["depth"], r["path"]),
        )
        return {"flamegraph": rows}

    # GET /pyroscope/render-diff — differential flamegraph between two
    # windows (endpoints/pyroscope.rs /render-diff)

    @_guarded_route
    def pyroscope_render_diff(self, base_start, base_end, comp_start,
                              comp_end) -> dict:
        from .operators.profiles import flamegraph_diff

        profiles = self.session.table("profiles")
        if profiles is None:
            return error_envelope("no profiles table for tenant", "not_found")
        rows = sorted(
            (r.asDict() for r in flamegraph_diff(
                profiles, base_start, base_end, comp_start, comp_end
            ).collect()),
            key=lambda r: (r["depth"], r["path"]),
        )
        return {"flamegraphDiff": rows}

    # GET /pyroscope/trace/{trace_id} — profiles linked to a trace
    # (endpoints/pyroscope.rs:45,554 profiles_by_trace →
    # tempo_api::ProfileSummary, lib.rs:171-186)

    @_guarded_route
    def pyroscope_profiles_by_trace(self, trace_id: str,
                                    span_id: str | None = None) -> dict:
        """Profile↔trace pivot: the ProfileSummary list for one trace
        (optionally narrowed to a span) — profileID, ns-string
        timestamp/duration, sample type/unit, service, spanID. Ordered
        (timeUnixNano, profileID) for a deterministic envelope."""
        from pyspark.sql import functions as F

        from .operators.profiles import find_by_trace

        profiles = self._manifest_point_scan("profiles", "trace_id", trace_id)
        if profiles is None:
            profiles = self.session.table("profiles")
        if profiles is None:
            return error_envelope("no profiles table for tenant", "not_found")
        hits = find_by_trace(profiles, trace_id, span_id).select(
            "profile_id",
            (F.unix_micros("timestamp") * 1000).alias("_ts_ns"),
            "duration_nano", "sample_type_type", "sample_type_unit",
            "service_name", "span_id",
        )
        rows = sorted(
            (r.asDict() for r in hits.collect()),
            # NULL-timestamp profiles sort first as 0 (None vs int would
            # TypeError the whole route) and serialize as "0", mirroring
            # the durationNano null handling below
            key=lambda r: (r["_ts_ns"] or 0, r["profile_id"]),
        )
        return {"profiles": [
            {
                "profileID": r["profile_id"],
                "timeUnixNano": str(r["_ts_ns"] or 0),
                "durationNano": str(r["duration_nano"])
                if r["duration_nano"] is not None else "0",
                "sampleType": r["sample_type_type"] or "",
                "sampleUnit": r["sample_type_unit"] or "",
                "serviceName": r["service_name"],
                **({"spanID": r["span_id"]} if r["span_id"] else {}),
            }
            for r in rows
        ]}

    # GET /pyroscope/profile-types, /label-names, /label-values
    # (endpoints/pyroscope.rs → profile.rs:234-380)

    def _profiles_discovery(self):
        """Adapt the at-rest PROFILES schema (sample_type_type/
        sample_type_unit/attributes) to the discovery operators'
        surface (sample_type/sample_unit/profile_attributes)."""
        from pyspark.sql import functions as F

        profiles = self.session.table("profiles")
        if profiles is None:
            return None
        return profiles.select(
            F.col("sample_type_type").alias("sample_type"),
            F.col("sample_type_unit").alias("sample_unit"),
            "service_name",
            F.col("attributes").alias("profile_attributes"),
        )

    @_guarded_route
    def pyroscope_profile_types(self) -> dict:
        from .operators.profiles import profile_types

        view = self._profiles_discovery()
        if view is None:
            return error_envelope("no profiles table for tenant", "not_found")
        return {"profileTypes": [r[0] for r in profile_types(view).collect()]}

    @_guarded_route
    def pyroscope_label_names(self) -> dict:
        from .operators.profiles import profile_label_names

        view = self._profiles_discovery()
        if view is None:
            return error_envelope("no profiles table for tenant", "not_found")
        return {"names": [r[0] for r in profile_label_names(view).collect()]}

    @_guarded_route
    def pyroscope_label_values(self, label: str) -> dict:
        from .operators.profiles import profile_label_values

        view = self._profiles_discovery()
        if view is None:
            return error_envelope("no profiles table for tenant", "not_found")
        try:
            return {"names": [
                r[0] for r in profile_label_values(view, label).collect()
            ]}
        except Exception as e:
            return error_envelope(str(e))

    # ------------------------------------------------------- IR + raw SQL

    @_guarded_route
    def ir_query(self, doc: dict) -> dict:
        from .ir import lower, validate

        try:
            plan = validate(doc)
            table = self.session.table(doc.get("from", "logs"))
            if table is None:
                return error_envelope(
                    f"no {doc.get('from')} table for tenant", "not_found"
                )
            rows = [r.asDict() for r in lower(table, plan).collect()]
            return {"status": "success", "data": rows}
        except Exception as e:
            return error_envelope(str(e))

    @_guarded_route
    def sql(self, query: str) -> dict:
        try:
            return {"status": "success",
                    "data": [r.asDict() for r in self.session.sql(query).collect()]}
        except Exception as e:
            return error_envelope(str(e))

    # ------------------------------------------------------- query IR
    # POST /api/v1/query (endpoints/query.rs:144) — the typed IR endpoint

    # exact simpleString names (query.rs:301-323 column_meta): prefix
    # matching is a trap here — Spark renders LongType as 'bigint' (not
    # 'long') and 'interval day to second' starts with 'int'
    _IR_VALUE_TYPES = {
        "boolean": "bool", "tinyint": "int64", "smallint": "int64",
        "int": "int64", "bigint": "int64", "float": "float64",
        "double": "float64", "timestamp": "timestamp_ns",
        "timestamp_ntz": "timestamp_ns", "binary": "bytes",
    }

    @classmethod
    def _ir_value_type(cls, spark_type: str) -> str:
        return cls._IR_VALUE_TYPES.get(spark_type, "string")

    @staticmethod
    def _resolve_anchor(s, now_ns: int) -> int:
        """A range bound → epoch nanoseconds: 'now' / 'now-<dur>'
        relative anchors resolve against the ONE server-stamped clock
        (query.rs:152-155 — every stage of the plan sees the same
        absolute window), everything else parses as ISO or epoch
        seconds."""
        import re

        if isinstance(s, str) and s.strip().startswith("now"):
            rest = s.strip()[3:].replace(" ", "")
            if not rest:
                return now_ns
            m = re.fullmatch(r"-((?:\d+(?:\.\d+)?[smhdw])+)", rest)
            if not m:
                raise ValueError(f"invalid time bound: {s}")
            unit_ns = {"s": 10**9, "m": 60 * 10**9, "h": 3600 * 10**9,
                       "d": 86400 * 10**9, "w": 7 * 86400 * 10**9}
            total = 0
            for num, unit in re.findall(r"(\d+(?:\.\d+)?)([smhdw])", rest):
                total += int(float(num) * unit_ns[unit])
            return now_ns - total
        return _epoch_nanos(s)

    @_guarded_route
    def query_ir(self, req: dict, now=None) -> dict:
        """POST /query: the request IS the IR document plus ``range``
        and ``result``. The validation wall runs first (ir.model), the
        window filter is applied BEFORE the lowered plan so partition
        pruning engages, and the output shapes into the reference's
        rows/table or series envelope (query.rs:266-297: result=series
        reads column 0 as the time axis, the last column as the value,
        everything between as grouping labels)."""
        from pyspark.sql import functions as F

        from .ir.model import IRValidationError, validate
        from .ir.planner import lower

        result = req.get("result", "rows")
        if result not in ("rows", "table", "series"):
            return error_envelope(
                f"unsupported result envelope '{result}'", "bad_data")
        try:
            now_ns = _epoch_nanos(now) if now is not None else _epoch_nanos(
                dt.datetime.now(dt.timezone.utc))
            rng = req.get("range") or {}
            start_ns = self._resolve_anchor(rng["from"], now_ns)
            end_ns = self._resolve_anchor(rng["to"], now_ns)
        except (KeyError, ValueError) as e:
            return error_envelope(f"invalid range: {e}", "bad_data")
        try:
            q = validate(req)
        except IRValidationError as e:
            return error_envelope(str(e), "bad_data")
        from .ir.metrics import METRIC_TABLES

        # metric-native sub-model (query-metrics-model proposal): the
        # metric type routes to its typed at-rest table and the metric
        # lowering owns the pipeline. Source, binop and correlate tables
        # resolve once per name, so two sides over one table read one
        # snapshot.
        names = [
            METRIC_TABLES[q.metric.metric_type] if q.source == "metrics"
            else q.source,
            METRIC_TABLES[q.binop.rhs.metric_type]
            if q.binop is not None else None,
            q.correlate.with_table if q.correlate is not None else None,
        ]
        tables = {n: self.session.table(n) for n in names if n is not None}
        for n in names:
            if n is not None and tables[n] is None:
                return error_envelope(f"no {n} table for tenant", "not_found")

        # timestamp-literal comparison (not a cast on the column) so the
        # window predicate pushes down to the scan; the SAME window
        # applies to the binop and correlate sides (query.rs:152: every
        # stage of the plan sees one absolute window — and an unwindowed
        # build side would read every file ever committed at scale)
        def window(t):
            return t.filter(
                F.col("timestamp").between(
                    F.timestamp_micros(F.lit(start_ns // 1000)),
                    F.timestamp_micros(F.lit(end_ns // 1000)),
                )
            ) if "timestamp" in t.columns else t

        df, rhs_df, correlate_df = (
            window(tables[n]) if n is not None else None for n in names
        )
        try:
            if q.source == "metrics":
                from .ir.metrics import lower_metrics
                out = lower_metrics(df, q, rhs_df=rhs_df)
            else:
                out = lower(df, q, correlate_df=correlate_df)
            rows = out.collect()
        except Exception as e:
            return error_envelope(str(e))
        window = {"start_ns": start_ns, "end_ns": end_ns}
        cols = [
            {"name": f.name,
             "value_type": self._ir_value_type(f.dataType.simpleString())}
            for f in out.schema.fields
        ]

        def cell(v, value_type):
            if v is None:
                return None
            if value_type == "timestamp_ns":
                return _epoch_nanos(v)
            if value_type == "bytes":
                import base64

                return base64.b64encode(bytes(v)).decode()
            if value_type in ("int64", "float64", "bool"):
                return v
            return str(v)

        if result in ("rows", "table"):
            return {"result": result, "window": window, "columns": cols,
                    "rows": [
                        [cell(v, c["value_type"]) for v, c in zip(r, cols)]
                        for r in rows
                    ],
                    "series": [], "step_ns": None}
        if len(cols) < 2:
            return error_envelope(
                "series envelope needs a time axis and a value column", "bad_data")
        series_order, series = [], {}
        for r in rows:
            labels = {
                cols[i]["name"]: (str(r[i]) if r[i] is not None else "null")
                for i in range(1, len(cols) - 1)
            }
            key = ",".join(f"{k}={v}" for k, v in sorted(labels.items()))
            if key not in series:
                series_order.append(key)
                series[key] = {"labels": labels, "points": []}
            series[key]["points"].append(
                [cell(r[0], cols[0]["value_type"]), cell(r[-1], cols[-1]["value_type"])]
            )
        for s in series.values():
            s["points"].sort(key=lambda p: (p[0] is None, p[0]))
        agg = req.get("aggregate") or {}
        step_ns = (int(agg["step_seconds"]) * 10**9
                   if agg.get("step_seconds") else None)
        return {"result": "series", "window": window, "columns": [],
                "rows": [], "series": [series[k] for k in series_order],
                "step_ns": step_ns}

    @_guarded_route
    def query_describe(self, req: dict, attr_registry=None, now=None) -> dict:
        """POST /describe — the unified field-discovery surface
        (query-field-discovery proposal): one tenant-scoped
        introspection endpoint replacing the scattered dialect metadata
        routes, over the SAME logical namespace as the IR, answering in
        the proposal's `metadata` result envelope.

        ``req["describe"]`` selects the mode:

        - ``"sources"`` — available signal sources (catalog lookup, no
          scan);
        - ``"fields"`` — queryable fields for ``req["from"]``:
          materialized columns typed from the schema plus attribute
          keys detected from a bounded sample, canonical types from the
          attribute type authority when one is passed;
        - ``"values"`` — value suggestions for ``req["field"]`` within
          ``req["range"]`` (defaults to the trailing 24 h — values
          scans are always time-bounded), scoped by the IR predicates
          chosen so far (``req["where"]``), capped (``req["limit"]``,
          default 100, must be positive);
        - ``"cardinality"`` — approx-distinct hints for
          ``req["fields"]`` over a bounded sample.
        """
        from .ir.discovery import (
            DEFAULT_VALUE_LIMIT,
            describe_fields,
            describe_sources,
            field_cardinality_hints,
            suggest_values,
        )
        from .ir.model import IRValidationError, _validate_pred

        mode = req.get("describe")
        if mode == "sources":
            return {"status": "success",
                    "data": {"resultType": "metadata",
                             "result": describe_sources(self.session)}}
        source = req.get("from")
        df = self.session.table(source) if source else None
        if df is None:
            return error_envelope(
                f"no {source!r} table for tenant", "not_found")
        if mode == "fields":
            try:
                result = describe_fields(df, attr_registry)
            except Exception as e:  # router behavior: envelope, not a 500
                return error_envelope(str(e))
            return {"status": "success",
                    "data": {"resultType": "metadata", "result": result}}
        if mode == "cardinality":
            fields = req.get("fields") or []
            if not fields:
                return error_envelope("cardinality needs 'fields'", "bad_data")
            try:
                result = field_cardinality_hints(df, fields)
            except Exception as e:
                return error_envelope(str(e))
            return {"status": "success",
                    "data": {"resultType": "metadata", "result": result}}
        if mode == "values":
            field = req.get("field")
            if not field:
                return error_envelope("values needs a 'field'", "bad_data")
            try:
                # values scans are time-bounded by contract: no range in
                # the request defaults to the trailing day so partition
                # pruning always engages (never a full-table distinct)
                rng = req.get("range") or {"from": "now-24h", "to": "now"}
                now_ns = _epoch_nanos(now) if now is not None else _epoch_nanos(
                    dt.datetime.now(dt.timezone.utc))
                start_ns = self._resolve_anchor(rng["from"], now_ns)
                end_ns = self._resolve_anchor(rng["to"], now_ns)
                from pyspark.sql import functions as F
                if "timestamp" in df.columns:
                    df = df.filter(F.col("timestamp").between(
                        F.timestamp_micros(F.lit(start_ns // 1000)),
                        F.timestamp_micros(F.lit(end_ns // 1000)),
                    ))
                where = (_validate_pred(req["where"])
                         if req.get("where") is not None else None)
                # `or` would silently turn an explicit limit=0 into the
                # default, bypassing the positive-int contract
                raw_limit = req.get("limit")
                limit = (DEFAULT_VALUE_LIMIT if raw_limit is None
                         else int(raw_limit))
                if limit <= 0:
                    raise ValueError("limit must be a positive int")
            except (KeyError, TypeError, ValueError, IRValidationError) as e:
                return error_envelope(f"invalid describe request: {e}", "bad_data")
            try:
                rows = suggest_values(df, field, where=where,
                                      limit=limit).collect()
            except Exception as e:
                return error_envelope(str(e))
            return {"status": "success",
                    "data": {"resultType": "metadata",
                             "result": [{"value": r["value"], "count": r["n"]}
                                        for r in rows]}}
        return error_envelope(
            f"unknown describe mode {mode!r} "
            "(sources|fields|values|cardinality)", "bad_data")

    # --------------------------------------------------- ops + schemas
    # POST /api/v1/ops/compact (+ /dry-run), GET /ops/compact/status
    # (endpoints/ops.rs); GET /schemas/available (management surface)

    def health(self) -> dict:
        """GET /health (router lib.rs:331): unconditional liveness —
        the reference returns a bare 200; the envelope form carries the
        same signal for dict-shaped callers."""
        return {"status": "success", "data": "ok"}

    def tempo_echo(self) -> str:
        """GET /api/echo (endpoints/tempo.rs:599): Grafana's Tempo
        connectivity check — the literal body \"echo\", per the Tempo
        API doc."""
        return "echo"

    def ops_compact_status(self, table: str) -> dict:
        from .catalog import signal_table_path
        from .maintenance.jobs import list_hour_partitions, partition_file_counts
        from .storage import ManifestTable

        path = signal_table_path(self.session.base, self.tenant, self.dataset, table)
        parts = list_hour_partitions(path)
        if not parts:
            return error_envelope(f"no {table} table for tenant", "not_found")
        counts = partition_file_counts(path)  # one manifest parse
        return {"status": "success", "data": {
            "table": table,
            "manifest_version": ManifestTable(path).current_version(),
            "partitions": [
                {"date_day": d, "hour": h, "n_files": counts.get((d, h), 0)}
                for d, h in parts
            ],
        }}

    def ops_compact(self, table: str, day: str | None = None,
                    hour: int | None = None, dry_run: bool = False) -> dict:
        """Compact one partition (or every partition when day/hour are
        None). dry_run reports what would be rewritten without touching
        bytes — the /compact/dry-run form."""
        from .catalog import signal_table_path
        from .maintenance.jobs import list_hour_partitions, partition_file_counts
        from .storage.manifest import compact_partitions_manifest

        if hour is not None and day is None:
            # an hour without a day would silently compact the whole
            # table — reject instead
            return error_envelope("hour requires day", "validation_error")
        path = signal_table_path(self.session.base, self.tenant, self.dataset, table)
        parts = list_hour_partitions(path)
        if not parts:
            return error_envelope(f"no {table} table for tenant", "not_found")
        if day is not None:
            parts = [(d, h) for d, h in parts
                     if d == day and (hour is None or h == hour)]
            if not parts:
                # a typo'd day/hour must not report success-on-nothing
                return error_envelope(
                    f"no partition matches day={day} hour={hour}", "not_found"
                )
        results = []
        counts = partition_file_counts(path)  # one manifest parse
        if dry_run:
            for d, h in parts:
                results.append({"date_day": d, "hour": h,
                                "n_files": counts.get((d, h), 0),
                                "would_compact": counts.get((d, h), 0) > 1})
        else:
            # one pass: one Spark job rewrites every partition, then one
            # input-guarded manifest commit per partition
            afters = compact_partitions_manifest(self.spark, path, table, parts)
            for d, h in parts:
                results.append({"date_day": d, "hour": h,
                                "files_before": counts.get((d, h), 0),
                                "files_after": afters[d, h]})
        return {"status": "success", "dry_run": dry_run, "data": results}

    def schemas_available(self) -> dict:
        """GET /schemas/available: the versioned-schema registry —
        tables, their versions, and the current version per table."""
        from .schemas.resolver import builtin_registry

        reg = builtin_registry()
        return {"status": "success", "data": [
            {
                "table": t,
                "versions": reg.versions(t),
                "current": reg.current_version(t),
                "fields": len(reg.resolve(t).fields),
                "partition_by": reg.resolve(t).partition_by,
            }
            for t in reg.tables()
        ]}


class AdminAPI:
    """The provisioning surface (endpoints/admin.rs): tenant / dataset /
    API-key CRUD over the versioned catalog — base-scoped, unlike the
    per-(tenant, dataset) query façade. Errors come back as envelopes
    carrying the reference's error codes (validation_error / conflict /
    not_found) instead of raising."""

    def __init__(self, base: str):
        from .admin import TenantCatalog

        self.base = base
        self.catalog = TenantCatalog(base)

    def _run(self, fn):
        from .admin import AdminError

        try:
            return {"status": "success", "data": fn()}
        except AdminError as e:
            return error_envelope(e.message, e.code)

    # POST/GET/DELETE /api/v1/admin/tenants[/{id}]
    def create_tenant(self, tenant_id: str, name: str,
                      default_dataset: str = "default") -> dict:
        return self._run(
            lambda: self.catalog.create_tenant(tenant_id, name, default_dataset)
        )

    def list_tenants(self) -> dict:
        return self._run(self.catalog.list_tenants)

    def get_tenant(self, tenant_id: str) -> dict:
        def fn():
            from .admin import AdminError

            t = self.catalog.get_tenant(tenant_id)
            if t is None:
                raise AdminError("not_found", f"Tenant '{tenant_id}' not found")
            return t

        return self._run(fn)

    def delete_tenant(self, tenant_id: str) -> dict:
        return self._run(lambda: self.catalog.delete_tenant(tenant_id))

    # POST/GET/DELETE /api/v1/admin/tenants/{id}/datasets[/{name}]
    def create_dataset(self, tenant_id: str, name: str) -> dict:
        return self._run(lambda: self.catalog.create_dataset(tenant_id, name))

    def list_datasets(self, tenant_id: str) -> dict:
        return self._run(lambda: self.catalog.list_datasets(tenant_id))

    def delete_dataset(self, tenant_id: str, name: str) -> dict:
        return self._run(lambda: self.catalog.delete_dataset(tenant_id, name))

    # POST/GET/DELETE /api/v1/admin/tenants/{id}/api-keys[/{key_id}]
    def create_api_key(self, tenant_id: str, name: str | None = None,
                       dataset: str | None = None) -> dict:
        return self._run(lambda: self.catalog.create_api_key(tenant_id, name, dataset))

    def list_api_keys(self, tenant_id: str) -> dict:
        return self._run(lambda: self.catalog.list_api_keys(tenant_id))

    def revoke_api_key(self, tenant_id: str, key_id: str) -> dict:
        return self._run(lambda: self.catalog.revoke_api_key(tenant_id, key_id))

    def authenticate(self, key: str) -> dict:
        auth = self.catalog.authenticate(key)
        if auth is None:
            return error_envelope("invalid or revoked API key", "unauthorized")
        return {"status": "success", "data": auth}

    # PUT/GET /api/v1/admin/tenants/{id}/limits + GET /admin/storage-usage
    # (config TenantLimits + storage_usage.rs, issue #610)

    def set_tenant_limits(self, tenant_id: str, **limits) -> dict:
        return self._run(
            lambda: self.catalog.set_tenant_limits(tenant_id, **limits))

    def get_tenant_limits(self, tenant_id: str) -> dict:
        def fn():
            from .admin import AdminError

            if self.catalog.get_tenant(tenant_id) is None:
                raise AdminError("not_found", f"Tenant '{tenant_id}' not found")
            return self.catalog.limits_for(tenant_id)

        return self._run(fn)

    def storage_usage(self) -> dict:
        """Per-tenant live storage bytes (current snapshots only, so
        compaction/retention shrink it) + each tenant's quota and
        whether it is at/over — the operator's usage panel."""
        from .storage.quota import compute_usage

        usage = compute_usage(self.base)
        rows = []
        for tenant_id in sorted(set(usage) | {
            t["id"] for t in self.catalog.list_tenants()
        }):
            limit = self.catalog.limits_for(tenant_id).get("max_storage_bytes")
            bytes_ = usage.get(tenant_id, 0)
            rows.append({
                "tenant_id": tenant_id, "usage_bytes": bytes_,
                "max_storage_bytes": limit,
                "over_quota": limit is not None and bytes_ >= limit,
            })
        return {"status": "success", "data": rows}

    # GET/POST /api/v1/tenants/{id}/tables[/create] (endpoints/tenant.rs)

    _TABLE_DESCRIPTIONS = {
        "traces": "OpenTelemetry traces and spans",
        "logs": "OpenTelemetry log entries",
        "metrics_gauge": "OpenTelemetry gauge metrics",
        "metrics_sum": "OpenTelemetry sum/counter metrics",
        "metrics_histogram": "OpenTelemetry histogram metrics",
        "metrics_exponential_histogram":
            "OpenTelemetry exponential histogram metrics",
        "metrics_summary": "OpenTelemetry summary metrics",
        "profiles": "OpenTelemetry profiles",
    }

    def _tenant_guard(self, tenant_id: str, ctx_tenant_id: str | None,
                      dataset: str | None = None):
        """endpoints/tenant.rs:87-89: a caller authenticated as another
        tenant is refused BEFORE any catalog or filesystem access. On
        success returns (None, resolved_dataset) — the tenant's OWN
        default dataset when none was named (a tenant provisioned with
        default_dataset='prod' must not get tables under a stray
        'default' directory), else the named one validated against the
        tenant's dataset records."""
        if ctx_tenant_id is not None and ctx_tenant_id != tenant_id:
            return error_envelope("tenant context does not match",
                                  "forbidden"), None
        t = self.catalog.get_tenant(tenant_id)
        if t is None:
            return error_envelope(f"Tenant '{tenant_id}' not found",
                                  "not_found"), None
        if dataset is None:
            dataset = t["default_dataset"]
        elif dataset not in t["datasets"]:
            return error_envelope(f"Dataset '{dataset}' not found",
                                  "not_found"), None
        return None, dataset

    def list_tenant_tables(self, tenant_id: str, ctx_tenant_id: str | None = None,
                           dataset: str | None = None) -> dict:
        """GET /tenants/{id}/tables: the tenant's table inventory with
        the reference's name/schema_type/description rows
        (src/common/src/tenant_api.rs:224-252). Unlike the reference's
        registry walk (schema/mod.rs:497 — a TODO returning []), the
        listing is real: table directories under {base}/{tenant}/{dataset}."""
        import os

        guard, dataset = self._tenant_guard(tenant_id, ctx_tenant_id, dataset)
        if guard is not None:
            return guard
        root = os.path.join(self.base, tenant_id, dataset)
        names = sorted(
            d for d in (os.listdir(root) if os.path.isdir(root) else [])
            if os.path.isdir(os.path.join(root, d)) and not d.startswith("_")
        )
        return {"status": "success", "data": {
            "tenant_id": tenant_id,
            "tables": [
                {"name": n,
                 "schema_type": n if n in self._TABLE_DESCRIPTIONS else "custom",
                 "description": self._TABLE_DESCRIPTIONS.get(
                     n, f"Custom table: {n}")}
                for n in names
            ],
        }}

    def create_tenant_tables(self, tenant_id: str,
                             ctx_tenant_id: str | None = None,
                             can_manage: bool = True,
                             dataset: str | None = None) -> dict:
        """POST /tenants/{id}/tables/create: materialize the DEFAULT
        signal tables as real (empty) manifest tables — the reference
        pins that this endpoint must actually create them, not 201 on a
        log line (endpoints/tenant.rs:356-359). Requires tenant-admin
        privilege (tenant.rs:121-127). Idempotent: an existing table —
        manifest-committed OR a bare parquet directory — is left
        untouched and reported as skipped. A bare directory is read-only
        input: committing an empty manifest over it would shadow every
        file in it, since readers prefer the manifest snapshot."""
        import os

        from .catalog import signal_table_path
        from .schemas.signal_schemas import SCHEMAS
        from .storage.manifest import (
            ManifestTable,
            bare_parquet_table,
            manifest_table,
        )

        if not can_manage:
            return error_envelope(
                "Tenant administrator privileges required", "forbidden")
        guard, dataset = self._tenant_guard(tenant_id, ctx_tenant_id, dataset)
        if guard is not None:
            return guard
        created, skipped = [], []
        for table in SCHEMAS:
            path = signal_table_path(self.base, tenant_id, dataset, table)
            if manifest_table(path) is not None or bare_parquet_table(path):
                skipped.append(table)
                continue
            mt = ManifestTable(path)
            os.makedirs(mt.manifest_dir, exist_ok=True)
            os.makedirs(mt.data_dir, exist_ok=True)
            mt.commit([], batch_id="provision")
            created.append(table)
        return {"status": "success", "data": {
            "message": f"Default tables created for tenant '{tenant_id}'",
            "tenant_id": tenant_id, "created": created, "skipped": skipped,
        }}

    def list_tenant_schemas(self, tenant_id: str,
                            ctx_tenant_id: str | None = None) -> dict:
        """GET /tenants/{id}/schemas: the schema registry's declared
        versions per table (tenant_api.rs:254 list_table_schemas over
        the versioned declarations, schemas/resolver.py)."""
        from .schemas.resolver import builtin_registry

        guard, _ = self._tenant_guard(tenant_id, ctx_tenant_id)
        if guard is not None:
            return guard
        reg = builtin_registry()
        return {"status": "success", "data": {
            "tenant_id": tenant_id,
            "schemas": [
                {"table": t, "versions": reg.versions(t),
                 "current": reg.current_version(t)}
                for t in sorted(reg.tables())
            ],
        }}

    # POST /api/v1/admin/users (endpoints/admin.rs create_user) +
    # GET/PUT/DELETE /api/v1/manage/tenants/{id}/memberships[/{user_id}]
    # (endpoints/management.rs) + POST /ui/session (endpoints/session.rs)

    def create_user(self, email: str, password: str, tenant: str,
                    role: str = "member", display_name: str | None = None,
                    instance_admin: bool = False) -> dict:
        """Create a human user and grant the initial tenant membership
        in one catalog commit. Validation and error codes match
        admin.rs: empty email / short password / unknown role →
        validation_error, missing tenant → not_found, duplicate email →
        conflict. The response never carries the password or its hash."""
        return self._run(lambda: self.catalog.create_user(
            email, password, tenant, role, display_name, instance_admin))

    def list_memberships(self, tenant_id: str) -> dict:
        return self._run(lambda: self.catalog.list_memberships(tenant_id))

    def upsert_membership(self, tenant_id: str, email: str, role: str) -> dict:
        return self._run(
            lambda: self.catalog.upsert_membership(tenant_id, email, role))

    def remove_membership(self, tenant_id: str, user_id: str,
                          actor_user_id: str | None = None) -> dict:
        return self._run(lambda: self.catalog.remove_membership(
            tenant_id, user_id, actor_user_id))

    def create_session(self, email: str, password: str,
                       tenant: str | None = None) -> dict:
        """UI login (session.rs create_session): resolves which tenant
        the login lands in from the user's memberships; the envelope
        always carries the memberships so the UI can offer the picker
        when the tenant comes back null."""
        return self._run(
            lambda: self.catalog.create_session(email, password, tenant))

    def whoami(self, token: str) -> dict:
        """GET /whoami with a session cookie: the user's identity and
        ALL memberships (one person, many tenants — the ADR's fix for
        whoami only ever naming the key's single tenant)."""
        out = self.catalog.validate_session(token)
        if out is None:
            return error_envelope("invalid or expired session", "unauthorized")
        return {"status": "success", "data": out}

    def logout(self, token: str) -> dict:
        """DELETE /ui/session: server-side revocation; always succeeds."""
        self.catalog.revoke_session(token)
        return {"status": "success", "data": None}
