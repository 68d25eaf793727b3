"""Trace query operators: find-by-id, search with newest-N truncation,
hierarchy assembly, tag discovery.

Spark analog of src/querier/src/query/trace.rs. The projection sets
mirror TRACE_LOOKUP_COLUMNS / TRACE_SEARCH_COLUMNS (trace.rs:560-594):
point lookups never read the fat events/links/scope columns, so the
parquet scan stays narrow. Which files a trace-by-id lookup opens is
decided from manifest evidence before the scan (the trace_id bloom
sidecars of storage/blooms.py, via SignalDBAPI._manifest_point_scan);
inside a kept file, parquet's dictionary filter prunes row groups, or
the trace_id bloom of a chunk that is not dictionary-encoded
(storage.manifest.BLOOM_WRITE_OPTIONS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import timeseries as ts_ops
from .parser import SpanPredicate

TRACE_LOOKUP_COLUMNS = [
    "trace_id", "span_id", "parent_span_id", "span_name", "service_name",
    "start_time_unix_nano", "end_time_unix_nano", "duration_nanos",
    "span_kind", "status_code", "status_message", "is_root", "timestamp",
    # `events` rides on the single-trace path so span exceptions render
    # (trace.rs:558-573); `links`/`scope_*` stay excluded there, and
    # search (TRACE_SEARCH_COLUMNS) projects events away too.
    "events",
]

TRACE_SEARCH_COLUMNS = [
    "trace_id", "span_id", "span_name", "service_name",
    "start_time_unix_nano", "duration_nanos", "status_code", "is_root",
    "timestamp",
]

STATUS_COLUMN = "status_code"


def _apply_op(col, op: str, value):
    """One matcher comparison (widened Tempo grammar). ``!=``/``!~``
    require the attribute to EXIST and differ — Tempo's semantics for
    negated attribute matchers; range ops compare numerically."""
    if op == "=":
        return col == value
    if op == "!=":
        return col.isNotNull() & (col != value)
    if op == "=~":
        return col.rlike(f"^(?:{value})$")
    if op == "!~":
        return col.isNotNull() & ~col.rlike(f"^(?:{value})$")
    # try_cast, never an ANSI cast: one span carrying a non-numeric
    # attribute value ("qty"="N/A") must skip that span, not abort the
    # whole query with CAST_INVALID_INPUT (Spark 4 ANSI default)
    num = col.try_cast("double")
    if op == ">":
        return num > value
    if op == ">=":
        return num >= value
    if op == "<":
        return num < value
    if op == "<=":
        return num <= value
    raise ValueError(op)


def _span_attr_value(df: DataFrame, attr_col: str, key: str):
    """Layout-aware attribute access (operators.attrs.attr_value):
    legacy JSON-string tables (search_filter.rs:157-170 substring era)
    extract exactly; map tables probe element_at."""
    from ..operators.attrs import attr_value

    return attr_value(df, attr_col, key)


def predicate_expr(df: DataFrame, p: SpanPredicate):
    """Lower one TraceQL predicate over native map columns instead of
    JSON substring matching (equality core: search_filter.rs:157-170;
    the non-equality operators are the Tempo grammar the reference
    rejects, search_filter.rs:234-330 — beyond-parity upgrade). Legacy
    JSON-string attribute tables route per _span_attr_value."""
    op = getattr(p, "op", "=")
    if p.scope == "intrinsic":
        if p.key == "name":
            return _apply_op(F.col("span_name"), op, p.value)
        if p.key == "status":
            return _apply_op(F.col(STATUS_COLUMN), op, p.value)
        if p.key == "duration":
            return _apply_op(F.col("duration_nanos"), op, p.value)
        if p.key == "kind":
            return _apply_op(F.col("span_kind"), op, p.value)
        raise ValueError(p.key)
    if p.scope == "span":
        return _apply_op(_span_attr_value(df, "span_attributes", p.key), op, p.value)
    if p.scope == "resource":
        return _apply_op(_span_attr_value(df, "resource_attributes", p.key), op, p.value)
    # unscoped: well-known service.name → column; else span attr OR resource
    # attr. Positive matchers OR the two scopes; negated matchers apply to
    # the span-then-resource coalesce (exists-and-differs on the value the
    # span actually carries — an OR of negations would match every span
    # that lacks the key in one scope).
    if p.key == "service.name":
        return _apply_op(F.col("service_name"), op, p.value)
    span_attr = _span_attr_value(df, "span_attributes", p.key)
    res_attr = _span_attr_value(df, "resource_attributes", p.key)
    if op in ("!=", "!~"):
        return _apply_op(F.coalesce(span_attr, res_attr), op, p.value)
    return _apply_op(span_attr, op, p.value) | _apply_op(res_attr, op, p.value)


def find_by_id(traces: DataFrame, trace_id: str, start=None, end=None) -> DataFrame:
    """Point lookup with optional time hints; narrow projection.

    With hour-partitioned storage the time hints prune partitions
    (trace.rs:111-170 does this with its dual-bound trick; our partition
    column derives from the same timestamp so one bound suffices). The
    trace_id equality is pushed into the scan, where parquet's
    dictionary filter, or the trace_id bloom of a chunk that is not
    dictionary-encoded, prunes row groups. When the caller planned
    ``traces`` through the manifest (SignalDBAPI._manifest_point_scan)
    it already holds only the files whose sidecars may hold the id."""
    df = ts_ops.time_window(traces, "timestamp", start, end)
    return df.filter(F.col("trace_id") == trace_id).select(
        *[c for c in TRACE_LOOKUP_COLUMNS if c in df.columns]
    )


def filter_by_event(
    spans: DataFrame,
    name: str | None = None,
    attr_key: str | None = None,
    attr_value: str | None = None,
) -> DataFrame:
    """Keep spans where ANY persisted event matches (name AND attribute
    equality). The events column is the at-rest array<struct> from
    flatten_otlp_traces (flight/schema.rs:57-68); `exists` stays a
    codegen'd higher-order function — no explode, no shuffle."""

    def _match(e):
        cond = F.lit(True)
        if name is not None:
            cond = cond & (e["name"] == name)
        if attr_key is not None:
            cond = cond & (e["attributes"][attr_key] == attr_value)
        return cond

    return spans.filter(F.exists(F.col("events"), _match))


def explode_matching_events(
    spans: DataFrame,
    name: str | None = None,
    attr_key: str | None = None,
    attr_value: str | None = None,
) -> DataFrame:
    """One row per MATCHING event (filter_by_event semantics plus the
    surfaced event), evaluated in a single pass: ``explode(filter(...))``
    reads/constructs the events array once and drops no-match spans for
    free (explode of an empty array emits nothing) — vs. an ``exists``
    filter followed by a re-exploding re-filter, which evaluates the
    array expression once per pass."""

    def _match(e):
        cond = F.lit(True)
        if name is not None:
            cond = cond & (e["name"] == name)
        if attr_key is not None:
            cond = cond & (e["attributes"][attr_key] == attr_value)
        return cond

    return spans.withColumn(
        "event", F.explode(F.filter(F.col("events"), _match))
    ).drop("events")


def assemble_hierarchy(spans: DataFrame) -> DataFrame:
    """Group spans into one row per trace with a sorted span array —
    the engine-side half of build_span_hierarchy (trace.rs:311-376);
    client-side tree building consumes parent_span_id. Span events and
    links ride along when the scan projected them (full-fidelity lookup;
    storage-layout.md:335-336)."""
    span_fields = [
        "start_time_unix_nano", "span_id", "parent_span_id",
        "span_name", "service_name", "duration_nanos", "status_code",
    ] + [c for c in ("events", "links") if c in spans.columns]

    # Explicit (start_time, span_id) comparator: sort_array's natural
    # struct ordering breaks once the struct carries map-typed event
    # attributes (maps aren't orderable), and span_id is unique per
    # trace so the order is identical on the narrow path.
    def _cmp(a, b):
        lt = (a["start_time_unix_nano"] < b["start_time_unix_nano"]) | (
            (a["start_time_unix_nano"] == b["start_time_unix_nano"])
            & (a["span_id"] < b["span_id"])
        )
        eq = (a["start_time_unix_nano"] == b["start_time_unix_nano"]) & (
            a["span_id"] == b["span_id"]
        )
        return F.when(lt, F.lit(-1)).when(eq, F.lit(0)).otherwise(F.lit(1))

    return (
        spans.groupBy("trace_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*span_fields)), _cmp
            ).alias("spans"),
            F.min("start_time_unix_nano").alias("trace_start_unix_nano"),
            F.max(F.col("start_time_unix_nano") + F.col("duration_nanos")).alias(
                "trace_end_unix_nano"
            ),
            F.count(F.lit(1)).alias("span_count"),
        )
    )


def predicates_expr(df: DataFrame, parsed):
    """Combined filter Column for a parsed spanset: a conjunction list
    ANDs; a Disjunction ORs its conjunction groups (DNF — stays one
    scan + one filter, no union of subplans)."""
    from .parser import Disjunction

    if isinstance(parsed, Disjunction):
        out = None
        for group in parsed.groups:
            g = None
            for p in group:
                e = predicate_expr(df, p)
                g = e if g is None else g & e
            g = F.lit(True) if g is None else g
            out = g if out is None else out | g
        return F.lit(True) if out is None else out
    out = None
    for p in parsed:
        e = predicate_expr(df, p)
        out = e if out is None else out & e
    return F.lit(True) if out is None else out


def _truncate_newest(
    df: DataFrame, limit: int, spans_per_trace: int | None
) -> DataFrame:
    """Deterministic newest-N trace truncation + the ``spss`` span cap
    (order_traces_for_truncation, trace.rs:602-644): traces rank by
    their most-recent span DESC with trace_id tiebreak; each kept trace
    then returns at most ``spans_per_trace`` of its newest spans.

    The ranking is windows over ``df`` itself — the per-trace max, then
    a dense rank over ``(_latest desc, trace_id desc)`` — not a join
    with a ranked ``groupBy`` of ``df``: each join branch would re-run
    ``df``'s scan and its span limit. Over the span-limited search
    input (at most ``limit*50`` rows, one partition after its
    TakeOrderedAndProject) the windows add no exchange, so the search
    plans one scan and runs one job. The structural and aggregate
    searches rank their matched spans the same way; over a multi-
    partition input Spark plans a partial ``WindowGroupLimit`` below
    the global rank, so only each partition's newest ``limit`` traces
    move to the one ranking task. A null trace_id
    takes a rank like any trace but returns no rows, as the inner join
    it replaces did."""
    # the joined layout (trace_id first); backquoted, since select()
    # extras carry dotted names
    cols = [
        F.col(f"`{c}`")
        for c in ("trace_id", *[c for c in df.columns if c != "trace_id"])
    ]
    latest = F.max("start_time_unix_nano").over(Window.partitionBy("trace_id"))
    rank = F.dense_rank().over(
        Window.orderBy(F.col("_latest").desc(), F.col("trace_id").desc())
    )
    out = (
        df.withColumn("_latest", latest)
        .withColumn("_trk", rank)
        .filter((F.col("_trk") <= limit) & F.col("trace_id").isNotNull())
        .select(*cols)
    )
    if spans_per_trace is not None:
        w = Window.partitionBy("trace_id").orderBy(
            F.col("start_time_unix_nano").desc(), F.col("span_id").desc()
        )
        out = (
            out.withColumn("_srk", F.row_number().over(w))
            .filter(F.col("_srk") <= spans_per_trace)
            .drop("_srk")
        )
    return out


def search(
    traces: DataFrame,
    predicates,
    start=None,
    end=None,
    min_duration_nanos: int | None = None,
    max_duration_nanos: int | None = None,
    limit: int = 20,
    span_limit: int | None = None,
    max_search_limit: int = 1000,
    spans_per_trace: int | None = None,
    extra_columns: "dict[str, Column] | None" = None,
) -> DataFrame:
    """Trace search with deterministic newest-N truncation.

    Order of operations is load-bearing (issue #928, trace.rs:534-549):
    spans sort by start_time DESC *before* the span limit so the newest
    spans survive; traces are then ranked by their most-recent span
    (DESC) with trace_id as tiebreak (order_traces_for_truncation,
    trace.rs:602-644) and the first ``limit`` trace_ids kept.

    ``spans_per_trace`` is Tempo's ``spss`` parameter (the per-spanset
    span cap, tempo-api-reference.md:23): each kept trace returns at
    most that many of its newest spans — a Window rank after the trace
    truncation, so the TRACE ranking is unaffected by the cap.
    """
    limit = min(limit, max_search_limit)
    df = ts_ops.time_window(traces, "timestamp", start, end)
    df = df.filter(predicates_expr(df, predicates))
    if min_duration_nanos is not None:
        df = df.filter(F.col("duration_nanos") >= min_duration_nanos)
    if max_duration_nanos is not None:
        df = df.filter(F.col("duration_nanos") <= max_duration_nanos)
    # select() extras are computed BEFORE the projection drops the
    # attribute maps, so only the named keys survive (never whole maps)
    df = df.select(
        *[c for c in TRACE_SEARCH_COLUMNS if c in df.columns],
        *[e.alias(n) for n, e in (extra_columns or {}).items()],
    )
    if span_limit is None:
        span_limit = limit * 50  # spans-per-trace estimate (clamped_limits, trace.rs:720)
    df = df.orderBy(F.col("start_time_unix_nano").desc(), F.col("span_id").desc()).limit(
        span_limit
    )
    return _truncate_newest(df, limit, spans_per_trace)


def search_traceql(
    traces: DataFrame,
    query: str,
    tenant: str = "acme",
    dataset: str = "prod",
    **search_kwargs,
) -> DataFrame:
    """String-in entrypoint: parse the (widened) TraceQL expression,
    record attribute demand (the reference records at the trace query
    site, trace.rs:508-517), and dispatch — spansets/disjunctions to
    :func:`search`, structural and aggregate queries to the structural
    lowering."""
    from ..maintenance import attr_demand
    from .parser import (
        AggregateQuery,
        SelectQuery,
        StructuralQuery,
        parse_traceql_expr,
    )

    parsed = parse_traceql_expr(query)
    attr_demand.record_traceql_query(parsed, tenant, dataset)
    if isinstance(parsed, (StructuralQuery, AggregateQuery)):
        from .parser import TraceQLError

        sides = (
            (*parsed.left, *parsed.right)
            if isinstance(parsed, StructuralQuery)
            else parsed.preds
        )
        if any(p.scope == "trace" for p in sides):
            raise TraceQLError(
                "trace-level intrinsics are not supported inside "
                "structural/aggregate spansets"
            )
    if isinstance(parsed, (StructuralQuery, AggregateQuery)):
        # the API's window/limit/spss contract applies to structural and
        # aggregate queries exactly like spanset search: window the scan
        # FIRST (the structural evaluation — and the >> depth probe —
        # must not walk all history), then the same deterministic
        # newest-N truncation search() performs
        from .structural import aggregate_search, structural_search

        windowed = ts_ops.time_window(
            traces, "timestamp",
            search_kwargs.get("start"), search_kwargs.get("end"),
        )
        if isinstance(parsed, StructuralQuery):
            out = structural_search(windowed, parsed)
        else:
            out = aggregate_search(windowed, parsed)
        limit = min(
            search_kwargs.get("limit", 20),
            search_kwargs.get("max_search_limit", 1000),
        )
        return _truncate_newest(
            out, limit, search_kwargs.get("spans_per_trace")
        )
    def _split_trace_preds(preds):
        # trace-level intrinsics pre-filter the span table to
        # qualifying traces; span-level predicates then run normally
        nonlocal traces
        span_preds = []
        for p in preds:
            if p.scope == "trace":
                traces = trace_level_filter(traces, p.key, p.op, p.value)
            else:
                span_preds.append(p)
        return span_preds

    if isinstance(parsed, SelectQuery):
        preds = _split_trace_preds(list(parsed.preds))
        extras = {f: select_field_expr(f, traces) for f in parsed.fields}
        return search(traces, preds, extra_columns=extras, **search_kwargs)
    if isinstance(parsed, list):
        parsed = _split_trace_preds(parsed)
    else:
        from .parser import Disjunction, TraceQLError

        if isinstance(parsed, Disjunction) and any(
            p.scope == "trace" for g in parsed.groups for p in g
        ):
            raise TraceQLError(
                "trace-level intrinsics are not supported inside || groups"
            )
    return search(traces, parsed, **search_kwargs)


_INTRINSIC_FIELDS = {
    "name": "span_name",
    "status": STATUS_COLUMN,
    "duration": "duration_nanos",
    "kind": "span_kind",
    "trace:id": "trace_id",
    "span:id": "span_id",
}


def select_field_expr(field: str, df: DataFrame | None = None):
    """Route a select() field to its column: intrinsics → dedicated
    columns; ``span.X`` / ``resource.X`` → the scope's attribute map;
    unscoped ``.X`` → span-first coalesce (Tempo's unscoped lookup
    order, traceql.md). With ``df``, attribute access is LAYOUT-AWARE
    (operators.attrs.attr_value): legacy JSON-string tables extract via
    get_json_object and typed AnyValue maps return the display string —
    the same contract every predicate path honors; without ``df`` the
    map fast path applies (current-layout callers)."""
    def _attr(col_name: str, key: str):
        if df is not None:
            return _span_attr_value(df, col_name, key)
        return F.element_at(F.col(col_name), key)

    if field in _INTRINSIC_FIELDS:
        return F.col(_INTRINSIC_FIELDS[field])
    if field == "resource.service.name" or field == "service.name":
        return F.col("service_name")
    if field.startswith("span."):
        return _attr("span_attributes", field[len("span."):])
    if field.startswith("resource."):
        return _attr("resource_attributes", field[len("resource."):])
    key = field[1:] if field.startswith(".") else field
    return F.coalesce(
        _attr("span_attributes", key),
        _attr("resource_attributes", key),
    )


def tag_values(traces: DataFrame, scope: str, key: str, cap: int = 1000) -> DataFrame:
    """Distinct tag values, sorted, capped (tempo tag discovery,
    docs/users/tempo-api-reference.md:26,45)."""
    from ..operators.attrs import attr_value

    if key == "service.name":
        col = F.col("service_name")
    elif scope == "span":
        col = attr_value(traces, "span_attributes", key)
    elif scope == "resource":
        col = attr_value(traces, "resource_attributes", key)
    else:
        col = F.coalesce(
            attr_value(traces, "span_attributes", key),
            attr_value(traces, "resource_attributes", key),
        )
    return (
        traces.select(col.alias("value"))
        .filter(F.col("value").isNotNull() & (F.col("value") != ""))
        .distinct()
        .orderBy("value")
        .limit(cap)
    )


def tag_names(traces: DataFrame, scope: str = "unscoped", cap: int = 1000) -> DataFrame:
    """Distinct tag NAMES per scope (tempo /api/search/tags,
    docs/users/tempo-api-reference.md:26): span scope reads
    span_attributes keys, resource scope reads resource_attributes keys
    plus the intrinsic ``service.name``, unscoped unions both. The
    distinct runs on a tiny exploded-key projection in-engine (scan
    prunes to the attribute column only), then sorts and caps — same
    deterministic bound as tag_values."""
    from ..operators.attrs import attr_keys

    spark = traces.sparkSession
    parts = []
    if scope in ("span", "unscoped"):
        parts.append(
            traces.select(F.explode(attr_keys(traces, "span_attributes")).alias("name"))
        )
    if scope in ("resource", "unscoped"):
        parts.append(
            traces.select(
                F.explode(attr_keys(traces, "resource_attributes")).alias("name")
            )
        )
        parts.append(spark.createDataFrame([("service.name",)], "name string"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .distinct()
        .orderBy("name")
        .limit(cap)
    )


def _parse_metrics_query(spans: DataFrame, q: str):
    """Shared front half of the TraceQL metrics entrypoints: parse
    ``{spanset} | fn [by (col)]``, lower the spanset to a filter, and
    resolve the by() column. Returns (spans, cond, fn, phi, by)."""
    import re

    from .parser import TraceQLError, parse_traceql_expr

    m = re.match(
        r"^\s*(?P<spanset>\{.*\})\s*\|\s*(?P<fn>rate\(\)"
        r"|quantile_over_time\(\s*duration\s*,\s*(?P<phi>[0-9.]+)\s*\)"
        r"|histogram_over_time\(\s*duration\s*\))"
        r"(?:\s*by\s*\(\s*(?P<by>[A-Za-z_][\w.]*)\s*\))?\s*$",
        q, re.S,
    )
    if not m:
        raise TraceQLError(f"not a TraceQL metrics query: {q!r}")
    parsed = parse_traceql_expr(m.group("spanset"))
    if not isinstance(parsed, list):
        raise TraceQLError(
            "metrics queries take a plain spanset, not structural/aggregate"
        )
    # trace-level intrinsics pre-filter to qualifying traces, exactly as
    # the search path does — lowered as attribute lookups they would
    # probe a nonexistent map key and silently return an empty series
    span_preds = []
    for p in parsed:
        if p.scope == "trace":
            spans = trace_level_filter(spans, p.key, p.op, p.value)
        else:
            span_preds.append(p)
    cond = F.lit(True)
    for p in span_preds:
        cond = cond & predicate_expr(spans, p)
    by: tuple[str, ...] = ()
    if m.group("by"):
        field = m.group("by")
        if field in spans.columns:
            by = (field,)
        else:
            # Tempo's scoped by() refs (span.foo, resource.x, name):
            # materialize through the same field router select() uses —
            # a raw groupBy("span.foo") would parse as struct access of
            # a nonexistent column
            alias = field.replace(".", "_").replace(":", "_")
            spans = spans.withColumn(alias, select_field_expr(field, spans))
            by = (alias,)
    fn = m.group("fn")
    phi = float(m.group("phi")) if m.group("phi") else None
    return spans, cond, fn, phi, by


def metrics_query(
    spans: DataFrame,
    q: str,
    step_seconds: int,
    ts_col: str = "timestamp",
) -> DataFrame:
    """String-in entrypoint for Tempo's metrics endpoints
    (GET /api/metrics/query_range, which the reference answers 501 —
    tempo.rs:1284-1304): ``{spanset} | fn [by (col)]`` where fn is
    ``rate()``, ``quantile_over_time(duration, φ)``, or
    ``histogram_over_time(duration)``. The spanset parses through the
    same (widened) TraceQL parser the search path uses; ``by`` takes a
    span column name."""
    from .parser import TraceQLError

    spans, cond, fn, phi, by = _parse_metrics_query(spans, q)
    if fn == "rate()":
        return metrics_rate(spans, cond, step_seconds, by, ts_col)
    if fn.startswith("quantile_over_time"):
        return metrics_quantile(
            spans, cond, step_seconds, phi, by_cols=by, ts_col=ts_col,
        )
    if by:
        raise TraceQLError("histogram_over_time does not take by()")
    return metrics_histogram(spans, cond, step_seconds, ts_col=ts_col)


def metrics_query_instant(
    spans: DataFrame,
    q: str,
    window_seconds: float,
) -> DataFrame:
    """Tempo GET /api/metrics/query — the INSTANT form of the metrics
    entrypoint (also answered 501 by the reference, tempo.rs:1284-1290):
    one value per series over the whole window instead of a bucketed
    series. rate() = matching spans / window seconds; quantile = the
    exact interpolated quantile over every matching span. ONE partial+
    final aggregation on the (tiny) series key — no bucket column at
    all, so the shuffle carries strictly less than the range form's."""
    from .parser import TraceQLError

    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    spans, cond, fn, phi, by = _parse_metrics_query(spans, q)
    filtered = spans.filter(cond)
    if fn == "rate()":
        agg = (F.count(F.lit(1)) / F.lit(float(window_seconds))).alias("value")
    elif fn.startswith("quantile_over_time"):
        agg = F.percentile(
            F.col("duration_nanos").cast("double"), F.lit(phi)
        ).alias("value")
    else:
        raise TraceQLError(
            "instant metrics support rate() and quantile_over_time()"
        )
    if by:
        return filtered.groupBy(*by).agg(agg)
    return filtered.groupBy().agg(agg)


def metrics_rate(
    spans: DataFrame,
    cond,
    step_seconds: int,
    by_cols: tuple[str, ...] = (),
    ts_col: str = "timestamp",
) -> DataFrame:
    """TraceQL metrics ``{cond} | rate() by (...)`` — spans-per-second
    time series. The reference's Tempo metrics endpoints answer 501
    (tempo.rs:1284-1304, its issue #552); Tempo defines the semantics:
    matching-span count per step divided by step seconds. Filter-first +
    one (bucket, by...) aggregation."""
    return ts_ops.range_aggregate(
        spans.filter(cond), ts_col, step_seconds, list(by_cols),
        (F.count(F.lit(1)) / F.lit(float(step_seconds))),
    )


def metrics_quantile(
    spans: DataFrame,
    cond,
    step_seconds: int,
    phi: float,
    value_col: str = "duration_nanos",
    by_cols: tuple[str, ...] = (),
    ts_col: str = "timestamp",
) -> DataFrame:
    """TraceQL metrics ``{cond} | quantile_over_time(duration, φ)`` —
    exact interpolated quantile of a span field per step (same
    exactness argument as timeseries.quantile_over_time)."""
    return ts_ops.range_aggregate(
        spans.filter(cond), ts_col, step_seconds, list(by_cols),
        F.percentile(F.col(value_col).cast("double"), F.lit(phi)),
    )


def metrics_compare(
    spans: DataFrame,
    selection_cond,
    top_n: int = 10,
    attr_cols: tuple[str, ...] = ("span_attributes", "resource_attributes"),
) -> DataFrame:
    """TraceQL metrics ``{ } | compare({selection}, topN)`` — Tempo's
    attribute-difference analysis (traceql-metrics.md "compare"): split
    spans into selection vs baseline and count every (attribute key,
    value) pair in both groups, keeping the top-N values per key by
    selection count. The Grafana "what's different about the errored
    spans" panel.

    Shape: the selection flag rides the map explode, so BOTH groups
    aggregate in ONE (key, value) groupBy — no self-join of two
    filtered scans; the per-key top-N is a window over the already
    key-value-sized aggregate."""
    present = [c for c in attr_cols if c in spans.columns]
    if not present:
        raise ValueError(
            f"metrics_compare: none of {attr_cols} present — pass a spans "
            "frame that still carries its attribute maps"
        )
    flagged = spans.withColumn("_sel", selection_cond.cast("int"))

    def _as_string_map(c: str):
        # layout-aware, like every predicate path (operators.attrs):
        # legacy JSON-string tables parse to a map, typed AnyValue maps
        # render their display strings, map<string,string> passes through
        from pyspark.sql import types as T

        from ..schemas.anyvalue import anyvalue_display, is_anyvalue_map

        dtype = spans.schema[c].dataType
        if isinstance(dtype, T.StringType):
            return F.from_json(F.col(c), "map<string,string>")
        if is_anyvalue_map(dtype):
            return F.transform_values(
                F.col(c), lambda _k, v: anyvalue_display(v)
            )
        return F.col(c)

    per_attr = None
    for c in present:
        e = flagged.select(
            "_sel", F.explode_outer(_as_string_map(c)).alias("attr_key", "attr_value")
        ).filter(F.col("attr_key").isNotNull())
        per_attr = e if per_attr is None else per_attr.unionByName(e)
    agg = (
        per_attr.groupBy("attr_key", "attr_value")
        .agg(
            F.sum("_sel").cast("long").alias("selection_count"),
            F.sum(1 - F.col("_sel")).cast("long").alias("baseline_count"),
        )
    )
    w = Window.partitionBy("attr_key").orderBy(
        F.col("selection_count").desc(), F.col("attr_value").asc()
    )
    return (
        agg.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_n)
        .drop("_rk")
    )


def metrics_histogram(
    spans: DataFrame,
    cond,
    step_seconds: int,
    value_col: str = "duration_nanos",
    ts_col: str = "timestamp",
) -> DataFrame:
    """TraceQL metrics ``{cond} | histogram_over_time(duration)`` —
    per-step power-of-two duration buckets (Tempo's heatmap series,
    keyed by the bucket's upper bound in seconds). The log2 bucket of
    an integer nanos value is its bit length — integer-exact, no libm —
    and the whole operator is one (bucket, exponent) aggregation."""
    v = F.col(value_col).cast("long")
    # bit_length(v) = floor(log2(v)) + 1 for v >= 1; exact-power values
    # belong to the lower bucket ((2^(e-1), 2^e] convention)
    exp = (
        F.when(v <= 1, F.lit(0))
        .when(v.bitwiseAND(v - 1) == 0, F.length(F.bin(v)) - 1)
        .otherwise(F.length(F.bin(v)))
        .cast("int")
    )
    b = ts_ops.with_bucket(spans.filter(cond), ts_col, step_seconds)
    return (
        b.groupBy("bucket", exp.alias("le_exp"))
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .withColumn("le_nanos", F.pow(F.lit(2.0), F.col("le_exp")).cast("long"))
        .select("bucket", "le_exp", "le_nanos", "count")
    )


def service_graph(
    spans: DataFrame,
    service_col: str = "service_name",
    duration_col: str = "duration_nanos",
) -> DataFrame:
    """Service dependency graph (Grafana/Tempo service-map metrics,
    beyond the reference's endpoint set): an edge (client, server) for
    every parent→child span pair that crosses a service boundary, with
    call count and exact p50/p99 of the child (server-side) duration.

    ONE self-join on (trace_id, parent link) — the same equi-join shape
    as child_spans, both sides projected to three columns before the
    shuffle — then one aggregation on the (client, server) edge key.
    Edge cardinality is #services², so everything after the join is
    tiny."""
    parents = spans.select(
        F.col("trace_id").alias("_t"),
        F.col("span_id").alias("_p"),
        F.col(service_col).alias("client"),
    )
    children = spans.filter(F.col("parent_span_id").isNotNull()).select(
        "trace_id", "parent_span_id",
        F.col(service_col).alias("server"),
        F.col(duration_col).cast("double").alias("_d"),
    )
    edges = children.join(
        parents,
        (children["trace_id"] == parents["_t"])
        & (children["parent_span_id"] == parents["_p"]),
    ).filter(F.col("client") != F.col("server"))
    return (
        edges.groupBy("client", "server")
        .agg(
            F.count(F.lit(1)).alias("calls"),
            F.round(F.percentile("_d", F.lit(0.5)), 6).alias("p50_duration"),
            F.round(F.percentile("_d", F.lit(0.99)), 6).alias("p99_duration"),
        )
        .orderBy("client", "server")
    )


def red_metrics(
    spans: DataFrame,
    step_seconds: int,
    service_col: str = "service_name",
    duration_col: str = "duration_nanos",
    error_cond=None,
    ts_col: str = "timestamp",
) -> DataFrame:
    """RED metrics per (bucket, service): request rate, error rate, and
    exact p50/p99 duration — the canonical service dashboard, computed
    from spans in ONE partial+final aggregation (no joins; the
    error indicator folds into the same pass as the percentiles)."""
    err = (
        error_cond if error_cond is not None else (F.col("status_code") == "Error")
    ).cast("int")
    d = F.col(duration_col).cast("double")
    return (
        ts_ops.with_bucket(spans, ts_col, step_seconds)
        .groupBy("bucket", F.col(service_col).alias("service"))
        .agg(
            F.count(F.lit(1)).alias("requests"),
            (F.count(F.lit(1)) / F.lit(float(step_seconds))).alias("rate"),
            F.sum(err).cast("long").alias("errors"),
            F.round(F.sum(err) / F.count(F.lit(1)), 6).alias("error_ratio"),
            F.round(F.percentile(d, F.lit(0.5)), 6).alias("p50_duration"),
            F.round(F.percentile(d, F.lit(0.99)), 6).alias("p99_duration"),
        )
    )


def tail_sample(
    spans: DataFrame,
    error_cond=None,
    min_trace_duration_nanos: int | None = None,
    duration_col: str = "duration_nanos",
) -> DataFrame:
    """Tail-based sampling policy (OTel tail-sampling processor
    semantics, batch form): keep EVERY span of a trace that qualifies —
    any span matching ``error_cond``, or trace wall-duration (max span
    start+duration − min start, when start times exist; else max span
    duration) reaching the threshold.

    One aggregation over trace_id computes the per-trace verdict, then
    a broadcast-friendly semi-join keeps qualifying traces' spans —
    qualifying traces are a small fraction by design, so the keep-list
    side stays tiny at any corpus size."""
    err = error_cond if error_cond is not None else (F.col("status_code") == "Error")
    has_start = "start_time_unix_nano" in spans.columns
    dur = (
        F.max(F.col("start_time_unix_nano") + F.col(duration_col))
        - F.min("start_time_unix_nano")
        if has_start
        else F.max(F.col(duration_col))
    )
    verdict = spans.groupBy("trace_id").agg(
        F.max(err.cast("int")).alias("_err"), dur.alias("_dur")
    )
    keep_cond = F.col("_err") == 1
    if min_trace_duration_nanos is not None:
        keep_cond = keep_cond | (F.col("_dur") >= min_trace_duration_nanos)
    keep = verdict.filter(keep_cond).select("trace_id")
    return spans.join(keep, "trace_id", "leftsemi")


def linked_traces(
    spans: DataFrame, links_col: str = "links", cap: int = 10000
) -> DataFrame:
    """Cross-trace reference pivot: explode persisted span links
    (storage-layout.md:336; wire shape flight/schema.rs:69-84) into
    (trace_id, span_id, linked_trace_id, linked_span_id) edges — how a
    batch-job span points at the workflow trace that spawned it. The
    reference persists links but has no query that reads them.

    ``explode`` runs only over link-carrying spans (the size filter
    prunes at the scan); output is edge-list sized, capped and ordered
    deterministically for the API shaper."""
    return (
        spans.filter(F.size(F.col(links_col)) > 0)
        .select(
            "trace_id", "span_id",
            F.explode(F.col(links_col)).alias("_l"),
        )
        .select(
            "trace_id", "span_id",
            F.col("_l.trace_id").alias("linked_trace_id"),
            F.col("_l.span_id").alias("linked_span_id"),
        )
        .orderBy("trace_id", "span_id", "linked_trace_id", "linked_span_id")
        .limit(cap)
    )


INTRINSIC_TAGS = ("duration", "kind", "name", "status")


def tag_names_v2(traces: DataFrame, cap: int = 1000) -> DataFrame:
    """Tempo ``/api/v2/search/tags``: tag names grouped by scope —
    (scope, name) rows for span / resource / intrinsic (the v2 response
    shape Grafana's scoped autocomplete consumes; v1 flattens scopes)."""
    spark = traces.sparkSession
    span = tag_names(traces, "span", cap).select(
        F.lit("span").alias("scope"), "name"
    )
    res = tag_names(traces, "resource", cap).select(
        F.lit("resource").alias("scope"), "name"
    )
    intr = spark.createDataFrame(
        [("intrinsic", n) for n in INTRINSIC_TAGS], "scope string, name string"
    )
    return span.unionByName(res).unionByName(intr).orderBy("scope", "name")


TRACE_INTRINSICS = ("traceDuration", "rootName", "rootServiceName")


def trace_level_filter(
    spans: DataFrame,
    which: str,
    op: str,
    value,
) -> DataFrame:
    """Tempo trace-level intrinsics (`{ traceDuration > 2s }`,
    `{ rootName = "GET /" }`, `{ rootServiceName = "api" }`): the
    predicate is a property of the WHOLE trace; spans of qualifying
    traces are returned. One per-trace aggregate builds the tiny
    verdict frame — traceDuration = max(start+duration) − min(start),
    root fields from the root span (min start among is_root as the
    deterministic pick) — then a broadcast semi-join keeps the spans.
    Same shape as tail sampling: verdicts are trace-count-sized."""
    root_pick = F.when(
        F.col("parent_span_id").isNull(), F.col("start_time_unix_nano")
    )
    agg_for = {
        "traceDuration": (
            F.max(F.col("start_time_unix_nano") + F.col("duration_nanos"))
            - F.min("start_time_unix_nano")
        ),
        "rootName": F.min_by(F.col("span_name"), root_pick),
        "rootServiceName": F.min_by(F.col("service_name"), root_pick),
    }[which]
    per_trace = spans.groupBy("trace_id").agg(agg_for.alias("_v"))
    col = F.col("_v")
    keep = per_trace.filter(_apply_op(col, op, value)).select("trace_id")
    return spans.join(F.broadcast(keep), "trace_id", "leftsemi")
