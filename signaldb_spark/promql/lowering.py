"""PromQL → DataFrame lowering.

Spark analog of ``MetricsService`` (src/querier/src/query/metrics.rs):
``scan_union`` of gauge+sum tables (metrics.rs:1444-1484), label
matchers (2147-2218), simple/range queries (910-1027), outer aggs
(2241-2334), value ops (2471), histogram_quantile (1061-1278 +
2363-2418), absent (660), calendar fns (1991), count_values (1910),
topk (2608). Everything the reference computes post-collect — topk,
count_values, histogram interpolation, binary joins, subquery reduce —
stays in-engine here (Window/joins/higher-order array fns), which is
the scale-out upgrade the reference itself tracks as debt (#951,
metrics.rs:60-71).

Matrix convention: (bucket: long epoch-s, <series cols>, value: double).
Series identity = (metric_name, service_name) + any label_* columns
(natural_series_columns, metrics.rs:2219).
"""

from __future__ import annotations

from dataclasses import dataclass

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import timeseries as ts
from ..operators import vector_ops as vo
from .ast import AggExpr, BinOp, Call, Expr, LabelMatcher, NumberLit, VectorSelector
from .parser import RANGE_FNS, VALUE_FNS, _Str

SCAN_COLUMNS = ["timestamp", "service_name", "metric_name", "value", "attributes"]

WELL_KNOWN = {"__name__": "metric_name", "job": "service_name", "service": "service_name"}

CALENDAR_FNS = {
    "hour": lambda c: F.hour(c),
    "minute": lambda c: F.minute(c),
    "month": lambda c: F.month(c),
    "year": lambda c: F.year(c),
    "day_of_month": lambda c: F.dayofmonth(c),
    "day_of_year": lambda c: F.dayofyear(c),
    "day_of_week": lambda c: (F.dayofweek(c) - 1),  # Prometheus: 0=Sunday
    "days_in_month": lambda c: F.dayofmonth(F.last_day(c)),
}


@dataclass
class PromCtx:
    spark: SparkSession
    gauge: DataFrame | None
    msum: DataFrame | None
    histogram: DataFrame | None
    start: str
    end: str
    step_seconds: int
    default_range: float = 300.0  # 5m lookback for instant selectors
    tenant: str = "acme"  # demand-recording identity (attr_demand.rs keys)
    dataset: str = "prod"
    # metrics_exponential_histogram table; when a histogram_quantile
    # target metric lives here (and not in the explicit-bounds table),
    # lowering routes to the native-histogram path automatically — the
    # Prometheus UX where one query text serves both histogram kinds
    exphist: DataFrame | None = None


def scan_union(ctx: PromCtx) -> DataFrame | None:
    """gauge ∪ sum with aligned projection, absent label_* null-filled
    (scan_union, metrics.rs:1444-1484)."""
    frames = []
    for df in (ctx.gauge, ctx.msum):
        if df is not None:
            cols = [c for c in df.columns if c in SCAN_COLUMNS or c.startswith("label_")]
            frames.append(df.select(*cols))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def series_columns(df: DataFrame) -> list[str]:
    return ["metric_name", "service_name"] + [c for c in df.columns if c.startswith("label_")]


def matcher_expr(df: DataFrame, m: LabelMatcher) -> Column:
    """Label → column routing + absent-matching negations
    (matcher_expr, metrics.rs:2147-2218)."""
    if m.label in WELL_KNOWN:
        col = F.col(WELL_KNOWN[m.label])
    elif f"label_{m.label}" in df.columns:
        col = F.col(f"label_{m.label}")
    elif m.label in df.columns:
        col = F.col(m.label)
    else:
        from ..operators.attrs import attr_value

        # layout-aware: legacy JSON-string attribute tables route
        # through exact get_json_object extraction
        col = attr_value(df, "attributes", m.label)
    # Prometheus semantics: a series missing the label carries the EMPTY
    # string for it — {pod=""} selects label-less series, {pod=~".*"}
    # matches them, {pod!="x"} keeps them. One coalesce gives all four
    # ops the right null behavior (a bare null would evaluate every
    # comparison to null and silently drop the series).
    col = F.coalesce(col, F.lit(""))
    if m.op == "=":
        return col == m.value
    if m.op == "!=":
        return col != m.value
    if m.op == "=~":
        return col.rlike(f"^(?:{m.value})$")
    if m.op == "!~":
        return ~col.rlike(f"^(?:{m.value})$")
    raise ValueError(m.op)


def apply_selector(ctx: PromCtx, sel: VectorSelector, base: DataFrame) -> DataFrame:
    df = base
    if sel.offset_seconds:
        # offset d: scan a window shifted back by d, bucket labels
        # unshifted (promql.rs:216-218) — shift data timestamps forward
        df = df.withColumn(
            "timestamp",
            (F.col("timestamp").cast("double") + F.lit(sel.offset_seconds)).cast("timestamp"),
        )
    df = ts.time_window(df, "timestamp", ctx.start, ctx.end)
    if sel.metric:
        df = df.filter(F.col("metric_name") == sel.metric)
    for m in sel.matchers:
        df = df.filter(matcher_expr(df, m))
    return df


# --------------------------------------------------------------- range fns


def _pin_at(ctx: PromCtx, sel: VectorSelector, matrix: DataFrame) -> DataFrame:
    """@ modifier: the matrix was evaluated over a window ending at the
    pinned instant; keep each series' latest bucket and replicate it
    across every output step (eval_at, metrics.rs:744-827)."""
    series = [c for c in matrix.columns if c not in ("bucket", "value")]
    if series:
        pinned = matrix.groupBy(*series).agg(F.max_by("value", "bucket").alias("value"))
    else:
        pinned = matrix.orderBy(F.col("bucket").desc()).limit(1).drop("bucket")
    spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
    return spine.crossJoin(pinned)


def _resolve_at(ctx: PromCtx, at_epoch) -> float:
    """Numeric @ passes through; the ``start``/``end`` sentinels resolve
    against the query window (@ start() / @ end())."""
    import datetime as dt

    if isinstance(at_epoch, str):
        bound = ctx.start if at_epoch == "start" else ctx.end
        if isinstance(bound, str):
            bound = dt.datetime.fromisoformat(bound)
        return bound.replace(tzinfo=dt.timezone.utc).timestamp()
    return at_epoch


def _at_ctx(ctx: PromCtx, sel: VectorSelector, lookback: float) -> PromCtx:
    import datetime as dt

    at = dt.datetime.fromtimestamp(
        _resolve_at(ctx, sel.at_epoch), tz=dt.timezone.utc
    ).replace(tzinfo=None)
    start = at - dt.timedelta(seconds=lookback)
    # dataclasses.replace keeps every non-window field (exphist table,
    # tenant identity, future additions) — a positional rebuild dropped
    # exphist and silently emptied native-histogram @-queries
    import dataclasses

    return dataclasses.replace(
        ctx,
        start=start.isoformat(sep=" "),
        end=at.isoformat(sep=" "),
    )


def _phi_percentile(v, phi: float):
    """percentile with Prometheus's out-of-range answer: phi < 0 is
    -Inf, phi > 1 is +Inf (Prometheus warns; Spark's percentile would
    abort the whole query on its [0,1] range check)."""
    phi = float(phi)
    if phi < 0 or phi > 1:
        return F.max(F.lit(float("-inf") if phi < 0 else float("inf")))
    return F.percentile(v, F.lit(phi))


def lower_range_fn(
    ctx: PromCtx, fn: str, sel: VectorSelector, phi: float | None = None,
    extra: tuple = (), fuse: AggExpr | None = None,
) -> DataFrame:
    if sel.at_epoch is not None:
        inner_ctx = _at_ctx(ctx, sel, sel.range_seconds or ctx.default_range)
        pinned_sel = VectorSelector(sel.metric, sel.matchers, sel.range_seconds,
                                    sel.offset_seconds, sel.subquery)
        return _pin_at(
            ctx, sel, lower_range_fn(inner_ctx, fn, pinned_sel, phi=phi, extra=extra)
        )
    base = scan_union(ctx)
    if base is None:
        return _empty_matrix(ctx)
    df = apply_selector(ctx, sel, base)
    series = series_columns(df)
    if fuse is not None:
        # _eval_agg folded its outer aggregate in (ts.EXACT_FUSIONS)
        series = ts.kept_labels(series, fuse.grouping, fuse.without, WELL_KNOWN)
    rng = sel.range_seconds or ctx.default_range
    step = ctx.step_seconds
    v, t = F.col("value"), F.col("timestamp")
    if fn in ("rate", "increase", "delta"):
        expr = F.max_by(v, t) - F.min_by(v, t)
        if fn == "rate":
            expr = expr / F.lit(float(rng))
        return ts.range_aggregate(df, "timestamp", step, series, expr)
    if fn in ("irate", "idelta"):
        return ts.irate(df, "timestamp", step, series, "value", idelta_only=fn == "idelta")
    if fn == "deriv":
        return ts.deriv(df, "timestamp", step, series, "value")
    if fn == "predict_linear":
        return ts.predict_linear(df, "timestamp", step, series, "value", phi or 0.0)
    if fn in ("holt_winters", "double_exponential_smoothing"):
        sf_, tf_ = extra
        return ts.holt_winters(df, "timestamp", step, series, "value", sf_, tf_)
    if fn in ("resets", "changes"):
        return ts.resets(df, "timestamp", step, series, "value", changes_mode=fn == "changes")
    if fn == "absent_over_time":
        m = ts.count_over_time(df, "timestamp", step, [])
        return ts.absent(m, ts.spine(ctx.spark, ctx.start, ctx.end, step))
    if fn == "mad_over_time":
        return ts.mad_over_time(df, "timestamp", step, series, "value")
    agg = {
        "avg_over_time": F.avg(v),
        "min_over_time": F.min(v),
        "max_over_time": F.max(v),
        "sum_over_time": F.sum(v),
        "count_over_time": F.count(v).cast("double"),
        "last_over_time": F.max_by(v, t),
        # earliest sample; equal-timestamp tie resolved to the smaller
        # value so the pick is deterministic under shuffle order
        "first_over_time": F.min_by(v, F.struct(t, v)),
        # ts_of_*: Prometheus 3.x experimental — the timestamp (epoch
        # seconds, double) of the picked sample. Prometheus scans with
        # >= / <= so ties resolve to the LATEST occurrence; the struct
        # max_by ((value, ts) / (-value, ts)) reproduces that
        # deterministically (functions.go funcTsOfMaxOverTime).
        "ts_of_max_over_time": F.max_by(t.cast("double"), F.struct(v, t)),
        "ts_of_min_over_time": F.max_by(t.cast("double"), F.struct(-v, t)),
        "ts_of_last_over_time": F.max(t.cast("double")),
        "present_over_time": F.lit(1.0),
        "stddev_over_time": F.stddev_pop(v),
        "stdvar_over_time": F.var_pop(v),
        "quantile_over_time": _phi_percentile(v, phi if phi is not None else 0.5),
    }[fn]
    return ts.range_aggregate(df, "timestamp", step, series, agg)


def lower_instant(ctx: PromCtx, sel: VectorSelector) -> DataFrame:
    """Bare selector: last value per (bucket, series) — MetricAgg::Last
    (promql.rs:48-50; metrics.rs:2241)."""
    if sel.at_epoch is not None:
        inner_ctx = _at_ctx(ctx, sel, ctx.default_range)
        pinned_sel = VectorSelector(sel.metric, sel.matchers, sel.range_seconds,
                                    sel.offset_seconds, sel.subquery)
        return _pin_at(ctx, sel, lower_instant(inner_ctx, pinned_sel))
    base = scan_union(ctx)
    if base is None:
        return _empty_matrix(ctx)
    df = apply_selector(ctx, sel, base)
    series = series_columns(df)
    return ts.range_aggregate(
        df, "timestamp", ctx.step_seconds, series, F.max_by(F.col("value"), F.col("timestamp"))
    )


# -------------------------------------------------------------- histogram


def lower_histogram_quantile(
    ctx: PromCtx, phi: float, sel: VectorSelector, rate_mode: bool
) -> DataFrame:
    """histogram_quantile(φ, m | rate(m[d])): element-wise aggregate of
    bucket_counts then linear interpolation within explicit_bounds
    (histogram_query metrics.rs:1061-1278; interpolation 2363-2418).

    In-engine via posexplode + running cumulative Window — distributable,
    unlike the reference's post-collect interpolation.
    """
    if ctx.histogram is None:
        return _empty_matrix(ctx)
    df = apply_selector(ctx, sel, ctx.histogram)
    series = ["metric_name", "service_name"]
    step = ctx.step_seconds
    b = ts.with_bucket(df, "timestamp", step)
    if rate_mode:
        # cumulative histograms: per-element last - first within bucket
        agg = b.groupBy("bucket", *series).agg(
            F.max_by("bucket_counts", "timestamp").alias("last_c"),
            F.min_by("bucket_counts", "timestamp").alias("first_c"),
            F.max_by("explicit_bounds", "timestamp").alias("bounds"),
        )
        counts = F.zip_with("last_c", "first_c", lambda a, c: a - c)
    else:
        # delta-temporality style: element-wise sum across samples
        agg = b.groupBy("bucket", *series).agg(
            F.reduce(
                F.collect_list("bucket_counts"),
                F.expr("cast(array() as array<double>)"),
                lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                    F.zip_with(acc, x, lambda p, q: p + q)
                ),
            ).alias("sum_c"),
            F.max_by("explicit_bounds", "timestamp").alias("bounds"),
        )
        counts = F.col("sum_c")
    agg = agg.select("bucket", *series, counts.alias("counts"), "bounds")
    # explode counts with index; cumulative ≥ rank pick; interpolate
    e = agg.select(
        "bucket", *series, "bounds",
        F.aggregate("counts", F.lit(0.0), lambda a, x: a + x).alias("total"),
        F.posexplode("counts").alias("idx", "cnt"),
    ).filter(F.col("total") > 0)
    w = Window.partitionBy("bucket", *series).orderBy("idx")
    e = e.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "rank", F.lit(phi) * F.col("total")
    )
    hit = e.filter(F.col("cum") >= F.col("rank"))
    first_hit = hit.withColumn(
        "rn", F.row_number().over(Window.partitionBy("bucket", *series).orderBy("idx"))
    ).filter(F.col("rn") == 1)
    nb = F.size("bounds")
    idx = F.col("idx")
    lower = F.when(idx == 0, F.when(F.element_at("bounds", 1) > 0, F.lit(0.0)).otherwise(
        F.element_at("bounds", 1))
    ).otherwise(F.element_at("bounds", idx))  # bounds[idx-1] (1-based element_at)
    upper = F.when(idx >= nb, F.element_at("bounds", nb)).otherwise(
        F.element_at("bounds", idx + 1)
    )
    cum_before = F.col("cum") - F.col("cnt")
    frac = (F.col("rank") - cum_before) / F.col("cnt")
    value = F.when(idx >= nb, F.element_at("bounds", nb)).otherwise(
        lower + (upper - lower) * frac
    )
    return first_hit.select("bucket", *series, value.alias("value"))


def lower_histogram_fraction(
    ctx: PromCtx, low: float, high: float, sel: VectorSelector, rate_mode: bool = False
) -> DataFrame:
    """histogram_fraction(l, h, m): fraction of observations in (l, h]
    via cumulative interpolation at both endpoints
    (metrics.rs:2420-2454) — pure array expressions, one pass."""
    if ctx.histogram is None:
        return _empty_matrix(ctx)
    df = apply_selector(ctx, sel, ctx.histogram)
    series = ["metric_name", "service_name"]
    step = ctx.step_seconds
    b = ts.with_bucket(df, "timestamp", step)
    if rate_mode:
        agg = b.groupBy("bucket", *series).agg(
            F.zip_with(
                F.max_by("bucket_counts", "timestamp"),
                F.min_by("bucket_counts", "timestamp"),
                lambda a, c: a - c,
            ).alias("counts"),
            F.max_by("explicit_bounds", "timestamp").alias("bounds"),
        )
    else:
        agg = b.groupBy("bucket", *series).agg(
            F.reduce(
                F.collect_list("bucket_counts"),
                F.expr("cast(array() as array<double>)"),
                lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                    F.zip_with(acc, x, lambda p, q: p + q)
                ),
            ).alias("counts"),
            F.max_by("explicit_bounds", "timestamp").alias("bounds"),
        )

    total = F.aggregate("counts", F.lit(0.0), lambda a, x: a + x)

    def cum_at(point: float):
        """Observations ≤ point: full buckets below, linear interpolation
        within the containing bucket. First-bucket lower bound follows
        the quantile convention (0 when bounds[0] > 0); the +Inf bucket
        counts fully once point reaches the highest finite bound."""
        nb = F.size("bounds")
        idxs = F.sequence(F.lit(0), nb)  # 0..nb inclusive → nb+1 buckets
        first_lower = F.when(
            F.element_at("bounds", 1) > 0, F.lit(0.0)
        ).otherwise(F.element_at("bounds", 1))
        lowers = F.transform(
            idxs, lambda i: F.when(i == 0, first_lower).otherwise(F.element_at("bounds", i))
        )
        uppers = F.transform(
            idxs,
            lambda i: F.when(i >= nb, F.lit(float("inf"))).otherwise(
                F.element_at("bounds", i + 1)
            ),
        )
        inf = F.lit(float("inf"))
        contrib = F.zip_with(
            F.col("counts"),
            F.zip_with(lowers, uppers, lambda lo, up: F.struct(lo.alias("lo"), up.alias("up"))),
            lambda cnt, b_: F.when((b_["up"] != inf) & (b_["up"] <= point), cnt)
            .when((b_["up"] == inf) & (b_["lo"] < point), cnt)
            .when(
                (b_["lo"] < point) & (F.lit(point) < b_["up"]),
                cnt * (F.lit(point) - b_["lo"]) / (b_["up"] - b_["lo"]),
            )
            .otherwise(F.lit(0.0)),
        )
        return F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)

    frac = (cum_at(high) - cum_at(low)) / total
    return (
        agg.filter(total > 0)
        .select("bucket", *series, frac.alias("value"))
    )


def lower_exphist_quantile(ctx: PromCtx, phi: float, sel, rate_mode: bool) -> DataFrame:
    """histogram_quantile over the metrics_exponential_histogram table —
    delta temporality merges datapoints at rest; cumulative rate() mode
    takes per-step last − first (operators.exphist)."""
    from ..operators.exphist import exphist_quantile, exphist_rate_quantile

    df = apply_selector(ctx, sel, ctx.exphist)
    series = ["metric_name", "service_name"]
    if rate_mode:
        return exphist_rate_quantile(
            df, phi, series, ts_col="timestamp", step_seconds=ctx.step_seconds,
            neg_offset_col="negative_offset" if "negative_offset" in df.columns else None,
            neg_counts_col="negative_bucket_counts"
            if "negative_bucket_counts" in df.columns
            else None,
        )
    b = ts.with_bucket(df, "timestamp", ctx.step_seconds)
    return exphist_quantile(
        b, phi, ["bucket", *series],
        neg_offset_col="negative_offset" if "negative_offset" in df.columns else None,
        neg_counts_col="negative_bucket_counts"
        if "negative_bucket_counts" in df.columns
        else None,
    )


def lower_histogram_moment(ctx: PromCtx, sel, stddev: bool) -> DataFrame:
    """histogram_stddev / histogram_stdvar over explicit-bounds
    histograms — a beyond-reference extension (Prometheus defines these
    for native histograms only; the reference can't query either).

    Estimator: each bucket's mass sits at its arithmetic midpoint
    ((lo+hi)/2; first bucket [min(0, b0), b0]; the +Inf overflow bucket
    is clamped to the highest finite bound). Mean is taken from the same
    midpoints (not the stored sum) so the variance is self-consistent
    and non-negative. All in-row array folds over the latest datapoint
    per step — one shuffle, zero explode."""
    df = apply_selector(ctx, sel, ctx.histogram)
    series = ["metric_name", "service_name"]
    b = ts.with_bucket(df, "timestamp", ctx.step_seconds)
    agg = b.groupBy("bucket", *series).agg(
        F.max_by("bucket_counts", "timestamp").alias("counts"),
        F.max_by("explicit_bounds", "timestamp").alias("bounds"),
    )
    nb = F.size("bounds")
    first_mid = F.when(
        F.element_at("bounds", 1) > 0, F.element_at("bounds", 1) / 2
    ).otherwise(F.element_at("bounds", 1))
    # transform-with-index: mid(i) for the i-th count (0-based)
    mids = F.transform(
        "counts",
        lambda _x, i: F.when(i == 0, first_mid)
        .when(i >= nb, F.element_at("bounds", nb))
        .otherwise((F.element_at("bounds", i) + F.element_at("bounds", i + 1)) / 2),
    )
    total = F.aggregate("counts", F.lit(0.0), lambda a, x: a + x)
    s1 = F.aggregate(
        F.zip_with("counts", mids, lambda c, m: c * m), F.lit(0.0), lambda a, x: a + x
    )
    s2 = F.aggregate(
        F.zip_with("counts", mids, lambda c, m: c * m * m), F.lit(0.0), lambda a, x: a + x
    )
    var = F.greatest(s2 / total - (s1 / total) * (s1 / total), F.lit(0.0))
    value = F.sqrt(var) if stddev else var
    return agg.filter(total > 0).select("bucket", *series, value.alias("value"))


# ------------------------------------------------------------------- eval


def eval_expr(ctx: PromCtx, e: Expr) -> DataFrame:
    if isinstance(e, NumberLit):
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(float(e.value)))
    if isinstance(e, VectorSelector):
        if e.range_seconds is not None:
            raise ValueError("range selector outside function")
        return lower_instant(ctx, e)
    if isinstance(e, Call):
        return _eval_call(ctx, e)
    if isinstance(e, AggExpr):
        return _eval_agg(ctx, e)
    if isinstance(e, BinOp):
        return _eval_binop(ctx, e)
    raise TypeError(type(e))


def _const(a) -> float:
    """Fold a constant argument expression to a float — NumberLit or a
    scalar BinOp like the -5 in clamp(m, -5, 5) (parsed as 0-5)."""
    if isinstance(a, NumberLit):
        return float(a.value)
    if isinstance(a, BinOp) and isinstance(a.lhs, NumberLit) and isinstance(a.rhs, NumberLit):
        return vo.scalar_fold(a.op, a.lhs.value, a.rhs.value)
    return float(a)  # _Str for label args


def _eval_call(ctx: PromCtx, c: Call) -> DataFrame:
    fn = c.fn
    if fn in RANGE_FNS:
        phi = None
        extra: tuple = ()
        args = list(c.args)
        if fn == "quantile_over_time":
            phi = _const(args[0])
            args = args[1:]
        elif fn == "predict_linear":
            phi = _const(args[1])  # horizon seconds
            args = args[:1]
        elif fn in ("holt_winters", "double_exponential_smoothing"):
            extra = (_const(args[1]), _const(args[2]))
            args = args[:1]
        sel = args[0]
        if isinstance(sel, Call) and sel.fn == "__subquery__" and fn.endswith("_over_time"):
            return _eval_subquery_reduce(ctx, fn, sel, phi=phi)
        if not isinstance(sel, VectorSelector):
            raise ValueError(f"{fn} expects a range selector")
        if sel.subquery is not None and fn.endswith("_over_time"):
            # m[1h:5m] directly under <agg>_over_time: inner = the bare
            # selector evaluated at the subquery resolution
            rng, res = sel.subquery
            inner_sel = VectorSelector(sel.metric, sel.matchers, None,
                                       sel.offset_seconds, None, sel.at_epoch)
            sub = Call("__subquery__", (inner_sel, NumberLit(rng), NumberLit(res)))
            return _eval_subquery_reduce(ctx, fn, sub, phi=phi)
        return lower_range_fn(ctx, fn, sel, phi=phi, extra=extra)
    if fn in VALUE_FNS:
        inner = eval_expr(ctx, c.args[0])
        args = [_const(a) for a in c.args[1:]]
        return vo.apply_value_op(inner, fn, *args)
    if fn == "histogram_quantile":
        phi = _const(c.args[0])
        target = c.args[1]
        if isinstance(target, Call) and target.fn == "rate":
            sel, rate_mode = target.args[0], True
        elif isinstance(target, VectorSelector):
            sel, rate_mode = target, False
        else:
            raise ValueError("histogram_quantile target")
        # one query text serves both histogram kinds (the Prometheus
        # native-histogram UX): series from the explicit-bounds table
        # and the exponential-histogram table union by name
        parts = []
        if ctx.histogram is not None:
            parts.append(lower_histogram_quantile(ctx, phi, sel, rate_mode=rate_mode))
        if ctx.exphist is not None:
            parts.append(lower_exphist_quantile(ctx, phi, sel, rate_mode=rate_mode))
        if not parts:
            return _empty_matrix(ctx)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if fn == "histogram_fraction":
        # _const folds unary minus (parsed as 0-x): fractions over
        # signed bounds like (-Inf, 0] are legal Prometheus
        low, high = _const(c.args[0]), _const(c.args[1])
        target = c.args[2]
        if isinstance(target, Call) and target.fn == "rate":
            return lower_histogram_fraction(ctx, low, high, target.args[0], rate_mode=True)
        if isinstance(target, VectorSelector):
            return lower_histogram_fraction(ctx, low, high, target)
        raise ValueError("histogram_fraction target")
    if fn in ("histogram_count", "histogram_sum"):
        col = "count" if fn == "histogram_count" else "sum"
        if ctx.histogram is None:
            return _empty_matrix(ctx)
        sel = c.args[0]
        df = apply_selector(ctx, sel, ctx.histogram)
        return ts.range_aggregate(
            df, "timestamp", ctx.step_seconds, ["metric_name", "service_name"],
            F.max_by(F.col(col).cast("double"), F.col("timestamp")),
        )
    if fn == "histogram_avg":
        # exact: stored sum / count of the latest datapoint per bucket
        if ctx.histogram is None:
            return _empty_matrix(ctx)
        df = apply_selector(ctx, c.args[0], ctx.histogram)
        return ts.range_aggregate(
            df, "timestamp", ctx.step_seconds, ["metric_name", "service_name"],
            F.max_by(F.col("sum").cast("double") / F.col("count"), F.col("timestamp")),
        )
    if fn in ("histogram_stddev", "histogram_stdvar"):
        if ctx.histogram is None:
            return _empty_matrix(ctx)
        return lower_histogram_moment(ctx, c.args[0], stddev=fn == "histogram_stddev")
    if fn == "absent":
        inner = eval_expr(ctx, c.args[0])
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return ts.absent(inner, spine)
    if fn == "vector":
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(_const(c.args[0])))
    if fn == "scalar":
        # single no-label value per bucket; NaN unless exactly one
        # series (scalar_reduce, metrics.rs:1951-1989) — INCLUDING
        # steps where the inner vector has no samples at all, which a
        # bare groupBy can never emit (Prometheus returns NaN at every
        # empty evaluation step, so the result rides the spine)
        inner = eval_expr(ctx, c.args[0])
        agg = inner.groupBy("bucket").agg(
            F.when(F.count(F.lit(1)) == 1, F.first("value"))
            .otherwise(F.lit(float("nan")))
            .alias("_sv")
        )
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return (
            spine.join(agg, "bucket", "left")
            .withColumn("value", F.coalesce(F.col("_sv"), F.lit(float("nan"))))
            .drop("_sv")
        )
    if fn == "time":
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.col("bucket").cast("double"))
    if fn == "pi":
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(math.pi))
    if fn == "timestamp":
        inner = eval_expr(ctx, c.args[0])
        return inner.withColumn("value", F.col("bucket").cast("double"))
    if fn in CALENDAR_FNS:
        if not c.args:
            spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
            tcol = F.timestamp_seconds(F.col("bucket"))
            return spine.withColumn("value", CALENDAR_FNS[fn](tcol).cast("double"))
        # with a vector argument, Prometheus interprets the sample
        # VALUES as epoch timestamps (hour(process_start_time_seconds)
        # = the hour each process started), not the evaluation step
        inner = eval_expr(ctx, c.args[0])
        tcol = F.timestamp_seconds(F.col("value"))
        return inner.withColumn("value", CALENDAR_FNS[fn](tcol).cast("double"))
    if fn == "label_replace":
        inner = eval_expr(ctx, c.args[0])
        dst, repl, src, regex = (str(a) for a in c.args[1:5])
        return vo.label_replace(inner, dst, repl, src, regex)
    if fn == "label_join":
        inner = eval_expr(ctx, c.args[0])
        dst, sep, *srcs = (str(a) for a in c.args[1:])
        return vo.label_join(inner, dst, sep, list(srcs))
    if fn in ("sort", "sort_desc"):
        inner = eval_expr(ctx, c.args[0])
        series = [x for x in inner.columns if x not in ("bucket", "value")]
        return ts.sort_series_by_latest(inner, series, desc=fn == "sort_desc")
    if fn in ("sort_by_label", "sort_by_label_desc"):
        # experimental (Prometheus 2.49+): presentation ordering by the
        # named label values; ordering only, series set unchanged
        inner = eval_expr(ctx, c.args[0])
        series = [x for x in inner.columns if x not in ("bucket", "value")]
        # preserve the ARGUMENT order (sort by first label, ties by the
        # next); unrouted names are skipped, and with none routed the
        # ordering is left untouched
        cols = []
        for a in c.args[1:]:
            routed = ts.route_labels([str(a)], series, WELL_KNOWN)
            cols.extend(c2 for c2 in series if c2 in routed and c2 not in cols)
        if not cols:
            # nothing routed: keep the default deterministic ordering
            # (query_range skips its own orderBy for sort_* calls)
            return inner.orderBy("bucket", *series)
        desc = fn == "sort_by_label_desc"
        order = [F.col(c2).desc() if desc else F.col(c2).asc() for c2 in cols]
        return inner.orderBy(F.col("bucket").asc(), *order)
    raise ValueError(f"unsupported function {fn}")


def _eval_subquery_reduce(ctx: PromCtx, fn: str, sub: Call, phi: float | None = None) -> DataFrame:
    """<agg>_over_time(expr[range:res]) — evaluate inner at res over the
    extended window, sliding-reduce per outer bucket (eval_subquery,
    metrics.rs:829-908). The inner context is the OUTER context at the
    subquery resolution (dataclasses.replace keeps exphist/tenant/every
    future field — a positional rebuild silently dropped the
    exponential-histogram table, emptying native-histogram subqueries).

    The aggregate battery mirrors lower_range_fn's expressions exactly
    (same tie-break structs), built over the band join's ``m.``-side
    columns; mad_over_time takes the two-stage median path."""
    import dataclasses

    inner_expr, rng, res = sub.args
    res_s = int(res.value) or ctx.step_seconds
    inner_ctx = dataclasses.replace(ctx, step_seconds=res_s)
    inner = eval_expr(inner_ctx, inner_expr)
    series = [c for c in inner.columns if c not in ("bucket", "value")]
    spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
    if fn == "mad_over_time":
        return ts.sliding_mad(inner, spine, int(rng.value), series_cols=series)
    v, b = F.col("m.value"), F.col("m.bucket")
    exprs = {
        "sum_over_time": F.sum(v),
        "avg_over_time": F.avg(v),
        "min_over_time": F.min(v),
        "max_over_time": F.max(v),
        "count_over_time": F.count(v).cast("double"),
        "stddev_over_time": F.stddev_pop(v),
        "stdvar_over_time": F.var_pop(v),
        "last_over_time": F.max_by(v, b),
        "first_over_time": F.min_by(v, F.struct(b, v)),
        "present_over_time": F.max(F.lit(1.0)),
        # same None-fallback as lower_range_fn (0.5): the parser always
        # supplies phi, but the two paths must not disagree if it ever
        # arrives unset
        "quantile_over_time": _phi_percentile(v, phi if phi is not None else 0.5),
        "ts_of_max_over_time": F.max_by(b.cast("double"), F.struct(v, b)),
        "ts_of_min_over_time": F.max_by(b.cast("double"), F.struct(-v, b)),
        "ts_of_last_over_time": F.max(b.cast("double")),
    }
    if fn not in exprs:
        raise ValueError(f"{fn} is not supported over a subquery")
    return ts.sliding_reduce(
        inner, spine, int(rng.value), series_cols=series, expr=exprs[fn]
    )


def _eval_agg(ctx: PromCtx, a: AggExpr) -> DataFrame:
    # outer-agg fusion (ts.EXACT_FUSIONS): the range aggregate groups by
    # the kept labels directly, and the per-series matrix and its shuffle
    # never exist. Restricted to bare selectors (no subquery, no @-pin)
    # so the special evaluation paths stay untouched.
    if (
        isinstance(a.expr, Call)
        and (a.op, a.expr.fn.removesuffix("_over_time")) in ts.EXACT_FUSIONS
        and len(a.expr.args) == 1
        and isinstance(a.expr.args[0], VectorSelector)
        and a.expr.args[0].subquery is None
        and a.expr.args[0].at_epoch is None
    ):
        return lower_range_fn(ctx, a.expr.fn, a.expr.args[0], fuse=a)
    inner = eval_expr(ctx, a.expr)
    series = [c for c in inner.columns if c not in ("bucket", "value")]
    keep = ts.kept_labels(series, a.grouping, a.without, WELL_KNOWN)
    if a.op in ("topk", "bottomk"):
        # k <= 0 returns the empty vector (Prometheus), never "top 1"
        k = int(a.param if a.param is not None else 1)
        if k <= 0:
            return inner.filter(F.lit(False))
        # by()/without() scopes the ranking: topk by (job)(k, m) keeps
        # k series PER job, all original labels retained (Prometheus
        # aggregates over the OTHER labels' series sets)
        return ts.topk_per_bucket(inner, k, series,
                                  bottom=a.op == "bottomk", group_cols=keep)
    if a.op in ("limitk", "limit_ratio"):
        if a.op == "limitk":
            k = int(a.param if a.param is not None else 1)
            if k <= 0:
                return inner.filter(F.lit(False))
            return ts.limitk_per_bucket(inner, k, series, group_cols=keep)
        return ts.limit_ratio(inner, float(a.param or 0.0), series)
    if a.op == "count_values":
        # count series per distinct value; the value becomes an output
        # label named by the string param, and by()/without() grouping
        # labels are preserved like any other aggregator
        # (metrics.rs:1910-1949)
        label = str(a.param)
        return (
            inner.groupBy("bucket", *keep, F.col("value").cast("string").alias(label))
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
        )
    if a.op == "quantile":
        return ts.outer_aggregate(inner, keep, quantile=float(a.param))
    return ts.outer_aggregate(inner, keep, a.op)


def _eval_binop(ctx: PromCtx, b: BinOp) -> DataFrame:
    ls, rs = isinstance(b.lhs, NumberLit), isinstance(b.rhs, NumberLit)
    if ls and rs:
        v = vo.scalar_fold(b.op, b.lhs.value, b.rhs.value)
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(v))
    if ls or rs:
        vec = eval_expr(ctx, b.rhs if ls else b.lhs)
        scalar = b.lhs.value if ls else b.rhs.value
        if b.op in vo.ARITH:
            return vo.scalar_arith(vec, b.op, scalar, scalar_left=ls)
        op = vo.FLIP[b.op] if ls else b.op
        return vo.compare_scalar_filter(vec, op, scalar, bool_mode=b.bool_mode)
    left = eval_expr(ctx, b.lhs)
    right = eval_expr(ctx, b.rhs)
    shared = [c for c in left.columns if c in right.columns and c != "value"]
    # PromQL drops __name__ on binary ops: exclude metric_name from keys
    shared = [c for c in shared if c != "metric_name"]
    on = ts.match_keys(shared, b.on, b.ignoring, WELL_KNOWN)
    # __name__ handling (Prometheus): arithmetic and bool-mode
    # comparisons DROP the metric name; filter-mode comparisons and the
    # set operators keep each surviving sample unchanged, name included.
    # metric_name is never a match key either way (excluded from
    # `shared` above).
    drop_name = b.op in vo.ARITH or (b.op in vo.COMPARE and b.bool_mode)
    if drop_name and "metric_name" in left.columns:
        left = left.drop("metric_name")
    right_full = right
    right = right.select(*on, "value")
    # group_left/group_right many-to-one: reduce the "one" side to a
    # single deterministic row per join key (max value)
    extras: tuple = ()
    extras_side = "right"
    if b.group_side == "left":
        # group_left(lbl, …): the named labels are COPIED from the one
        # (right) side onto result rows; the extras pick the same row
        # the max-value reduction picks (struct max_by — deterministic)
        routed = ts.route_labels(b.group_labels, right_full.columns, WELL_KNOWN)
        extras = tuple(c for c in routed if c not in on)
        # copied labels OVERWRITE the many side's same-named columns
        # (the join would otherwise produce an ambiguous duplicate)
        for c in extras:
            if c in left.columns:
                left = left.drop(c)
        one = right_full.select(*on, *extras, "value")
        right = one.groupBy(*on).agg(
            F.max("value").alias("value"),
            *[
                F.max_by(c, F.struct(F.col("value"), F.col(c))).alias(c)
                for c in extras
            ],
        )
    elif b.group_side == "right":
        # group_right(lbl, …): exact mirror — the one side is the LEFT
        # operand; its named labels are copied onto the many (right)
        # side's rows, which keep their full identity
        extras_side = "left"
        routed = ts.route_labels(b.group_labels, left.columns, WELL_KNOWN)
        extras = tuple(c for c in routed if c not in on)
        one = left.select(*on, *extras, "value")
        left = one.groupBy(*on).agg(
            F.max("value").alias("value"),
            *[
                F.max_by(c, F.struct(F.col("value"), F.col(c))).alias(c)
                for c in extras
            ],
        )
        right = right_full.drop("metric_name") if "metric_name" in right_full.columns else right_full
        for c in extras:
            if c in right.columns:
                right = right.drop(c)
    if b.op in ("and", "or", "unless"):
        if b.group_side is not None:
            # Prometheus: "no grouping allowed for set operations"
            raise ValueError(f"group modifiers are not allowed for {b.op!r}")
        # the un-projected right side: `or` adopts rhs elements
        # UNCHANGED (names and rhs-only labels included), and/unless
        # only read its match keys
        return vo.vector_logical(left, right_full, b.op, on)
    if b.op in vo.COMPARE:
        return vo.vector_compare(
            left, right, b.op, on, bool_mode=b.bool_mode, extras=extras,
            extras_side=extras_side,
        )
    return vo.vector_arith(left, right, b.op, on, extras=extras, extras_side=extras_side)


def _empty_matrix(ctx: PromCtx) -> DataFrame:
    return ctx.spark.createDataFrame([], "bucket long, value double")


def query_range(ctx: PromCtx, query: str) -> DataFrame:
    from ..maintenance import attr_demand
    from .parser import parse

    expr = parse(query)
    # demand recording at the metrics entrypoint (metrics.rs:281-285):
    # matcher labels that fall through to the attributes map are the
    # promotion candidates
    cols = []
    for df in (ctx.gauge, ctx.msum, ctx.histogram):
        if df is not None:
            cols.extend(df.columns)
    attr_demand.record_promql_query(expr, ctx.tenant, ctx.dataset, cols)
    out = eval_expr(ctx, expr)
    if isinstance(expr, Call) and expr.fn in (
        "sort", "sort_desc", "sort_by_label", "sort_by_label_desc"
    ):
        return out  # presentation ordering chosen by the query itself
    series = [c for c in out.columns if c not in ("bucket", "value")]
    return out.orderBy("bucket", *series)


def histogram_to_le_series(
    hist: DataFrame,
    step_seconds: int,
    series_cols: tuple[str, ...] = ("service_name", "metric_name"),
    ts_col: str = "timestamp",
) -> DataFrame:
    """Export at-rest explicit-bounds histograms as Prometheus
    ``_bucket``-style cumulative le series — the shape Grafana heatmaps
    and any PromQL `histogram_quantile(φ, rate(m_bucket[5m]))` consumer
    expects. Beyond the reference, which stores histogram datapoints but
    never re-exposes them as le series.

    The cumulative count is an IN-ROW prefix sum over the datapoint's
    own counts array (F.aggregate over a slice — no window), and
    summing those per (bucket, series, le) is exact because cumulation
    is linear. One partial+final aggregation total."""
    from ..operators.timeseries import with_bucket

    b = with_bucket(hist, ts_col, step_seconds)
    exploded = b.select(
        "bucket", *series_cols, "explicit_bounds",
        F.posexplode("bucket_counts").alias("_pos", "_c"),
        F.col("bucket_counts").alias("_bc"),
    )
    cum = F.aggregate(
        F.slice(F.col("_bc"), 1, F.col("_pos") + 1),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    le = F.when(
        F.col("_pos") < F.size("explicit_bounds"),
        F.element_at(F.col("explicit_bounds"), F.col("_pos") + 1).cast("string"),
    ).otherwise(F.lit("+Inf"))
    return (
        exploded.select("bucket", *series_cols, le.alias("le"), cum.alias("_cum"))
        .groupBy("bucket", *series_cols, "le")
        .agg(F.sum("_cum").alias("value"))
    )


def histogram_quantile_exemplars(
    ctx: PromCtx,
    phi: float,
    sel,
    exemplars: DataFrame,
    k: int = 3,
    step_seconds: int | None = None,
) -> DataFrame:
    """Exemplar-aware histogram_quantile — the Grafana "show exemplars"
    toggle: the quantile series annotated, per bucket, with the k
    exemplars whose observed value lies CLOSEST to the quantile estimate
    (ties broken by trace_id for a total order). The reference stores
    exemplars but has no endpoint joining them back onto query results.

    ``exemplars`` is query_exemplars() output. Bucket assignment is the
    same epoch flooring as the quantile series; the join keys on bucket
    PLUS every series column both sides share, so one series' exemplars
    are never attributed to another's quantile, and the top-k windows
    per (bucket, series) — k exemplars for EACH series, not k across
    all of them. Exemplars stay sparse, AQE broadcasts the small side."""
    step = step_seconds or ctx.step_seconds
    hq_full = lower_histogram_quantile(ctx, phi, sel, rate_mode=False)
    series = [c for c in hq_full.columns if c not in ("bucket", "value")]
    hq = hq_full.select("bucket", *series, F.round("value", 6).alias("value"))
    ex_series = [c for c in series if c in exemplars.columns]
    ex = exemplars.select(
        (F.floor(F.col("time_unix_nano") / F.lit(int(step * 1e9))) * step)
        .cast("long")
        .alias("bucket"),
        *ex_series,
        F.col("value").alias("exemplar_value"),
        "trace_id",
    )
    joined = hq.join(ex, ["bucket", *ex_series])
    w = Window.partitionBy("bucket", *series).orderBy(
        F.abs(F.col("exemplar_value") - F.col("value")).asc(),
        F.col("trace_id").asc(),
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("bucket", *series, "value", "trace_id", "exemplar_value", "rk")
    )


EXEMPLAR_SCHEMA = (
    "array<struct<time_unix_nano:long,value:double,"
    "filtered_attributes:map<string,string>,trace_id:string,span_id:string>>"
)


def query_exemplars(
    df: DataFrame,
    series_cols: tuple[str, ...] = ("metric_name", "service_name"),
    exemplars_col: str = "exemplars",
) -> DataFrame:
    """Prometheus /api/v1/query_exemplars analog: parse the at-rest
    exemplar JSON blobs (sources/otlp._exemplars_json;
    conversion_metrics.rs:1318-1383 lays down the same shape) and
    surface (series, exemplar time, value, trace_id, span_id) — the
    metrics→traces pivot. The reference stores exemplars but has no
    endpoint that reads them back.

    from_json + explode over only the exemplar-carrying rows: the
    isNotNull filter prunes the (typically sparse) exemplar column at
    the scan, and nothing shuffles — the output pipelines into whatever
    the caller joins it with (usually find_by_id on trace_id)."""
    ex = F.from_json(F.col(exemplars_col), EXEMPLAR_SCHEMA)
    return (
        df.filter(F.col(exemplars_col).isNotNull())
        .select(*series_cols, F.explode(ex).alias("_e"))
        .select(
            *series_cols,
            F.col("_e.time_unix_nano").alias("time_unix_nano"),
            F.col("_e.value").alias("value"),
            F.col("_e.trace_id").alias("trace_id"),
            F.col("_e.span_id").alias("span_id"),
        )
    )
