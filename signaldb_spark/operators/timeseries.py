"""Time-series operators: the bucket/aggregate core of the engine.

The reference evaluates every LogQL/PromQL metric query as
``date_bin(step, timestamp, epoch)`` + GROUP BY (bucket, series columns)
+ aggregate, with an optional second-pass aggregation across series
(src/querier/src/query/logs.rs:278-326, metrics.rs:910-1027). The
fixed-step tumbling bucket is the documented approximation of
Prometheus/Loki sliding windows (docs/users/logql-reference.md:209-216) —
exact when step == range. We reproduce those semantics with plain
``groupBy`` over an epoch-aligned bucket column: a single shuffle on
(bucket, series), map-side partial aggregation for free, and whole-stage
codegen since everything is built-in expressions.

Operators the reference computes post-collect in native code — top-k per
bucket (logs.rs:1305), irate/resets/changes (metrics.rs:979-1440),
subquery sliding reduce (metrics.rs:829-908) — are Window functions here
so they distribute instead of being driver-bound.

Scale notes (100 TB): the (bucket, series) grouping key is
high-cardinality and uniform (bucket spreads any single-series hotspot),
so the shuffle partitions evenly; partial aggregation reduces map output
to ~|series|x|buckets| rows regardless of input volume. Window functions
partition by (series) or (bucket) — never a global window — so no
single-task bottleneck exists.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# bucketing


def bucket(ts: Column | str, step_seconds: int) -> Column:
    """Epoch-aligned tumbling bucket as epoch seconds (long).

    Semantics of DataFusion ``date_bin(step, ts, epoch)`` as used at
    logs.rs:279-289 / metrics.rs:2703: origin is the unix epoch, buckets
    are left-closed. A long epoch-seconds label (instead of a window
    struct) keeps joins/sorts on the bucket cheap and makes results
    directly comparable across engines.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.floor(c.cast("double") / step_seconds) * step_seconds).cast("long")


def with_bucket(df: DataFrame, ts_col: str, step_seconds: int, out: str = "bucket") -> DataFrame:
    return df.withColumn(out, bucket(ts_col, step_seconds))


def time_window(df: DataFrame, ts_col: str, start, end) -> DataFrame:
    """Inclusive [start, end] window predicate (apply_window, logs.rs:692).
    Either bound may be None — a one-sided request filters its own side
    (every windowed endpoint shares THIS function, so a single-sided
    start/end can't silently scan all history at one call site).

    With hour-partitioned signal tables the partition column is derived
    from the same timestamp, so Catalyst prunes partitions from this one
    predicate — no dual-bound trick needed (SURVEY §2.2).
    """
    if start is not None and end is not None:
        return df.filter(F.col(ts_col).between(start, end))
    if start is not None:
        return df.filter(F.col(ts_col) >= start)
    if end is not None:
        return df.filter(F.col(ts_col) <= end)
    return df


# ---------------------------------------------------------------------------
# range aggregates (first pass: per (bucket, series))

def range_aggregate(
    df: DataFrame,
    ts_col: str,
    step_seconds: int,
    series_cols: list[str],
    agg: Column,
    out: str = "value",
) -> DataFrame:
    """GROUP BY (bucket, series...) with one aggregate expression."""
    return (
        with_bucket(df, ts_col, step_seconds)
        .groupBy("bucket", *series_cols)
        .agg(agg.alias(out))
    )


def count_over_time(df, ts_col, step_seconds, series_cols):
    return range_aggregate(df, ts_col, step_seconds, series_cols, F.count(F.lit(1)).cast("double"))


def rate(df, ts_col, step_seconds, series_cols, range_seconds: int | None = None):
    """count per bucket / range seconds (logs.rs:278-309)."""
    rs = range_seconds or step_seconds
    return range_aggregate(
        df, ts_col, step_seconds, series_cols, (F.count(F.lit(1)) / F.lit(float(rs)))
    )


def bytes_over_time(df, ts_col, step_seconds, series_cols, body_col: str = "body"):
    """sum(character_length(body)) per bucket (logs.rs:704)."""
    return range_aggregate(
        df, ts_col, step_seconds, series_cols, F.sum(F.length(body_col)).cast("double")
    )


def quantile_over_time(df, ts_col, step_seconds, series_cols, value_col, phi: float, exact=True):
    """quantile per bucket (logs.rs:709-711).

    The reference uses DataFusion approx_percentile_cont; Spark offers
    both ``percentile`` (exact, interpolating — matches quantile_cont
    semantics and the DuckDB oracle) and ``percentile_approx``. Exact by
    default: at 100 TB the per-group row counts after the (bucket,series)
    shuffle are modest, and exactness buys oracle parity.
    """
    # Prometheus answers out-of-range φ with ±Inf (plus a warning);
    # Spark's percentile would abort the query instead
    if phi < 0 or phi > 1:
        sentinel = float("-inf") if phi < 0 else float("inf")
        return range_aggregate(
            df, ts_col, step_seconds, series_cols, F.max(F.lit(sentinel))
        )
    fn = F.percentile if exact else F.percentile_approx
    return range_aggregate(
        df, ts_col, step_seconds, series_cols, fn(F.col(value_col), F.lit(phi))
    )


def _array_median(arr: Column) -> Column:
    """Interpolated median of a SORTED double array — identical to
    percentile(x, 0.5) / DuckDB ``median`` for even and odd counts."""
    n = F.size(arr)
    mid = ((n + 1) / 2).cast("int")
    lo = F.element_at(arr, (n / 2).cast("int"))
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    # the n > 0 guard is load-bearing: an EMPTY array (all-null values —
    # collect_list drops nulls) would evaluate element_at(arr, 0) in the
    # even branch, which always throws INVALID_INDEX_OF_ZERO
    return F.when(
        n > 0,
        F.when(n % 2 == 1, F.element_at(arr, mid)).otherwise((lo + hi) / 2.0),
    )


def mad_over_time(df, ts_col, step_seconds, series_cols, value_col):
    """Median absolute deviation per (bucket, series) — PromQL's
    experimental ``mad_over_time``: median(|x - median(x)|).

    A nested median can't stream through one aggregate, but it CAN stay
    in one shuffle: collect the window's values into a sorted array,
    then both medians are array expressions over it (no second pass, no
    join back). Per-group arrays are range-window sized — bounded by the
    same argument that makes exact quantile_over_time viable.
    """
    v = F.col(value_col).cast("double")
    grouped = (
        with_bucket(df, ts_col, step_seconds)
        .groupBy("bucket", *series_cols)
        .agg(F.array_sort(F.collect_list(v)).alias("_vals"))
    )
    med = _array_median(F.col("_vals"))
    dev = F.array_sort(F.transform(F.col("_vals"), lambda x: F.abs(x - med)))
    return grouped.select(
        "bucket", *series_cols, _array_median(dev).alias("value")
    )


# ---------------------------------------------------------------------------
# outer aggregation (second pass: across series, keep bucket)

OUTER_AGGS = {
    # outer_agg_expr (logs.rs:728-739) + PromQL MetricAgg (promql.rs:46-77)
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c).cast("double"),
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    "group": lambda c: F.lit(1.0),
}


def outer_aggregate(
    matrix: DataFrame, by: list[str], agg: str = "sum", value_col: str = "value",
    quantile: float | None = None,
) -> DataFrame:
    """Re-aggregate a (bucket, series, value) matrix across series.

    ``by`` lists the series labels to KEEP (PromQL ``by``); ``without``
    is resolved to its complement by the caller (group_columns_for,
    metrics.rs:2241-2334). ``quantile`` handles quantile-across-series.
    """
    if quantile is not None:
        if quantile < 0 or quantile > 1:
            # Prometheus: out-of-range φ answers ±Inf with a warning;
            # Spark's percentile would abort the query
            expr = F.max(F.lit(float("-inf") if quantile < 0 else float("inf")))
        else:
            expr = F.percentile(F.col(value_col), F.lit(quantile))
    else:
        expr = OUTER_AGGS[agg](F.col(value_col))
    return matrix.groupBy("bucket", *by).agg(expr.alias(value_col))


# (outer op, range kind) pairs where the outer aggregate over the
# per-series range aggregates EQUALS the range aggregate grouped by the
# kept labels directly, so the per-series matrix and its (bucket ×
# full-label-set) shuffle never exist. Only order-exact pairs: counts
# and octet sums are exact integers, min/max are order-free, and an
# exact sum grouped coarser is the sum of per-series sums. rate/avg/
# stddev/quantile shapes are not collapsible and keep the two-pass form.
# The range kind is the LogQL ``fn`` as is, the PromQL/IR function with
# ``_over_time`` stripped.
EXACT_FUSIONS = frozenset({
    ("sum", "sum"), ("sum", "count"), ("sum", "bytes"),
    ("min", "min"), ("max", "max"),
})


# ---------------------------------------------------------------------------
# label routing (group_columns_for, metrics.rs:2241-2334)


def route_labels(labels, series, well_known: dict[str, str]) -> set[str]:
    """Dialect label names → the storage columns of ``series`` they name:
    the dialect's well-known column, then a materialized ``label_<name>``,
    then the name itself. Unrouted names are dropped. Serves by/without,
    on/ignoring and group_left/right alike — the routing matchers apply."""
    out: set[str] = set()
    for label in labels:
        if well_known.get(label) in series:
            out.add(well_known[label])
        elif f"label_{label}" in series:
            out.add(f"label_{label}")
        elif label in series:
            out.add(label)
    return out


def kept_labels(
    series: list[str], labels, without: bool, well_known: dict[str, str]
) -> list[str]:
    """The series columns a ``by (labels)`` / ``without (labels)``
    modifier keeps, in series order. ``without ()`` keeps every column
    (one group per series); ``by ()`` and no modifier keep none."""
    routed = route_labels(labels, series, well_known)
    if without:
        return [c for c in series if c not in routed]
    return [c for c in series if c in routed]


def match_keys(
    shared: list[str], on, ignoring, well_known: dict[str, str]
) -> list[str]:
    """Vector-matching join keys over the label columns both operands
    share: ``on (…)`` keeps the routed labels, ``ignoring (…)`` drops
    them, no modifier matches on all of them; ``bucket`` always leads."""
    if on is not None:
        keys = ["bucket", *kept_labels(shared, on, False, well_known)]
    elif ignoring is not None:
        keys = kept_labels(shared, ignoring, True, well_known)
    else:
        keys = list(shared)
    return keys if "bucket" in keys else ["bucket", *keys]


# ---------------------------------------------------------------------------
# counter family: rate/increase/delta, irate/idelta, deriv, resets/changes


def increase(df, ts_col, step_seconds, series_cols, value_col):
    """last - first per (bucket, series), ordered by time.

    range_query (metrics.rs:1004-1027): no counter-reset correction, by
    design. max_by/min_by avoid a Window: one aggregate pass.
    """
    v, t = F.col(value_col), F.col(ts_col)
    return range_aggregate(
        df, ts_col, step_seconds, series_cols, (F.max_by(v, t) - F.min_by(v, t))
    )


def delta(df, ts_col, step_seconds, series_cols, value_col):
    return increase(df, ts_col, step_seconds, series_cols, value_col)


def irate(df, ts_col, step_seconds, series_cols, value_col, idelta_only=False):
    """Last two samples per (bucket, series) (metrics.rs:979-1003).

    Window ``lag`` over time order within the series partition — stays
    in-engine (the reference does this post-collect).
    """
    # ONE window spec serves lag, row_number, and the group count — all
    # three share the ascending sort, so Catalyst plans a single
    # WindowExec (the previous asc-lag + desc-row_number pair paid two
    # full window sorts over the same partition)
    w = Window.partitionBy("bucket", *series_cols).orderBy(F.col(ts_col))
    wcnt = Window.partitionBy("bucket", *series_cols)
    b = with_bucket(df, ts_col, step_seconds)
    b = (
        b.withColumn("_prev_v", F.lag(value_col).over(w))
        .withColumn("_prev_t", F.lag(ts_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wcnt))
        .filter((F.col("_rn") == F.col("_n")) & F.col("_prev_v").isNotNull())
    )
    dv = F.col(value_col) - F.col("_prev_v")
    # exact µs difference: casting each timestamp to double first loses
    # sub-µs precision (double resolution ~2e-7s at 2024 epochs) and the
    # error is amplified by the division
    dt = (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev_t"))) / 1e6
    # dt == 0 (duplicate-timestamp ingestion artifact) must not abort
    # the query under ANSI division — IEEE semantics like every other
    # PromQL division: ±Inf by the sign of dv, NaN for 0/0
    from .vector_ops import _ieee_div

    value = dv if idelta_only else _ieee_div(dv, dt)
    return b.select("bucket", *series_cols, value.alias("value"))


def deriv(df, ts_col, step_seconds, series_cols, value_col):
    """Per-series least-squares slope vs epoch seconds (metrics.rs:967-977)."""
    return range_aggregate(
        df, ts_col, step_seconds, series_cols,
        F.regr_slope(F.col(value_col), F.col(ts_col).cast("double")),
    )


def predict_linear(df, ts_col, step_seconds, series_cols, value_col, horizon_seconds):
    """PromQL ``predict_linear(v[d], t)``: least-squares extrapolation to
    ``horizon_seconds`` past the bucket's end. Beyond-reference — the
    reference's PromQL surface stops at deriv (promql.rs:1303-1307).

    The abscissa is centered on the bucket start (seconds into the
    window) instead of raw epoch seconds: an intercept at epoch-sized x
    magnifies slope rounding by 1e9 and breaks cross-engine parity; on
    centered x both slope and intercept stay O(value)."""
    x = F.col(ts_col).cast("double") - F.col("bucket").cast("double")
    v = F.col(value_col)
    target = F.lit(float(step_seconds + horizon_seconds))
    return range_aggregate(
        df, ts_col, step_seconds, series_cols,
        F.regr_intercept(v, x) + F.regr_slope(v, x) * target,
    )


def holt_winters(df, ts_col, step_seconds, series_cols, value_col, sf, tf):
    """PromQL ``holt_winters(v[d], sf, tf)`` (a.k.a.
    double_exponential_smoothing): sequential level/trend recurrence over
    time-ordered samples. Beyond-reference.

    An inherently sequential operator expressed without any UDF: samples
    are gathered per (bucket, series) with ``array_sort(collect_list)``
    and folded with ``F.aggregate`` — the recurrence runs inside
    whole-stage codegen, one shuffle total, parallel across series.
    State is (i, s0, s1, b) mirroring Prometheus's funcHoltWinters:
    s1 seeds from the first sample, b from the first delta, then
    b' = tf*(s1-s0) + (1-tf)*b and s1' = sf*x + (1-sf)*(s1+b').
    Series with fewer than two samples drop (Prometheus parity)."""
    sfl, tfl = F.lit(float(sf)), F.lit(float(tf))
    pts = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col).alias("t"), F.col(value_col).cast("double").alias("v"))
        )
    )
    agg = with_bucket(df, ts_col, step_seconds).groupBy("bucket", *series_cols).agg(
        pts.alias("_pts")
    )
    init = F.struct(
        F.lit(0).cast("long").alias("i"),
        F.lit(0.0).alias("s0"),
        F.lit(0.0).alias("s1"),
        F.lit(0.0).alias("b"),
    )

    def _step(acc, p):
        i, s0, s1, b = acc["i"], acc["s0"], acc["s1"], acc["b"]
        v = p["v"]
        # trend: first delta on the second sample, smoothed afterwards
        bn = F.when(i == 1, v - s1).otherwise(tfl * (s1 - s0) + (F.lit(1.0) - tfl) * b)
        s1n = sfl * v + (F.lit(1.0) - sfl) * (s1 + bn)
        return F.when(
            i == 0,
            F.struct(
                F.lit(1).cast("long").alias("i"),
                F.lit(0.0).alias("s0"),
                v.alias("s1"),
                F.lit(0.0).alias("b"),
            ),
        ).otherwise(
            F.struct(
                (i + F.lit(1)).cast("long").alias("i"),
                s1.alias("s0"),
                s1n.alias("s1"),
                bn.alias("b"),
            )
        )

    folded = F.aggregate(
        F.col("_pts"), init, _step,
        lambda acc: F.when(acc["i"] >= 2, acc["s1"]),
    )
    return (
        agg.select("bucket", *series_cols, folded.alias("value"))
        .filter(F.col("value").isNotNull())
    )


def resets(df, ts_col, step_seconds, series_cols, value_col, changes_mode=False):
    """Count decreases (resets) / changes over time-ordered samples per
    bucket (sequence_query, metrics.rs:1279-1440) — Window lag + sum."""
    w = Window.partitionBy("bucket", *series_cols).orderBy(F.col(ts_col))
    b = with_bucket(df, ts_col, step_seconds).withColumn("_prev", F.lag(value_col).over(w))
    if changes_mode:
        hit = F.col("_prev").isNotNull() & (F.col(value_col) != F.col("_prev"))
    else:
        hit = F.col("_prev").isNotNull() & (F.col(value_col) < F.col("_prev"))
    return (
        b.groupBy("bucket", *series_cols)
        .agg(F.sum(F.when(hit, 1).otherwise(0)).cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# bucket spine + absent


def bucket_spine(spark, start_epoch_s: int, end_epoch_s: int, step_seconds: int) -> DataFrame:
    """All step-aligned buckets in [start, end] — built with ``sequence``
    + explode, no driver loop; used by absent()/vector() synthesis
    (eval_absent metrics.rs:660-742, synthesize_vector logs.rs:1189)."""
    first = (start_epoch_s // step_seconds) * step_seconds
    last = (end_epoch_s // step_seconds) * step_seconds
    return spark.range(1).select(
        F.explode(F.sequence(F.lit(first), F.lit(last), F.lit(step_seconds))).alias("bucket")
    )


def _epoch_s(x) -> int:
    if isinstance(x, str):
        x = datetime.fromisoformat(x)
    # naive bounds are UTC wall time (the session timezone is pinned
    # UTC); tz-aware bounds already carry their instant — replacing
    # their tzinfo would shift the spine against the data window
    if x.tzinfo is None:
        x = x.replace(tzinfo=timezone.utc)
    return int(x.timestamp())


def spine(spark, start, end, step_seconds: int) -> DataFrame:
    """:func:`bucket_spine` over a query window whose bounds are ISO
    strings or datetimes."""
    return bucket_spine(spark, _epoch_s(start), _epoch_s(end), step_seconds)


def absent(matrix: DataFrame, spine: DataFrame) -> DataFrame:
    """1.0 for each spine bucket with no data — anti-join of the spine
    against the matrix's buckets."""
    present = matrix.select("bucket").distinct()
    return spine.join(present, "bucket", "left_anti").withColumn("value", F.lit(1.0))


def present_over_time(df, ts_col, step_seconds, series_cols):
    return range_aggregate(df, ts_col, step_seconds, series_cols, F.lit(1.0))


# ---------------------------------------------------------------------------
# ranking / sorting

def topk_per_bucket(
    matrix: DataFrame,
    k: int,
    series_cols: list[str],
    value_col: str = "value",
    bottom: bool = False,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Keep k highest/lowest series within each time bucket.

    apply_topk (logs.rs:1305-1364, metrics.rs:2608-2690) — post-collect
    in the reference; a bucket-partitioned Window here. Ties broken by
    series labels ascending for determinism (the reference sorts its
    group map; we pin an explicit order so results are stable under the
    shuffle).

    ``group_cols`` scopes the ranking (PromQL ``topk by (job)(k, m)``:
    k series per (bucket, job) group, every original label retained) —
    the window partitions on (bucket, *group_cols) and a finer
    partitioning only spreads the work wider.
    """
    v = F.col(value_col)
    order = [v.asc() if bottom else v.desc()] + [F.col(c).asc() for c in series_cols]
    w = Window.partitionBy("bucket", *(group_cols or [])).orderBy(*order)
    return (
        matrix.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def topk_per_bucket_salted(
    matrix: DataFrame,
    k: int,
    series_cols: list[str],
    value_col: str = "value",
    bottom: bool = False,
    salts: int = 16,
) -> DataFrame:
    """Two-phase top-k: per-(bucket, salt) partial top-k, then the final
    top-k over the ≤ salts·k survivors. EXACT — every global top-k
    member is also in its salt group's top-k — but the first window
    partitions on (bucket, salt), so a single hot bucket with millions
    of series spreads over ``salts`` tasks instead of one. This backs
    LogQL ``approx_topk`` (Loki 3.3's count-min-sketch answer to the
    same skew problem); exact output is a valid — strictly better —
    approximation, and makes the operator oracle-checkable."""
    v = F.col(value_col)
    order = [v.asc() if bottom else v.desc()] + [F.col(c).asc() for c in series_cols]
    salt = F.pmod(F.xxhash64(*series_cols), F.lit(salts))
    w1 = Window.partitionBy("bucket", salt).orderBy(*order)
    survivors = (
        matrix.withColumn("_rk", F.row_number().over(w1))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    w2 = Window.partitionBy("bucket").orderBy(*order)
    return (
        survivors.withColumn("_rk", F.row_number().over(w2))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


SAMPLE_SPACE = 16 ** 8  # 8 md5 hex nibbles → [0, 2^32)


def _series_key(series_cols: list[str]):
    """Deterministic cross-engine series key: first 8 hex nibbles of
    md5 over the unit-separated label tuple, as a 32-bit integer.
    Value-independent, so hash-based sampling is unbiased; md5 makes it
    replayable by any engine (same idiom as corpus.dataset_split)."""
    s = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in series_cols]
    )
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def limitk_per_bucket(
    matrix: DataFrame, k: int, series_cols: list[str], group_cols: list[str] | None = None
) -> DataFrame:
    """``limitk`` (Prometheus experimental aggregation): keep at most k
    series per bucket(+by-group). Prometheus samples arbitrarily; here
    selection orders by the deterministic series hash so the sample is
    value-unbiased AND stable across runs/engines (oracle-checkable)."""
    w = Window.partitionBy("bucket", *(group_cols or [])).orderBy(
        _series_key(series_cols).asc(), *[F.col(c).asc() for c in series_cols]
    )
    return (
        matrix.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def limit_ratio(matrix: DataFrame, ratio: float, series_cols: list[str]) -> DataFrame:
    """``limit_ratio`` (Prometheus experimental): deterministic hash-split
    of the series set. r ∈ [0,1] keeps series whose key falls under
    r·2^32; negative r keeps the exact complement, so
    limit_ratio(r, v) ∪ limit_ratio(r-1, v) == v — Prometheus's
    documented pairing property. Pure map filter: no shuffle, no window."""
    key = _series_key(series_cols)
    if ratio >= 0:
        return matrix.filter(key < int(ratio * SAMPLE_SPACE))
    return matrix.filter(key >= int((1.0 + ratio) * SAMPLE_SPACE))


def sort_series_by_latest(matrix: DataFrame, series_cols: list[str], desc: bool = True) -> DataFrame:
    """sort/sort_desc: order series by value at the latest bucket
    (apply_sort, logs.rs:1228-1303)."""
    latest = matrix.groupBy(*series_cols).agg(F.max_by("value", "bucket").alias("_latest"))
    ordered = matrix.join(latest, series_cols, "left")
    col = F.col("_latest").desc() if desc else F.col("_latest").asc()
    return ordered.orderBy(col, *[F.col(c) for c in series_cols], F.col("bucket")).drop("_latest")


def count_values(matrix: DataFrame, value_col: str = "value") -> DataFrame:
    """count series per distinct value per bucket (metrics.rs:1910-1949)."""
    return (
        matrix.groupBy("bucket", value_col)
        .agg(F.count(F.lit(1)).cast("double").alias("count"))
    )


# ---------------------------------------------------------------------------
# subquery sliding reduce

def sliding_reduce(
    matrix: DataFrame,
    spine: DataFrame,
    range_seconds: int,
    agg: str = "sum",
    value_col: str = "value",
    series_cols: list[str] | None = None,
    expr=None,
) -> DataFrame:
    """PromQL subquery ``expr[range:res]`` outer reduce: for each outer
    bucket t, aggregate inner samples with bucket in (t-range, t]
    (eval_subquery, metrics.rs:829-908 — the one true sliding window).

    Implemented as a range-join of the spine against the inner matrix —
    at scale this is a bounded band join; AQE handles the skew. An
    equivalent Window.rangeBetween formulation exists when inner/outer
    steps share alignment.

    ``expr`` (optional) is a ready aggregate Column over the joined
    frame's ``m.``-qualified columns (``m.value``, ``m.bucket``) — the
    hook the full ``*_over_time`` battery (last/first/quantile/ts_of_*)
    uses; ``agg`` names a plain OUTER_AGGS reducer otherwise.
    """
    series_cols = series_cols or []
    j = spine.alias("s").join(
        matrix.alias("m"),
        (F.col("m.bucket") > F.col("s.bucket") - range_seconds)
        & (F.col("m.bucket") <= F.col("s.bucket")),
        "inner",
    )
    if expr is None:
        expr = OUTER_AGGS[agg](F.col(f"m.{value_col}"))
    return (
        j.groupBy(F.col("s.bucket").alias("bucket"), *[F.col(f"m.{c}").alias(c) for c in series_cols])
        .agg(expr.alias(value_col))
    )


def sliding_mad(
    matrix: DataFrame,
    spine: DataFrame,
    range_seconds: int,
    value_col: str = "value",
    series_cols: list[str] | None = None,
) -> DataFrame:
    """``mad_over_time`` over a subquery window: median(|x − median(x)|)
    per (outer bucket, series). Medians don't nest inside one aggregate,
    so the band join reduces twice — window median first, then the
    median absolute deviation against it; both stages group on the same
    (bucket, series) keys, so the second is a co-partitioned agg."""
    series_cols = series_cols or []
    j = (
        spine.alias("s")
        .join(
            matrix.alias("m"),
            (F.col("m.bucket") > F.col("s.bucket") - range_seconds)
            & (F.col("m.bucket") <= F.col("s.bucket")),
            "inner",
        )
        .select(
            F.col("s.bucket").alias("bucket"),
            *[F.col(f"m.{c}").alias(c) for c in series_cols],
            F.col(f"m.{value_col}").alias("_v"),
        )
    )
    med = j.groupBy("bucket", *series_cols).agg(
        F.percentile(F.col("_v"), F.lit(0.5)).alias("_med")
    )
    return (
        j.join(med, ["bucket", *series_cols])
        .groupBy("bucket", *series_cols)
        .agg(
            F.percentile(F.abs(F.col("_v") - F.col("_med")), F.lit(0.5))
            .alias(value_col)
        )
    )


def burn_rate(
    df,
    ts_col: str,
    error_cond,
    short_step: int,
    long_step: int,
    slo_target: float,
    series_cols: list[str] | None = None,
    threshold: float = 1.0,
):
    """Multiwindow SLO burn rate (the Google SRE workbook alert shape):
    burn = error_ratio / error_budget per window; a page fires when BOTH
    the short and the long window burn exceed ``threshold`` — the short
    window gives speed, the long window immunity to blips.

    Two bucketed aggregations (short and long) and one equi-join on the
    long-bucket key the short bucket rolls up into; everything after the
    partial+final aggs is window-count sized. Output one row per short
    bucket: (bucket, series..., burn_short, burn_long, alerting)."""
    series_cols = series_cols or []
    budget = 1.0 - slo_target
    err = error_cond.cast("int")

    def _ratio(step):
        return (
            with_bucket(df, ts_col, step)
            .groupBy("bucket", *series_cols)
            .agg((F.sum(err) / F.count(F.lit(1))).alias("_ratio"))
        )

    short = _ratio(short_step).select(
        "bucket", *series_cols, (F.col("_ratio") / budget).alias("burn_short")
    )
    lng = _ratio(long_step).select(
        F.col("bucket").alias("_lb"), *series_cols,
        (F.col("_ratio") / budget).alias("burn_long"),
    )
    lb = (F.floor(F.col("bucket") / long_step) * long_step).cast("long")
    joined = short.withColumn("_lb", lb).join(lng, ["_lb", *series_cols])
    return joined.select(
        "bucket", *series_cols,
        F.round("burn_short", 6).alias("burn_short"),
        F.round("burn_long", 6).alias("burn_long"),
        ((F.col("burn_short") > threshold) & (F.col("burn_long") > threshold))
        .cast("int").alias("alerting"),
    )
