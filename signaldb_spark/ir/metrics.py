"""Metric-native IR lowering (query-metrics-model proposal).

Implements the reference's `query-metrics-model` proposal
(/root/reference/openspec/changes/query-metrics-model/proposal.md and
specs/query-metrics-model/spec.md) — the metric sub-model the reference
designed but never built: metrics join the IR through their own relation
types (instant vector / range vector / scalar) instead of being forced
through the generic scalar-per-sample stages, and the two headline
guarantees hold:

- **Rate respects temporality** (spec scenario 1): rate/increase over a
  CUMULATIVE sum uses the KNOWN reset points — OTLP's
  ``start_timestamp`` changes mark stream restarts, so a window's
  increase is computed per (series, start_timestamp) run: the earliest
  run contributes ``last − first`` and every later run contributes its
  full ``last`` (the counter restarted at 0 at a point inside the
  window) — never the Prometheus scrape-inferred value-drop heuristic.
  A DELTA sum's samples each already carry their own increase, so the
  window's increase is simply ``sum(value)``. Rows with unset
  temporality default to cumulative (the OTLP sum default).
- **Histogram quantile uses buckets** (spec scenario 2): computed
  across OTLP explicit-bounds bucket structure (per-bucket counts +
  bounds array, NOT Prometheus cumulative ``le`` series): per-bucket
  counts are accumulated over the window (delta: summed; cumulative:
  the same run logic, element-wise), then the quantile interpolates
  linearly inside the bucket containing ``q × total``. The first
  bucket's open lower bound is treated as 0 and an overflow-bucket hit
  returns the highest finite bound — both rules deterministic so the
  DuckDB oracle can replicate them exactly.

Scale shape (the 100 TB contract): every stage reduces samples to
(bucket, series) digests before anything wide — the cumulative-run
grouping shuffles (bucket, series, start_ts) rows, the histogram path
explodes to per-(bucket, series, bucket-index) postings with map-side
partial aggregation, and the only window function runs over the
run/posting digest tables (series × buckets × runs — thousands), never
over raw samples. Labels shuffle only as bounded series keys.

v1 scope started from the proposal's "minimum sound v1" (gauge
instant/range fns, sum rate/increase, histogram quantile) and has since
lifted every deferral the proposal listed: exponential-histogram
quantile (operators/exphist.py bucket model, DELTA-only with a loud
cumulative guard), summary quantile (instant φ read-back of stored
anchors, operators/summary.py — outer re-aggregation rejected at the
wall because quantiles don't merge), and vector-matching binop
(on()/ignoring() + group_left/group_right over bucket-aligned operands
— an ordinary DataFrame equi-join on (bucket, matching labels), reusing
operators/vector_ops.py exactly like the PromQL dialect, so Catalyst
picks broadcast vs sort-merge and AQE fixes skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import timeseries as ts
from .model import IRQuery, Metric

# OTLP AggregationTemporality enum (metrics.proto): 1=DELTA, 2=CUMULATIVE
TEMPORALITY_DELTA = 1

# Tables the metric source reads, by metric sub-type (the at-rest layout
# splits metric kinds into typed tables, schemas/signal_schemas.py).
METRIC_TABLES = {
    "gauge": "metrics_gauge",
    "sum": "metrics_sum",
    "histogram": "metrics_histogram",
    "exponential_histogram": "metrics_exponential_histogram",
    "summary": "metrics_summary",
}


def _series_cols(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """Canonical per-series identity: service_name plus the attribute
    map as a SORTED entries array (maps are not groupable; sorted
    entries are, and are order-deterministic)."""
    keys = [c for c in ("service_name",) if c in df.columns]
    if "attributes" in df.columns:
        df = df.withColumn("_attrs", F.array_sort(F.map_entries("attributes")))
        keys.append("_attrs")
    return df, keys


def _label_col(by: str, series_keys: list[str]):
    """Resolve an output/grouping label from the series identity:
    a materialized series column or an attribute-map key."""
    if by in series_keys:
        return F.col(by)
    if "_attrs" in series_keys:
        return F.element_at(F.map_from_entries(F.col("_attrs")), by)
    return F.lit(None).cast("string")


def _cumulative_increase(df: DataFrame, keys: list[str]) -> DataFrame:
    """Known-reset-point increase for cumulative streams: group samples
    into (keys, start_timestamp) runs, then earliest-run = last−first,
    later runs = last (spec scenario: 'not a single monotonicity-only
    heuristic')."""
    runs = df.groupBy(*keys, "start_timestamp").agg(
        F.max_by("value", "timestamp").alias("_run_last"),
        F.min_by("value", "timestamp").alias("_run_first"),
    )
    w = Window.partitionBy(*keys)
    return (
        runs.withColumn("_first_start", F.min("start_timestamp").over(w))
        # null-safe: streams without start_timestamp are ONE run (no
        # known resets → plain last−first, the only sound reading)
        .withColumn(
            "_contrib",
            F.col("_run_last")
            - F.when(
                F.col("start_timestamp").eqNullSafe(F.col("_first_start")),
                F.col("_run_first"),
            ).otherwise(F.lit(0.0)),
        )
        .groupBy(*keys)
        .agg(F.sum("_contrib").alias("value"))
    )


def _sum_increase(df: DataFrame, keys: list[str]) -> DataFrame:
    """Temporality-routed increase: delta rows sum their samples,
    cumulative rows go through the run logic; a series that switched
    temporality mid-window (pathological but legal) gets the sum of
    both regimes' contributions."""
    temp = F.coalesce(F.col("aggregation_temporality"), F.lit(2))
    delta_part = (
        df.filter(temp == TEMPORALITY_DELTA)
        .groupBy(*keys)
        .agg(F.sum("value").alias("value"))
    )
    cum_part = _cumulative_increase(df.filter(temp != TEMPORALITY_DELTA), keys)
    return (
        delta_part.unionByName(cum_part)
        .groupBy(*keys)
        .agg(F.sum("value").alias("value"))
    )


def _gauge_range(df: DataFrame, keys: list[str], fn: str) -> DataFrame:
    exprs = {
        "avg_over_time": F.avg("value"),
        "min_over_time": F.min("value"),
        "max_over_time": F.max("value"),
        "sum_over_time": F.sum("value"),
        "last_over_time": F.max_by("value", "timestamp"),
        # PromQL delta over gauges: last − first in the window
        "delta": F.max_by("value", "timestamp") - F.min_by("value", "timestamp"),
    }
    return df.groupBy(*keys).agg(exprs[fn].alias("value"))


def _histogram_quantile(df: DataFrame, keys: list[str], q: float) -> DataFrame:
    """Quantile across OTLP explicit-bounds buckets.

    Postings shape: posexplode(bucket_counts) → one row per (sample,
    bucket-index) with that bucket's finite bounds attached at explode
    time (upper NULL = overflow bucket). Counts accumulate over the
    window per temporality (delta: sum; cumulative: run logic — counts
    are cumulative-since-start exactly like sum values, element-wise by
    index), then one window pass over the (keys, idx) digest computes
    the CDF and the first bucket reaching q×total interpolates."""
    temp = F.coalesce(F.col("aggregation_temporality"), F.lit(2))
    posting = df.select(
        *keys,
        "timestamp",
        "start_timestamp",
        temp.alias("_temp"),
        F.posexplode("bucket_counts").alias("_idx", "_cnt"),
        F.col("explicit_bounds"),
    ).select(
        *keys,
        "timestamp",
        "start_timestamp",
        "_temp",
        "_idx",
        F.col("_cnt").cast("double").alias("_cnt"),
        # bucket i covers (bounds[i-1], bounds[i]]; the last index has
        # no upper bound (overflow). element_at is 1-based.
        F.when(F.col("_idx") > 0,
               F.element_at("explicit_bounds", F.col("_idx"))).alias("_lo"),
        F.when(F.col("_idx") < F.size("explicit_bounds"),
               F.element_at("explicit_bounds", F.col("_idx") + 1)).alias("_hi"),
    )
    pk = [*keys, "_idx"]
    delta_part = posting.filter(F.col("_temp") == TEMPORALITY_DELTA).groupBy(
        *pk
    ).agg(
        F.sum("_cnt").alias("_n"),
        F.first("_lo").alias("_lo"),
        F.first("_hi").alias("_hi"),
    )
    cum_runs = (
        posting.filter(F.col("_temp") != TEMPORALITY_DELTA)
        .groupBy(*pk, "start_timestamp")
        .agg(
            F.max_by("_cnt", "timestamp").alias("_run_last"),
            F.min_by("_cnt", "timestamp").alias("_run_first"),
            F.first("_lo").alias("_lo"),
            F.first("_hi").alias("_hi"),
        )
    )
    w_runs = Window.partitionBy(*pk)
    cum_part = (
        cum_runs.withColumn("_first_start", F.min("start_timestamp").over(w_runs))
        .withColumn(
            "_contrib",
            F.col("_run_last")
            - F.when(
                F.col("start_timestamp").eqNullSafe(F.col("_first_start")),
                F.col("_run_first"),
            ).otherwise(F.lit(0.0)),
        )
        .groupBy(*pk)
        .agg(
            F.sum("_contrib").alias("_n"),
            F.first("_lo").alias("_lo"),
            F.first("_hi").alias("_hi"),
        )
    )
    counts = (
        delta_part.unionByName(cum_part)
        .groupBy(*pk)
        .agg(
            F.sum("_n").alias("_n"),
            F.first("_lo").alias("_lo"),
            F.first("_hi").alias("_hi"),
        )
    )
    w_series = Window.partitionBy(*keys)
    w_cdf = w_series.orderBy("_idx").rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        counts.withColumn("_total", F.sum("_n").over(w_series))
        .withColumn("_cum", F.sum("_n").over(w_cdf))
        .withColumn("_target", F.lit(q) * F.col("_total"))
        .filter((F.col("_cum") >= F.col("_target")) & (F.col("_n") > 0)
                & (F.col("_total") > 0))
    )
    hit = ranked.groupBy(*keys).agg(
        F.min_by(F.struct("_lo", "_hi", "_n", "_cum", "_target"), "_idx").alias("_b")
    )
    lo = F.coalesce(F.col("_b._lo"), F.lit(0.0))  # first bucket: open below → 0
    hi = F.col("_b._hi")
    frac = (F.col("_b._target") - (F.col("_b._cum") - F.col("_b._n"))) / F.col("_b._n")
    return hit.select(
        *keys,
        F.when(hi.isNull(), F.coalesce(F.col("_b._lo"), F.lit(0.0)))  # overflow → top finite bound
        .otherwise(lo + (hi - lo) * frac)
        .alias("value"),
    )


def _exphist_quantile(df: DataFrame, keys: list[str], q: float) -> DataFrame:
    """Quantile across OTLP EXPONENTIAL histogram buckets — the bucket
    model the proposal left open, reused from operators/exphist.py
    (value-ordered CDF walk over 2^(2^-s)-based buckets, cross-scale
    downscale merge). v1 accumulates DELTA streams (datapoint counts
    sum over the window, which is what the operator's per-series merge
    does); a CUMULATIVE exphist row fails the query LOUDLY via a
    filter-side raise_error — never a silently-wrong answer (run-aware
    cumulative merging of offset arrays stays deferred)."""
    from ..operators.exphist import exphist_quantile

    # Unset temporality is CUMULATIVE per the OTLP sum default — the same
    # coalesce _sum_increase and _histogram_quantile use — so a NULL row
    # hits the loud guard below instead of being silently summed as DELTA.
    temp = F.coalesce(F.col("aggregation_temporality"), F.lit(2))
    guarded = df.filter(
        F.when(
            temp == 2,
            F.raise_error(
                "IR v1 exponential_histogram quantile supports DELTA "
                "temporality only (unset counts as cumulative, the OTLP "
                "default); cumulative exphist accumulation is deferred "
                "(use the PromQL dialect)"),
        ).otherwise(F.lit(True))
    )
    has_neg = ("negative_offset" in df.columns
               and "negative_bucket_counts" in df.columns)
    return exphist_quantile(
        guarded, q, series_cols=keys,
        neg_offset_col="negative_offset" if has_neg else None,
        neg_counts_col="negative_bucket_counts" if has_neg else None,
    )


def _summary_quantile(df: DataFrame, keys: list[str],
                      phi: float, ts_col: str) -> DataFrame:
    """φ read-back from the latest summary datapoint per (bucket,
    series) — the only statistically faithful query over pre-computed
    quantile anchors (operators/summary.py; re-aggregation across
    series is rejected at the validation wall)."""
    from ..operators.summary import summary_quantile

    return summary_quantile(df, phi, series_cols=keys, ts_col=ts_col)


def _metric_vector(df: DataFrame, m: Metric, where,
                   ts_col: str) -> tuple[DataFrame, list[str], list[str]]:
    """Lower ONE metric operand to its vector: columns are
    ``[bucket?] + label_cols + value``. Returns (out, label_cols,
    series_keys) — label_cols is ``m.by`` when the operand carries its
    own outer agg, else the raw series identity (service_name +
    ``_attrs`` sorted entries, joinable and order-deterministic)."""
    from .planner import _pred

    df = df.filter(F.col("metric_name") == m.name)
    if where is not None:
        df = df.filter(_pred(df, where))
    df, skeys = _series_cols(df)

    bucketed = (m.step_seconds
                if m.fn == "last" or m.metric_type == "summary"
                else m.window_seconds)
    if bucketed:
        df = ts.with_bucket(df, ts_col, bucketed)
        keys = ["bucket", *skeys]
    else:
        keys = list(skeys)

    # outer-agg fusion (ts.EXACT_FUSIONS, shared with the LogQL/PromQL
    # lowerings): the by-labels materialize on the raw rows and the
    # range aggregate groups by them directly, so the per-series matrix
    # and its shuffle never exist
    if (m.agg, m.fn.removesuffix("_over_time")) in ts.EXACT_FUSIONS:
        for b in m.by:
            df = df.withColumn(b, _label_col(b, skeys))
        gkeys = (["bucket"] if bucketed else []) + list(m.by)
        out = _gauge_range(df, gkeys, m.fn)
        return out, list(m.by), skeys

    if m.fn == "last":
        out = df.groupBy(*keys).agg(F.max_by("value", ts_col).alias("value"))
    elif m.fn in ("rate", "increase"):
        out = _sum_increase(df, keys)
        if m.fn == "rate":
            out = out.withColumn(
                "value", F.col("value") / F.lit(float(m.window_seconds))
            )
    elif m.fn == "quantile" and m.metric_type == "summary":
        out = _summary_quantile(df, keys, m.quantile, ts_col)
    elif m.fn == "quantile" and m.metric_type == "exponential_histogram":
        out = _exphist_quantile(df, keys, m.quantile)
    elif m.fn == "quantile":
        out = _histogram_quantile(df, keys, m.quantile)
    else:
        out = _gauge_range(df, keys, m.fn)

    if m.agg is not None:
        gcols = (["bucket"] if "bucket" in out.columns else []) + list(m.by)
        for b in m.by:
            out = out.withColumn(b, _label_col(b, skeys))
        aggexpr = {
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count(F.lit(1)).cast("double"),
        }[m.agg].alias("value")
        out = out.groupBy(*gcols).agg(aggexpr) if gcols else out.agg(aggexpr)
        return out, list(m.by), skeys
    return out, [k for k in skeys], skeys


def _resolve_labels(out: DataFrame, skeys: list[str],
                    labels: tuple[str, ...]) -> DataFrame:
    """Materialize matching/include labels as columns on one operand:
    already a column (an aggregated ``by`` label or a series column) or
    an attribute-map key pulled from ``_attrs``. A label ABSENT from a
    series resolves to the empty string, not NULL — PromQL matches
    missing labels as ``""`` (two label-less series DO match on that
    label), and a NULL key would silently drop the pair from the
    equi-join instead."""
    for lbl in labels:
        if lbl not in out.columns:
            out = out.withColumn(
                lbl, F.coalesce(_label_col(lbl, skeys), F.lit(""))
            )
    return out


def _one_to_one_guard(side: DataFrame, join_on: list[str],
                      side_name: str) -> DataFrame:
    """PromQL's one-to-one matching contract: without a group modifier,
    each side must hold at most ONE series point per match group —
    duplicates are a loud error ('found duplicate series for the match
    group'), never a silent within-group cross join. The count window
    runs over the digest-sized vector (series × buckets), not samples."""
    w = Window.partitionBy(*[F.col(c) for c in join_on])
    return (
        side.withColumn("_match_n", F.count(F.lit(1)).over(w))
        .filter(
            F.when(
                F.col("_match_n") > 1,
                F.raise_error(
                    "one-to-one vector match found duplicate series for "
                    f"a match group on the {side_name} side; use "
                    "group_left/group_right for many-to-one matching"),
            ).otherwise(F.lit(True))
        )
        .drop("_match_n")
    )


def lower_metrics(df: DataFrame, q: IRQuery, ts_col: str = "timestamp",
                  rhs_df: DataFrame | None = None) -> DataFrame:
    """Lower a validated ``from: "metrics"`` IR query over its typed
    metric table (``METRIC_TABLES[q.metric.metric_type]``). ``where``
    predicates resolve against series labels exactly like the row-set
    planner (materialized column or attributes map — promotion
    invariant), then the metric stage runs, then the outer agg. With a
    ``binop``, ``rhs_df`` is the right operand's typed table and the
    two vectors equi-join on (bucket, matching labels)."""
    m: Metric = q.metric
    out, lcols, lskeys = _metric_vector(df, m, q.where, ts_col)

    if q.binop is not None:
        if rhs_df is None:
            raise ValueError(
                "binop lowering needs rhs_df (the right operand's table)")
        bop = q.binop
        rout, rcols, rskeys = _metric_vector(rhs_df, bop.rhs,
                                             bop.rhs_where, ts_col)
        from ..operators.vector_ops import vector_arith, vector_compare

        has_bucket = "bucket" in out.columns and "bucket" in rout.columns
        if bop.on:
            out = _resolve_labels(out, lskeys, bop.on)
            rout = _resolve_labels(rout, rskeys, bop.on)
            match_labels = list(bop.on)
        elif bop.ignoring:
            ig = list(bop.ignoring)

            def strip(side, side_skeys):
                labels = []
                if "service_name" in side_skeys and "service_name" not in ig:
                    labels.append("service_name")
                if "_attrs" in side_skeys:
                    side = side.withColumn(
                        "_match_attrs",
                        F.filter(F.col("_attrs"),
                                 lambda e: ~e["key"].isin(*ig)),
                    )
                    labels.append("_match_attrs")
                return side, labels

            out, match_labels = strip(out, lskeys)
            rout, r_labels = strip(rout, rskeys)
            match_labels = [c for c in match_labels if c in r_labels]
        else:
            # default matching: full shared label identity (validated
            # equal 'by' sets for aggregated operands)
            match_labels = [c for c in lcols if c in rcols]
        join_on = (["bucket"] if has_bucket else []) + match_labels
        if not join_on:
            raise ValueError("binop operands share no matching labels")

        if bop.group is None:
            # one-to-one: result labels are exactly the matching labels,
            # and each side must be unique per match group (dup guard =
            # the PromQL many-to-many error, not a silent cross join)
            lsel = _one_to_one_guard(out.select(*join_on, "value"),
                                     join_on, "left")
            rsel = _one_to_one_guard(rout.select(*join_on, "value"),
                                     join_on, "right")
            if bop.op in ("==", "!=", ">", "<", ">=", "<="):
                out = vector_compare(lsel, rsel, bop.op, join_on,
                                     bool_mode=bop.bool_mode)
            else:
                out = vector_arith(lsel, rsel, bop.op, join_on)
        else:
            # many-to-one: the group side keeps its full label identity,
            # 'include' labels ride the join from the one side — which
            # must itself be unique per match group (PromQL errors on
            # many-to-many even under group_left/group_right)
            one_side = "right" if bop.group == "left" else "left"
            if bop.group == "left":
                rout = _one_to_one_guard(
                    _resolve_labels(rout, rskeys, bop.include),
                    join_on, "right (the 'one' side of group_left)")
            else:
                out = _one_to_one_guard(
                    _resolve_labels(out, lskeys, bop.include),
                    join_on, "left (the 'one' side of group_right)")
            if bop.op in ("==", "!=", ">", "<", ">=", "<="):
                out = vector_compare(out, rout, bop.op, join_on,
                                     bool_mode=bop.bool_mode,
                                     extras=tuple(bop.include),
                                     extras_side=one_side)
            else:
                out = vector_arith(out, rout, bop.op, join_on,
                                   extras=tuple(bop.include),
                                   extras_side=one_side)

    if "_attrs" in out.columns:
        out = out.withColumn(
            "attributes", F.map_from_entries("_attrs")
        ).drop("_attrs")
    if "_match_attrs" in out.columns:
        out = out.withColumn(
            "match_attributes", F.map_from_entries("_match_attrs")
        ).drop("_match_attrs")

    if q.select:
        out = out.select(*q.select)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out
