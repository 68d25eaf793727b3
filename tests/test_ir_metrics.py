"""Metric-native IR sub-model (the reference's query-metrics-model
proposal, openspec/changes/query-metrics-model/: relation types,
temporality-aware rate/increase with KNOWN reset points, bucket-based
histogram quantile) — validation wall + lowering semantics over
hand-built frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from signaldb_spark.ir.metrics import lower_metrics
from signaldb_spark.ir.model import IRValidationError, validate


def _q(metric: dict, **extra) -> dict:
    return {"version": 1, "from": "metrics", "metric": metric, **extra}


# ---------------------------------------------------- validation wall


def test_metric_validation_wall():
    ok = validate(_q({"name": "reqs", "type": "sum", "fn": "rate",
                      "window_seconds": 60}))
    assert ok.metric.metric_type == "sum" and ok.metric.fn == "rate"

    # summary IS in v1 now (quantile read-back only — 'last' over raw
    # anchor arrays is not a vector); exponential_histogram likewise
    # (quantile only — this engine ships the bucket model the proposal
    # left open)
    with pytest.raises(IRValidationError, match="invalid for metric type"):
        validate(_q({"name": "m", "type": "summary", "fn": "last"}))
    eh = validate(_q({"name": "m", "type": "exponential_histogram",
                      "fn": "quantile", "window_seconds": 60,
                      "quantile": 0.9}))
    assert eh.metric.metric_type == "exponential_histogram"
    with pytest.raises(IRValidationError, match="invalid for metric type"):
        validate(_q({"name": "m", "type": "exponential_histogram",
                     "fn": "rate", "window_seconds": 60}))
    with pytest.raises(IRValidationError, match="unknown metric type"):
        validate(_q({"name": "m", "type": "widget"}))
    # fn/type soundness: rate is sum-only (temporality-aware); quantile
    # is histogram-only (bucket-based)
    with pytest.raises(IRValidationError, match="invalid for metric type"):
        validate(_q({"name": "m", "type": "gauge", "fn": "rate",
                     "window_seconds": 60}))
    with pytest.raises(IRValidationError, match="invalid for metric type"):
        validate(_q({"name": "m", "type": "sum", "fn": "quantile",
                     "window_seconds": 60, "quantile": 0.9}))
    # relation types: range fns need a window; instant takes none
    with pytest.raises(IRValidationError, match="needs window_seconds"):
        validate(_q({"name": "m", "type": "sum", "fn": "rate"}))
    with pytest.raises(IRValidationError, match="step_seconds, not window"):
        validate(_q({"name": "m", "type": "gauge", "fn": "last",
                     "window_seconds": 60}))
    # v1 range vectors are tumbling
    with pytest.raises(IRValidationError, match="tumbling"):
        validate(_q({"name": "m", "type": "sum", "fn": "increase",
                     "window_seconds": 300, "step_seconds": 60}))
    with pytest.raises(IRValidationError, match="0<=quantile<=1"):
        validate(_q({"name": "m", "type": "histogram", "fn": "quantile",
                     "window_seconds": 60, "quantile": 1.5}))
    with pytest.raises(IRValidationError, match="needs an outer 'agg'"):
        validate(_q({"name": "m", "type": "gauge", "fn": "last",
                     "by": ["service_name"]}))
    # generic row-set stages don't apply to the metric relation types
    with pytest.raises(IRValidationError, match="does not apply"):
        validate(_q({"name": "m", "type": "gauge", "fn": "last"},
                    aggregate={"op": "count"}))
    with pytest.raises(IRValidationError, match="requires from: 'metrics'"):
        validate({"version": 1, "from": "logs",
                  "metric": {"name": "m", "type": "gauge"}})


# ------------------------------------------------- temporality-aware sum


def _sum_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, start_timestamp timestamp, service_name string, "
        "metric_name string, value double, aggregation_temporality int, "
        "attributes map<string,string>",
    )


def _ts(s):
    import datetime as dt

    return dt.datetime.fromisoformat(s)


def test_cumulative_rate_uses_known_reset_points(spark):
    """Spec scenario 'Rate respects temporality': a counter that RESETS
    (new start_timestamp) but whose first post-reset sample EXCEEDS the
    pre-reset value. Value-drop inference (the Prometheus scrape
    heuristic) sees a monotone 10→25→40 and reports increase=30; the
    known reset point says the counter restarted, so the real increase
    is (25−10) + 40 = 55."""
    t0, t1, t2 = _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:10:00"), _ts("2024-01-01 00:20:00")
    s0, s1 = _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:15:00")
    df = _sum_df(spark, [
        (t0, s0, "api", "reqs", 10.0, 2, {}),
        (t1, s0, "api", "reqs", 25.0, 2, {}),
        (t2, s1, "api", "reqs", 40.0, 2, {}),
    ])
    q = validate(_q({"name": "reqs", "type": "sum", "fn": "increase",
                     "window_seconds": 3600, "agg": "sum",
                     "by": ["service_name"]}))
    out = lower_metrics(df, q).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(55.0)


def test_delta_vs_cumulative_each_respect_their_temporality(spark):
    """Spec scenario verbatim: a delta series and a cumulative series
    in the same query window — the delta one SUMS its samples, the
    cumulative one takes last−first, not one heuristic for both."""
    t = [_ts(f"2024-01-01 00:{m:02d}:00") for m in (0, 10, 20)]
    s0 = _ts("2024-01-01 00:00:00")
    df = _sum_df(spark, [
        # delta: samples ARE increases → 5+7+3 = 15
        (t[0], s0, "delta-svc", "reqs", 5.0, 1, {}),
        (t[1], s0, "delta-svc", "reqs", 7.0, 1, {}),
        (t[2], s0, "delta-svc", "reqs", 3.0, 1, {}),
        # cumulative, no reset: last − first = 30 − 5 = 25 (NOT 5+17+30)
        (t[0], s0, "cum-svc", "reqs", 5.0, 2, {}),
        (t[1], s0, "cum-svc", "reqs", 17.0, 2, {}),
        (t[2], s0, "cum-svc", "reqs", 30.0, 2, {}),
    ])
    q = validate(_q({"name": "reqs", "type": "sum", "fn": "rate",
                     "window_seconds": 3600, "agg": "sum",
                     "by": ["service_name"]}))
    got = {r["service_name"]: r["value"] for r in lower_metrics(df, q).collect()}
    assert got["delta-svc"] == pytest.approx(15.0 / 3600)
    assert got["cum-svc"] == pytest.approx(25.0 / 3600)


def test_unset_temporality_defaults_to_cumulative(spark):
    df = _sum_df(spark, [
        (_ts("2024-01-01 00:00:00"), None, "api", "reqs", 5.0, None, {}),
        (_ts("2024-01-01 00:10:00"), None, "api", "reqs", 30.0, None, {}),
    ])
    q = validate(_q({"name": "reqs", "type": "sum", "fn": "increase",
                     "window_seconds": 3600, "agg": "sum",
                     "by": ["service_name"]}))
    assert lower_metrics(df, q).collect()[0]["value"] == pytest.approx(25.0)


def test_windowed_rate_buckets_are_tumbling(spark):
    """Two window buckets, per-bucket increase; series identity from
    the attributes map keeps distinct label sets apart and `by` can
    pull a label back out of the map."""
    rows = []
    for h, vals in ((0, (0.0, 4.0)), (1, (10.0, 16.0))):
        for i, v in enumerate(vals):
            rows.append((
                _ts(f"2024-01-01 {h:02d}:{i * 30:02d}:00"),
                _ts("2024-01-01 00:00:00"), "api", "reqs", v, 2,
                {"region": "eu"},
            ))
    df = _sum_df(spark, rows)
    q = validate(_q({"name": "reqs", "type": "sum", "fn": "increase",
                     "window_seconds": 3600, "agg": "sum",
                     "by": ["region"]}))
    got = {r["bucket"]: (r["region"], r["value"])
           for r in lower_metrics(df, q).collect()}
    # bucket 0: 4−0; bucket 1: 16−10 (window min, NOT the global first)
    b0 = min(got)
    assert got[b0] == ("eu", pytest.approx(4.0))
    assert got[max(got)] == ("eu", pytest.approx(6.0))
    assert len(got) == 2


# ------------------------------------------------------------ gauge fns


def test_gauge_last_and_range_fns(spark):
    df = spark.createDataFrame(
        [
            (_ts("2024-01-01 00:00:00"), "api", "temp", 10.0, {}),
            (_ts("2024-01-01 00:30:00"), "api", "temp", 30.0, {}),
            (_ts("2024-01-01 00:45:00"), "api", "temp", 20.0, {}),
        ],
        "timestamp timestamp, service_name string, metric_name string, "
        "value double, attributes map<string,string>",
    )
    def run(fn, **kw):
        q = validate(_q({"name": "temp", "type": "gauge", "fn": fn,
                         "agg": "sum", "by": ["service_name"], **kw}))
        return lower_metrics(df, q).collect()[0]["value"]

    assert run("last") == pytest.approx(20.0)
    assert run("avg_over_time", window_seconds=3600) == pytest.approx(20.0)
    assert run("max_over_time", window_seconds=3600) == pytest.approx(30.0)
    assert run("delta", window_seconds=3600) == pytest.approx(10.0)  # last−first


@pytest.mark.parametrize(
    "agg, fn, expected",
    [
        ("sum", "sum_over_time", {"api": 40.0, "web": 5.0}),
        ("min", "min_over_time", {"api": 10.0, "web": 5.0}),
        ("max", "max_over_time", {"api": 30.0, "web": 5.0}),
    ],
    ids=["sum-sum", "min-min", "max-max"],
)
def test_fused_outer_agg_groups_range_aggregate_directly(spark, agg, fn, expected):
    """Every (outer op, range fn) pair of ts.EXACT_FUSIONS the IR admits
    (sum∘sum, min∘min, max∘max — it has no count or bytes range fn and
    no ``without`` form) fuses into ONE grouped aggregation, shared with
    the LogQL/PromQL lowerings: the by-label groups the raw rows
    directly and the per-attribute-series pass never materializes.
    Distinct attribute series under one label value must still collapse
    together, and the plan must hold a single partial+final
    HashAggregate pair — a second pair means the per-series matrix came
    back."""
    import re

    df = spark.createDataFrame(
        [
            (_ts("2024-01-01 00:00:00"), "api", "temp", 10.0, {"host": "h1"}),
            (_ts("2024-01-01 00:30:00"), "api", "temp", 30.0, {"host": "h2"}),
            (_ts("2024-01-01 00:45:00"), "web", "temp", 5.0, {"host": "h1"}),
        ],
        "timestamp timestamp, service_name string, metric_name string, "
        "value double, attributes map<string,string>",
    )
    q = validate(_q({"name": "temp", "type": "gauge", "fn": fn,
                     "window_seconds": 3600, "agg": agg,
                     "by": ["service_name"]}))
    out = lower_metrics(df, q)
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) HashAggregate", p, re.M)) == 2, p
    got = {r["service_name"]: r["value"] for r in out.collect()}
    assert got == pytest.approx(expected)


# --------------------------------------------------- histogram quantile


def _hist_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, start_timestamp timestamp, service_name string, "
        "metric_name string, bucket_counts array<double>, "
        "explicit_bounds array<double>, aggregation_temporality int, "
        "attributes map<string,string>",
    )


def test_histogram_quantile_accumulates_delta_buckets(spark):
    """Spec scenario 'Histogram quantile uses buckets': two delta
    samples sum element-wise to [2,2,2,2] over bounds [1,2,4]; p50
    target=4 lands at cum=4 in bucket (1,2] fully consumed → 2.0; p90
    target=7.2 lands in the overflow bucket → top finite bound 4.0."""
    bounds = [1.0, 2.0, 4.0]
    s = _ts("2024-01-01 00:00:00")
    df = _hist_df(spark, [
        (_ts("2024-01-01 00:05:00"), s, "api", "lat", [1.0, 2.0, 1.0, 0.0], bounds, 1, {}),
        (_ts("2024-01-01 00:10:00"), s, "api", "lat", [1.0, 0.0, 1.0, 2.0], bounds, 1, {}),
    ])
    def quant(qv):
        q = validate(_q({"name": "lat", "type": "histogram", "fn": "quantile",
                         "window_seconds": 3600, "quantile": qv,
                         "agg": "max", "by": ["service_name"]}))
        return lower_metrics(df, q).collect()[0]["value"]

    assert quant(0.5) == pytest.approx(2.0)
    assert quant(0.9) == pytest.approx(4.0)
    # p25: target=2 → first bucket (-inf,1], lower treated as 0 →
    # 0 + (1−0) * 2/2 = 1.0
    assert quant(0.25) == pytest.approx(1.0)


def test_histogram_quantile_cumulative_counts_use_resets(spark):
    """Cumulative histogram counts follow the same known-reset run
    logic element-wise: run1 contributes last−first, the post-reset
    run contributes its full counts."""
    bounds = [10.0]
    s0, s1 = _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:12:00")
    df = _hist_df(spark, [
        (_ts("2024-01-01 00:05:00"), s0, "api", "lat", [2.0, 0.0], bounds, 2, {}),
        (_ts("2024-01-01 00:10:00"), s0, "api", "lat", [6.0, 0.0], bounds, 2, {}),
        # reset: new start, counts restart and land in the upper bucket
        (_ts("2024-01-01 00:15:00"), s1, "api", "lat", [0.0, 4.0], bounds, 2, {}),
    ])
    # accumulated counts: bucket0 = (6−2) = 4, bucket1 = 4 → total 8
    # p50 target 4 → bucket0 fully consumed → 0 + 10*(4/4) = 10
    q = validate(_q({"name": "lat", "type": "histogram", "fn": "quantile",
                     "window_seconds": 3600, "quantile": 0.5,
                     "agg": "max", "by": ["service_name"]}))
    assert lower_metrics(df, q).collect()[0]["value"] == pytest.approx(10.0)


# ------------------------------------------------------------ API route


def test_api_routes_metrics_ir(spark, tmp_path):
    """query_ir with from:'metrics' routes to the typed metric table
    and the metric lowering; validation failures surface as bad_data."""
    from signaldb_spark.api import SignalDBAPI

    api = SignalDBAPI(spark, str(tmp_path), "acme", "prod")
    doc = {
        "version": 1, "from": "metrics",
        "metric": {"name": "reqs", "type": "sum", "fn": "rate",
                   "window_seconds": 300, "step_seconds": 60},
        "range": {"from": "2024-01-01T00:00:00Z", "to": "2024-01-02T00:00:00Z"},
    }
    out = api.query_ir(doc)
    assert out["status"] == "error" and out["errorType"] == "bad_data"
    assert "tumbling" in out["error"]
    # a sound query against a tenant with no metrics tables → not_found
    ok = {**doc, "metric": {"name": "reqs", "type": "sum", "fn": "rate",
                            "window_seconds": 300}}
    out2 = api.query_ir(ok)
    assert out2["status"] == "error"
    assert out2["errorType"] == "not_found"
    assert "metrics_sum" in out2["error"]


# ------------------------------------------------- exponential histogram


def _exphist_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, service_name string, metric_name string, "
        "scale int, zero_count long, positive_offset int, "
        "positive_bucket_counts array<long>, aggregation_temporality int",
    )


def test_exphist_quantile_through_ir(spark):
    """Exponential-histogram quantile through the IR sub-model: scale 0
    (base 2) buckets — offset 0 covers (1,2], offset 1 covers (2,4] —
    two DELTA datapoints sum element-wise. counts [2,0]+[0,2] →
    [2,2] + 2 zeros: total 6, p50 target=3 lands at the first positive
    bucket's upper edge... walk: zeros cover ranks 1-2, bucket(1,2]
    covers 3-4 → p50 interpolates inside (1,2] at (3-2)/2 → value
    1 + (2-1)*0.5 = 1.5."""
    t0, t1 = _ts("2024-01-01 00:05:00"), _ts("2024-01-01 00:10:00")
    df = _exphist_df(spark, [
        (t0, "api", "lat", 0, 1, 0, [2, 0], 1),
        (t1, "api", "lat", 0, 1, 0, [0, 2], 1),
    ])
    q = validate(_q({"name": "lat", "type": "exponential_histogram",
                     "fn": "quantile", "quantile": 0.5,
                     "window_seconds": 3600,
                     "agg": "max", "by": ["service_name"]}))
    out = lower_metrics(df, q).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(1.5)


def test_exphist_cumulative_fails_loudly(spark):
    """A CUMULATIVE exphist stream must error out, never silently
    double-count — the v1 deferral is explicit."""
    df = _exphist_df(spark, [
        (_ts("2024-01-01 00:05:00"), "api", "lat", 0, 0, 0, [2, 2], 2),
    ])
    q = validate(_q({"name": "lat", "type": "exponential_histogram",
                     "fn": "quantile", "quantile": 0.5,
                     "window_seconds": 3600,
                     "agg": "max", "by": ["service_name"]}))
    with pytest.raises(Exception, match="DELTA temporality only"):
        lower_metrics(df, q).collect()


def test_exphist_null_temporality_counts_as_cumulative(spark):
    """Unset temporality is CUMULATIVE (the OTLP sum default, the same
    coalesce rate/increase and the explicit-bounds quantile use) — a
    NULL-temporality exphist row hits the loud guard instead of being
    silently summed as DELTA."""
    df = _exphist_df(spark, [
        (_ts("2024-01-01 00:05:00"), "api", "lat", 0, 0, 0, [2, 2], None),
    ])
    q = validate(_q({"name": "lat", "type": "exponential_histogram",
                     "fn": "quantile", "quantile": 0.5,
                     "window_seconds": 3600,
                     "agg": "max", "by": ["service_name"]}))
    with pytest.raises(Exception, match="DELTA temporality only"):
        lower_metrics(df, q).collect()


def test_exphist_default_fn_is_quantile():
    """An exphist query omitting fn defaults to quantile (the only
    sensible default for a bucketed type), not the invalid 'last'."""
    q = validate(_q({"name": "lat", "type": "exponential_histogram",
                     "quantile": 0.5, "window_seconds": 3600,
                     "agg": "max", "by": ["service_name"]}))
    assert q.metric.fn == "quantile"


# ----------------------------------------------------------- summary


def _summary_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, service_name string, metric_name string, "
        "count long, sum double, "
        "quantile_values array<struct<quantile:double,value:double>>, "
        "attributes map<string,string>",
    )


def test_summary_quantile_through_ir(spark):
    """Summary joins IR v1 (the proposal's enum lists it): φ read-back
    against the LATEST datapoint's stored anchors, interpolating
    between them — φ=0.75 between (0.5→10) and (0.9→30) is
    10 + 20·(0.25/0.4) = 22.5. The earlier datapoint's anchors must
    not leak in (instant semantics)."""
    t0, t1 = _ts("2024-01-01 00:05:00"), _ts("2024-01-01 00:10:00")
    df = _summary_df(spark, [
        (t0, "api", "lat", 10, 100.0,
         [(0.5, 999.0), (0.9, 999.0)], {}),
        (t1, "api", "lat", 10, 100.0,
         [(0.5, 10.0), (0.9, 30.0)], {}),
    ])
    q = validate(_q({"name": "lat", "type": "summary",
                     "fn": "quantile", "quantile": 0.75}))
    out = lower_metrics(df, q).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(22.5)


def test_summary_wall_rules():
    """Summary soundness at the wall: no window (instant read-back),
    no outer agg (quantile anchors don't merge), default fn is
    quantile."""
    q = validate(_q({"name": "lat", "type": "summary", "quantile": 0.9,
                     "step_seconds": 60}))
    assert q.metric.fn == "quantile" and q.metric.step_seconds == 60
    with pytest.raises(IRValidationError, match="step_seconds, not window"):
        validate(_q({"name": "lat", "type": "summary", "fn": "quantile",
                     "quantile": 0.9, "window_seconds": 60}))
    with pytest.raises(IRValidationError, match="don't merge"):
        validate(_q({"name": "lat", "type": "summary", "fn": "quantile",
                     "quantile": 0.9, "agg": "avg", "by": ["service_name"]}))


# ------------------------------------------------ vector-matching binop


def _binop_doc(lhs, binop, **extra):
    return {"version": 1, "from": "metrics", "metric": lhs,
            "binop": binop, **extra}


def test_binop_validation_wall():
    lhs = {"name": "errs", "type": "sum", "fn": "rate",
           "window_seconds": 60, "agg": "sum", "by": ["service_name"]}
    rhs = {"name": "reqs", "type": "sum", "fn": "rate",
           "agg": "sum", "by": ["service_name"]}
    ok = validate(_binop_doc(lhs, {"op": "/", "metric": rhs}))
    # rhs inherits the lhs bucketing when unset
    assert ok.binop.rhs.window_seconds == 60
    with pytest.raises(IRValidationError, match="share one bucketing"):
        validate(_binop_doc(lhs, {"op": "/", "metric":
                                  {**rhs, "window_seconds": 300}}))
    with pytest.raises(IRValidationError, match="unknown binop op"):
        validate(_binop_doc(lhs, {"op": "??", "metric": rhs}))
    with pytest.raises(IRValidationError, match="'bool' only applies"):
        validate(_binop_doc(lhs, {"op": "+", "metric": rhs, "bool": True}))
    with pytest.raises(IRValidationError, match="mutually exclusive"):
        validate(_binop_doc(lhs, {"op": "/", "metric": rhs,
                                  "on": ["a"], "ignoring": ["b"]}))
    with pytest.raises(IRValidationError, match="needs explicit 'on'"):
        validate(_binop_doc(lhs, {"op": "/", "metric": rhs,
                                  "group": "left"}))
    with pytest.raises(IRValidationError, match="'include' needs group"):
        validate(_binop_doc(lhs, {"op": "/", "metric": rhs,
                                  "include": ["x"]}))
    # matching labels must be resolvable on aggregated operands
    with pytest.raises(IRValidationError, match="within the lhs 'by'"):
        validate(_binop_doc(lhs, {"op": "/", "metric": rhs,
                                  "on": ["region"]}))
    # aggregated vs raw without explicit on is ambiguous
    with pytest.raises(IRValidationError, match="needs explicit 'on'"):
        validate(_binop_doc(
            lhs, {"op": "/", "metric": {"name": "reqs", "type": "sum",
                                        "fn": "rate"}}))
    with pytest.raises(IRValidationError, match="identical 'by' label sets"):
        validate(_binop_doc(
            lhs, {"op": "/", "metric": {**rhs, "by": ["zone"]}}))
    with pytest.raises(IRValidationError, match="requires from: 'metrics'"):
        validate({"version": 1, "from": "logs",
                  "binop": {"op": "/", "metric": rhs}})


def test_binop_ratio_one_to_one(spark):
    """errs/reqs per (bucket, service): DELTA sums, both sides
    aggregated by service_name — the canonical error-ratio shape."""
    t0 = _ts("2024-01-01 00:05:00")
    errs = _sum_df(spark, [
        (t0, None, "api", "errs", 5.0, 1, {}),
        (t0, None, "db", "errs", 1.0, 1, {}),
    ])
    reqs = _sum_df(spark, [
        (t0, None, "api", "reqs", 50.0, 1, {}),
        (t0, None, "db", "reqs", 10.0, 1, {}),
        (t0, None, "cache", "reqs", 7.0, 1, {}),  # unmatched: dropped
    ])
    q = validate(_binop_doc(
        {"name": "errs", "type": "sum", "fn": "increase",
         "window_seconds": 3600, "agg": "sum", "by": ["service_name"]},
        {"op": "/", "metric": {"name": "reqs", "type": "sum",
                               "fn": "increase", "agg": "sum",
                               "by": ["service_name"]}},
    ))
    out = {r["service_name"]: r["value"]
           for r in lower_metrics(errs, q, rhs_df=reqs).collect()}
    assert out == {"api": pytest.approx(0.1), "db": pytest.approx(0.1)}


def test_binop_compare_bool_and_filter(spark):
    """Comparison binop: filter semantics keep lhs rows (with lhs
    values); bool mode emits 1/0 for every matched pair."""
    t0 = _ts("2024-01-01 00:05:00")
    cur = _sum_df(spark, [
        (t0, None, "api", "load", 9.0, 1, {}),
        (t0, None, "db", "load", 2.0, 1, {}),
    ])
    cap = _sum_df(spark, [
        (t0, None, "api", "cap", 5.0, 1, {}),
        (t0, None, "db", "cap", 5.0, 1, {}),
    ])
    base_l = {"name": "load", "type": "sum", "fn": "increase",
              "window_seconds": 3600, "agg": "sum", "by": ["service_name"]}
    base_r = {"name": "cap", "type": "sum", "fn": "increase",
              "agg": "sum", "by": ["service_name"]}
    q = validate(_binop_doc(base_l, {"op": ">", "metric": base_r}))
    rows = lower_metrics(cur, q, rhs_df=cap).collect()
    assert [(r["service_name"], r["value"]) for r in rows] == [("api", 9.0)]
    qb = validate(_binop_doc(base_l, {"op": ">", "metric": base_r,
                                      "bool": True}))
    out = {r["service_name"]: r["value"]
           for r in lower_metrics(cur, qb, rhs_df=cap).collect()}
    assert out == {"api": 1.0, "db": 0.0}


def test_binop_group_left_include(spark):
    """Many-to-one: per-(service, code) counts divided by per-service
    totals via on(service) group_left — the many side keeps its full
    identity and 'include' copies a label from the one side."""
    t0 = _ts("2024-01-01 00:05:00")
    by_code = _sum_df(spark, [
        (t0, None, "api", "hits", 30.0, 1, {"code": "200"}),
        (t0, None, "api", "hits", 10.0, 1, {"code": "500"}),
    ])
    totals = _sum_df(spark, [
        (t0, None, "api", "total", 40.0, 1, {"region": "eu"}),
    ])
    q = validate(_binop_doc(
        {"name": "hits", "type": "sum", "fn": "increase",
         "window_seconds": 3600, "agg": "sum",
         "by": ["service_name", "code"]},
        {"op": "/",
         "metric": {"name": "total", "type": "sum", "fn": "increase",
                    "agg": "sum", "by": ["service_name"]},
         "on": ["service_name"], "group": "left"},
    ))
    out = {r["code"]: r["value"]
           for r in lower_metrics(by_code, q, rhs_df=totals).collect()}
    assert out == {"200": pytest.approx(0.75), "500": pytest.approx(0.25)}
    # include rides the join from the one side
    qi = validate(_binop_doc(
        {"name": "hits", "type": "sum", "fn": "increase",
         "window_seconds": 3600, "agg": "sum",
         "by": ["service_name", "code"]},
        {"op": "/",
         "metric": {"name": "total", "type": "sum", "fn": "increase"},
         "on": ["service_name"], "group": "left", "include": ["region"]},
    ))
    rows = lower_metrics(by_code, qi, rhs_df=totals).collect()
    assert all(r["region"] == "eu" for r in rows)


def test_binop_ignoring_raw_series(spark):
    """ignoring(code) over raw (non-aggregated) series: the attribute
    entries minus the ignored key form the match identity."""
    t0 = _ts("2024-01-01 00:05:00")
    a = _sum_df(spark, [
        (t0, None, "api", "a", 6.0, 1, {"code": "200", "zone": "z1"}),
    ])
    b = _sum_df(spark, [
        (t0, None, "api", "b", 3.0, 1, {"code": "500", "zone": "z1"}),
    ])
    q = validate(_binop_doc(
        {"name": "a", "type": "sum", "fn": "increase",
         "window_seconds": 3600},
        {"op": "/", "metric": {"name": "b", "type": "sum",
                               "fn": "increase"},
         "ignoring": ["code"]},
    ))
    rows = lower_metrics(a, q, rhs_df=b).collect()
    assert len(rows) == 1 and rows[0]["value"] == pytest.approx(2.0)
    # without ignoring, the differing 'code' label prevents the match
    q2 = validate(_binop_doc(
        {"name": "a", "type": "sum", "fn": "increase",
         "window_seconds": 3600},
        {"op": "/", "metric": {"name": "b", "type": "sum",
                               "fn": "increase"}},
    ))
    assert lower_metrics(a, q2, rhs_df=b).count() == 0


def test_binop_one_to_one_duplicate_series_is_loud(spark):
    """PromQL one-to-one contract: multiple series per match group on
    either side is an ERROR ('found duplicate series for the match
    group'), never a silent within-group cross join."""
    t0 = _ts("2024-01-01 00:05:00")
    a = _sum_df(spark, [
        (t0, None, "api", "a", 6.0, 1, {"zone": "z", "pod": "p1"}),
        (t0, None, "api", "a", 4.0, 1, {"zone": "z", "pod": "p2"}),
    ])
    b = _sum_df(spark, [
        (t0, None, "api", "b", 3.0, 1, {"zone": "z", "host": "h1"}),
    ])
    q = validate(_binop_doc(
        {"name": "a", "type": "sum", "fn": "increase",
         "window_seconds": 3600},
        {"op": "/", "metric": {"name": "b", "type": "sum",
                               "fn": "increase"},
         "on": ["zone"]},
    ))
    with pytest.raises(Exception, match="duplicate series"):
        lower_metrics(a, q, rhs_df=b).collect()


def test_binop_group_one_side_duplicate_is_loud(spark):
    """group_left still requires the ONE side to be unique per match
    group — duplicates there are many-to-many, an error in PromQL."""
    t0 = _ts("2024-01-01 00:05:00")
    many = _sum_df(spark, [
        (t0, None, "api", "hits", 30.0, 1, {"code": "200"}),
        (t0, None, "api", "hits", 10.0, 1, {"code": "500"}),
    ])
    dup_one = _sum_df(spark, [
        (t0, None, "api", "total", 40.0, 1, {"region": "eu"}),
        (t0, None, "api", "total", 41.0, 1, {"region": "us"}),
    ])
    q = validate(_binop_doc(
        {"name": "hits", "type": "sum", "fn": "increase",
         "window_seconds": 3600, "agg": "sum",
         "by": ["service_name", "code"]},
        {"op": "/",
         "metric": {"name": "total", "type": "sum", "fn": "increase"},
         "on": ["service_name"], "group": "left"},
    ))
    with pytest.raises(Exception, match="duplicate series"):
        lower_metrics(many, q, rhs_df=dup_one).collect()


def test_binop_include_outside_one_side_by_rejected_at_wall():
    """'include' labels an aggregated one side cannot expose are
    rejected at the validation wall, not as an AnalysisException deep
    in lowering."""
    lhs = {"name": "hits", "type": "sum", "fn": "increase",
           "window_seconds": 3600, "agg": "sum",
           "by": ["service_name", "code"]}
    with pytest.raises(IRValidationError, match="'include' labels must be"):
        validate(_binop_doc(
            lhs,
            {"op": "/",
             "metric": {"name": "total", "type": "sum", "fn": "increase",
                        "agg": "sum", "by": ["service_name"]},
             "on": ["service_name"], "group": "left",
             "include": ["zone"]},
        ))
    # a RAW one side resolves include labels from its attribute map —
    # still valid
    ok = validate(_binop_doc(
        lhs,
        {"op": "/",
         "metric": {"name": "total", "type": "sum", "fn": "increase"},
         "on": ["service_name"], "group": "left", "include": ["zone"]},
    ))
    assert ok.binop.include == ("zone",)


def test_binop_range_lhs_instant_rhs_aligns_buckets(spark):
    """A range lhs over an instant rhs (rate vs gauge-last — the
    load-vs-capacity ratio) is expressible with NO explicit rhs step:
    the instant rhs inherits the lhs's resolved bucket as its step
    instead of a spurious window_seconds."""
    q = validate(_binop_doc(
        {"name": "errs", "type": "sum", "fn": "increase",
         "window_seconds": 3600, "agg": "sum", "by": ["service_name"]},
        {"op": "/", "metric": {"name": "cap", "type": "gauge",
                               "fn": "last"},
         "on": ["service_name"]},
    ))
    assert q.binop.rhs.fn == "last"
    assert q.binop.rhs.window_seconds is None
    assert q.binop.rhs.step_seconds == 3600
    t0 = _ts("2024-01-01 00:05:00")
    errs = _sum_df(spark, [(t0, None, "api", "errs", 10.0, 1, {})])
    cap = _sum_df(spark, [(t0, None, "api", "cap", 5.0, 1, {})])
    rows = lower_metrics(errs, q, rhs_df=cap).collect()
    assert len(rows) == 1 and rows[0]["value"] == pytest.approx(2.0)


def test_binop_missing_on_label_matches_as_empty(spark):
    """PromQL matches a missing label as the empty string: two series
    that BOTH lack the on() label must pair up, not silently vanish
    through a NULL join key."""
    t0 = _ts("2024-01-01 00:05:00")
    a = _sum_df(spark, [(t0, None, "api", "a", 6.0, 1, {})])
    b = _sum_df(spark, [(t0, None, "api", "b", 3.0, 1, {})])
    q = validate(_binop_doc(
        {"name": "a", "type": "sum", "fn": "increase",
         "window_seconds": 3600},
        {"op": "/", "metric": {"name": "b", "type": "sum",
                               "fn": "increase"},
         "on": ["zone"]},
    ))
    rows = lower_metrics(a, q, rhs_df=b).collect()
    assert len(rows) == 1 and rows[0]["value"] == pytest.approx(2.0)
    assert rows[0]["zone"] == ""
