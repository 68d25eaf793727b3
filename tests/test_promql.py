"""PromQL frontend tests: parser pins + execution against generated
metric tables cross-checked with DuckDB + histogram interpolation
against hand-computed values."""

from __future__ import annotations

import math

import duckdb
import pytest

from signaldb_spark.catalog import optional_table, signal_table_path
from signaldb_spark.promql import parse
from signaldb_spark.promql.ast import AggExpr, BinOp, Call, NumberLit, VectorSelector
from signaldb_spark.promql.lowering import PromCtx, query_range
from signaldb_spark.testing import write_signal_tables

START, END = "2024-01-01 00:00:00", "2024-01-01 01:00:00"
STEP = 600


@pytest.fixture(scope="module")
def signal_base(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prom_signals"))
    write_signal_tables(spark, base)
    return base


@pytest.fixture(scope="module")
def ctx(spark, signal_base):
    t = lambda n: optional_table(spark, signal_base, "acme", "prod", n)
    return PromCtx(spark, t("metrics_gauge"), t("metrics_sum"), t("metrics_histogram"), START, END, STEP)


@pytest.fixture(scope="module")
def duck(signal_base):
    con = duckdb.connect()
    for n in ("metrics_gauge", "metrics_sum"):
        path = signal_table_path(signal_base, "acme", "prod", n)
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
        )
    return con


BUCKET = "CAST(floor(epoch(timestamp)/600)*600 AS BIGINT)"


# ------------------------------------------------------------ parser pins


def test_parse_range_selector():
    q = parse('rate(http_requests_total{job="api"}[5m])')
    assert isinstance(q, Call) and q.fn == "rate"
    sel = q.args[0]
    assert isinstance(sel, VectorSelector)
    assert sel.metric == "http_requests_total" and sel.range_seconds == 300.0
    assert sel.matchers[0].label == "job"


def test_parse_agg_without_offset():
    q = parse("sum without (service) (process_cpu_usage offset 10m)")
    assert isinstance(q, AggExpr) and q.without and q.grouping == ("service",)
    assert q.expr.offset_seconds == 600.0


def test_parse_subquery():
    q = parse("max_over_time(rate(x[5m])[30m:5m])")
    assert isinstance(q, Call) and q.fn == "max_over_time"
    sub = q.args[0]
    assert isinstance(sub, Call) and sub.fn == "__subquery__"


def test_parse_histogram_quantile():
    q = parse("histogram_quantile(0.95, rate(http_request_duration_ms[5m]))")
    assert q.fn == "histogram_quantile" and q.args[0].value == 0.95


def test_parse_bool_compare():
    q = parse("process_cpu_usage > bool 0.5")
    assert isinstance(q, BinOp) and q.bool_mode


# ------------------------------------------------------- execution tests


def test_instant_last_per_bucket(ctx, duck):
    got = query_range(ctx, "process_cpu_usage")
    rows = {(r.bucket, r.service_name): round(r.value, 6) for r in got.collect()}
    exp = duck.execute(
        f"""
        SELECT {BUCKET} AS bucket, service_name, round(max_by(value, timestamp), 6)
        FROM metrics_gauge
        WHERE metric_name = 'process_cpu_usage' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    assert rows == {(b, s): v for b, s, v in exp} and rows


def test_rate_counter(ctx, duck):
    got = query_range(ctx, "rate(http_requests_total[10m])")
    rows = {(r.bucket, r.service_name): round(r.value, 6) for r in got.collect()}
    exp = duck.execute(
        f"""
        SELECT {BUCKET} AS bucket, service_name,
               round((max_by(value, timestamp) - min_by(value, timestamp)) / 600.0, 6)
        FROM metrics_sum
        WHERE metric_name = 'http_requests_total' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    assert rows == {(b, s): v for b, s, v in exp} and rows


@pytest.mark.parametrize(
    "modifier, col",
    [("by (job)", "service_name"), ("without (service_name)", "metric_name")],
    ids=["by", "without"],
)
@pytest.mark.parametrize(
    "outer, fn, duck_value",
    [
        ("sum", "sum_over_time", "sum(value)"),
        ("sum", "count_over_time", "CAST(count(value) AS DOUBLE)"),
        ("min", "min_over_time", "min(value)"),
        ("max", "max_over_time", "max(value)"),
    ],
    ids=["sum-sum", "sum-count", "min-min", "max-max"],
)
def test_outer_sum_without_fused_matches_duckdb(
    ctx, duck, outer, fn, duck_value, modifier, col
):
    """Every (outer op, range fn) pair of ts.EXACT_FUSIONS that PromQL
    can emit, in the by and the without form, rides the outer-agg fusion
    (_eval_agg routes the shape straight into lower_range_fn grouped by
    the kept labels; ``job`` routes to service_name). The result is
    pinned against DuckDB, and the plan must hold exactly ONE grouped
    aggregation pair."""
    got = query_range(
        ctx, f"{outer} {modifier} ({fn}(process_cpu_usage[10m]))"
    )
    import re

    p = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    # each operator is named twice in formatted output (tree + detail);
    # count the numbered detail headers only
    assert len(re.findall(r"^\(\d+\) HashAggregate", p, re.M)) == 2, p
    assert got.columns == ["bucket", col, "value"]
    rows = {(r.bucket, r[col]): round(r.value, 6) for r in got.collect()}
    exp = duck.execute(
        f"""
        SELECT {BUCKET} AS bucket, {col}, round({duck_value}, 6)
        FROM metrics_gauge
        WHERE metric_name = 'process_cpu_usage' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    assert rows == {(b, c): v for b, c, v in exp} and rows


def test_sum_by_drops_series(ctx):
    got = query_range(ctx, "sum by (service_name) (process_cpu_usage)")
    cols = got.columns
    assert set(cols) == {"bucket", "service_name", "value"}


def test_binop_ratio(ctx):
    got = query_range(
        ctx, "rate(http_requests_total[10m]) / on (service_name) (process_cpu_usage + 1)"
    ).collect()
    assert got and all(not math.isnan(r.value) for r in got)


def test_compare_filter_and_bool(ctx):
    plain = query_range(ctx, "process_cpu_usage > 0.5").collect()
    assert all(r.value > 0.5 for r in plain)
    b = query_range(ctx, "process_cpu_usage > bool 0.5").collect()
    assert set(r.value for r in b) <= {0.0, 1.0}


def test_topk(ctx):
    got = query_range(ctx, "topk(2, sum by (service_name) (process_cpu_usage))").collect()
    per_bucket = {}
    for r in got:
        per_bucket.setdefault(r.bucket, []).append(r)
    assert per_bucket and all(len(v) <= 2 for v in per_bucket.values())


def test_topk_without_empty_ranks_per_series(ctx):
    """topk without () (k, m) groups by every label — each series ranks
    alone and survives, the reading limitk and the outer aggregates
    already give ``without ()``. Without a modifier, and with by (),
    the ranking stays global (one series per bucket)."""
    bare = {tuple(r) for r in query_range(ctx, "process_cpu_usage").collect()}
    for q in ("topk without () (1, process_cpu_usage)",
              "limitk without () (1, process_cpu_usage)"):
        got = query_range(ctx, q).collect()
        assert len(got) == len(bare) and {tuple(r) for r in got} == bare
    for q in ("topk(1, process_cpu_usage)", "topk by () (1, process_cpu_usage)"):
        got = query_range(ctx, q).collect()
        assert len(got) == len({r.bucket for r in got}) < len(bare)


def test_absent_of_missing_metric(ctx):
    got = query_range(ctx, "absent(no_such_metric)").collect()
    # every bucket in [start, end] present with value 1.0
    assert len(got) == 7 and all(r.value == 1.0 for r in got)


def test_value_ops_chain(ctx):
    got = query_range(ctx, "clamp(sqrt(process_cpu_usage), 0.2, 0.9)").collect()
    assert got and all(0.2 <= r.value <= 0.9 for r in got)


def test_calendar_hour(ctx):
    got = query_range(ctx, "hour()").collect()
    # inclusive [start, end]: buckets 00:00..01:00, so hours {0, 1}
    assert {r.value for r in got} == {0.0, 1.0}


def test_scalar_and_vector(ctx):
    v = query_range(ctx, "vector(42)").collect()
    assert all(r.value == 42.0 for r in v) and len(v) == 7
    t = query_range(ctx, "time()").collect()
    assert all(r.value == float(r.bucket) for r in t)


def test_offset_shifts_data(ctx):
    """offset 10m: value reported at t comes from t-10m."""
    base = {r.bucket: r.value for r in query_range(
        ctx, 'sum(last_over_time(http_requests_total{service_name="api"}[10m]))').collect()}
    off = {r.bucket: r.value for r in query_range(
        ctx, 'sum(last_over_time(http_requests_total{service_name="api"}[10m] offset 10m))').collect()}
    shifted_matches = sum(
        1 for b, v in off.items() if b - 600 in base and abs(base[b - 600] - v) < 1e-9
    )
    assert shifted_matches >= len(off) - 2


def test_histogram_quantile_hand_check(spark):
    """Interpolation pinned on a hand-built histogram: bounds [10, 20],
    counts [2, 6, 2] (rate-mode first=zeros): φ=0.5 → rank 5 lands in
    bucket idx=1 → 10 + 10*(5-2)/6 = 15.0."""
    import datetime as dt

    from pyspark.sql import Row

    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.lowering import PromCtx, lower_histogram_quantile

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(timestamp=t0, service_name="api", metric_name="lat",
            bucket_counts=[0.0, 0.0, 0.0], explicit_bounds=[10.0, 20.0]),
        Row(timestamp=t0 + dt.timedelta(seconds=300), service_name="api", metric_name="lat",
            bucket_counts=[2.0, 6.0, 2.0], explicit_bounds=[10.0, 20.0]),
    ]
    hist = spark.createDataFrame(rows)
    ctx = PromCtx(spark, None, None, hist, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 600)
    out = lower_histogram_quantile(ctx, 0.5, VectorSelector("lat"), rate_mode=True).collect()
    assert len(out) == 1 and abs(out[0].value - 15.0) < 1e-9
    # φ=0.95 → rank 9.5 → last bucket (+Inf) → highest finite bound 20
    out2 = lower_histogram_quantile(ctx, 0.95, VectorSelector("lat"), rate_mode=True).collect()
    assert abs(out2[0].value - 20.0) < 1e-9


def test_subquery_sliding(ctx):
    got = query_range(ctx, "max_over_time(sum(process_cpu_usage)[30m:10m])").collect()
    assert got and all(r.value is not None for r in got)


def test_count_values(ctx):
    got = query_range(ctx, 'count_values("cpu_bucket", round(process_cpu_usage, 0.25))').collect()
    assert got
    row = got[0]
    assert hasattr(row, "cpu_bucket") and row.value >= 1.0


def test_count_values_preserves_by_grouping(ctx):
    """count_values by (service) must keep the grouping label instead of
    collapsing services together (metrics.rs:1910-1949)."""
    got = query_range(
        ctx, 'count_values by (service_name) ("cpu_bucket", round(process_cpu_usage, 0.25))'
    ).collect()
    assert got
    assert hasattr(got[0], "service_name") and hasattr(got[0], "cpu_bucket")
    services = {r.service_name for r in got}
    assert len(services) > 1
    # per (bucket, cpu_bucket): the ungrouped count equals the sum over services
    plain = query_range(
        ctx, 'count_values("cpu_bucket", round(process_cpu_usage, 0.25))'
    ).collect()
    plain_map = {(r.bucket, r.cpu_bucket): r.value for r in plain}
    summed: dict = {}
    for r in got:
        summed[(r.bucket, r.cpu_bucket)] = summed.get((r.bucket, r.cpu_bucket), 0.0) + r.value
    assert summed == plain_map


def test_at_modifier_pins_instant(ctx):
    """@ <epoch>: every output bucket carries the value evaluated at the
    pinned instant."""
    at = 1704068400  # 2024-01-01 00:20:00 UTC
    got = query_range(ctx, f"process_cpu_usage @ {at}").collect()
    assert got
    per_series = {}
    for r in got:
        per_series.setdefault(r.service_name, set()).add(r.value)
    # one constant value per series replicated across all buckets
    assert all(len(v) == 1 for v in per_series.values())
    buckets = {r.bucket for r in got}
    assert len(buckets) == 7  # full spine


def test_histogram_fraction_hand_check(spark):
    """bounds [10, 20], counts [2, 6, 2], total 10:
    fraction(10, 20) = 6/10; fraction(0, 15) = (2 + 3)/10 = 0.5."""
    import datetime as dt

    from pyspark.sql import Row

    from signaldb_spark.promql.lowering import lower_histogram_fraction

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(timestamp=t0, service_name="api", metric_name="lat",
            bucket_counts=[2.0, 6.0, 2.0], explicit_bounds=[10.0, 20.0]),
    ]
    hist = spark.createDataFrame(rows)
    c = PromCtx(spark, None, None, hist, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 600)
    out = lower_histogram_fraction(c, 10.0, 20.0, VectorSelector("lat")).collect()
    assert len(out) == 1 and abs(out[0].value - 0.6) < 1e-9
    out2 = lower_histogram_fraction(c, 0.0, 15.0, VectorSelector("lat")).collect()
    assert abs(out2[0].value - 0.5) < 1e-9
    # via the query string surface too
    q = query_range(c, "histogram_fraction(10, 20, lat)").collect()
    assert abs(q[0].value - 0.6) < 1e-9


def test_unary_minus_precedence():
    """Prometheus: -2^2 == -(2^2) == -4."""
    q = parse("-2 ^ 2")
    # outer node must be the negation
    assert isinstance(q, BinOp) and q.op == "-" and q.lhs.value == 0.0
    inner = q.rhs
    assert isinstance(inner, BinOp) and inner.op == "^"


def test_negative_clamp_args(ctx):
    got = query_range(ctx, "clamp(process_cpu_usage - 1, -0.5, 0.5)").collect()
    assert got and all(-0.5 <= r.value <= 0.5 for r in got)


def test_quantile_over_time(ctx, duck):
    got = query_range(ctx, "quantile_over_time(0.9, process_cpu_usage[10m])")
    rows = {(r.bucket, r.service_name): r.value for r in got.collect()}
    exp = duck.execute(
        f"""
        SELECT {BUCKET} AS bucket, service_name, quantile_cont(value, 0.9)
        FROM metrics_gauge
        WHERE metric_name = 'process_cpu_usage' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    want = {(b, s): v for b, s, v in exp}
    assert rows and rows.keys() == want.keys()
    # the two engines interpolate (1-f)·a + f·b in different float
    # orders — compare to 1e-5, not a 6dp round that can straddle an ulp
    assert all(abs(rows[k] - want[k]) < 1e-5 for k in rows)


def test_sum_by_prometheus_label_names(ctx):
    """by(job)/by(service) must route to service_name, not collapse all
    series (the matcher routing applied to grouping)."""
    routed = query_range(ctx, "sum by (job) (process_cpu_usage)").collect()
    direct = query_range(ctx, "sum by (service_name) (process_cpu_usage)").collect()
    assert {(r.bucket, r.service_name, r.value) for r in routed} == {
        (r.bucket, r.service_name, r.value) for r in direct
    }
    assert len({r.service_name for r in routed}) > 1


def test_selector_subquery_sliding(ctx):
    """m[30m:10m] directly under max_over_time must sliding-reduce, not
    fall back to the instant lookback."""
    got = query_range(ctx, "max_over_time(process_cpu_usage[30m:10m])").collect()
    plain = query_range(ctx, "process_cpu_usage").collect()
    by_key = {(r.bucket, r.service_name): r.value for r in plain}
    for r in got:
        # sliding max over trailing 30m >= the instant value at that bucket
        v = by_key.get((r.bucket, r.service_name))
        if v is not None:
            assert r.value >= v - 1e-9


def test_group_left_many_to_one(ctx):
    """rate(counter) per (service) divided by a per-bucket total via
    group_left: every left series matches the single right row."""
    q = (
        "rate(http_requests_total[10m]) "
        "/ on (bucket) group_left sum(rate(http_requests_total[10m]))"
    )
    # on(bucket) is implicit; PromQL would write on() — use service route
    q = (
        "rate(http_requests_total[10m]) "
        "/ on (service_name) group_left "
        "sum by (service_name) (rate(http_requests_total[10m]))"
    )
    got = query_range(ctx, q).collect()
    assert got and all(abs(r.value - 1.0) < 1e-9 for r in got)


# ------------------------------------- predict_linear / holt_winters


def test_predict_linear_exact_line(spark):
    """On exactly linear data the extrapolation is exact: v = t_offset,
    so predict_linear(v[step], h) at bucket end + h == step + h."""
    from signaldb_spark.operators.timeseries import predict_linear

    rows = [(f"2024-01-01 00:{m:02d}:00", float(60 * m)) for m in range(10)]
    df = spark.createDataFrame(rows, "ts string, value double").selectExpr(
        "CAST(ts AS TIMESTAMP) AS timestamp", "value"
    )
    out = predict_linear(df, "timestamp", 3600, [], "value", 600.0).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(3600.0 + 600.0)


def test_parse_predict_linear_and_holt_winters():
    e = parse("predict_linear(m[5m], 600)")
    assert isinstance(e, Call) and e.fn == "predict_linear"
    e2 = parse("double_exponential_smoothing(m[5m], 0.3, 0.6)")
    assert isinstance(e2, Call) and e2.fn == "double_exponential_smoothing"


def test_holt_winters_matches_reference_recurrence(spark):
    """Hand-run Prometheus's funcHoltWinters recurrence and compare."""
    from signaldb_spark.operators.timeseries import holt_winters

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0]
    rows = [(f"2024-01-01 00:0{i}:00", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts string, value double").selectExpr(
        "CAST(ts AS TIMESTAMP) AS timestamp", "value"
    )
    sf, tf = 0.4, 0.3
    s0, s1, b = 0.0, vals[0], vals[1] - vals[0]
    for i in range(1, len(vals)):
        bn = b if i == 1 else tf * (s1 - s0) + (1 - tf) * b
        x = sf * vals[i]
        y = (1 - sf) * (s1 + bn)
        s0, s1, b = s1, x + y, bn
    out = holt_winters(df, "timestamp", 3600, [], "value", sf, tf).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(s1, abs=1e-12)


def test_holt_winters_needs_two_samples(spark):
    from signaldb_spark.operators.timeseries import holt_winters

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 5.0)], "ts string, value double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS timestamp", "value")
    assert holt_winters(df, "timestamp", 3600, [], "value", 0.5, 0.5).collect() == []


def test_holt_winters_via_query_range(ctx):
    out = query_range(ctx, "holt_winters(process_cpu_usage[10m], 0.5, 0.5)")
    assert out.count() > 0


def test_exphist_quantile_merges_offset_disjoint_datapoints(spark):
    """Two datapoints of one series with different positive_offsets must
    merge element-wise by ABSOLUTE index before the quantile walk, and
    the zero bucket must short-circuit low ranks to 0.0."""
    from signaldb_spark.operators.exphist import exphist_quantile

    rows = [
        # series A: dp1 buckets i=0..1 -> counts [2, 2]; dp2 buckets i=1..2 -> [2, 4]
        ("a", 0, 0, 0, [2, 2]),
        ("a", 0, 0, 1, [2, 4]),
        # series B: everything in the zero bucket
        ("b", 0, 10, 0, []),
    ]
    df = spark.createDataFrame(
        rows, "series string, scale int, zero_count long, positive_offset int, positive_bucket_counts array<long>"
    )
    # series A: total=10, rank(0.5)=5 -> bucket i=1 covers (2,4], cum before=2, c=4
    # value = 2 + (4-2) * (5-2)/4 = 3.5
    out = {
        r["series"]: r["value"]
        for r in exphist_quantile(df, 0.5, ["series"]).collect()
    }
    assert out["a"] == pytest.approx(3.5)
    assert out["b"] == 0.0


def test_exphist_quantile_scale_changes_base(spark):
    """scale=1 -> base=sqrt(2): bucket 0 covers (1, 2^0.5]."""
    from signaldb_spark.operators.exphist import exphist_quantile

    df = spark.createDataFrame(
        [("a", 1, 0, 0, [4])],
        "series string, scale int, zero_count long, positive_offset int, positive_bucket_counts array<long>",
    )
    # rank = 2, bucket (2^0, 2^0.5], value = 1 + (2^0.5 - 1) * 2/4
    out = exphist_quantile(df, 0.5, ["series"]).collect()[0]["value"]
    assert out == pytest.approx(1 + (2 ** 0.5 - 1) * 0.5)


def test_summary_quantile_anchor_paths(spark):
    """Exact anchor hit, clamping below/above the anchor range, and the
    latest-datapoint pick."""
    from datetime import datetime
    from signaldb_spark.operators.summary import summary_quantile

    rows = [
        ("a", datetime(2024, 1, 1), [(0.5, 10.0), (0.9, 90.0)]),
        ("a", datetime(2024, 1, 2), [(0.5, 20.0), (0.9, 100.0)]),  # latest wins
    ]
    df = spark.createDataFrame(
        rows,
        "series string, timestamp timestamp, quantile_values array<struct<quantile:double,value:double>>",
    )
    get = lambda phi: summary_quantile(df, phi, ["series"]).collect()[0]["value"]
    assert get(0.9) == 100.0          # exact anchor
    assert get(0.2) == 20.0           # clamp below
    assert get(0.95) == 100.0         # clamp above
    assert get(0.7) == pytest.approx(60.0)  # midpoint interpolation


def test_exphist_quantile_downscales_mixed_scales(spark):
    """A series whose datapoints disagree on scale merges at the MIN
    scale: scale-1 buckets 0..1 (covering (1, sqrt2], (sqrt2, 2]) fold
    into scale-0 bucket 0 (covering (1, 2])."""
    from signaldb_spark.operators.exphist import exphist_quantile

    rows = [
        # scale 0: bucket 0 = (1,2] count 2, bucket 1 = (2,4] count 2
        ("a", 0, 0, 0, [2, 2]),
        # scale 1: buckets 0,1 both fold into scale-0 bucket 0 -> +4 in (1,2]
        ("a", 1, 0, 0, [2, 2]),
    ]
    df = spark.createDataFrame(
        rows,
        "series string, scale int, zero_count long, positive_offset int, positive_bucket_counts array<long>",
    )
    # merged at scale 0: bucket0 count 6, bucket1 count 2, total 8
    # phi=0.5 -> rank 4 -> inside bucket0: 1 + (2-1) * 4/6
    out = exphist_quantile(df, 0.5, ["series"]).collect()[0]["value"]
    assert out == pytest.approx(1 + 4 / 6)


def test_exphist_quantile_negative_buckets(spark):
    """Full CDF walk: negatives (most negative first), zero bucket,
    positives. scale 0: neg bucket 1 = [-4,-2), neg bucket 0 = [-2,-1);
    counts 2 each, zero 2, pos bucket 0 = (1,2] count 2 -> total 8."""
    from signaldb_spark.operators.exphist import exphist_quantile

    rows = [("a", 0, 2, 0, [2], 0, [2, 2])]
    df = spark.createDataFrame(
        rows,
        "series string, scale int, zero_count long, positive_offset int, "
        "positive_bucket_counts array<long>, negative_offset int, "
        "negative_bucket_counts array<long>",
    )
    get = lambda phi: exphist_quantile(df, phi, ["series"]).collect()[0]["value"]
    # rank 2 -> first (most negative) bucket [-4,-2): -4 + 2*2/2 = -2
    assert get(0.25) == pytest.approx(-2.0)
    # rank 4 -> second neg bucket [-2,-1): -2 + 1*(4-2)/2 = -1
    assert get(0.5) == pytest.approx(-1.0)
    # rank 5 -> inside the zero bucket (cum 4 < 5 <= 6) -> 0.0
    assert get(0.625) == 0.0
    # rank 7 -> positive bucket (1,2]: 1 + 1*(7-6)/2 = 1.5
    assert get(0.875) == pytest.approx(1.5)


def test_recording_rule_roundtrip(spark, tmp_path_factory):
    """evaluate → persist → re-query: the recorded series is readable
    through the normal PromQL path under its new name, and re-recording
    the same window does not duplicate samples, on a manifest-committed
    table (the layout every sink writes)."""
    from pyspark.sql import functions as F

    from signaldb_spark.catalog import optional_table, signal_table_path
    from signaldb_spark.promql.lowering import PromCtx, query_range
    from signaldb_spark.promql.rules import record_rule
    from signaldb_spark.schemas.signal_schemas import METRICS_GAUGE, METRICS_SUM
    from signaldb_spark.storage.manifest import write_batch_manifest
    from signaldb_spark.testing import gen_metrics

    base = str(tmp_path_factory.mktemp("rule_signals"))
    g, s, _h = gen_metrics()
    for name, rows, schema in (
        ("metrics_gauge", g, METRICS_GAUGE), ("metrics_sum", s, METRICS_SUM)
    ):
        write_batch_manifest(
            spark.createDataFrame(rows, schema),
            signal_table_path(base, "acme", "prod", name), name, batch_id=0,
        )
    t = lambda n: optional_table(spark, base, "acme", "prod", n)
    ctx = PromCtx(spark, t("metrics_gauge"), t("metrics_sum"), None, START, END, STEP)
    path = signal_table_path(base, "acme", "prod", "metrics_gauge")
    record_rule(ctx, "sum by (service_name) (process_cpu_usage)", "job:cpu:sum", path)
    n1 = t("metrics_gauge").filter(F.col("metric_name") == "job:cpu:sum").count()
    assert n1 > 0
    # replay: the batch id is already committed, no duplicates
    record_rule(ctx, "sum by (service_name) (process_cpu_usage)", "job:cpu:sum", path)
    assert (
        t("metrics_gauge").filter(F.col("metric_name") == "job:cpu:sum").count() == n1
    )
    # recorded series answers queries under its new name
    ctx2 = PromCtx(spark, t("metrics_gauge"), None, None, START, END, STEP)
    out = query_range(ctx2, "job:cpu:sum").collect()
    assert len(out) > 0


def test_recording_rule_into_empty_directory_commits(spark, ctx, tmp_path):
    """An existing directory that holds no parquet file is not a bare
    table (``storage.manifest.bare_parquet_table``): it could shadow
    nothing, so a recording rule commits into it and reads back."""
    from pyspark.sql import functions as F

    from signaldb_spark.promql.rules import record_rule
    from signaldb_spark.storage.manifest import ManifestTable

    path = tmp_path / "metrics_gauge"
    (path / "data").mkdir(parents=True)
    record_rule(ctx, "sum by (service_name) (process_cpu_usage)", "job:cpu:sum",
                str(path))
    recorded = ManifestTable(str(path)).read(spark)
    assert recorded.filter(F.col("metric_name") == "job:cpu:sum").count() > 0


def test_at_start_end_sentinels(spark, ctx):
    """@ start() / @ end() resolve against the query window and
    replicate the pinned value across every step (promql-functions.md:31
    behavior)."""
    from signaldb_spark.promql.parser import parse
    from signaldb_spark.promql.ast import VectorSelector

    e = parse("max_over_time(process_cpu_usage[10m] @ end())")
    assert e.args[0].at_epoch == "end"
    assert parse("process_cpu_usage @ start()").at_epoch == "start"

    got = query_range(ctx, "max_over_time(process_cpu_usage[10m] @ end())").collect()
    assert got  # one row per (bucket, series)
    # every bucket carries the same pinned per-series value
    per_series = {}
    for r in got:
        per_series.setdefault(r["service_name"], set()).add(r["value"])
    assert all(len(v) == 1 for v in per_series.values())


# ------------------------------------------- round-3 function additions


def test_parse_trig_and_atan2():
    q = parse("deg(atan(process_cpu_usage)) atan2 rad(90)")
    assert isinstance(q, BinOp) and q.op == "atan2"
    assert isinstance(q.lhs, Call) and q.lhs.fn == "deg"
    assert isinstance(q.rhs, Call) and q.rhs.fn == "rad"


def test_parse_limitk_limit_ratio():
    q = parse("limitk(3, process_cpu_usage)")
    assert isinstance(q, AggExpr) and q.op == "limitk" and q.param == 3.0
    r = parse("limit_ratio(-0.4, process_cpu_usage) by (service_name)")
    assert r.op == "limit_ratio" and r.param == -0.4
    assert r.grouping == ("service_name",)


def test_hyperbolic_value_fns_match_python(ctx):
    base = {
        (r.bucket, r.service_name): r.value
        for r in query_range(ctx, "process_cpu_usage").collect()
    }
    for fn, ref in (
        ("sinh", math.sinh), ("cosh", math.cosh), ("tanh", math.tanh),
        ("asinh", math.asinh), ("sin", math.sin), ("atan", math.atan),
    ):
        got = query_range(ctx, f"{fn}(process_cpu_usage)").collect()
        for r in got:
            assert r.value == pytest.approx(ref(base[(r.bucket, r.service_name)]))


def test_pi_and_deg_rad_roundtrip(ctx):
    p = query_range(ctx, "pi()").collect()
    assert p and all(r.value == pytest.approx(math.pi) for r in p)
    rt = query_range(ctx, "rad(deg(process_cpu_usage))").collect()
    base = {
        (r.bucket, r.service_name): r.value
        for r in query_range(ctx, "process_cpu_usage").collect()
    }
    for r in rt:
        assert r.value == pytest.approx(base[(r.bucket, r.service_name)])


def test_mod_sign_of_dividend(ctx):
    """Prometheus %% is Go math.Mod — truncated, sign of the dividend."""
    got = query_range(ctx, "(0 - process_cpu_usage) % 0.3").collect()
    assert got and all(r.value <= 0 for r in got)
    for r in got:
        assert abs(r.value) < 0.3


def test_limit_ratio_complement_partitions(ctx):
    """limit_ratio(r) and limit_ratio(r-1) partition the series set —
    the documented Prometheus pairing property."""
    full = query_range(ctx, "sum by (service_name) (process_cpu_usage)").collect()
    keep = query_range(
        ctx, "limit_ratio(0.5, sum by (service_name) (process_cpu_usage))"
    ).collect()
    comp = query_range(
        ctx, "limit_ratio(-0.5, sum by (service_name) (process_cpu_usage))"
    ).collect()
    key = lambda r: (r.bucket, r.service_name)
    assert set(map(key, keep)).isdisjoint(set(map(key, comp)))
    assert set(map(key, keep)) | set(map(key, comp)) == set(map(key, full))


def test_limitk_keeps_k_series(ctx):
    got = query_range(
        ctx, "limitk(1, sum by (service_name) (process_cpu_usage))"
    ).collect()
    per_bucket = {}
    for r in got:
        per_bucket.setdefault(r.bucket, []).append(r.service_name)
    assert per_bucket and all(len(v) == 1 for v in per_bucket.values())
    # hash-selection is value-independent: the SAME series survives in
    # every bucket
    assert len({tuple(sorted(v)) for v in per_bucket.values()}) == 1


def test_ts_of_last_over_time(ctx):
    got = query_range(ctx, "ts_of_last_over_time(process_cpu_usage[10m])").collect()
    # every picked timestamp falls inside its step bucket
    for r in got:
        assert r.bucket <= r.value < r.bucket + STEP


def test_first_vs_last_over_time(ctx):
    first = query_range(ctx, "first_over_time(process_cpu_usage[10m])").collect()
    last = query_range(ctx, "last_over_time(process_cpu_usage[10m])").collect()
    assert {(r.bucket, r.service_name) for r in first} == {
        (r.bucket, r.service_name) for r in last
    }


def test_sort_by_label_orders_output(ctx):
    got = query_range(
        ctx, "sort_by_label_desc(sum by (service_name) (process_cpu_usage), \"service_name\")"
    ).collect()
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r.bucket, []).append(r.service_name)
    for names in by_bucket.values():
        assert names == sorted(names, reverse=True)


def test_exphist_rate_quantile_delta_hand_check(spark):
    """Two cumulative datapoints in one step: the rate distribution is
    last − first. first: 2 obs in bucket i=1; last: 2 in i=1 plus 4 in
    i=2 plus 1 zero. Delta = {i=2: 4, zero: 1}; p50 rank 2.5 lands in
    i=2 → 4 + (8-4)*(2.5-1)/4 = 5.5."""
    from pyspark.sql import functions as F

    from signaldb_spark.operators.exphist import exphist_rate_quantile

    rows = [
        ("s", "2024-01-01 00:10:00", 0, 0, 1, [2]),
        ("s", "2024-01-01 00:50:00", 0, 1, 1, [2, 4]),
    ]
    df = spark.createDataFrame(
        rows,
        "service_name string, ts string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts array<long>",
    ).select(
        "service_name", F.to_timestamp("ts").alias("timestamp"), "scale",
        "zero_count", "positive_offset", "positive_bucket_counts",
    )
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(5.5)


def test_exphist_rate_quantile_single_sample_step_empty(spark):
    from pyspark.sql import functions as F

    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = spark.createDataFrame(
        [("s", "2024-01-01 00:10:00", 0, 0, 1, [2])],
        "service_name string, ts string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts array<long>",
    ).select(
        "service_name", F.to_timestamp("ts").alias("timestamp"), "scale",
        "zero_count", "positive_offset", "positive_bucket_counts",
    )
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert out == []


def test_exphist_rate_quantile_counter_reset(spark):
    """A cumulative histogram that RESETS within the step (total count
    drops) must not produce negative nets — the increase falls back to
    the last datapoint's post-reset distribution (Prometheus reset
    semantics). first: 10 obs in i=1; last (post-reset): 4 obs in i=2.
    Without detection, last−first = {i=1: −10, i=2: +4} → corrupt.
    With it, delta = {i=2: 4}; p50 rank 2 → 4 + (8−4)·(2/4) = 6.0."""
    from pyspark.sql import functions as F

    from signaldb_spark.operators.exphist import exphist_rate_quantile

    rows = [
        ("s", "2024-01-01 00:10:00", 0, 0, 1, [10]),
        ("s", "2024-01-01 00:50:00", 0, 0, 2, [4]),
    ]
    df = spark.createDataFrame(
        rows,
        "service_name string, ts string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts array<long>",
    ).select(
        "service_name", F.to_timestamp("ts").alias("timestamp"), "scale",
        "zero_count", "positive_offset", "positive_bucket_counts",
    )
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(6.0)


def test_exphist_rate_quantile_zero_count_reset(spark):
    """Reset detected via the zero bucket alone: total count grew but
    zero_count dropped — still a reset (counts are cumulative, no
    individual bucket may decrease)."""
    from pyspark.sql import functions as F

    from signaldb_spark.operators.exphist import exphist_rate_quantile

    rows = [
        ("s", "2024-01-01 00:10:00", 0, 5, 1, [1]),
        ("s", "2024-01-01 00:50:00", 0, 0, 1, [8]),
    ]
    df = spark.createDataFrame(
        rows,
        "service_name string, ts string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts array<long>",
    ).select(
        "service_name", F.to_timestamp("ts").alias("timestamp"), "scale",
        "zero_count", "positive_offset", "positive_bucket_counts",
    )
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    # post-reset distribution: 8 obs in i=1 → (2,4]; p50 rank 4 →
    # 2 + (4−2)·(4/8) = 3.0
    assert len(out) == 1
    assert out[0].value == pytest.approx(3.0)


def test_histogram_quantile_unions_both_kinds(spark):
    """One query text serves both histogram kinds: explicit-bounds and
    exponential series union by name."""
    from pyspark.sql import functions as F

    explicit = spark.createDataFrame(
        [("2024-01-01 00:10:00", "m", "svc_explicit", [5.0, 5.0], [10.0, 20.0])],
        "ts string, metric_name string, service_name string, "
        "bucket_counts array<double>, explicit_bounds array<double>",
    ).select(F.to_timestamp("ts").alias("timestamp"), "metric_name",
             "service_name", "bucket_counts", "explicit_bounds")
    exp = spark.createDataFrame(
        [("2024-01-01 00:20:00", "m", "svc_native", 0, 0, 1, [4])],
        "ts string, metric_name string, service_name string, scale int, "
        "zero_count long, positive_offset int, positive_bucket_counts array<long>",
    ).select(F.to_timestamp("ts").alias("timestamp"), "metric_name",
             "service_name", "scale", "zero_count", "positive_offset",
             "positive_bucket_counts")
    ctx = PromCtx(spark, None, None, explicit, "2024-01-01 00:00:00",
                  "2024-01-01 01:00:00", 3600, exphist=exp)
    got = {r.service_name: r.value for r in
           query_range(ctx, "histogram_quantile(0.5, m)").collect()}
    assert set(got) == {"svc_explicit", "svc_native"}
    assert got["svc_explicit"] == pytest.approx(10.0)  # rank 5 at c1 edge
    # 4 obs in bucket i=1 → (2,4]; p50 rank 2 → 2 + 2*(2/4) = 3
    assert got["svc_native"] == pytest.approx(3.0)


def test_group_left_copies_labels(spark):
    """group_left(team): the named label from the one side rides onto
    every many-side result row (prometheus operators.md many-to-one)."""
    from pyspark.sql import functions as F

    many = spark.createDataFrame(
        [(0, "m", "a", "i1", 10.0), (0, "m", "a", "i2", 20.0)],
        "b long, metric_name string, service_name string, label_instance string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_instance", "value")
    one = spark.createDataFrame(
        [(0, "info", "a", "core", 1.0)],
        "b long, metric_name string, service_name string, label_team string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_team", "value")
    from signaldb_spark.promql.ast import BinOp, VectorSelector
    from signaldb_spark.promql.lowering import PromCtx, eval_expr

    # lower via the parsed expression path: m * on (service_name)
    # group_left(team) info
    from signaldb_spark.promql.parser import parse

    expr = parse('m * on (service_name) group_left(team) info')
    assert expr.group_side == "left" and expr.group_labels == ("team",)
    # emulate eval by substituting pre-built frames through _eval_binop's
    # machinery: monkey-build a ctx whose eval returns our frames
    import signaldb_spark.promql.lowering as low

    orig = low.eval_expr

    def fake_eval(ctx, e):
        if isinstance(e, VectorSelector):
            return many if e.metric == "m" else one
        return orig(ctx, e)

    low.eval_expr = fake_eval
    try:
        ctx = PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                      "2024-01-01 01:00:00", 3600)
        out = low._eval_binop(ctx, expr).collect()
    finally:
        low.eval_expr = orig
    assert len(out) == 2
    assert all(r.label_team == "core" for r in out)
    assert sorted(r.value for r in out) == [10.0, 20.0]


def test_group_right_copies_labels(spark):
    """group_right(team): mirror of group_left — the one side is the
    LEFT operand; its named label rides onto every many-side (right)
    result row, which keeps its own identity labels (ADVICE round-3:
    group_right labels were silently dropped)."""
    from pyspark.sql import functions as F

    import signaldb_spark.promql.lowering as low
    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.parser import parse

    one = spark.createDataFrame(
        [(0, "info", "a", "core", 2.0)],
        "b long, metric_name string, service_name string, label_team string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_team", "value")
    many = spark.createDataFrame(
        [(0, "m", "a", "i1", 10.0), (0, "m", "a", "i2", 20.0)],
        "b long, metric_name string, service_name string, label_instance string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_instance", "value")
    expr = parse('info * on (service_name) group_right(team) m')
    assert expr.group_side == "right" and expr.group_labels == ("team",)
    orig = low.eval_expr

    def fake_eval(c, e):
        if isinstance(e, VectorSelector):
            return one if e.metric == "info" else many
        return orig(c, e)

    low.eval_expr = fake_eval
    try:
        ctx = low.PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                          "2024-01-01 01:00:00", 3600)
        out = low._eval_binop(ctx, expr).collect()
    finally:
        low.eval_expr = orig
    assert len(out) == 2
    # copied label from the one (left) side present on every row
    assert all(r.label_team == "core" for r in out)
    # many-side identity label preserved
    assert sorted(r.label_instance for r in out) == ["i1", "i2"]
    # value = left op right = 2.0 * many
    assert sorted(r.value for r in out) == [20.0, 40.0]


def test_rule_group_sequential_visibility_and_alerts(spark, tmp_path_factory):
    """In-group ordering: a record: rule's output feeds the NEXT rule's
    expr in the same group; an alert: rule with for: turns firing only
    after enough consecutive pending steps."""
    from signaldb_spark.promql.rules import evaluate_rule_group
    from signaldb_spark.testing import write_signal_tables

    base = str(tmp_path_factory.mktemp("rulegroup_signals"))
    write_signal_tables(spark, base)
    group = {
        "name": "cpu",
        "rules": [
            {"record": "job:cpu:sum2", "expr": "sum by (service_name) (process_cpu_usage)"},
            # second rule reads the FIRST rule's recording
            {"alert": "CpuPresent", "expr": "job:cpu:sum2 > -1", "for": "20m"},
        ],
    }
    out = evaluate_rule_group(spark, base, group, START, END, STEP)
    assert out["recorded"] == ["job:cpu:sum2"]
    rows = out["alerts"]["CpuPresent"].collect()
    assert rows, "alert expr over the in-group recording must see data"
    # for: 20m at 10m step → need 3 consecutive buckets: the first two
    # buckets of each run are pending, later ones firing
    by_series = {}
    for r in rows:
        by_series.setdefault(r.service_name, []).append((r.bucket, r.alertstate))
    for states in by_series.values():
        states.sort()
        labels = [s for _, s in states]
        if len(labels) >= 3:
            assert labels[0] == "pending" and labels[1] == "pending"
            assert "firing" in labels[2:]


def test_group_left_overwrites_conflicting_label(spark):
    """Review fix: a copied group_left label that also exists on the
    many side must not produce an ambiguous duplicate column — the one
    side's value wins."""
    from pyspark.sql import functions as F

    import signaldb_spark.promql.lowering as low
    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.parser import parse

    many = spark.createDataFrame(
        [(0, "m", "a", "stale", 10.0)],
        "b long, metric_name string, service_name string, label_team string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_team", "value")
    one = spark.createDataFrame(
        [(0, "info", "a", "fresh", 1.0)],
        "b long, metric_name string, service_name string, label_team string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_team", "value")
    expr = parse('m * on (service_name) group_left(team) info')
    orig = low.eval_expr

    def fake_eval(c, e):
        if isinstance(e, VectorSelector):
            return many if e.metric == "m" else one
        return orig(c, e)

    low.eval_expr = fake_eval
    try:
        ctx = low.PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                          "2024-01-01 01:00:00", 3600)
        out = low._eval_binop(ctx, expr).collect()
    finally:
        low.eval_expr = orig
    assert len(out) == 1 and out[0].label_team == "fresh"


def test_alert_for_uses_ceiling(spark, tmp_path_factory):
    """Review fix: for: 90s at 60s step needs 3 consecutive buckets
    ((n-1)*60 >= 90), not 2."""
    from pyspark.sql import functions as F

    from signaldb_spark.promql.rules import alert_rule
    from signaldb_spark.promql.lowering import PromCtx

    g = spark.createDataFrame(
        [(f"2024-01-01 00:{m:02d}:30", "s", "m", 1.0) for m in range(5)],
        "ts string, service_name string, metric_name string, value double",
    ).select(F.to_timestamp("ts").alias("timestamp"), "service_name",
             "metric_name", F.col("value"))
    ctx = PromCtx(spark, g, None, None, "2024-01-01 00:00:00",
                  "2024-01-01 00:05:00", 60)
    out = sorted(
        alert_rule(ctx, "m > 0", for_seconds=90).collect(),
        key=lambda r: r.bucket,
    )
    states = [r.alertstate for r in out]
    assert states[:2] == ["pending", "pending"] and states[2] == "firing"


def test_sort_by_label_respects_argument_order(spark):
    from pyspark.sql import functions as F

    import signaldb_spark.promql.lowering as low
    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.parser import parse

    m = spark.createDataFrame(
        [(0, "m", "b", "x", 1.0), (0, "m", "a", "y", 2.0), (0, "m", "a", "x", 3.0)],
        "b long, metric_name string, service_name string, label_zone string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_zone", "value")
    orig = low.eval_expr

    def fake_eval(c, e):
        if isinstance(e, VectorSelector):
            return m
        return orig(c, e)

    low.eval_expr = fake_eval
    try:
        ctx = low.PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                          "2024-01-01 01:00:00", 3600)
        # sort by zone FIRST, then job — argument order, not column order
        out = low.query_range(ctx, 'sort_by_label(m, "zone", "job")').collect()
    finally:
        low.eval_expr = orig
    assert [(r.label_zone, r.service_name) for r in out] == [
        ("x", "a"), ("x", "b"), ("y", "a")
    ]


def test_group_left_label_survives_comparison(spark):
    """Review fix 2: a group_left-copied label rides comparison ops
    too, and set operations reject group modifiers outright."""
    from pyspark.sql import functions as F

    import signaldb_spark.promql.lowering as low
    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.parser import parse

    many = spark.createDataFrame(
        [(0, "m", "a", 10.0)],
        "b long, metric_name string, service_name string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name", "value")
    one = spark.createDataFrame(
        [(0, "info", "a", "core", 1.0)],
        "b long, metric_name string, service_name string, label_team string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             "label_team", "value")
    orig = low.eval_expr

    def fake_eval(c, e):
        if isinstance(e, VectorSelector):
            return many if e.metric == "m" else one
        return orig(c, e)

    low.eval_expr = fake_eval
    try:
        ctx = low.PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                          "2024-01-01 01:00:00", 3600)
        out = low._eval_binop(
            ctx, parse('m > on (service_name) group_left(team) info')
        ).collect()
        assert len(out) == 1 and out[0].label_team == "core"
        with pytest.raises(ValueError):
            low._eval_binop(
                ctx, parse('m and on (service_name) group_left(team) info')
            )
    finally:
        low.eval_expr = orig


def _eval_with_frames(spark, expr_str, frames):
    """Lower expr_str with VectorSelector evals substituted by the
    given {metric: DataFrame} frames."""
    import signaldb_spark.promql.lowering as low
    from signaldb_spark.promql.ast import VectorSelector
    from signaldb_spark.promql.parser import parse

    expr = parse(expr_str)
    orig = low.eval_expr

    def fake_eval(c, e):
        if isinstance(e, VectorSelector) and e.metric in frames:
            return frames[e.metric]
        return orig(c, e)

    low.eval_expr = fake_eval
    try:
        ctx = low.PromCtx(spark, None, None, None, "2024-01-01 00:00:00",
                          "2024-01-01 01:00:00", 3600)
        return low._eval_binop(ctx, expr).collect()
    finally:
        low.eval_expr = orig


def _series(spark, metric, rows, label):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(0, metric, "a", lv, v) for lv, v in rows],
        f"b long, metric_name string, service_name string, label_{label} string, value double",
    ).select(F.col("b").alias("bucket"), "metric_name", "service_name",
             f"label_{label}", "value")


def test_compare_group_left_filters_many_keeps_many_value(spark):
    """Comparison + group_left (prometheus engine.go vectorElemBinop /
    resultMetric): the many (left) side is filtered row-by-row by
    `left CMP right`; survivors keep the many side's labels AND value,
    with group_left(team) copied from the one side."""
    many = _series(spark, "m", [("i1", 10.0), ("i2", 0.5)], "instance")
    one = _series(spark, "info", [("core", 1.0)], "team")
    out = _eval_with_frames(
        spark, 'm > on (service_name) group_left(team) info',
        {"m": many, "info": one},
    )
    assert len(out) == 1
    r = out[0]
    assert r.label_instance == "i1" and r.label_team == "core"
    assert r.value == 10.0  # many-side (written-left) value survives


def test_compare_group_right_filters_many_keeps_written_left_value(spark):
    """Comparison + group_right: the many side is the RIGHT operand —
    result rows are the many-side series whose `left CMP right` (in the
    WRITTEN order) holds; they keep the many side's identity labels but
    carry the written-order LEFT value (prometheus vectorElemBinop
    returns the written lhs float after the one-to-many swap-back)."""
    one = _series(spark, "info", [("core", 2.0)], "team")
    many = _series(spark, "m", [("i1", 10.0), ("i2", 1.0)], "instance")
    out = _eval_with_frames(
        spark, 'info < on (service_name) group_right(team) m',
        {"m": many, "info": one},
    )
    # 2.0 < 10.0 keeps i1; 2.0 < 1.0 drops i2
    assert len(out) == 1
    r = out[0]
    assert r.label_instance == "i1" and r.label_team == "core"
    assert r.value == 2.0  # written-order left value, NOT the many value


def test_compare_bool_group_right_keeps_every_many_row(spark):
    """bool mode + group_right: nothing is filtered — every many-side
    row returns 1.0/0.0, still carrying its identity + copied labels."""
    one = _series(spark, "info", [("core", 2.0)], "team")
    many = _series(spark, "m", [("i1", 10.0), ("i2", 1.0)], "instance")
    out = _eval_with_frames(
        spark, 'info < bool on (service_name) group_right(team) m',
        {"m": many, "info": one},
    )
    got = {r.label_instance: r.value for r in out}
    assert got == {"i1": 1.0, "i2": 0.0}
    assert all(r.label_team == "core" for r in out)


def _exphist_frame(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows,
        "service_name string, ts string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts array<long>",
    ).select(
        "service_name", F.to_timestamp("ts").alias("timestamp"), "scale",
        "zero_count", "positive_offset", "positive_bucket_counts",
    )


def test_exphist_reset_detected_by_individual_bucket_decrease(spark):
    """Total count GREW (10 → 12) and zero_count held, but bucket i=1
    shrank 10 → 2: still a reset (no cumulative bucket may decrease).
    The increase is the last snapshot alone: {i=1: 2, i=2: 10}; p50
    rank 6 lands in i=2 → 4 + (8−4)·(4/10) = 5.6."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        ("s", "2024-01-01 00:10:00", 0, 0, 1, [10]),
        ("s", "2024-01-01 00:50:00", 0, 0, 1, [2, 10]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(5.6)


def test_exphist_reset_detected_by_scale_increase(spark):
    """Scale rising 0 → 2 means a restart (SDKs only lower resolution);
    growth-shaped counts must not be netted across the scale change."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        ("s", "2024-01-01 00:10:00", 0, 0, 1, [4]),
        ("s", "2024-01-01 00:50:00", 2, 0, 1, [8]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    # reset -> last snapshot alone at scale 2: bucket idx 1 covers
    # (base^1, base^2], base = 2^(2^-2); p50 interpolates inside it
    assert len(out) == 1
    base = 2 ** (2 ** -2.0)
    lo, hi = base, base * base
    assert lo < out[0].value <= hi


def test_exphist_null_offset_rows_agree_across_scale_branches(spark):
    """Malformed rows with a NULL positive_offset must not flag a reset
    on the equal-scale fast path: F.get(arr, null) coalesces to 0 there,
    which would read any positive first bucket as a decrease, while the
    general fold's null sequence reads no-reset. Both branches now route
    degenerate rows through the general fold → growth nets normally.
    first {i=?: 4} with null offset, last {i=?: 10} with null offset:
    no bucket-decrease reset is detectable; totals grew 4 → 10, so no
    reset — the net distribution is last + negated-first, whose rows
    carry null offsets and contribute no locatable mass, yielding no
    output row rather than a corrupted reset-driven quantile."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        ("s", "2024-01-01 00:10:00", 0, 0, None, [4]),
        ("s", "2024-01-01 00:50:00", 0, 0, None, [10]),
        # healthy sibling series in the same frame: unaffected
        ("t", "2024-01-01 00:10:00", 0, 0, 1, [4]),
        ("t", "2024-01-01 00:50:00", 0, 0, 1, [10]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    by_series = {r.service_name: r.value for r in out}
    # the healthy series nets 6 obs in bucket i=1 → p50 = 2+(4-2)*(3/6)
    assert by_series.get("t") == pytest.approx(3.0)
    # the degenerate series must not produce a reset-shaped value (the
    # old fast path returned the LAST snapshot alone as a reset)
    assert "s" not in by_series or by_series["s"] == pytest.approx(3.0)


def test_exphist_legit_downscale_is_not_a_reset(spark):
    """Scale falling 1 → 0 is the SDK merging buckets as range grows —
    NOT a reset; the quantile nets first (downscaled) against last.
    first at scale 1: {i=2: 4} → downscaled to scale 0 bucket i=1;
    last at scale 0: {i=1: 10}. delta = {i=1: 6} at scale 0; p50
    rank 3 → 2 + (4−2)·(3/6) = 3.0."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        ("s", "2024-01-01 00:10:00", 1, 0, 2, [4]),
        ("s", "2024-01-01 00:50:00", 0, 0, 1, [10]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(3.0)


def test_exphist_cross_scale_bucket_decrease_is_reset(spark):
    """Reset hidden behind a legitimate-looking downscale: totals GREW
    (8 -> 12) and scale fell 1 -> 0 (normal SDK direction), but the
    first snapshot's buckets merged down to scale 0 give {i=1: 8} while
    last has {i=1: 2, i=2: 10} — bucket i=1 shrank 8 -> 2, so this is a
    restart. Detection must downscale-then-compare (Prometheus
    detectReset), not skip the check because scales differ. The
    increase is the last snapshot alone: p50 rank 6 in i=2 ->
    4 + (8-4)*(4/10) = 5.6."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        # scale 1 buckets at prom idx 2,3 both map to scale-0 idx 1
        ("s", "2024-01-01 00:10:00", 1, 0, 2, [5, 3]),
        ("s", "2024-01-01 00:50:00", 0, 0, 1, [2, 10]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    assert out[0].value == pytest.approx(5.6)


def test_exphist_downscale_growth_still_nets(spark):
    """Same scale change, genuine growth: merged first {i=1: 8}, last
    {i=1: 10} — no bucket shrank, so the delta nets 10-8=2 in (2,4]."""
    from signaldb_spark.operators.exphist import exphist_rate_quantile

    df = _exphist_frame(spark, [
        ("s", "2024-01-01 00:10:00", 1, 0, 2, [5, 3]),
        ("s", "2024-01-01 00:50:00", 0, 0, 1, [10]),
    ])
    out = exphist_rate_quantile(
        df, 0.5, ["service_name"], step_seconds=3600,
        neg_offset_col=None, neg_counts_col=None,
    ).collect()
    assert len(out) == 1
    # delta {scale0 i=1: 2}; p50 rank 1 -> 2 + (4-2)*(1/2) = 3.0
    assert out[0].value == pytest.approx(3.0)


# ----------------------------------------- Prometheus-semantics pins (r9)


def test_topk_by_grouping_ranks_per_group(ctx):
    """topk by (service_name)(1, m): one top series per (bucket,
    service), NOT a global top-1 — Prometheus aggregates over the other
    labels' series sets within each group."""
    got = query_range(
        ctx, "topk by (service_name) (1, sum by (service_name, metric_name)"
             " (process_cpu_usage))"
    ).collect()
    per = {}
    for r in got:
        per.setdefault((r.bucket, r.service_name), []).append(r)
    assert per and all(len(v) == 1 for v in per.values())
    services = {s for _, s in per}
    assert len(services) > 1  # every service keeps its own top-1


def test_topk_zero_returns_empty(ctx):
    assert query_range(ctx, "topk(0, process_cpu_usage)").count() == 0
    assert query_range(ctx, "limitk(0, process_cpu_usage)").count() == 0


def test_matcher_missing_label_matches_empty(ctx):
    """{label=\"\"} selects series WITHOUT the label and {label=~\".*\"}
    matches them too (Prometheus: a missing label is the empty string);
    a bare null comparison would silently drop every series."""
    all_n = query_range(ctx, "process_cpu_usage").count()
    assert query_range(ctx, 'process_cpu_usage{nolabel=""}').count() == all_n
    assert query_range(ctx, 'process_cpu_usage{nolabel=~".*"}').count() == all_n
    assert query_range(ctx, 'process_cpu_usage{nolabel!=""}').count() == 0
    assert query_range(ctx, 'process_cpu_usage{nolabel=~".+"}').count() == 0


def test_scalar_empty_steps_are_nan(ctx):
    """scalar() emits NaN at every evaluation step without exactly one
    series — including steps (or whole queries) with no samples."""
    got = query_range(ctx, "scalar(no_such_metric)").collect()
    assert len(got) == 7 and all(math.isnan(r.value) for r in got)
    # >1 series is NaN too, but the spine keeps every bucket
    multi = query_range(ctx, "scalar(process_cpu_usage)").collect()
    assert len(multi) == 7


def test_subquery_full_over_time_battery(ctx):
    """last/first/quantile/present over a subquery — previously a
    KeyError; phi must actually reach quantile_over_time."""
    last = query_range(
        ctx, "last_over_time(sum(process_cpu_usage)[30m:10m])").collect()
    assert last and all(r.value is not None for r in last)
    q9 = {r.bucket: r.value for r in query_range(
        ctx, "quantile_over_time(0.99, sum(process_cpu_usage)[30m:10m])"
    ).collect()}
    q1 = {r.bucket: r.value for r in query_range(
        ctx, "quantile_over_time(0.01, sum(process_cpu_usage)[30m:10m])"
    ).collect()}
    mx = {r.bucket: r.value for r in query_range(
        ctx, "max_over_time(sum(process_cpu_usage)[30m:10m])").collect()}
    mn = {r.bucket: r.value for r in query_range(
        ctx, "min_over_time(sum(process_cpu_usage)[30m:10m])").collect()}
    # phi is threaded: the 0.99 quantile hugs the max, 0.01 the min
    for b in q9:
        assert mn[b] - 1e-9 <= q1[b] <= q9[b] <= mx[b] + 1e-9
    assert any(q9[b] > q1[b] for b in q9)  # and they differ somewhere
    present = query_range(
        ctx, "present_over_time(sum(process_cpu_usage)[30m:10m])").collect()
    assert present and all(r.value == 1.0 for r in present)


def test_calendar_vector_arg_reads_values(ctx):
    """hour(v) interprets the sample VALUES as epoch timestamps
    (hour(process_start_time_seconds) = the hour each process started),
    not the evaluation-step time."""
    # vector(7200) = epoch 1970-01-01 02:00:00 → hour 2 at every step
    got = query_range(ctx, "hour(vector(7200))").collect()
    assert got and all(r.value == 2.0 for r in got)


def test_compare_filter_keeps_metric_name(ctx):
    """Filter-mode comparisons return lhs samples UNCHANGED including
    __name__ (two metrics stay distinguishable); bool mode and
    arithmetic drop it."""
    f = query_range(ctx, "process_cpu_usage < http_requests_total").collect()
    assert f and all(r.metric_name == "process_cpu_usage" for r in f)
    b = query_range(ctx, "process_cpu_usage < bool http_requests_total").collect()
    assert b and not hasattr(b[0], "metric_name")


def test_negative_literal_args_fold(ctx):
    """Unary minus parses as 0-x; constant args must fold instead of
    crashing (histogram_quantile/fraction/vector/clamp)."""
    v = query_range(ctx, "vector(-5)").collect()
    assert v and all(r.value == -5.0 for r in v)


def test_vector_division_by_zero_is_ieee(ctx, spark):
    """vector/vector and vector/scalar division by zero yields ±Inf/NaN
    samples (Prometheus floats), never an ANSI DIVIDE_BY_ZERO abort."""
    from signaldb_spark.operators.vector_ops import scalar_arith, vector_arith

    l = spark.createDataFrame(
        [(0, "a", 6.0), (0, "b", -6.0), (0, "c", 0.0)],
        "bucket long, service_name string, value double",
    )
    r = spark.createDataFrame(
        [(0, "a", 0.0), (0, "b", 0.0), (0, "c", 0.0)],
        "bucket long, service_name string, value double",
    )
    out = {x.service_name: x.value
           for x in vector_arith(l, r, "/", ["bucket", "service_name"]).collect()}
    assert out["a"] == math.inf and out["b"] == -math.inf
    assert math.isnan(out["c"])
    mod = {x.service_name: x.value
           for x in vector_arith(l, r, "%", ["bucket", "service_name"]).collect()}
    assert all(math.isnan(v) for v in mod.values())
    s = {x.service_name: x.value
         for x in scalar_arith(l, "/", 0.0).collect()}
    assert s["a"] == math.inf and math.isnan(s["c"])


def test_comparisons_drop_nan_like_prometheus(spark):
    """NaN operands make every comparison false except != — Spark's SQL
    semantics (NaN == NaN true, NaN greater than all) would keep extra
    series Prometheus drops."""
    from signaldb_spark.operators.vector_ops import compare_scalar_filter

    nan = float("nan")
    m = spark.createDataFrame(
        [(0, "a", nan), (0, "b", 5.0)],
        "bucket long, service_name string, value double",
    )
    assert {r.service_name for r in
            compare_scalar_filter(m, ">", 1.0).collect()} == {"b"}
    assert {r.service_name for r in
            compare_scalar_filter(m, "==", nan).collect()} == set()
    assert {r.service_name for r in
            compare_scalar_filter(m, "!=", 5.0).collect()} == {"a"}


def test_round_ties_toward_positive_infinity(ctx):
    """Prometheus round() resolves ties toward +Inf (floor(v+0.5)):
    round(-2.5) is -2, not Spark's half-away-from-zero -3."""
    got = query_range(ctx, "round(vector(-2.5))").collect()
    assert got and all(r.value == -2.0 for r in got)
    got2 = query_range(ctx, "round(vector(2.5))").collect()
    assert all(r.value == 3.0 for r in got2)


def test_ln_of_zero_and_negative(ctx):
    """ln(0) = -Inf and ln(x<0) = NaN (IEEE), never a silent NULL that
    vanishes from downstream aggregates."""
    z = query_range(ctx, "ln(vector(0))").collect()
    assert z and all(r.value == -math.inf for r in z)
    n = query_range(ctx, "ln(0 - vector(1))").collect()
    assert n and all(math.isnan(r.value) for r in n)


def test_quantile_phi_out_of_range_is_infinite(ctx):
    """quantile_over_time(2, …) / quantile(1.5, …) answer ±Inf like
    Prometheus (with a warning there), instead of aborting on Spark's
    percentile range check."""
    hi = query_range(
        ctx, "quantile_over_time(2, process_cpu_usage[10m])").collect()
    assert hi and all(r.value == math.inf for r in hi)
    from signaldb_spark.operators.timeseries import outer_aggregate

    m = ctx.spark.createDataFrame(
        [(0, "a", 1.0)], "bucket long, service_name string, value double"
    )
    lo = outer_aggregate(m, [], quantile=-0.5).collect()
    assert lo and lo[0].value == -math.inf


def test_irate_duplicate_timestamp_does_not_abort(spark):
    """Two samples sharing the bucket's last timestamp (at-least-once
    ingest artifact) must not abort irate with DIVIDE_BY_ZERO."""
    import datetime as dt

    from signaldb_spark.operators.timeseries import irate

    t = dt.datetime(2024, 1, 1, 0, 0, 30)
    df = spark.createDataFrame(
        [(t, "api", 1.0), (t, "api", 3.0)],
        "timestamp timestamp, service_name string, value double",
    )
    rows = irate(df, "timestamp", 600, ["service_name"], "value").collect()
    assert len(rows) == 1  # value is ±Inf/NaN, never an exception


def test_label_replace_defaults_null_src(spark):
    """label_replace with '.*' must match series whose src label VALUE
    is null (missing label = empty string), not only an absent column."""
    from signaldb_spark.operators.vector_ops import label_replace

    m = spark.createDataFrame(
        [(0, None, 1.0), (0, "x", 2.0)],
        "bucket long, src string, value double",
    )
    out = label_replace(m, "dst", "d-$1", "src", "(.*)").collect()
    got = {r.value: r.dst for r in out}
    assert got[1.0] == "d-" and got[2.0] == "d-x"
