"""LogQL frontend tests: parser snapshots (reference style:
pin the exact produced plan, logql.rs:378-684) + end-to-end execution
against generated signal tables, cross-checked with DuckDB."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from signaldb_spark.catalog import optional_table, signal_table_path
from signaldb_spark.logql import parse
from signaldb_spark.logql.ast import (
    BinOp,
    LabelFilter,
    LineFilter,
    LogSelector,
    Matcher,
    ParserStage,
    RangeAgg,
    Scalar,
    VectorAgg,
)
from signaldb_spark.logql.lowering import LowerCtx, query_logs, query_metric
from signaldb_spark.testing import write_signal_tables

START, END = "2024-01-01 00:00:00", "2024-01-01 04:00:00"
STEP = 3600


@pytest.fixture(scope="module")
def signal_base(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("signals"))
    write_signal_tables(spark, base)
    return base


@pytest.fixture(scope="module")
def ctx(spark, signal_base):
    logs = optional_table(spark, signal_base, "acme", "prod", "logs")
    assert logs is not None
    return LowerCtx(spark, logs, START, END, STEP)


@pytest.fixture(scope="module")
def duck(signal_base):
    con = duckdb.connect()
    path = signal_table_path(signal_base, "acme", "prod", "logs")
    con.execute(
        f"CREATE VIEW logs AS SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
    )
    return con


# ------------------------------------------------------------ parser pins


def test_parse_selector_line_filters():
    q = parse(r'{service_name="api"} |= "error" != "healthcheck" |~ "5\d\d"')
    assert q == LogSelector(
        matchers=(Matcher("service_name", "=", "api"),),
        line_filters=(
            LineFilter("|=", "error"),
            LineFilter("!=", "healthcheck"),
            LineFilter("|~", r"5\d\d"),
        ),
    )


def test_parse_stages_and_label_filter():
    q = parse('{job="api"} | logfmt | status = "500" | duration_ms > 100')
    assert q.stages == (ParserStage("logfmt", None),)
    assert q.label_filters == (
        LabelFilter("status", "=", "500"),
        LabelFilter("duration_ms", ">", 100.0),
    )


def test_parse_metric_sum_by_rate():
    q = parse('sum by (level) (rate({service_name="api"}[5m]))')
    assert isinstance(q, VectorAgg) and q.op == "sum" and q.grouping == ("level",)
    inner = q.expr
    assert isinstance(inner, RangeAgg) and inner.fn == "rate" and inner.range_seconds == 300.0


def test_parse_binop_precedence():
    q = parse("1 + 2 * 3 ^ 2")
    # 1 + (2 * (3 ^ 2))
    assert isinstance(q, BinOp) and q.op == "+"
    assert isinstance(q.rhs, BinOp) and q.rhs.op == "*"
    assert isinstance(q.rhs.rhs, BinOp) and q.rhs.rhs.op == "^"


def test_parse_quantile_unwrap():
    q = parse('quantile_over_time(0.9, {service_name="api"} | unwrap duration_ms [5m])')
    assert isinstance(q, RangeAgg) and q.fn == "quantile" and q.param == 0.9
    assert q.selector.unwrap == "duration_ms"


def test_parse_vector_matching():
    q = parse('sum(rate({a="b"}[5m])) / on (service_name) sum(rate({c="d"}[5m]))')
    assert isinstance(q, BinOp) and q.op == "/" and q.on == ("service_name",)


def test_parse_duration_bytes_normalization():
    from signaldb_spark.logql.lexer import parse_bytes, parse_duration

    assert parse_duration("1h30m") == 5400.0
    assert parse_duration("500ms") == 0.5
    assert parse_bytes("2kb") == 2000.0
    assert parse_bytes("1kib") == 1024.0


def test_parse_rejects_garbage():
    from signaldb_spark.logql.lexer import LogQLSyntaxError

    for bad in ["{service=}", "sum by (", 'rate({a="b"}[5m)', "{a=\"b\"} |"]:
        with pytest.raises(LogQLSyntaxError):
            parse(bad)


# ------------------------------------------------------- execution tests


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_log_query_line_filters(ctx, duck):
    sel = parse('{service_name="api"} |= "error"')
    got = query_logs(ctx, sel, limit=1000)
    n = got.count()
    expected = duck.execute(
        "SELECT count(*) FROM logs WHERE service_name = 'api' AND contains(body, 'error')"
        " AND timestamp BETWEEN ? AND ?",
        [START, END],
    ).fetchone()[0]
    assert n == expected and n > 0


_DUCK_DURATION = "TRY_CAST(element_at(log_attributes, 'duration_ms')[1] AS DOUBLE)"


@pytest.mark.parametrize(
    "modifier, cols",
    [
        ("by (service_name)", ["service_name"]),
        ("without (level)", ["service_name", "label_namespace"]),
    ],
    ids=["by", "without"],
)
@pytest.mark.parametrize(
    "outer, inner, duck_value",
    [
        ("sum", "count_over_time({sel}[1h])", "count(*)"),
        ("sum", "bytes_over_time({sel}[1h])", "sum(strlen(body))"),
        ("sum", "sum_over_time({sel} | unwrap duration_ms [1h])",
         f"sum({_DUCK_DURATION})"),
        ("min", "min_over_time({sel} | unwrap duration_ms [1h])",
         f"min({_DUCK_DURATION})"),
        ("max", "max_over_time({sel} | unwrap duration_ms [1h])",
         f"max({_DUCK_DURATION})"),
    ],
    ids=["sum-count", "sum-bytes", "sum-sum", "min-min", "max-max"],
)
def test_outer_sum_without_fused_matches_duckdb(
    ctx, duck, outer, inner, duck_value, modifier, cols
):
    """Every (outer op, range fn) pair of ts.EXACT_FUSIONS, in the by and
    the without form, rides the outer-agg fusion (eval_metric collapses
    the outer aggregate into the range aggregate). The result is pinned
    against DuckDB's restatement — and the plan must hold exactly ONE
    grouped aggregation (one partial+final HashAggregate pair); a second
    pair means the per-stream matrix shuffle came back."""
    got = query_metric(
        ctx,
        f"{outer} {modifier} ("
        + inner.format(sel='{service_name=~"api|web"}')
        + ")",
    )
    import re

    p = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    # the formatted output names each operator twice (tree + detail
    # section) — count the numbered detail headers only
    assert len(re.findall(r"^\(\d+\) HashAggregate", p, re.M)) == 2, p
    assert got.columns == ["bucket", *cols, "value"]
    rows = {(*r[:-1], round(r[-1], 6)) for r in got.collect()}
    keys = ", ".join(cols)
    exp = duck.execute(
        f"""
        SELECT CAST(floor(epoch(timestamp)/3600)*3600 AS BIGINT) AS bucket,
               {keys}, round(CAST({duck_value} AS DOUBLE), 6)
        FROM logs
        WHERE service_name SIMILAR TO 'api|web' AND timestamp BETWEEN ? AND ?
        GROUP BY ALL
        """,
        [START, END],
    ).fetchall()
    assert rows == {tuple(r) for r in exp} and len(rows) > 0


def test_outer_agg_nonfusable_keeps_two_pass(ctx):
    """sum over avg_over_time is NOT algebraically collapsible — the
    lowering must keep the two-aggregation form (two partial+final
    pairs). Guards the fusion's eligibility set from widening by
    accident."""
    got = query_metric(
        ctx,
        'sum by (service_name) (avg_over_time({service_name=~"api|web"}'
        ' | unwrap took [1h]))',
    )
    import re

    p = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) HashAggregate", p, re.M)) == 4, p


def test_negative_matcher_includes_null(ctx, duck):
    sel = parse('{service_name="api", level != "error"}')
    got = query_logs(ctx, sel, limit=10000).count()
    expected = duck.execute(
        "SELECT count(*) FROM logs WHERE service_name = 'api'"
        " AND (severity_text IS NULL OR severity_text <> 'error')"
        " AND timestamp BETWEEN ? AND ?",
        [START, END],
    ).fetchone()[0]
    assert got == expected and got > 0


def test_metric_count_over_time(ctx, duck):
    got = query_metric(ctx, 'sum by (service_name) (count_over_time({service_name=~"api|web"}[1h]))')
    rows = {(r.bucket, r.service_name): r.value for r in got.collect()}
    exp = duck.execute(
        """
        SELECT CAST(floor(epoch(timestamp)/3600)*3600 AS BIGINT) AS bucket,
               service_name, CAST(count(*) AS DOUBLE)
        FROM logs
        WHERE service_name SIMILAR TO 'api|web' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    assert rows == {(b, s): v for b, s, v in exp} and len(rows) > 0


def test_metric_unwrap_sum(ctx, duck):
    got = query_metric(
        ctx,
        'sum by (service_name) (sum_over_time({service_name="api"} | logfmt | unwrap status [1h]))',
    )
    rows = {(r.bucket, r.service_name): round(r.value, 3) for r in got.collect()}
    exp = duck.execute(
        r"""
        SELECT CAST(floor(epoch(timestamp)/3600)*3600 AS BIGINT) AS bucket,
               service_name,
               sum(CAST(regexp_extract(body, 'status=([0-9]+)', 1) AS DOUBLE))
        FROM logs
        WHERE service_name = 'api' AND timestamp BETWEEN ? AND ?
        GROUP BY 1, 2
        """,
        [START, END],
    ).fetchall()
    exp_map = {(b, s): round(v, 3) for b, s, v in exp if v is not None}
    assert rows == exp_map and rows


def test_vector_binop_ratio(ctx, duck):
    got = query_metric(
        ctx,
        'sum by (service_name) (count_over_time({service_name="api"} |= "error" [1h]))'
        ' / on (service_name) '
        'sum by (service_name) (count_over_time({service_name="api"}[1h]))',
    )
    rows = got.collect()
    assert all(0.0 <= r.value <= 1.0 for r in rows) and rows


def test_topk_per_bucket(ctx):
    got = query_metric(ctx, "topk(2, sum by (service_name) (count_over_time({service_name=~\".+\"}[1h])))")
    per_bucket = {}
    for r in got.collect():
        per_bucket.setdefault(r.bucket, []).append(r.value)
    assert per_bucket and all(len(v) <= 2 for v in per_bucket.values())


def test_label_filter_numeric(ctx, duck):
    sel = parse('{service_name="api"} | logfmt | status = "500"')
    got = query_logs(ctx, sel, limit=10000).count()
    expected = duck.execute(
        "SELECT count(*) FROM logs WHERE service_name = 'api'"
        " AND regexp_extract(body, 'status=([0-9]+)', 1) = '500'"
        " AND timestamp BETWEEN ? AND ?",
        [START, END],
    ).fetchone()[0]
    assert got == expected and got > 0


def test_absent_over_time(ctx):
    got = query_metric(ctx, 'absent_over_time({service_name="no_such_service"}[1h])').collect()
    # whole spine empty → every bucket present with 1.0
    assert got and all(r.value == 1.0 for r in got)
    some = query_metric(ctx, 'absent_over_time({service_name="api"}[1h])').collect()
    assert len(some) < len(got)  # buckets with api logs drop out


def test_instant_query_reduces_to_latest(ctx):
    from signaldb_spark.logql.lowering import query_instant

    full = query_metric(ctx, 'sum by (service_name) (count_over_time({service_name=~".+"}[1h]))')
    inst = query_instant(ctx, 'sum by (service_name) (count_over_time({service_name=~".+"}[1h]))')
    latest = {}
    for r in full.collect():
        cur = latest.get(r.service_name)
        if cur is None or r.bucket > cur[0]:
            latest[r.service_name] = (r.bucket, r.value)
    got = {r.service_name: (r.bucket, r.value) for r in inst.collect()}
    assert got == latest and got


def test_attr_conjunct_skipped_with_stages(ctx, duck):
    """Equality on a logfmt-extracted label must not be poisoned by the
    attr_tokens conjunct (tokens only cover log_attributes)."""
    sel = parse('{service_name="api"} | logfmt | path = "/v1/items"')
    got = query_logs(ctx, sel, limit=100000).count()
    expected = duck.execute(
        "SELECT count(*) FROM logs WHERE service_name = 'api'"
        " AND regexp_extract(body, 'path=([^ ]+)', 1) = '/v1/items'"
        " AND timestamp BETWEEN ? AND ?",
        [START, END],
    ).fetchone()[0]
    assert got == expected and got > 0


def test_pattern_stage_extraction(ctx, duck):
    """| pattern "<_>status=<status> duration=<dur>ms" extracts labels
    from the body (the reference parses-but-ignores; we execute)."""
    sel = parse('{service_name="api"} | pattern "<_>status=<status> duration=<dur>ms" | status = "500"')
    got = query_logs(ctx, sel, limit=100000).count()
    expected = duck.execute(
        "SELECT count(*) FROM logs WHERE service_name = 'api'"
        " AND regexp_extract(body, 'status=([0-9]+)', 1) = '500'"
        " AND timestamp BETWEEN ? AND ?",
        [START, END],
    ).fetchone()[0]
    assert got == expected and got > 0


def test_regexp_stage_named_groups(ctx):
    sel = parse(r'{service_name="api"} | regexp "status=(?P<st>\d+)" | st = "500"')
    n = query_logs(ctx, sel, limit=100000).count()
    sel2 = parse('{service_name="api"} | logfmt | status = "500"')
    n2 = query_logs(ctx, sel2, limit=100000).count()
    assert n == n2 and n > 0


def test_group_index_skips_noncapture_constructs():
    """Escaped parens, char-class parens, lookarounds, and (?:...) must
    not count as capture groups — a miscount extracts the wrong group."""
    from signaldb_spark.logql.lowering import _group_index

    rx = r"\((?=x)[()](?:no)(?P<a>\d+) (b) (?P<c>\w+)"
    assert _group_index(rx, "a") == 1
    assert _group_index(rx, "c") == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _group_index(rx, "missing")


def test_regexp_stage_after_lookahead(ctx):
    """A regexp stage whose pattern contains a lookahead still extracts
    the right named group (the old finditer counted (?=…) as a group)."""
    sel = parse(r'{service_name="api"} | regexp "(?=.*status=)\S+ (?P<st>status=\d+)" | st =~ "status=5.*"')
    n = query_logs(ctx, sel, limit=100000).count()
    assert n > 0


def test_attr_demand_recorded_at_entrypoints(ctx):
    """Query-filter hits on non-dedicated labels feed the promotion
    loop (attr_demand.rs; record_attr_demand logs.rs:1375-1378):
    well-known labels (already materialized) are not recorded."""
    from signaldb_spark.maintenance import attr_demand

    attr_demand.drain()  # isolate
    # service_name is WELL_KNOWN; namespace has a promoted label_namespace
    # column — only region (map-only) is a promotion candidate
    sel = parse('{service_name="api", namespace="default", region="us-east"}')
    query_logs(ctx, sel, limit=5)
    query_metric(ctx, 'sum(count_over_time({region="us-east"}[5m]))')
    demand = attr_demand.demand_map("acme", "prod", "logs")
    assert demand == {"region": 2}
    drained = attr_demand.drain()
    assert drained == {("acme", "prod", "logs", "region"): 2}
    assert attr_demand.peek() == {}
    # promotion consumes the drained counters
    from signaldb_spark.maintenance.jobs import attribute_stats, promotion_decisions

    stats = attribute_stats(ctx.logs)
    decisions = promotion_decisions(stats, demand={"region": 2}).collect()
    assert any(r.key == "region" for r in decisions)


# --------------------------------------------- executable rewrite stages


def test_parse_label_format_and_drop_keep():
    q = parse('{job="a"} | label_format dst=src, t="{{.a}}-{{.b}}" | drop env, region | keep user')
    assert q.stages[0].arg == (("dst", "ref", "src"), ("t", "tmpl", "{{.a}}-{{.b}}"))
    assert q.stages[1] == ParserStage("drop", ("env", "region"))
    assert q.stages[2] == ParserStage("keep", ("user",))


def test_line_format_rewrites_body(ctx, duck):
    """line_format templates render from upstream pipeline labels;
    missing labels render empty (Loki label_format semantics)."""
    sel = parse(
        '{service_name="api"} | logfmt | line_format "svc={{.service_name}} status={{.status}} none={{.missing}}"'
    )
    got = sorted(r.body for r in query_logs(ctx, sel, limit=100000).collect())
    want = sorted(
        f"svc=api status={r[0]} none="
        for r in duck.execute(
            "SELECT regexp_extract(body, 'status=([0-9.a-z]+)', 1) FROM logs"
            " WHERE service_name = 'api'"
        ).fetchall()
    )
    assert got == want and got


def test_label_format_rename_and_template(ctx):
    """label_format values participate in later label filters: a rename
    and a template both resolve through the full chain."""
    sel = parse('{service_name="api"} | logfmt | label_format st=status | st = "500"')
    n = query_logs(ctx, sel, limit=100000).count()
    base = parse('{service_name="api"} | logfmt | status = "500"')
    assert n == query_logs(ctx, base, limit=100000).count() and n > 0
    tmpl = parse(
        '{service_name="api"} | label_format tag="{{.service_name}}:{{.env}}" | tag =~ "api:.*"'
    )
    assert query_logs(ctx, tmpl, limit=100000).count() == query_logs(
        ctx, parse('{service_name="api"}'), limit=100000
    ).count()


def test_drop_keep_prune_attribute_map(ctx):
    row = query_logs(ctx, parse('{service_name="api"} | drop env'), limit=5).first()
    assert "env" not in row.log_attributes and "status" in row.log_attributes
    row = query_logs(ctx, parse('{service_name="api"} | keep env'), limit=5).first()
    assert set(row.log_attributes) == {"env"}


def test_decolorize_strips_ansi(spark, ctx):
    from signaldb_spark.logql.lowering import _apply_output_stages

    df = spark.createDataFrame(
        [("\x1b[31merror\x1b[0m plain",)], "body string"
    ).withColumn("timestamp", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    out = _apply_output_stages(df, parse('{s="x"} | decolorize'))
    assert out.first().body == "error plain"


def test_unpack_promotes_labels_and_restores_line(spark):
    """unpack reads a packed JSON doc: embedded keys become labels, the
    _entry value becomes the line again (Loki pack/unpack pair)."""
    from signaldb_spark.logql.lowering import LowerCtx, query_logs as ql

    df = spark.createDataFrame(
        [
            ('{"_entry": "real line A", "stream": "s1"}', "2024-01-01 00:10:00"),
            ('{"_entry": "real line B", "stream": "s2"}', "2024-01-01 00:20:00"),
        ],
        "body string, t string",
    ).select(
        F.col("body"),
        F.col("t").cast("timestamp").alias("timestamp"),
        F.create_map(F.lit("env"), F.lit("prod")).alias("log_attributes"),
    )
    c = LowerCtx(spark, df, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)
    out = ql(c, parse('{env="prod"} | unpack | stream = "s2"'), limit=10)
    rows = out.collect()
    assert [r.body for r in rows] == ["real line B"]


def test_distinct_keeps_first_per_label(ctx):
    sel = parse('{service_name="api"} | distinct env')
    rows = query_logs(ctx, sel, limit=100000, direction="forward").collect()
    envs = [r.log_attributes.get("env") for r in rows]
    assert len(envs) == len(set(envs)) and len(envs) >= 2


def test_approx_topk_equals_exact_topk(ctx):
    """approx_topk lowers to the salted two-phase window — EXACT: the
    result must be identical to plain topk under the same tie-break."""
    exact = query_metric(
        ctx, 'topk(2, sum by (service_name) (count_over_time({service_name=~".+"}[10m])))'
    ).collect()
    approx = query_metric(
        ctx,
        'approx_topk(2, sum by (service_name) (count_over_time({service_name=~".+"}[10m])))',
    ).collect()
    key = lambda r: (r.bucket, r.service_name, r.value)
    assert sorted(map(key, approx)) == sorted(map(key, exact))


def test_pattern_line_filter_and_negation(ctx):
    got = query_logs(
        ctx, parse('{service_name="api"} |> "<_>status=5<_>"'), limit=100000
    ).collect()
    assert got and all("status=5" in r.body for r in got)
    neg = query_logs(
        ctx, parse('{service_name="api"} !> "<_>status=5<_>"'), limit=100000
    ).collect()
    assert all("status=5" not in (r.body or "") for r in neg)
    both = len(got) + len(neg)
    allrows = query_logs(ctx, parse('{service_name="api"}'), limit=100000).collect()
    assert both == len(allrows)


def test_error_label_tags_bad_json(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", "api", '{"k": 1}'),
            ("2024-01-01 00:06:00", "api", "not json"),
        ],
        "ts string, service_name string, body string",
    ).select(
        F.to_timestamp("ts").alias("timestamp"), "service_name", "body",
        F.lit(None).cast("string").alias("severity_text"),
        F.create_map().cast("map<string,string>").alias("log_attributes"),
    )
    c = LowerCtx(spark, df, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)
    kept = query_logs(c, parse('{service_name="api"} | json | __error__=""'), limit=10).collect()
    assert [r.body for r in kept] == ['{"k": 1}']
    bad = query_logs(
        c, parse('{service_name="api"} | json | __error__="JSONParserErr"'), limit=10
    ).collect()
    assert [r.body for r in bad] == ["not json"]


def test_line_format_intrinsic_vars(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:05:00", "api", "hello")],
        "ts string, service_name string, body string",
    ).select(
        F.to_timestamp("ts").alias("timestamp"), "service_name", "body",
        F.lit(None).cast("string").alias("severity_text"),
        F.create_map().cast("map<string,string>").alias("log_attributes"),
    )
    c = LowerCtx(spark, df, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)
    out = query_logs(
        c,
        parse('{service_name="api"} | line_format "{{ __timestamp__ }} {{ __line__ }}!"'),
        limit=5,
    ).collect()
    assert out[0].body == "2024-01-01T00:05:00Z hello!"


def test_unwrap_conversion_functions(ctx, duck):
    """| unwrap duration(x) sums compound Go-duration segments to
    seconds; | unwrap bytes(x) parses humanized sizes. The fixture's
    duration label is "<n>ms"-suffixed, so duration() == status-quo
    float parse / 1000."""
    plain = query_metric(
        ctx,
        'sum by (service_name) (sum_over_time({service_name="api"} | logfmt | unwrap duration [1h]))',
    ).collect()
    conv = query_metric(
        ctx,
        'sum by (service_name) (sum_over_time({service_name="api"} | logfmt | unwrap duration(duration) [1h]))',
    ).collect()
    # fixture bodies carry duration=<x>ms: plain float parse fails (the
    # 'ms' suffix nulls the cast) while duration() converts to seconds
    assert conv and all(r.value > 0 for r in conv)
    p = {(r.bucket, r.service_name) for r in plain}
    assert {(r.bucket, r.service_name) for r in conv} >= p or not plain


def test_unwrap_duration_and_bytes_hand_check(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", "api", "took=1m30s size=2KiB"),
            ("2024-01-01 00:06:00", "api", "took=250ms size=1.5MB"),
        ],
        "ts string, service_name string, body string",
    ).select(
        F.to_timestamp("ts").alias("timestamp"), "service_name", "body",
        F.lit(None).cast("string").alias("severity_text"),
        F.create_map().cast("map<string,string>").alias("log_attributes"),
    )
    c = LowerCtx(spark, df, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)
    dur = query_metric(
        c, 'sum_over_time({service_name="api"} | logfmt | unwrap duration(took) [1h])'
    ).collect()
    assert dur[0].value == pytest.approx(90.25)
    byt = query_metric(
        c, 'sum_over_time({service_name="api"} | logfmt | unwrap bytes(size) [1h])'
    ).collect()
    assert byt[0].value == pytest.approx(2048 + 1.5e6)


def test_absent_over_time_with_offset(ctx):
    """Review fix: offset + absent_over_time must evaluate (not raise)."""
    got = query_metric(
        ctx, 'absent_over_time({service_name="no_such_service"}[1h] offset 1h)'
    ).collect()
    assert got and all(r.value == 1.0 for r in got)


def test_ip_pattern_parsing():
    from signaldb_spark.logql.lowering import parse_ip_pattern

    assert parse_ip_pattern("1.2.3.4") == (16909060, 16909060)
    lo, hi = parse_ip_pattern("10.3.0.0/16")
    assert (hi - lo) == 65535 and lo == (10 << 24) | (3 << 16)
    assert parse_ip_pattern("10.0.0.1-10.0.0.9") == (167772161, 167772169)
    assert parse_ip_pattern("0.0.0.0/0") == (0, 2**32 - 1)
    import pytest as _p

    for bad in ("1.2.3", "300.1.1.1", "1.2.3.4/33", "9.0.0.9-9.0.0.1", "abc"):
        with _p.raises(ValueError):
            parse_ip_pattern(bad)


def test_ip_line_and_label_filters(spark):
    """Loki ip() matcher end to end: numeric range semantics (10.30.x
    must NOT match 10.3.0.0/16), both the line-filter and parsed-label
    forms, and the != negation keeping lines with no IP at all."""
    from pyspark.sql import functions as F

    from signaldb_spark.logql.lowering import LowerCtx, query_logs
    from signaldb_spark.logql.parser import parse as logql_parse

    logs = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", "api", "addr=10.3.7.7 ok"),
            ("2024-01-01 00:00:02", "api", "addr=10.30.7.7 prefix-trap"),
            ("2024-01-01 00:00:03", "api", "addr=10.4.0.1 out"),
            ("2024-01-01 00:00:04", "api", "no ip at all"),
        ],
        "ts string, service_name string, body string",
    ).select(
        F.to_timestamp("ts").alias("timestamp"), "service_name", "body",
        F.lit(None).cast("string").alias("severity_text"),
        F.create_map().cast("map<string,string>").alias("log_attributes"),
    )
    ctx = LowerCtx(spark, logs, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)

    sel = logql_parse('{service_name="api"} |= ip("10.3.0.0/16")')
    rows = query_logs(ctx, sel, limit=10).collect()
    assert [r.body for r in rows] == ["addr=10.3.7.7 ok"]

    neg = logql_parse('{service_name="api"} != ip("10.3.0.0/16")')
    bodies = {r.body for r in query_logs(ctx, neg, limit=10).collect()}
    assert bodies == {"addr=10.30.7.7 prefix-trap", "addr=10.4.0.1 out", "no ip at all"}

    lbl = logql_parse(
        '{service_name="api"} | regexp "addr=(?P<client>[0-9.]+)" | client = ip("10.3.0.0/16")'
    )
    rows = query_logs(ctx, lbl, limit=10).collect()
    assert [r.body for r in rows] == ["addr=10.3.7.7 ok"]


def test_legacy_json_string_attributes_route(spark):
    """Tables written in the reference's legacy layout (log_attributes
    as ONE JSON string, not a map) still answer attribute matchers and
    label filters: the resolution routes through get_json_object when
    the column's dtype is string (logql.rs json_extract predicate
    path). Map-layout behavior is unchanged."""
    from pyspark.sql import functions as F

    from signaldb_spark.logql.lowering import LowerCtx, query_logs
    from signaldb_spark.logql.parser import parse as logql_parse

    legacy = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", "api", "a", '{"env": "prod", "region": "eu"}'),
            ("2024-01-01 00:00:02", "api", "b", '{"env": "staging"}'),
            ("2024-01-01 00:00:03", "api", "c", None),
        ],
        "ts string, service_name string, body string, log_attributes string",
    ).select(
        F.to_timestamp("ts").alias("timestamp"), "service_name", "body",
        F.lit(None).cast("string").alias("severity_text"), "log_attributes",
    )
    ctx = LowerCtx(spark, legacy, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600)

    sel = logql_parse('{service_name="api", env="prod"}')
    assert [r.body for r in query_logs(ctx, sel, limit=10).collect()] == ["a"]

    # negation admits absent attributes (NULL-matching), legacy too
    neg = logql_parse('{service_name="api", env!="prod"}')
    assert {r.body for r in query_logs(ctx, neg, limit=10).collect()} == {"b", "c"}

    lbl = logql_parse('{service_name="api"} | region = "eu"')
    assert [r.body for r in query_logs(ctx, lbl, limit=10).collect()] == ["a"]


def test_ip_matcher_rejects_invalid_octets_and_substrings(spark):
    """Numeric-range hardening: 10.3.260.0 must not alias into
    10.4.0.0/16 (octet > 255 is not an IP) and digit-adjacent
    substrings are not IPs (1234.5.6.7 does not contain 234.5.6.7)."""
    from pyspark.sql import functions as F

    from signaldb_spark.logql.lowering import ip_in_range, line_ip_hit

    df = spark.createDataFrame(
        [("10.3.260.0",), ("10.4.0.1",), ("1234.5.6.7",), ("10.4.0",)],
        "ip string",
    )
    got = {r.ip for r in df.filter(ip_in_range(F.col("ip"), "10.4.0.0/16")).collect()}
    assert got == {"10.4.0.1"}

    lines = spark.createDataFrame(
        [("x=1234.5.6.7 ok",), ("x=234.5.6.7 ok",), ("bad=10.3.260.0",),
         ("v=1.2.3.4567",)],
        "body string",
    )
    hits = {
        r.body for r in lines.filter(line_ip_hit(F.col("body"), "234.5.0.0/16")).collect()
    }
    assert hits == {"x=234.5.6.7 ok"}
    assert lines.filter(line_ip_hit(F.col("body"), "10.3.0.0/8")).count() == 0


def test_index_volume_range_one_sided_bounds(spark):
    """start-only / end-only windows each apply their own bound."""
    from signaldb_spark.logql.lowering import index_volume_range

    df = spark.createDataFrame(
        [("2024-01-01 00:00:05", "api", "aaaa"),
         ("2024-01-01 02:00:05", "api", "bbbbbb")],
        "timestamp string, service_name string, body string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    lo = index_volume_range(df, 3600, start="2024-01-01 01:00:00")
    assert lo.count() == 1
    hi = index_volume_range(df, 3600, end="2024-01-01 01:00:00")
    assert hi.count() == 1


def test_output_stages_apply_on_metric_path(spark):
    """distinct / drop / line_format execute inside METRIC queries too
    (Loki pipeline semantics), not only in log queries — the metric
    path silently ignoring them was the reference's bug (logql.rs:
    107-128), not a behavior to keep."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i), "api", '{"k": "a"}', {"u": str(i)})
        for i in range(3)
    ] + [
        (dt.datetime(2024, 1, 1, 0, 1, 0), "api", '{"k": "b"}', {"u": "9"}),
    ]
    logs = spark.createDataFrame(
        rows,
        "timestamp timestamp, service_name string, body string, "
        "log_attributes map<string,string>",
    )
    ctx2 = LowerCtx(spark, logs, "2024-01-01 00:00:00",
                    "2024-01-02 00:00:00", 86400)
    # distinct k: 2 distinct values -> count 2, not 4
    out = query_metric(
        ctx2, 'sum(count_over_time({service_name="api"} | json'
              ' | distinct k [1d]))')
    assert out.collect()[0]["value"] == 2.0
    # drop u: by (u) grouping collapses to one NULL-label group
    out = query_metric(
        ctx2, 'sum by (u) (count_over_time({service_name="api"}'
              ' | drop u [1d]))')
    got = out.collect()
    assert len(got) == 1 and got[0]["u"] is None and got[0]["value"] == 4.0
    # line_format rewrites the body BEFORE byte accounting: 4 x "a|b"
    out = query_metric(
        ctx2, 'sum(bytes_over_time({service_name="api"} | json'
              ' | line_format "{{.k}}" [1d]))')
    assert out.collect()[0]["value"] == 4.0


# ---------------------------------------------- Loki-semantics pins (r9)


def _mini_ctx(spark, bodies):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 30, i), "x", "INFO", b, {})
        for i, b in enumerate(bodies)
    ]
    df = spark.createDataFrame(
        rows,
        "timestamp timestamp, service_name string, severity_text string, "
        "body string, log_attributes map<string,string>",
    )
    return LowerCtx(spark, df, START, END, STEP)


def _logs(ctx, q):
    return query_logs(ctx, parse(q))


def test_logfmt_duplicate_key_first_wins_no_crash(spark):
    """A repeated logfmt key must resolve (first occurrence), never
    abort the query with DUPLICATED_MAP_KEY."""
    ctx = _mini_ctx(spark, ["a=1 b=2 a=3", "a=2 b=2"])
    got = _logs(ctx, '{service_name="x"} | logfmt | a="1"').collect()
    assert len(got) == 1 and "a=1" in got[0].body


def test_logfmt_quoted_values_extract(spark):
    """msg="hello world" — the ubiquitous quoted logfmt form — must
    extract (unquoted, unescaped), not silently match nothing."""
    ctx = _mini_ctx(spark, ['msg="hello world" level=info',
                            'msg=plain level=warn'])
    assert _logs(ctx, '{service_name="x"} | logfmt | msg=~".*hello.*"').count() == 1
    assert _logs(ctx, '{service_name="x"} | logfmt | msg="hello world"').count() == 1
    assert _logs(ctx, '{service_name="x"} | logfmt | msg="plain"').count() == 1


def test_ip_filter_short_value_is_false_not_error(spark):
    """A malformed dotted-quad like '1.2' nets NULL→false under the ip()
    filter — under Spark 4 ANSI mode, positional array indexing raised
    INVALID_ARRAY_INDEX instead."""
    ctx = _mini_ctx(spark, ["addr=1.2 ok", "addr=10.0.0.7 ok"])
    got = _logs(ctx, '{service_name="x"} | logfmt | addr = ip("10.0.0.0/8")').collect()
    assert len(got) == 1 and "10.0.0.7" in got[0].body


def test_duration_and_bytes_label_filters_parse_units(spark):
    """`took > 500ms` parses the label as a Go duration before
    comparing (threshold is ns) — '1s' matches, '250ms' does not; same
    for byte sizes."""
    ctx = _mini_ctx(spark, ["took=1s r=a", "took=250ms r=b", "took=junk r=c"])
    got = _logs(ctx, '{service_name="x"} | logfmt | took > 500ms').collect()
    assert len(got) == 1 and "took=1s" in got[0].body
    ctx2 = _mini_ctx(spark, ["size=2KB r=a", "size=512B r=b"])
    got2 = _logs(ctx2, '{service_name="x"} | logfmt | size > 1KB').collect()
    assert len(got2) == 1 and "size=2KB" in got2[0].body


def test_matcher_empty_value_matches_absent_label(spark):
    """{region=""} selects streams WITHOUT the label; {region!=""}
    excludes them (Loki: a missing label is the empty string)."""
    ctx = _mini_ctx(spark, ["one", "two"])
    assert _logs(ctx, '{service_name="x", region=""}').count() == 2
    assert _logs(ctx, '{service_name="x", region!=""}').count() == 0
    assert _logs(ctx, '{service_name="x", region=~".*"}').count() == 2


def test_bytes_over_time_counts_octets(spark):
    """bytes_over_time counts UTF-8 octets (Loki), matching
    index_volume's accounting."""
    mctx = _mini_ctx(spark, ["héllo"])  # 5 chars, 6 bytes
    got = query_metric(mctx, 'bytes_over_time({service_name="x"}[4h])').collect()
    assert sum(r.value for r in got) == 6.0


def test_decolorize_then_line_format_composes(spark):
    """Output stages compose: {{__line__}} reads the line as rewritten
    by earlier stages (here: after decolorize), not the raw body."""
    ctx = _mini_ctx(spark, ["\x1b[31mred\x1b[0m text"])
    got = _logs(
        ctx, '{service_name="x"} | decolorize | line_format "L:{{__line__}}"'
    ).collect()
    assert got[0].body == "L:red text"


def test_scalar_fold_ieee_semantics():
    """1/0 folds to +Inf, -1/0 to -Inf, 0/0 to NaN; negative base with
    fractional exponent is NaN, never a Python complex; atan2 keeps the
    quadrant of its operands."""
    import math

    from signaldb_spark.operators.vector_ops import scalar_fold

    assert scalar_fold("/", 1.0, 0.0) == math.inf
    assert scalar_fold("/", -1.0, 0.0) == -math.inf
    assert math.isnan(scalar_fold("/", 0.0, 0.0))
    assert math.isnan(scalar_fold("^", -2.0, 0.5))
    assert scalar_fold("atan2", 1.0, -1.0) == pytest.approx(3 * math.pi / 4)


def test_logql_topk_by_grouping(ctx):
    """topk by (service_name)(1, …): one top series per service, not a
    global top-1."""
    got = query_metric(
        ctx,
        'topk by (service_name) (1, count_over_time'
        '({service_name=~".+"}[1h]))',
    ).collect()
    per = {}
    for r in got:
        per.setdefault((r.bucket, r.service_name), []).append(r)
    assert per and all(len(v) == 1 for v in per.values())
    assert len({s for _, s in per}) > 1


def test_logql_topk_without_empty_ranks_per_series(ctx):
    """topk without () (k, …) groups by every label — each series ranks
    alone, so every series survives (PromQL semantics, the same
    reading limitk and the outer aggregates give ``without ()``).
    Without a modifier, and with by (), the ranking stays global."""
    from collections import Counter

    inner = 'count_over_time({service_name=~".+"}[1h])'
    bare = Counter(map(tuple, query_metric(ctx, inner).collect()))
    got = query_metric(ctx, f"topk without () (1, {inner})").collect()
    assert Counter(map(tuple, got)) == bare
    for q in (f"topk(1, {inner})", f"topk by () (1, {inner})"):
        got = query_metric(ctx, q).collect()
        assert len(got) == len({r.bucket for r in got}) < sum(bare.values())
