"""TraceQL parser + trace ops + Query IR tests over generated fixtures."""

from __future__ import annotations

import pytest

from signaldb_spark.catalog import optional_table
from signaldb_spark.ir import IRValidationError, lower, validate
from signaldb_spark.testing import write_signal_tables
from signaldb_spark.traceql import parse_tags, parse_traceql
from signaldb_spark.traceql.parser import SpanPredicate, TraceQLError
from signaldb_spark.traceql.trace_ops import (
    assemble_hierarchy,
    find_by_id,
    search,
    tag_values,
)


@pytest.fixture(scope="module")
def traces(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("trace_signals"))
    write_signal_tables(spark, base)
    return optional_table(spark, base, "acme", "prod", "traces")


@pytest.fixture(scope="module")
def logs(spark, traces, tmp_path_factory):
    # traces fixture already wrote all tables into its base; re-derive path
    return None


# ----------------------------------------------------------- parser pins


def test_parse_traceql_scopes():
    preds = parse_traceql('{ .service.name = "api" && span.http.method = "GET" }')
    assert preds == [
        SpanPredicate("unscoped", "service.name", "api"),
        SpanPredicate("span", "http.method", "GET"),
    ]


def test_parse_traceql_intrinsics_and_status_normalization():
    preds = parse_traceql('{ name = "GET /items" && status = error }')
    assert preds[0] == SpanPredicate("intrinsic", "name", "GET /items")
    assert preds[1] == SpanPredicate("intrinsic", "status", "Error")


def test_parse_traceql_strict_rejections():
    """Reference-parity mode (search_filter.rs:234-330 rejections)."""
    for bad in [
        '{ a = "b" || c = "d" }',
        '{ span.x != "y" }',
        '{ duration > 100ms }',
        'no braces',
    ]:
        with pytest.raises(TraceQLError):
            parse_traceql(bad, strict=True)
    # genuinely unparsable input still rejects in widened mode
    for bad in ['no braces', "{ span.x ~ }", "{ duration =~ 10ms }"]:
        with pytest.raises(TraceQLError):
            parse_traceql(bad)


def test_parse_traceql_widened_grammar():
    """Beyond-parity: ||, !=, regex, range and duration matchers — the
    Tempo grammar Grafana emits that the reference rejects."""
    from signaldb_spark.traceql.parser import Disjunction

    assert parse_traceql('{ span.x != "y" }') == [
        SpanPredicate("span", "x", "y", "!=")
    ]
    assert parse_traceql('{ name =~ "GET.*" && resource.env !~ "stag.*" }') == [
        SpanPredicate("intrinsic", "name", "GET.*", "=~"),
        SpanPredicate("resource", "env", "stag.*", "!~"),
    ]
    assert parse_traceql("{ span.qty >= 30 }") == [
        SpanPredicate("span", "qty", 30.0, ">=")
    ]
    assert parse_traceql("{ duration > 100ms }") == [
        SpanPredicate("intrinsic", "duration", 100e6, ">")
    ]
    assert parse_traceql("{ duration <= 1.5s }") == [
        SpanPredicate("intrinsic", "duration", 1.5e9, "<=")
    ]
    d = parse_traceql('{ name = "a" && span.x = "1" } || { status = error }')
    assert isinstance(d, Disjunction) and len(d.groups) == 2
    assert d.groups[1] == (SpanPredicate("intrinsic", "status", "Error"),)
    # a || inside a quoted regex value is NOT a disjunction
    one = parse_traceql('{ name =~ "a||b" }')
    assert one == [SpanPredicate("intrinsic", "name", "a||b", "=~")]


def test_parse_tags():
    preds = parse_tags('service.name=api http.method="GET"')
    assert preds == [
        SpanPredicate("unscoped", "service.name", "api"),
        SpanPredicate("unscoped", "http.method", "GET"),
    ]


# --------------------------------------------------------- trace queries


def test_find_by_id_roundtrip(traces):
    some_id = traces.select("trace_id").first().trace_id
    spans = find_by_id(traces, some_id)
    rows = spans.collect()
    assert rows and all(r.trace_id == some_id for r in rows)
    # lookup carries events (trace.rs:573) but not links/scope columns;
    # search assembly stays narrow (TRACE_SEARCH_COLUMNS)
    assert "events" in spans.columns
    assert "links" not in spans.columns


def test_hierarchy_assembly(traces):
    some_id = traces.select("trace_id").first().trace_id
    h = assemble_hierarchy(find_by_id(traces, some_id)).collect()
    assert len(h) == 1
    trace = h[0]
    assert trace.span_count == len(trace.spans)
    starts = [s.start_time_unix_nano for s in trace.spans]
    assert starts == sorted(starts)


def test_search_truncation_determinism(traces):
    preds = parse_traceql('{ .service.name = "api" }')
    a = search(traces, preds, limit=5)
    b = search(traces, preds, limit=5)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and ra
    assert len({r[0] for r in ra}) <= 5  # ≤ limit distinct traces


def test_search_min_duration(traces):
    preds = parse_traceql('{ .service.name = "api" }')
    out = search(traces, preds, min_duration_nanos=10**7, limit=50).collect()
    assert all(r.duration_nanos >= 10**7 for r in out)


def test_tag_values_cap_and_sort(traces):
    vals = [r.value for r in tag_values(traces, "span", "http.method").collect()]
    assert vals == sorted(vals) and set(vals) <= {"GET", "POST"}
    svc = [r.value for r in tag_values(traces, "", "service.name").collect()]
    assert svc == sorted(svc) and len(svc) <= 1000


# -------------------------------------------------------------------- IR


def test_ir_validation_rejects():
    for doc in [
        {"version": 99, "from": "logs"},
        {"version": 1, "from": ""},
        {"version": 1, "from": "logs", "where": {"field": "x", "op": "nope"}},
        {"version": 1, "from": "logs", "where": {"field": "x", "op": "regex", "value": "("}},
        {"version": 1, "from": "logs",
         "aggregate": {"op": "sum"}},  # sum without value_field
    ]:
        with pytest.raises(IRValidationError):
            validate(doc)


def test_ir_kleene_counts(spark):
    df = spark.createDataFrame(
        [("a", "1"), ("b", None), ("c", "2")], "id string, v string"
    )
    eq = lower(df, validate({"version": 1, "from": "t",
                             "where": {"field": "v", "op": "eq", "value": "1"}})).count()
    ne = lower(df, validate({"version": 1, "from": "t",
                             "where": {"not": {"field": "v", "op": "eq", "value": "1"}}})).count()
    ex = lower(df, validate({"version": 1, "from": "t",
                             "where": {"field": "v", "op": "exists"}})).count()
    # absent row fails BOTH eq and not(eq); only exists sees it
    assert (eq, ne, ex) == (1, 1, 2)


def test_ir_extract_aggregate_rank(spark, traces):
    base = traces.limit(200)
    doc = {
        "version": 1,
        "from": "traces",
        "where": {"field": "status_code", "op": "in", "value": ["Ok", "Error", "Unspecified"]},
        "aggregate": {"op": "avg", "by": ["service_name"], "value_field": "duration_nanos"},
        "rank": {"kind": "topk", "k": 3, "value": "value"},
    }
    out = lower(base, validate(doc)).collect()
    assert 0 < len(out) <= 3
    vals = [r.value for r in out]
    assert vals == sorted(vals, reverse=True)


def test_ir_extract_json(spark):
    df = spark.createDataFrame(
        [('{"status": 200}',), ('{"status": 503}',), ("not json",)], "body string"
    )
    doc = {
        "version": 1,
        "from": "logs",
        "extract": [{"field": "status", "parser": "json", "source": "body", "type": "long"}],
        "where": {"field": "status", "op": "gte", "value": 500},
    }
    out = lower(df, validate(doc)).collect()
    assert len(out) == 1 and out[0].status == 503


def test_ir_value_coercion(spark):
    """Duration/bytes/numeric literals coerce at validation
    (value.rs analog): '500ms' → 5e8 ns; '17' → 17."""
    from signaldb_spark.ir.model import validate as v

    q = v({"version": 1, "from": "traces",
           "where": {"field": "duration_nanos", "op": "gte", "value": "500ms"}})
    assert q.where.value == 5e8
    q2 = v({"version": 1, "from": "logs",
            "where": {"field": "severity_number", "op": "gte", "value": "17"}})
    assert q2.where.value == 17
    # eq keeps plain numeric strings as strings (coercing would poison
    # equality against string columns); unit literals still coerce
    q2b = v({"version": 1, "from": "logs",
             "where": {"field": "service_name", "op": "eq", "value": "123"}})
    assert q2b.where.value == "123"
    q2c = v({"version": 1, "from": "traces",
             "where": {"field": "duration_nanos", "op": "eq", "value": "1s"}})
    assert q2c.where.value == 1e9
    q3 = v({"version": 1, "from": "logs",
            "where": {"field": "size", "op": "lt", "value": "2kb"}})
    assert q3.where.value == 2000.0


def test_ir_coerced_duration_filters_rows(spark, traces):
    doc = {"version": 1, "from": "traces",
           "where": {"field": "duration_nanos", "op": "gte", "value": "10ms"},
           "select": ["trace_id", "duration_nanos"]}
    out = lower(traces, validate(doc)).collect()
    assert out and all(r.duration_nanos >= 10_000_000 for r in out)


# ------------------------------------------- structural operators (> >> ~)


@pytest.fixture(scope="module")
def tree_spans(spark):
    """One 3-level trace + one flat trace:

    t1:  1(api)
         ├── 2(auth)
         │    └── 4(db, error)
         └── 3(cache)
    t2:  9(api) ── 8(db, error)   (parent outside the match sets)
    """
    rows = [
        ("t1", 1, None, "api", "Ok"),
        ("t1", 2, 1, "auth", "Ok"),
        ("t1", 3, 1, "cache", "Ok"),
        ("t1", 4, 2, "db", "Error"),
        ("t2", 9, None, "api", "Ok"),
        ("t2", 8, 9, "db", "Error"),
    ]
    return spark.createDataFrame(
        rows, "trace_id string, span_id long, parent_span_id long, span_name string, status_code string"
    )


def test_parse_structural_expr():
    from signaldb_spark.traceql.parser import StructuralQuery, parse_traceql_expr

    sq = parse_traceql_expr('{ name = "api" } >> { status = error }')
    assert isinstance(sq, StructuralQuery)
    assert sq.op == ">>"
    assert sq.left == (SpanPredicate("intrinsic", "name", "api"),)
    assert sq.right == (SpanPredicate("intrinsic", "status", "Error"),)
    # single-spanset queries still route through the parity parser
    assert parse_traceql_expr('{ name = "api" }') == [
        SpanPredicate("intrinsic", "name", "api")
    ]
    # widened mode accepts duration comparisons now (beyond-parity)
    assert parse_traceql_expr("{ duration > 5s }") == [
        SpanPredicate("intrinsic", "duration", 5e9, ">")
    ]


def test_child_spans(tree_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import child_spans

    out = child_spans(
        tree_spans, F.col("span_name") == "api", F.col("span_name") == "db"
    ).collect()
    # only t2's db span is a DIRECT child of an api span
    assert [(r.trace_id, r.span_id) for r in out] == [("t2", 8)]


def test_descendant_spans_jvm_and_closure_agree(tree_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import (
        descendant_spans,
        descendant_spans_closure,
    )

    anc, desc = F.col("span_name") == "api", F.col("status_code") == "Error"
    jvm = sorted(
        (r.trace_id, r.span_id) for r in descendant_spans(tree_spans, anc, desc).collect()
    )
    # t1's db span (2 hops below api) and t2's (1 hop) both match
    assert jvm == [("t1", 4), ("t2", 8)]
    closure = sorted(
        (r.trace_id, r.span_id)
        for r in descendant_spans_closure(tree_spans, anc, desc).collect()
    )
    assert closure == jvm
    # depth cap honored: max_depth=1 degenerates to direct children
    shallow = sorted(
        (r.trace_id, r.span_id)
        for r in descendant_spans(tree_spans, anc, desc, max_depth=1).collect()
    )
    assert shallow == [("t2", 8)]


def test_sibling_spans(tree_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import sibling_spans

    out = sibling_spans(
        tree_spans, F.col("span_name") == "auth", F.col("span_name") == "cache"
    ).collect()
    assert [(r.trace_id, r.span_id) for r in out] == [("t1", 3)]
    # a span is not its own sibling
    from signaldb_spark.traceql.structural import sibling_spans as ss

    self_out = ss(
        tree_spans, F.col("span_name") == "cache", F.col("span_name") == "cache"
    ).collect()
    assert self_out == []


def test_structural_search_lowering(traces):
    from signaldb_spark.traceql.parser import parse_traceql_expr
    from signaldb_spark.traceql.structural import structural_search

    sq = parse_traceql_expr("{ name = api } >> { status = error }")
    out = structural_search(traces, sq)
    # no cartesian anywhere in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.collect()  # executes without error on the OTLP-shaped fixture


def test_parse_and_lower_spanset_aggregate(spark, tree_spans):
    """`{ name = "db" } | avg(span.span_id) > 5` parses to an
    AggregateQuery and lowers to the per-trace aggregate filter: t1's
    db span (id 4, avg 4) drops, t2's (id 8, avg 8) survives."""
    from signaldb_spark.traceql.parser import AggregateQuery, parse_traceql_expr
    from signaldb_spark.traceql.structural import aggregate_search

    aq = parse_traceql_expr('{ name = "db" } | avg(span.span_id) > 5')
    assert isinstance(aq, AggregateQuery)
    assert (aq.agg, aq.agg_col, aq.op, aq.threshold) == ("avg", "span_id", ">", 5.0)
    got = aggregate_search(tree_spans, aq).collect()
    assert [(r.trace_id, r.span_id) for r in got] == [("t2", 8)]

    cq = parse_traceql_expr('{ name = "api" } | count() >= 1')
    assert isinstance(cq, AggregateQuery) and cq.agg == "count" and cq.agg_col is None
    assert aggregate_search(tree_spans, cq).count() == 2


def test_search_spans_per_trace_cap(traces):
    """Tempo's spss parameter: per-trace span cap applied AFTER trace
    ranking, keeping each kept trace's newest spans."""
    from pyspark.sql import functions as F

    full = search(traces, [], limit=3)
    capped = search(traces, [], limit=3, spans_per_trace=1)
    kept_full = {r.trace_id for r in full.collect()}
    rows = capped.collect()
    assert {r.trace_id for r in rows} == kept_full  # same traces kept
    per = {}
    for r in rows:
        per.setdefault(r.trace_id, []).append(r.start_time_unix_nano)
    assert all(len(v) == 1 for v in per.values())
    # the surviving span is each trace's newest
    newest = {
        r.trace_id: r.latest
        for r in full.groupBy("trace_id")
        .agg(F.max("start_time_unix_nano").alias("latest"))
        .collect()
    }
    assert all(v[0] == newest[t] for t, v in per.items())


def test_ir_correlate_validation_and_semi(spark):
    """Correlate stage validation wall + semi/anti lowering."""
    from signaldb_spark.ir import lower, validate

    for bad in [
        {"version": 1, "from": "logs", "correlate": {"on": ["k"]}},
        {"version": 1, "from": "logs", "correlate": {"with": "t", "on": []}},
        {"version": 1, "from": "logs",
         "correlate": {"with": "t", "on": ["k"], "type": "cross"}},
        {"version": 1, "from": "logs",
         "correlate": {"with": "t", "on": ["k"], "type": "semi", "select": ["x"]}},
    ]:
        with pytest.raises(IRValidationError):
            validate(bad)
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    right = spark.createDataFrame([(1,), (3,), (3,)], "k long")
    semi = validate({"version": 1, "from": "l",
                     "correlate": {"with": "r", "on": ["k"], "type": "semi"}})
    anti = validate({"version": 1, "from": "l",
                     "correlate": {"with": "r", "on": ["k"], "type": "anti"}})
    assert sorted(r.k for r in lower(left, semi, correlate_df=right).collect()) == [1, 3]
    assert [r.k for r in lower(left, anti, correlate_df=right).collect()] == [2]
    with pytest.raises(ValueError):
        lower(left, semi)  # correlate_df required


def test_widened_traceql_property_random_spans(spark):
    """Property: the widened-grammar lowering agrees with a pure-Python
    evaluator over randomized span tables for every operator class and
    for DNF combinations."""
    import random
    import re as _re

    from signaldb_spark.traceql.parser import Disjunction, parse_traceql
    from signaldb_spark.traceql.trace_ops import predicates_expr

    rnd = random.Random(23)
    rows = []
    for i in range(120):
        attrs = {}
        if rnd.random() < 0.8:
            attrs["qty"] = str(rnd.randrange(0, 100))
        if rnd.random() < 0.5:
            attrs["env"] = rnd.choice(["prod", "stage"])
        res = {"region": rnd.choice(["us", "eu"])} if rnd.random() < 0.7 else {}
        rows.append(
            (f"t{i%10}", i, rnd.choice(["GET /a", "GET /b", "POST /c"]),
             "api", 1000 + i, rnd.randrange(1, 5_000_000_000),
             rnd.choice(["Ok", "Error"]), attrs, res)
        )
    spans = spark.createDataFrame(
        rows,
        "trace_id string, span_id long, span_name string, service_name string,"
        " start_time_unix_nano long, duration_nanos long, status_code string,"
        " span_attributes map<string,string>, resource_attributes map<string,string>",
    )

    def py_pred(row, p):
        op, val = p.op, p.value
        if p.scope == "intrinsic":
            v = {"name": row[2], "status": row[6], "duration": row[5]}[p.key]
        elif p.scope == "span":
            v = row[7].get(p.key)
        elif p.scope == "resource":
            v = row[8].get(p.key)
        else:
            v = row[7].get(p.key, row[8].get(p.key))
        if op == "=":
            return v == val
        if op == "!=":
            return v is not None and v != val
        if op == "=~":
            return v is not None and _re.fullmatch(f"(?:{val})", str(v)) is not None
        if op == "!~":
            return v is not None and _re.fullmatch(f"(?:{val})", str(v)) is None
        if v is None:
            return False
        try:
            num = float(v)
        except (TypeError, ValueError):
            return False
        return {
            ">": num > val, ">=": num >= val, "<": num < val, "<=": num <= val,
        }[op]

    def py_eval(row, parsed):
        groups = parsed.groups if isinstance(parsed, Disjunction) else (tuple(parsed),)
        return any(all(py_pred(row, p) for p in g) for g in groups)

    queries = [
        '{ name =~ "GET.*" && span.qty >= 50 }',
        '{ span.env != "prod" }',
        '{ resource.region = "eu" } || { status = error && duration > 1s }',
        '{ .qty < 20 } || { name !~ "POST.*" && span.env = "stage" }',
        '{ duration <= 500ms && .region = "us" }',
    ]
    for qs in queries:
        parsed = parse_traceql(qs)
        got = {
            r.span_id
            for r in spans.filter(predicates_expr(spans, parsed)).collect()
        }
        want = {row[1] for row in rows if py_eval(row, parsed)}
        assert got == want, (qs, len(got), len(want), got ^ want)
        assert want  # each query matches something


def test_parse_select_query():
    from signaldb_spark.traceql.parser import SelectQuery, parse_traceql_expr

    q = parse_traceql_expr('{ span.qty >= 45 } | select(span.qty, resource.flag, name)')
    assert isinstance(q, SelectQuery)
    assert q.fields == ("span.qty", "resource.flag", "name")
    assert q.preds[0].scope == "span" and q.preds[0].key == "qty"
    with pytest.raises(TraceQLError):
        parse_traceql_expr('{ name = "x" } | select()')


def test_select_widens_projection(traces):
    from signaldb_spark.traceql.trace_ops import search_traceql

    out = search_traceql(
        traces, '{ span.http.method = "GET" } | select(span.http.method, name)', limit=5
    )
    assert "span.http.method" in out.columns and "name" in out.columns
    rows = out.collect()
    assert rows and all(r["span.http.method"] == "GET" for r in rows)
    assert all(r["name"] == r["span_name"] for r in rows)
    # the attribute MAPS are projected away — only the selected key rides
    assert "span_attributes" not in out.columns


def test_select_records_attr_demand(traces, tmp_path, monkeypatch):
    from signaldb_spark.maintenance import attr_demand
    from signaldb_spark.traceql.parser import parse_traceql_expr

    seen = []
    monkeypatch.setattr(attr_demand, "record", lambda *a: seen.append(a))
    attr_demand.record_traceql_query(
        parse_traceql_expr('{ span.a = "1" } | select(span.b, resource.c)'),
        "acme", "prod",
    )
    keys = {k for (_t, _d, _tbl, k) in seen}
    assert {"a", "b", "c"} <= keys


def test_negated_structural_ops(spark, tree_spans):
    """!>, !>> and !~ partition their positive counterparts' domains:
    positive ∪ negated == all spans matching the right-side condition."""
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.parser import StructuralQuery, parse_traceql_expr
    from signaldb_spark.traceql.structural import (
        child_spans,
        descendant_spans,
        sibling_spans,
    )

    q = parse_traceql_expr('{ span.qty > 30 } !>> { span.flag = "R" }')
    assert isinstance(q, StructuralQuery) and q.op == "!>>"

    right = F.col("status_code") == "Error"
    left = F.col("span_name") == "api"
    all_right = tree_spans.filter(right).count()
    for pos_fn in (child_spans, descendant_spans, sibling_spans):
        pos = pos_fn(tree_spans, left, right).count()
        neg = pos_fn(tree_spans, left, right, negate=True).count()
        assert pos + neg == all_right, pos_fn.__name__
    # at least one relation has both a positive and a negated hit
    assert child_spans(tree_spans, left, right, negate=True).count() > 0


def test_kind_intrinsic_matcher(spark):
    from signaldb_spark.traceql.parser import parse_traceql
    from signaldb_spark.traceql.trace_ops import predicates_expr

    spans = spark.createDataFrame(
        [("t", 1, "a", "SERVER"), ("t", 2, "b", "CLIENT")],
        "trace_id string, span_id long, span_name string, span_kind string",
    )
    preds = parse_traceql("{ kind = server }")
    assert preds[0].value == "SERVER"
    got = spans.filter(predicates_expr(spans, preds)).collect()
    assert [r.span_name for r in got] == ["a"]
    neg = spans.filter(
        predicates_expr(spans, parse_traceql("{ kind != server }"))
    ).collect()
    assert [r.span_name for r in neg] == ["b"]


def test_trace_level_intrinsics_root_fields(spark, tree_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.trace_ops import trace_level_filter

    spans = tree_spans.withColumn(
        "start_time_unix_nano", F.col("span_id") * 1000
    ).withColumn("duration_nanos", F.lit(10))
    got = trace_level_filter(spans, "rootName", "=", "api")
    # both fixture traces are rooted at "api"
    assert got.count() == spans.count()
    none = trace_level_filter(spans, "rootName", "=", "nope")
    assert none.count() == 0


def test_parse_trace_duration_intrinsic():
    from signaldb_spark.traceql.parser import TraceQLError, parse_traceql

    p = parse_traceql("{ traceDuration >= 2s }")
    assert p[0].scope == "trace" and p[0].value == 2e9
    with pytest.raises(TraceQLError):
        parse_traceql("{ traceDuration >= 2s }", strict=True)


def test_trace_intrinsic_in_select_and_disjunction(spark):
    """Review fix: trace-level intrinsics compose with select(); inside
    || groups they raise a clear error instead of silently matching
    nothing."""
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.parser import TraceQLError
    from signaldb_spark.traceql.trace_ops import search_traceql

    spans = spark.createDataFrame(
        [
            ("t1", "1", None, "a", 1000, 50, "2024-01-01", {"k": "v"}),
            ("t2", "2", None, "b", 2000, 5, "2024-01-01", {"k": "w"}),
        ],
        "trace_id string, span_id string, parent_span_id string, span_name string,"
        " start_time_unix_nano long, duration_nanos long, timestamp string,"
        " span_attributes map<string,string>",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    out = search_traceql(spans, '{ traceDuration >= 10ns } | select(span.k)')
    rows = out.collect()
    assert [r.trace_id for r in rows] == ["t1"] and rows[0]["span.k"] == "v"
    with pytest.raises(TraceQLError):
        search_traceql(spans, '{ traceDuration >= 10ns } || { name = "b" }')


def test_kind_regex_matcher_case_insensitive(spark):
    from signaldb_spark.traceql.parser import parse_traceql
    from signaldb_spark.traceql.trace_ops import predicates_expr

    spans = spark.createDataFrame(
        [("t", 1, "a", "SERVER"), ("t", 2, "b", "INTERNAL")],
        "trace_id string, span_id long, span_name string, span_kind string",
    )
    got = spans.filter(
        predicates_expr(spans, parse_traceql('{ kind =~ "server|client" }'))
    ).collect()
    assert [r.span_name for r in got] == ["a"]


def test_trace_intrinsics_rejected_in_structural_and_aggregate(spark):
    """Review fix 1: trace-level intrinsics raise clearly in structural
    and aggregate spansets instead of silently matching nothing."""
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.parser import TraceQLError
    from signaldb_spark.traceql.trace_ops import search_traceql

    spans = spark.createDataFrame(
        [("t", "1", None, "a", 1000, 50, "2024-01-01")],
        "trace_id string, span_id string, parent_span_id string, span_name string,"
        " start_time_unix_nano long, duration_nanos long, timestamp string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    with pytest.raises(TraceQLError):
        search_traceql(spans, '{ traceDuration > 2s } >> { name = "x" }')
    with pytest.raises(TraceQLError):
        search_traceql(spans, '{ traceDuration > 2s } | count() > 1')


def test_explode_matching_events_semantics(spark):
    """Single-pass event surface: spans with no matching event vanish
    (explode of an empty filtered array), spans with several matching
    events expand to one row each, and results agree with the
    exists-based filter_by_event on the keep-set."""
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.trace_ops import (
        explode_matching_events,
        filter_by_event,
    )

    def ev(name, ls):
        return (name, 1, {"linestatus": ls})

    spans = spark.createDataFrame(
        [
            ("t1", "s1", [ev("exception", "O"), ev("exception", "O")]),  # 2 matches
            ("t1", "s2", [ev("exception", "F")]),                        # attr miss
            ("t2", "s3", [ev("log", "O")]),                              # name miss
            ("t2", "s4", []),                                            # no events
            ("t2", "s5", [ev("message", "F"), ev("exception", "O")]),    # 1 match
        ],
        "trace_id string, span_id string, events array<struct<"
        "name string, timestamp_unix_nano long, attributes map<string,string>>>",
    )
    got = explode_matching_events(
        spans, name="exception", attr_key="linestatus", attr_value="O"
    )
    rows = sorted((r.span_id, r.event.name) for r in got.collect())
    assert rows == [("s1", "exception"), ("s1", "exception"), ("s5", "exception")]
    assert "events" not in got.columns
    kept = {
        r.span_id
        for r in filter_by_event(
            spans, name="exception", attr_key="linestatus", attr_value="O"
        ).collect()
    }
    assert kept == {r for r, _ in rows}


# ------------------------------------------------- depth-routed ``>>``


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def deep_spans(spark):
    """A single 21-deep parent chain: span i's parent is i-1; the root
    is 'api', the leaf (depth 20) is an error — the JVM 16-hop unroll
    cannot see the root from the leaf."""
    rows = [("d1", 0, None, "api", "Ok")]
    rows += [
        ("d1", i, i - 1, "mid" if i < 20 else "db",
         "Error" if i == 20 else "Ok")
        for i in range(1, 21)
    ]
    return spark.createDataFrame(
        rows,
        "trace_id string, span_id long, parent_span_id long, "
        "span_name string, status_code string",
    )


def test_corpus_exceeds_depth(tree_spans, deep_spans):
    from signaldb_spark.traceql.structural import corpus_exceeds_depth

    assert corpus_exceeds_depth(tree_spans) is False
    assert corpus_exceeds_depth(deep_spans) is True
    assert corpus_exceeds_depth(deep_spans, cap=25) is False


def test_routed_picks_jvm_for_shallow_corpus(tree_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import descendant_spans_routed

    anc, desc = F.col("span_name") == "api", F.col("status_code") == "Error"
    out = descendant_spans_routed(tree_spans, anc, desc)
    assert "FlatMapGroupsInPandas" not in _plan(out)  # JVM chase chosen
    assert sorted((r.trace_id, r.span_id) for r in out.collect()) == [
        ("t1", 4), ("t2", 8)
    ]


def test_routed_picks_closure_for_deep_corpus(deep_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import (
        descendant_spans,
        descendant_spans_routed,
    )

    anc, desc = F.col("span_name") == "api", F.col("status_code") == "Error"
    # the unrouted JVM unroll silently truncates at 16 hops
    assert descendant_spans(deep_spans, anc, desc).count() == 0
    out = descendant_spans_routed(deep_spans, anc, desc)
    assert "FlatMapGroupsInPandas" in _plan(out)  # Arrow closure chosen
    assert [(r.trace_id, r.span_id) for r in out.collect()] == [("d1", 20)]


def test_routed_deep_negate_and_depth_bound(deep_spans):
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.structural import descendant_spans_routed

    anc = F.col("span_name") == "nonexistent"
    desc = F.col("status_code") == "Error"
    # deep corpus + anti form: leaf has no matching ancestor -> kept
    out = descendant_spans_routed(deep_spans, anc, desc, negate=True)
    assert [(r.trace_id, r.span_id) for r in out.collect()] == [("d1", 20)]
    # a documented depth bound short-circuits the probe and pins JVM
    pinned = descendant_spans_routed(
        deep_spans, anc, desc, negate=True, depth_bound=8
    )
    assert "FlatMapGroupsInPandas" not in _plan(pinned)


def test_search_traceql_routes_structural_through_depth_router(spark, sf_dir=None):
    """Plan pin for the bench corpus: the lineitem-as-spans tree (depth
    <= 3) must take the JVM path end-to-end through search_traceql."""
    from signaldb_spark.bench_trace_ir import _tree_spans
    from signaldb_spark.traceql.parser import parse_traceql_expr
    from signaldb_spark.traceql.structural import structural_search

    spans = _tree_spans(spark, "/root/testdata/sf0.001").withColumnRenamed(
        "flag", "span_name"
    ).withColumnRenamed("status", "status_code")
    sq = parse_traceql_expr('{ name = "R" } >> { status = error }')
    out = structural_search(spans, sq)
    assert "FlatMapGroupsInPandas" not in _plan(out)


def test_legacy_json_string_span_attributes(spark):
    """Legacy-layout trace tables (span/resource attributes as JSON
    strings, the reference's substring-predicate era) answer scoped and
    unscoped matchers through exact get_json_object extraction."""
    from pyspark.sql import functions as F

    from signaldb_spark.traceql.trace_ops import predicate_expr
    from signaldb_spark.traceql.parser import parse_traceql

    legacy = spark.createDataFrame(
        [
            ("t1", 1, "GET", '{"http.method": "GET"}', '{"env": "prod"}'),
            ("t1", 2, "POST", '{"http.method": "POST"}', '{"env": "prod"}'),
            ("t2", 3, "GET", None, '{"env": "staging"}'),
        ],
        "trace_id string, span_id long, span_name string, "
        "span_attributes string, resource_attributes string",
    )
    preds = parse_traceql('{ span.http.method = "GET" }')
    got = legacy.filter(predicate_expr(legacy, preds[0]))
    assert [r.span_id for r in got.collect()] == [1]
    # unscoped routes across both legacy scopes
    preds = parse_traceql('{ .env = "staging" }')
    got = legacy.filter(predicate_expr(legacy, preds[0]))
    assert [r.span_id for r in got.collect()] == [3]


def test_tag_discovery_legacy_string_attrs(spark):
    """Tag discovery over a LEGACY layout where attributes landed as a
    JSON string column: tag_values parses per-key via get_json_object
    and tag_names enumerates keys via from_json→map_keys — neither may
    assume MapType (attrs.attr_value/attr_keys route on the dtype)."""
    from signaldb_spark.traceql.trace_ops import tag_names

    df = spark.createDataFrame(
        [
            ("svc-a", '{"http.method": "GET", "peer": "db"}', '{"region": "us"}'),
            ("svc-b", '{"http.method": "POST"}', None),
        ],
        "service_name string, span_attributes string, resource_attributes string",
    )
    vals = [r.value for r in tag_values(df, "span", "http.method").collect()]
    assert vals == ["GET", "POST"]
    names = [r.name for r in tag_names(df, "span").collect()]
    assert set(names) == {"http.method", "peer"}
    both = [r.name for r in tag_names(df, "unscoped").collect()]
    assert {"http.method", "peer", "region", "service.name"} <= set(both)


# --------------------------------------------- Tempo-semantics pins (r9)

from pyspark.sql import functions as F  # noqa: E402


def test_range_matcher_nonnumeric_attr_skips_not_crashes(spark):
    """`{ span.qty > 30 }` over a corpus with one 'N/A' qty value must
    skip that span — under Spark 4 ANSI mode a plain cast aborted the
    whole query with CAST_INVALID_INPUT."""
    from signaldb_spark.traceql.trace_ops import search_traceql

    df = spark.createDataFrame(
        [("t1", "1", "a", {"qty": "40"}), ("t1", "2", "b", {"qty": "N/A"})],
        "trace_id string, span_id string, span_name string, "
        "span_attributes map<string,string>",
    ).withColumn("timestamp", F.lit("2024-01-01 00:00:00").cast("timestamp")) \
     .withColumn("start_time_unix_nano", F.lit(1))
    got = search_traceql(df, '{ span.qty > 30 }').collect()
    assert [r.span_id for r in got] == ["1"]


def test_duplicate_span_rows_do_not_abort_structural(spark, tree_spans):
    """A replayed duplicate span (same span_id + parent twice) must not
    abort `>>` / critical_path with DUPLICATED_MAP_KEY."""
    from signaldb_spark.traceql.structural import descendant_spans

    dup = tree_spans.unionByName(tree_spans.filter(F.col("span_id") == 4))
    got = descendant_spans(
        dup, F.col("span_name") == "api", F.col("status_code") == "Error"
    ).collect()
    assert {(r.trace_id, r.span_id) for r in got} == {("t1", 4), ("t2", 8)}


def test_negated_sibling_keeps_root_spans(spark, tree_spans):
    """`{db} !~ {api}`: a root span matching the right side has no
    siblings at all, so 'no matching sibling' holds trivially — it must
    be returned, not pre-filtered away."""
    from signaldb_spark.traceql.structural import sibling_spans

    # right side: api spans (1 and 9 are roots); left: cache spans
    got = sibling_spans(
        tree_spans,
        F.col("span_name") == "cache",
        F.col("span_name") == "api",
        negate=True,
    ).collect()
    assert {(r.trace_id, r.span_id) for r in got} == {("t1", 1), ("t2", 9)}


def test_spanset_aggregate_routes_fields(spark, tree_spans):
    """`| avg(duration) > …` routes 'duration' to duration_nanos and
    `avg(span.qty)` to the attribute map — not raw F.col names."""
    from signaldb_spark.traceql.parser import parse_traceql_expr
    from signaldb_spark.traceql.structural import aggregate_search

    df = tree_spans.withColumn(
        "duration_nanos", F.col("span_id") * F.lit(1_000_000)
    ).withColumn(
        "span_attributes",
        F.create_map(F.lit("qty"), (F.col("span_id") * 10).cast("string")),
    )
    aq = parse_traceql_expr('{ name = "db" } | avg(duration) > 5000000')
    got = aggregate_search(df, aq).collect()
    # db spans: ids 4 (4ms) and 8 (8ms); per-trace avg: t1=4ms no, t2=8ms yes
    assert {(r.trace_id, r.span_id) for r in got} == {("t2", 8)}
    aq2 = parse_traceql_expr('{ name = "db" } | avg(span.qty) > 50')
    got2 = aggregate_search(df, aq2).collect()
    assert {(r.trace_id, r.span_id) for r in got2} == {("t2", 8)}


def test_spanset_aggregate_duration_threshold(spark, tree_spans):
    """A unit-suffixed threshold is a duration in nanoseconds:
    `avg(duration) > 5ms` is `avg(duration) > 5000000`."""
    from signaldb_spark.traceql.parser import parse_traceql_expr
    from signaldb_spark.traceql.structural import aggregate_search

    for q, threshold in (
        ("{ } | avg(duration) > 1ms", 1e6),
        ('{ .service.name = "api" } | max(duration) <= 1.5s', 1.5e9),
        ("{ } | min(duration) >= 250us", 250e3),
    ):
        aq = parse_traceql_expr(q)
        assert (aq.agg_col, aq.threshold) == ("duration", threshold), q
    df = tree_spans.withColumn(
        "duration_nanos", F.col("span_id") * F.lit(1_000_000)
    )
    aq = parse_traceql_expr('{ name = "db" } | avg(duration) > 5ms')
    # db spans: ids 4 (4ms) and 8 (8ms); per-trace avg: t1=4ms no, t2=8ms yes
    assert {(r.trace_id, r.span_id)
            for r in aggregate_search(df, aq).collect()} == {("t2", 8)}


def test_structural_search_applies_window_and_limit(spark):
    """search_traceql applies start/end and the trace limit to
    structural queries — previously all history returned untruncated."""
    import datetime as dt

    from signaldb_spark.traceql.trace_ops import search_traceql

    rows = []
    for i in range(5):
        ts = dt.datetime(2024, 1, 1, i)
        rows.append((f"t{i}", "p", None, "api", "Ok", ts, i * 1000 + 1))
        rows.append((f"t{i}", "c", "p", "db", "Error", ts, i * 1000 + 2))
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "span_name string, status_code string, timestamp timestamp, "
        "start_time_unix_nano long",
    )
    got = search_traceql(
        df, '{ name = "api" } > { name = "db" }',
        start="2024-01-01 00:30:00", end="2024-01-01 02:30:00", limit=1,
    ).collect()
    # window keeps t1, t2; limit=1 keeps the newest (t2)
    assert {r.trace_id for r in got} == {"t2"}


def test_closure_descendants_survive_parent_cycle(spark):
    """A corrupt parent-pointer cycle must terminate the Arrow closure
    walk, not hang the executor."""
    from signaldb_spark.traceql.structural import descendant_spans_closure

    rows = [
        ("t1", "a", "b", "x", "Ok"),   # a -> b -> a cycle
        ("t1", "b", "a", "x", "Ok"),
        ("t1", "r", None, "api", "Ok"),
        ("t1", "d", "r", "db", "Error"),
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, span_id string, parent_span_id string, "
              "span_name string, status_code string",
    )
    got = descendant_spans_closure(
        df, F.col("span_name") == "api", F.col("status_code") == "Error"
    ).collect()
    assert {(r.trace_id, r.span_id) for r in got} == {("t1", "d")}


def test_metrics_query_scoped_by_and_trace_intrinsics(spark):
    """metrics_query: by (span.foo) groups on the attribute (not a raw
    struct-access column name), and a traceDuration predicate
    pre-filters traces instead of silently emptying the series."""
    import datetime as dt

    from signaldb_spark.traceql.trace_ops import metrics_query

    rows = []
    for i in range(4):
        dur = 3_000_000_000 if i < 2 else 1_000_000
        rows.append((f"t{i}", "p", None, "api", "Ok",
                     dt.datetime(2024, 1, 1, 0, 0, i), 1_000_000_000 * i,
                     dur, {"foo": f"g{i % 2}"}))
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "span_name string, status_code string, timestamp timestamp, "
        "start_time_unix_nano long, duration_nanos long, "
        "span_attributes map<string,string>",
    )
    out = metrics_query(df, '{ name = "api" } | rate() by (span.foo)', 60)
    assert "span_foo" in out.columns and out.count() > 0
    out2 = metrics_query(df, "{ traceDuration > 2s } | rate()", 60).collect()
    # only t0/t1 qualify (3s root spans): 2 spans in one bucket / 60s
    assert sum(r.value for r in out2) == pytest.approx(2 / 60)
