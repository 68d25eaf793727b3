"""LogQL → DataFrame lowering.

The Spark analog of the reference's ``LogsService::execute_plan``
(src/querier/src/query/logs.rs:225-366): resolve labels to columns,
build filter expressions, bucket-aggregate, outer-aggregate, then apply
the post ops (topk, label_replace, sort) — all in-engine (the reference
does those post-collect; see SURVEY §2.5/§4.2).

Label routing (column_for_label, logql.rs:92-166): well-known labels map
to fixed columns; ``label_<key>`` materialized columns win next; then
parsed-stage extractions; finally the ``log_attributes`` map. Negative
matchers match absent values (logql.rs:222-237).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import timeseries as ts
from ..operators import vector_ops as vo
from .ast import (
    BinOp,
    LabelFilter,
    LabelReplace,
    LineFilter,
    LogSelector,
    Matcher,
    MetricExpr,
    RangeAgg,
    Scalar,
    VectorAgg,
    VectorLit,
)

WELL_KNOWN = {
    "service_name": "service_name",
    "service": "service_name",
    "job": "service_name",
    "level": "severity_text",
    "severity": "severity_text",
    "detected_level": "severity_text",
    "trace_id": "trace_id",
    "span_id": "span_id",
}

# natural stream/series identity for the logs table (the reference's
# series columns; metrics.rs:2219 analog for logs)
SERIES_COLS = ["service_name", "severity_text", "label_namespace"]

LOGICAL_OPS = {"and", "or", "unless"}

_LOGFMT_RE = r"([a-zA-Z_][a-zA-Z0-9_]*)=([^\s\"]+)"


@dataclass
class LowerCtx:
    spark: SparkSession
    logs: DataFrame
    start: str  # inclusive window bounds (timestamp strings or datetimes)
    end: str
    step_seconds: int
    tenant: str = "acme"  # demand-recording identity (attr_demand.rs keys)
    dataset: str = "prod"


#  {{ .label }} — and the dot-less {{ __line__ }} / {{ __timestamp__ }}
#  intrinsics Loki's line_format defines
_TEMPLATE_VAR = r"\{\{\s*\.?([a-zA-Z_][a-zA-Z0-9_]*)\s*\}\}"


def _render_template(df: DataFrame, sel: LogSelector, tmpl: str) -> Column:
    """Render a Loki ``{{.label}}`` template to a concat expression;
    missing labels render empty (Go template <no value> is normalized
    to empty by Loki's label_format). Function pipelines and other
    template constructs are rejected — same parity posture as the
    reference's unsupported-feature errors."""
    import re as _re

    parts = _re.split(_TEMPLATE_VAR, tmpl)
    cols: list[Column] = []
    for i, part in enumerate(parts):
        if i % 2 == 1:  # captured label name
            cols.append(F.coalesce(resolve_label(df, sel, part), F.lit("")))
        elif part:
            if "{{" in part or "}}" in part:
                raise ValueError(f"unsupported template construct in {tmpl!r}")
            cols.append(F.lit(part))
    return F.concat(*cols) if cols else F.lit("")


def _stages_before(sel: LogSelector, i: int) -> LogSelector:
    """The selector as it looked before stage ``i`` — template variables
    and renames inside a stage resolve against the upstream pipeline
    only (no self-recursion)."""
    return dataclasses.replace(sel, stages=sel.stages[:i])


def resolve_label(df: DataFrame, sel: LogSelector, label: str) -> Column:
    """label_format override → well-known column → materialized
    label_<key> → parsed stage → map.

    The materialized column does NOT shadow the attribute map: files
    written before the promotion have the column null-filled, so the
    chain coalesces — promotion-invariant resolution (the reference's
    evolution contract, storage-layout.md:775-785; the same rule the IR
    planner applies)."""
    override: Column | None = None
    for i, stage in enumerate(sel.stages):
        if stage.name == "label_format" and stage.arg:
            for dst, kind, value in stage.arg:
                if dst != label:
                    continue
                before = _stages_before(sel, i)
                override = (
                    resolve_label(df, before, value)
                    if kind == "ref"
                    else _render_template(df, before, value)
                )  # later stages win — keep overwriting
    if override is not None:
        return override
    if label == "__line__":  # line_format intrinsic: the current line
        return F.col("body")
    if label == "__timestamp__":  # RFC3339 render of the entry time
        return F.date_format(F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    if label == "__error__":
        # Loki parser-error label: a failed json/unpack stage TAGS the
        # line instead of dropping it; `| __error__=""` is the idiom
        # that then filters failures out. A line is a JSON parse error
        # iff the whole body fails to parse ($ extraction nulls out).
        # logfmt/regexp/pattern extraction is non-failing here (missing
        # keys null-fill), matching the coalesce chain's semantics.
        has_json = any(s.name in ("json", "unpack") for s in sel.stages)
        if not has_json:
            return F.lit("")
        return F.when(
            F.col("body").isNotNull()
            & F.get_json_object(F.col("body"), "$").isNull(),
            F.lit("JSONParserErr"),
        ).otherwise(F.lit(""))
    if label in WELL_KNOWN and WELL_KNOWN[label] in df.columns:
        return F.col(WELL_KNOWN[label])
    sources: list[Column] = []
    mat = f"label_{label}"
    if mat in df.columns:
        sources.append(F.col(mat))
    for stage in sel.stages:
        if stage.name in ("json", "unpack"):
            sources.append(
                F.get_json_object(F.col("body"), f"$.{label}")
            )
        elif stage.name == "logfmt":
            from ..operators.attrs import logfmt_value

            # first-occurrence + quoted-value logfmt; never a map build
            # (a repeated key would abort the query with
            # DUPLICATED_MAP_KEY)
            sources.append(logfmt_value(F.col("body"), label))
        elif stage.name == "pattern" and stage.arg:
            rx, names = _pattern_to_regex(stage.arg)
            if label in names:
                sources.append(
                    F.nullif(
                        F.regexp_extract(F.col("body"), rx, names.index(label) + 1),
                        F.lit(""),
                    )
                )
        elif stage.name == "regexp" and stage.arg:
            # Loki regexp stage (Go RE2 named groups) → Java syntax
            if f"(?P<{label}>" in stage.arg:
                java_rx = stage.arg.replace("(?P<", "(?<")
                sources.append(
                    F.nullif(
                        F.regexp_extract(F.col("body"), java_rx, _group_index(stage.arg, label)),
                        F.lit(""),
                    )
                )
    sources.append(_attr_map_value(df, label))
    return F.coalesce(*sources) if len(sources) > 1 else sources[0]


def _attr_map_value(df: DataFrame, label: str) -> Column:
    """The ``log_attributes`` route, layout-aware
    (operators.attrs.attr_value): legacy JSON-string tables
    (logql.rs:330-361 substring era) extract exactly; map tables probe
    element_at. The dtype decides at plan time, so the map fast path
    pays nothing for the compat."""
    from ..operators.attrs import attr_value

    return attr_value(df, "log_attributes", label)


def _pattern_to_regex(pattern: str) -> tuple[str, list[str]]:
    """Loki ``| pattern "<_> status=<status>"`` → regex + capture names.

    ``<name>`` captures a non-greedy run, ``<_>`` matches-and-discards;
    literal text in between is escaped. The reference parses this stage
    but ignores it (logql.rs:107-128) — executing it is an upgrade."""
    import re as _re

    parts = _re.split(r"(<[a-zA-Z_][a-zA-Z0-9_]*>|<_>)", pattern)
    rx, names = "", []
    for i, part in enumerate(parts):
        if part == "<_>":
            rx += ".*?" if i < len(parts) - 1 else ".*"
        elif part.startswith("<") and part.endswith(">") and len(part) > 2:
            names.append(part[1:-1])
            rx += "(.*?)" if i < len(parts) - 1 else "(.*)"
        else:
            rx += _re.escape(part)
    return rx, names


def _group_index(regex: str, name: str) -> int:
    """1-based index of the named group within the pattern.

    A real scanner, not a finditer: escaped ``\\(``, char-class ``[(]``,
    and every ``(?…`` construct (lookarounds, flags, ``(?:``) must NOT
    count as capture groups — miscounting silently extracts the wrong
    group. Raises if the name is absent (index 0 would mean
    whole-match to regexp_extract)."""
    import re as _re

    idx = 0
    i, n = 0, len(regex)
    in_class = False
    while i < n:
        c = regex[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            in_class = c != "]"
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            rest = regex[i + 1:]
            m = _re.match(r"\?P?<([a-zA-Z_][a-zA-Z0-9_]*)>", rest)
            if m:  # named capture (?P<x> / (?<x> — not (?<= (?<! lookbehinds
                idx += 1
                if m.group(1) == name:
                    return idx
            elif not rest.startswith("?"):
                idx += 1  # plain capture group
        i += 1
    raise ValueError(f"named group {name!r} not found in regex")


def _anchored(pattern: str) -> str:
    return f"^(?:{pattern})$"


def matcher_expr(df: DataFrame, sel: LogSelector, m: Matcher) -> Column:
    col = resolve_label(df, sel, m.label)
    # Loki/Prometheus: a stream missing the label carries the empty
    # string — {region=""} selects label-less streams, {region=~".*"}
    # matches them, negations keep them (previously only the negations
    # handled NULL; = and =~ silently dropped those streams)
    s = F.coalesce(col, F.lit(""))
    if m.op == "=":
        if (
            m.value != ""
            and "attr_tokens" in df.columns
            and m.label not in WELL_KNOWN
            and f"label_{m.label}" not in df.columns
            and not sel.stages
        ):
            # bloom-prunable containment conjunct on attr_tokens for
            # attribute equality (logql.rs:192-201). Gated for
            # neutrality: skipped when parser stages could source the
            # label from the body (tokens only cover log_attributes),
            # for the empty value (absent labels have no token to
            # contain), and rows from files predating attr_tokens
            # (null array) are admitted via the isNull branch — those
            # rows cannot be bloom-pruned anyway.
            token = f"{m.label}={m.value}"
            return (s == m.value) & (
                F.col("attr_tokens").isNull()
                | F.array_contains("attr_tokens", token)
            )
        return s == m.value
    if m.op == "!=":
        # negations also match absent values (logql.rs:222-237)
        return s != m.value
    if m.op == "=~":
        return s.rlike(_anchored(m.value))
    if m.op == "!~":
        return ~s.rlike(_anchored(m.value))
    raise ValueError(m.op)


def _line_pattern_regex(pattern: str) -> str:
    """Loki ``|>`` pattern-match syntax → anchored regex: literal text
    with ``<_>`` as the only (non-greedy, any-char) wildcard. (Distinct
    from the ``pattern`` PARSER stage's named-capture translation,
    :func:`_pattern_to_regex`.)"""
    import re as _re

    return "(?s)^" + ".*?".join(_re.escape(p) for p in pattern.split("<_>")) + "$"


def parse_ip_pattern(pattern: str) -> tuple[int, int]:
    """Loki ``ip()`` pattern → inclusive IPv4 numeric range. Three forms
    (Loki log-queries docs): exact ``a.b.c.d``, CIDR ``a.b.c.d/n``,
    range ``a.b.c.d-e.f.g.h``."""
    def ip_int(s: str) -> int:
        parts = s.strip().split(".")
        if len(parts) != 4 or not all(p.isdigit() and int(p) <= 255 for p in parts):
            raise ValueError(f"bad IPv4 address {s!r}")
        a, b, c, d = (int(p) for p in parts)
        return (a << 24) | (b << 16) | (c << 8) | d

    if "/" in pattern:
        base, bits = pattern.split("/", 1)
        n = int(bits)
        if not 0 <= n <= 32:
            raise ValueError(f"bad CIDR prefix length {bits!r}")
        host_mask = (1 << (32 - n)) - 1
        lo = ip_int(base) & ~host_mask & 0xFFFFFFFF
        return lo, lo | host_mask
    if "-" in pattern:
        a, b = pattern.split("-", 1)
        lo, hi = ip_int(a), ip_int(b)
        if lo > hi:
            raise ValueError(f"inverted IP range {pattern!r}")
        return lo, hi
    v = ip_int(pattern)
    return v, v


def _ipv4_to_long(c: Column) -> Column:
    """Dotted-quad string → numeric value; malformed input (wrong part
    count, non-numeric, or any octet > 255 — 10.3.260.0 must NOT alias
    into 10.4.0.0/16) nets NULL through the casts and range guards, so
    comparisons are false, never errors."""
    p = F.split(c, r"\.")
    # F.get is NULL out of bounds — p[i] under ANSI mode (Spark 4's
    # default) raises INVALID_ARRAY_INDEX on short inputs like "1.2"
    # instead of netting NULL
    octs = [F.get(p, i).try_cast("long") for i in range(4)]
    ok = F.size(p) == 4
    for o in octs:
        ok = ok & o.between(0, 255)
    val = octs[0] * 16777216 + octs[1] * 65536 + octs[2] * 256 + octs[3]
    return F.when(ok, val)


def ip_in_range(col: Column, pattern: str) -> Column:
    """column value is an IPv4 inside the ip() pattern's range."""
    lo, hi = parse_ip_pattern(pattern)
    return _ipv4_to_long(col).between(lo, hi)


def line_ip_hit(body: Column, pattern: str) -> Column:
    """Any IPv4 TOKEN of the line is inside the pattern's range —
    Loki's line-filter ``|= ip("…")`` semantics. The line splits on
    non-[digit dot] runs (one cheap scan — faster than a boundary
    regex, and exactly Loki's whole-token reading: 1234.5.6.7 is one
    non-IP token, never a hidden 234.5.6.7); _ipv4_to_long then
    null-rejects tokens that are not a valid dotted quad."""
    lo, hi = parse_ip_pattern(pattern)
    toks = F.split(body, r"[^0-9.]+")
    # punctuation dots glue onto tokens ("... 10.3.7.7." at sentence
    # end) — btrim the edges (non-regex scan; a per-token regexp_replace
    # costs ~2x end to end)
    return F.coalesce(
        F.exists(
            toks, lambda s: _ipv4_to_long(F.btrim(s, F.lit("."))).between(lo, hi)
        ),
        F.lit(False),
    )


def line_filter_expr(lf: LineFilter) -> Column:
    body = F.col("body")
    if getattr(lf, "is_ip", False):
        hit = line_ip_hit(body, lf.value)
        if lf.op == "|=":
            return hit
        if lf.op == "!=":
            return ~hit | body.isNull()
        raise ValueError(f"ip() only supports |= and != line filters, got {lf.op}")
    if lf.op == "|=":
        return body.contains(lf.value)
    if lf.op == "!=":
        return ~body.contains(lf.value) | body.isNull()
    if lf.op == "|~":
        return body.rlike(lf.value)
    if lf.op == "!~":
        return ~body.rlike(lf.value) | body.isNull()
    if lf.op == "|>":  # Loki 3.x pattern line filter
        return body.rlike(_line_pattern_regex(lf.value))
    if lf.op == "!>":
        return ~body.rlike(_line_pattern_regex(lf.value)) | body.isNull()
    raise ValueError(lf.op)


def label_filter_expr(df: DataFrame, sel: LogSelector, lf: LabelFilter) -> Column:
    col = resolve_label(df, sel, lf.label)
    if getattr(lf, "is_ip", False):
        hit = ip_in_range(col, str(lf.value))
        if lf.op in ("=", "=="):
            return F.coalesce(hit, F.lit(False))
        if lf.op == "!=":
            return col.isNull() | ~F.coalesce(hit, F.lit(False))
        raise ValueError(f"ip() only supports =/!= label filters, got {lf.op}")
    if isinstance(lf.value, str):
        # a missing label is the empty string (Loki/Prometheus): ="",
        # =~"", =~".*" all match absent labels; a bare NULL comparison
        # would silently drop those rows for = / =~ while != / !~
        # already matched via isNull
        s = F.coalesce(col, F.lit(""))
        if lf.op in ("=", "=="):
            return s == lf.value
        if lf.op == "!=":
            return s != lf.value
        if lf.op == "=~":
            return s.rlike(_anchored(lf.value))
        if lf.op == "!~":
            return ~s.rlike(_anchored(lf.value))
        raise ValueError(f"bad string filter op {lf.op}")
    # duration/bytes literals: the parser normalized the threshold
    # (duration → nanoseconds, bytes → bytes), so the label value must
    # go through the SAME parse — 'took > 500ms' compares parsed
    # Go-duration ns, never try_cast("1s") → NULL
    if getattr(lf, "unit", None) == "duration":
        num = _unwrap_duration(col) * F.lit(1e9)
    elif getattr(lf, "unit", None) == "bytes":
        num = _unwrap_bytes(col)
    else:
        num = col.try_cast("double")  # non-numeric value → NULL, as DataFusion's cast
    val = F.lit(float(lf.value))
    return {
        "=": num == val, "==": num == val,
        "!=": num.isNull() | (num != val),
        ">": num > val, ">=": num >= val,
        "<": num < val, "<=": num <= val,
    }[lf.op]


def apply_selector(ctx: LowerCtx, sel: LogSelector) -> DataFrame:
    df = ts.time_window(ctx.logs, "timestamp", ctx.start, ctx.end)
    for m in sel.matchers:
        df = df.filter(matcher_expr(df, sel, m))
    for lf in sel.line_filters:
        df = df.filter(line_filter_expr(lf))
    for lf in sel.label_filters:
        df = df.filter(label_filter_expr(df, sel, lf))
    return df


_OUTPUT_STAGES = {"decolorize", "line_format", "unpack", "drop", "keep",
                  "distinct"}


def _has_output_stages(sel: LogSelector) -> bool:
    return any(s.name in _OUTPUT_STAGES for s in sel.stages)


def _apply_output_stages(df: DataFrame, sel: LogSelector) -> DataFrame:
    """Execute the line/label-rewriting stages on the filtered rows, in
    pipeline order: line_format / decolorize / unpack rewrite ``body``;
    drop / keep prune the attribute map; distinct keeps the earliest
    row per label-value combination. The reference parses these stages
    but ignores them (logql.rs:107-128) — executing them is an
    upgrade, and they apply on BOTH paths: log queries and metric
    queries (Loki pipeline semantics — a line_format before
    bytes_over_time changes the byte accounting, a distinct changes
    the counts).

    Body rewrites materialize STAGE BY STAGE (each withColumn collapses
    into one projection under Catalyst), so later stages read the line
    as already rewritten — ``decolorize | line_format "x {{__line__}}"``
    formats the decolorized line, and an unpack after a line_format
    parses the formatted JSON. Known divergence: the parser flattens
    filters out of stage order (selector.line_filters/label_filters are
    lists, not pipeline positions), so a label filter textually AFTER a
    line_format still evaluates against the pre-format parse — Loki
    would re-parse the formatted line."""
    for i, stage in enumerate(sel.stages):
        if stage.name == "decolorize":
            df = df.withColumn(
                "body", F.regexp_replace(F.col("body"), "\x1b\\[[0-9;]*m", "")
            )
        elif stage.name == "line_format" and stage.arg:
            df = df.withColumn(
                "body", _render_template(df, _stages_before(sel, i), stage.arg)
            )
        elif stage.name == "unpack":
            df = df.withColumn(
                "body",
                F.coalesce(
                    F.get_json_object(F.col("body"), "$._entry"), F.col("body")
                ),
            )
    for stage in sel.stages:
        if stage.name in ("drop", "keep") and stage.arg and "log_attributes" in df.columns:
            def _pred(names=list(stage.arg), keep=stage.name == "keep"):
                return lambda k, v: k.isin(*names) if keep else ~k.isin(*names)

            df = df.withColumn(
                "log_attributes", F.map_filter("log_attributes", _pred())
            )
    for i, stage in enumerate(sel.stages):
        if stage.name == "distinct" and stage.arg:
            keys = [
                resolve_label(df, _stages_before(sel, i), n).alias(f"_d_{n}")
                for n in stage.arg
            ]
            w = Window.partitionBy(*[F.col(f"_d_{n}") for n in stage.arg]).orderBy(
                F.col("timestamp").asc(), F.col("body").asc()
            )
            df = (
                df.select("*", *keys)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", *[f"_d_{n}" for n in stage.arg])
            )
    return df


def index_volume(logs: DataFrame, start=None, end=None) -> DataFrame:
    """Loki GET /loki/api/v1/index/volume analog: per-stream ingested
    bytes (+ line count) over the inclusive [start, end] window (the
    Loki volume API is range-scoped; beyond the reference's endpoint
    set). Bytes = UTF-8 octet length of the body — the same accounting
    bytes_over_time uses.

    One partial+final aggregation on the short stream key; the body
    column never shuffles (map-side octet_length + partial sum). With
    no bounds the whole table is aggregated (admin/backfill use)."""
    df = ts.time_window(logs, "timestamp", start, end)
    return (
        df.groupBy("service_name")
        .agg(F.sum(F.octet_length("body")).cast("long").alias("volume_bytes"),
             F.count(F.lit(1)).alias("n_lines"))
        .orderBy("service_name")
    )


def index_volume_range(
    logs: DataFrame, step_seconds: int, start=None, end=None
) -> DataFrame:
    """Loki GET /loki/api/v1/index/volume_range: per-stream ingested
    bytes as a TIME SERIES (one row per (step bucket, stream)) — the
    windowed-series sibling of :func:`index_volume`. Same partial+final
    aggregation, keyed by (bucket, stream); the body never shuffles."""
    df = ts.time_window(logs, "timestamp", start, end)
    return (
        df.groupBy(
            (F.floor(F.unix_timestamp("timestamp") / step_seconds) * step_seconds)
            .cast("long").alias("bucket"),
            "service_name",
        )
        .agg(F.sum(F.octet_length("body")).cast("long").alias("volume_bytes"))
        .orderBy("bucket", "service_name")
    )


def query_logs(
    ctx: LowerCtx, sel: LogSelector, limit: int = 100, direction: str = "backward"
) -> DataFrame:
    """Log (non-metric) query: filter + direction sort + limit
    (shape_log_query, logs.rs:638-660). The limit clamps to Loki's
    max_entries_limit_per_query — see tenancy.MAX_LOG_ENTRIES: an
    unclamped limit reaches takeOrdered's O(k) per-task buffer."""
    from ..maintenance import attr_demand
    from ..tenancy import MAX_LOG_ENTRIES

    limit = min(limit, MAX_LOG_ENTRIES)
    attr_demand.record_logql_query(sel, ctx.tenant, ctx.dataset, ctx.logs.columns)
    df = _apply_output_stages(apply_selector(ctx, sel), sel)
    desc = direction == "backward"
    order = [F.col("timestamp").desc() if desc else F.col("timestamp").asc()]
    if "trace_id" in df.columns:
        # deterministic limit cut under timestamp ties: without a
        # secondary key, WHICH rows survive the clamp is
        # partition-order-dependent the moment two matching entries
        # share a timestamp
        order.append(F.col("trace_id").desc() if desc else F.col("trace_id").asc())
    return df.orderBy(*order).limit(limit)


# ----------------------------------------------------------------- metrics


_DUR_UNIT_RE = r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)"
_BYTES_RE_SQL = r"^(\d+(?:\.\d+)?)\s*([kKmMgGtT]i?[bB]|[bB])?$"


def _unwrap_duration(raw: Column) -> Column:
    """Go time.ParseDuration subset → seconds: one or more (number,
    unit) segments summed ("1m30s" == 90). Non-matching values null out
    (the rows Loki would tag __error__)."""
    factors = F.create_map(
        F.lit("ns"), F.lit(1e-9), F.lit("us"), F.lit(1e-6),
        F.lit("µs"), F.lit(1e-6), F.lit("ms"), F.lit(1e-3),
        F.lit("s"), F.lit(1.0), F.lit("m"), F.lit(60.0), F.lit("h"), F.lit(3600.0),
    )
    nums = F.regexp_extract_all(raw, F.lit(_DUR_UNIT_RE), F.lit(1))
    units = F.regexp_extract_all(raw, F.lit(_DUR_UNIT_RE), F.lit(2))
    total = F.aggregate(
        F.zip_with(
            nums, units, lambda n, u: n.cast("double") * F.element_at(factors, u)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.when(raw.rlike(f"^(?:{_DUR_UNIT_RE})+$"), total)


def _unwrap_bytes(raw: Column) -> Column:
    """Humanized byte sizes → bytes: decimal (KB/MB/…) and binary
    (KiB/MiB/…) units, bare numbers pass through."""
    factors = F.create_map(
        F.lit("b"), F.lit(1.0),
        F.lit("kb"), F.lit(1e3), F.lit("mb"), F.lit(1e6),
        F.lit("gb"), F.lit(1e9), F.lit("tb"), F.lit(1e12),
        F.lit("kib"), F.lit(1024.0), F.lit("mib"), F.lit(1024.0 ** 2),
        F.lit("gib"), F.lit(1024.0 ** 3), F.lit("tib"), F.lit(1024.0 ** 4),
    )
    num = F.regexp_extract(raw, _BYTES_RE_SQL, 1)
    unit = F.lower(F.regexp_extract(raw, _BYTES_RE_SQL, 2))
    return F.when(
        raw.rlike(_BYTES_RE_SQL),
        num.cast("double")
        * F.when(unit == "", F.lit(1.0)).otherwise(F.element_at(factors, unit)),
    )


def _range_agg_expr(fn: str, sel: LogSelector, df: DataFrame, range_seconds: float, param):
    value = None
    if sel.unwrap:
        raw = resolve_label(df, sel, sel.unwrap)
        if sel.unwrap_fn in ("duration", "duration_seconds"):
            value = _unwrap_duration(raw)
        elif sel.unwrap_fn == "bytes":
            value = _unwrap_bytes(raw)
        else:
            value = raw.try_cast("double")
    if fn == "count":
        return F.count(F.lit(1)).cast("double")
    if fn == "rate":
        return F.count(F.lit(1)) / F.lit(float(range_seconds))
    # octet_length, not length: Loki counts BYTES, and index_volume in
    # this file already accounts in octets — character counting would
    # make the two endpoints disagree on any multibyte UTF-8 line
    if fn == "bytes":
        return F.sum(F.octet_length("body")).cast("double")
    if fn == "bytes_rate":
        return F.sum(F.octet_length("body")) / F.lit(float(range_seconds))
    if value is None:
        raise ValueError(f"{fn}_over_time requires | unwrap")
    return {
        # rate_counter: Prometheus-style (last − first)/range over the
        # unwrapped counter values
        "rate_counter": lambda: (
            F.max_by(value, F.col("timestamp")) - F.min_by(value, F.col("timestamp"))
        ) / F.lit(float(range_seconds)),
        "sum": lambda: F.sum(value),
        "avg": lambda: F.avg(value),
        "min": lambda: F.min(value),
        "max": lambda: F.max(value),
        "first": lambda: F.min_by(value, F.col("timestamp")),
        "last": lambda: F.max_by(value, F.col("timestamp")),
        "stddev": lambda: F.stddev_pop(value),
        "stdvar": lambda: F.var_pop(value),
        "quantile": lambda: F.percentile(value, F.lit(float(param))),
    }[fn]()


def eval_metric(ctx: LowerCtx, expr: MetricExpr) -> DataFrame:
    """Evaluate to a matrix DataFrame (bucket, <series cols>, value)."""
    if isinstance(expr, (Scalar, VectorLit)):
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(expr.value))
    if isinstance(expr, RangeAgg):
        return _eval_range_agg(ctx, expr)
    if isinstance(expr, VectorAgg):
        # grouping labels that aren't physical series columns (attribute
        # or parsed labels) must be materialized into the inner series —
        # the reference derives them in the grouped aggregate
        # (logql_metric.rs:232-261)
        extra = ()
        if isinstance(expr.expr, RangeAgg) and expr.grouping and not expr.without:
            series_probe = set(SERIES_COLS) | {f"label_{g}" for g in expr.grouping}
            extra = tuple(
                g
                for g in expr.grouping
                if WELL_KNOWN.get(g) is None
                and f"label_{g}" not in ctx.logs.columns
                and g not in series_probe
            )
        if isinstance(expr.expr, RangeAgg):
            # outer-agg fusion (ts.EXACT_FUSIONS): the range aggregate
            # groups by the kept labels directly, and the per-stream
            # matrix and its shuffle never exist
            if (expr.op, expr.expr.fn) in ts.EXACT_FUSIONS:
                return _eval_range_agg(ctx, expr.expr, extra, fuse=expr)
            inner = _eval_range_agg(ctx, expr.expr, extra)
        else:
            inner = eval_metric(ctx, expr.expr)
        series = [c for c in inner.columns if c not in ("bucket", "value")]
        keep = ts.kept_labels(series, expr.grouping, expr.without, WELL_KNOWN)
        if expr.op in ("topk", "bottomk", "approx_topk"):
            # by()/without() scopes the ranking — topk by (svc)(k, …)
            # keeps k series PER group, all labels retained (same
            # routing as the PromQL lowering); k <= 0 is the empty
            # vector, never "top 1"
            k = int(expr.param if expr.param is not None else 1)
            if k <= 0:
                return inner.filter(F.lit(False))
            if expr.op == "approx_topk":
                # Loki 3.3 probabilistic topk; here the salted
                # two-phase window — exact output, skew-proof first
                # shuffle (grouped form falls back to the grouped
                # single-window ranking)
                if not keep:
                    return ts.topk_per_bucket_salted(inner, k, series)
                return ts.topk_per_bucket(inner, k, series, group_cols=keep)
            return ts.topk_per_bucket(
                inner, k, series, bottom=expr.op == "bottomk", group_cols=keep
            )
        if expr.op in ("sort", "sort_desc"):
            return ts.sort_series_by_latest(inner, series, desc=expr.op == "sort_desc")
        return ts.outer_aggregate(inner, keep, expr.op)
    if isinstance(expr, LabelReplace):
        inner = eval_metric(ctx, expr.expr)
        return vo.label_replace(inner, expr.dst, _dollar(expr.replacement), expr.src, expr.regex)
    if isinstance(expr, BinOp):
        return _eval_binop(ctx, expr)
    raise TypeError(type(expr))


def _eval_range_agg(
    ctx: LowerCtx, expr: RangeAgg, extra_labels: tuple[str, ...] = (),
    fuse: VectorAgg | None = None,
) -> DataFrame:
    """Range aggregate per (bucket, stream); with ``fuse`` (an outer
    aggregate eval_metric folded in), per (bucket, kept labels)."""
    window = ctx
    if expr.offset_seconds:
        # offset: select over the window shifted BACK, then slide every
        # row's timestamp forward before bucketing, so results stamp the
        # query's own buckets (Loki range-selector offset semantics)
        off = dt.timedelta(seconds=expr.offset_seconds)

        def _shift(x):
            if isinstance(x, str):
                return (dt.datetime.fromisoformat(x) - off).isoformat(sep=" ")
            return x - off

        window = dataclasses.replace(ctx, start=_shift(ctx.start), end=_shift(ctx.end))
    df = apply_selector(window, expr.selector)
    if _has_output_stages(expr.selector):
        df = _apply_output_stages(df, expr.selector)
    if expr.offset_seconds:
        df = df.withColumn(
            "timestamp",
            F.col("timestamp") + F.make_interval(secs=F.lit(expr.offset_seconds)),
        )
    if expr.fn == "absent":
        # absent_over_time: 1 per empty step bucket over the range
        m = ts.count_over_time(df, "timestamp", ctx.step_seconds, [])
        return ts.absent(m, ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds))
    for g in extra_labels:
        df = df.withColumn(g, resolve_label(df, expr.selector, g))
    agg = _range_agg_expr(expr.fn, expr.selector, df, expr.range_seconds, expr.param)
    series = [c for c in SERIES_COLS if c in df.columns] + list(extra_labels)
    if fuse is not None:
        series = ts.kept_labels(series, fuse.grouping, fuse.without, WELL_KNOWN)
    return ts.range_aggregate(df, "timestamp", ctx.step_seconds, series, agg)


def _dollar(replacement: str) -> str:
    return replacement  # $1-style already matches Spark regexp_replace


def _eval_binop(ctx: LowerCtx, b: BinOp) -> DataFrame:
    ls = isinstance(b.lhs, Scalar)
    rs = isinstance(b.rhs, Scalar)
    if ls and rs:
        v = vo.scalar_fold(b.op, b.lhs.value, b.rhs.value)
        spine = ts.spine(ctx.spark, ctx.start, ctx.end, ctx.step_seconds)
        return spine.withColumn("value", F.lit(v))
    if ls or rs:
        vec = eval_metric(ctx, b.rhs if ls else b.lhs)
        scalar = b.lhs.value if ls else b.rhs.value
        if b.op in vo.ARITH:
            return vo.scalar_arith(vec, b.op, scalar, scalar_left=ls)
        if b.op in vo.COMPARE:
            op = vo.FLIP[b.op] if ls else b.op
            return vo.compare_scalar_filter(vec, op, scalar, bool_mode=b.bool_mode)
        raise ValueError(f"logical op with scalar operand: {b.op}")
    left = eval_metric(ctx, b.lhs)
    right = eval_metric(ctx, b.rhs)
    shared = [c for c in left.columns if c in right.columns and c not in ("value",)]
    on = ts.match_keys(shared, b.on, b.ignoring, WELL_KNOWN)
    # group_left/group_right: many-to-one matching — the "one" side is
    # reduced to a single row per join key (deterministically, max
    # value) so the many side's rows each match exactly once
    if b.group_side == "left":
        right = right.groupBy(*on).agg(F.max("value").alias("value"))
    elif b.group_side == "right":
        left = left.groupBy(*on).agg(F.max("value").alias("value"))
    if b.op in LOGICAL_OPS:
        return vo.vector_logical(left, right, b.op, on)
    if b.op in vo.COMPARE:
        return vo.vector_compare(left, right, b.op, on, bool_mode=b.bool_mode)
    return vo.vector_arith(left, right, b.op, on)


def query_metric(ctx: LowerCtx, query: str) -> DataFrame:
    """Parse + lower + order (the query_metric entry, logs.rs:170)."""
    from ..maintenance import attr_demand
    from .parser import parse

    expr = parse(query)
    if isinstance(expr, LogSelector):
        raise ValueError("not a metric query")
    # demand recording at the entrypoint (logs.rs:148,232)
    attr_demand.record_logql_query(expr, ctx.tenant, ctx.dataset, ctx.logs.columns)
    out = eval_metric(ctx, expr)
    series = [c for c in out.columns if c not in ("bucket", "value")]
    return out.orderBy("bucket", *series)


def query_instant(ctx: LowerCtx, query: str) -> DataFrame:
    """Instant query: evaluate the range query and reduce each series to
    its latest bucket (the /query endpoint semantics — one-bucket range
    reduced to last sample per series, endpoints/logql.rs + the
    instant-vector reduce in promql.rs:458)."""
    out = query_metric(ctx, query)
    series = [c for c in out.columns if c not in ("bucket", "value")]
    if not series:
        return (
            out.orderBy(F.col("bucket").desc())
            .limit(1)
            .select("bucket", "value")
        )
    return out.groupBy(*series).agg(
        F.max("bucket").alias("bucket"), F.max_by("value", "bucket").alias("value")
    ).select("bucket", *series, "value")


def log_patterns(
    df: DataFrame, body_col: str = "body", k: int = 100
) -> DataFrame:
    """Drain-style log template mining (Loki's pattern-detection
    endpoint analog, beyond the reference's surface): numbers, hex ids,
    and uuid-shaped runs in the body normalize to placeholders; one
    aggregation yields each template's frequency and an example line
    (deterministic: the minimum raw body). Top-``k`` templates by count,
    then template text for a stable tiebreak.

    Map-only normalization (three regex passes in the Java∩RE2 subset)
    + one partial+final aggregation; at 100 TB the shuffle carries
    (template, count, min-example) partials, never the raw line set."""
    t = F.col(body_col)
    t = F.regexp_replace(t, r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}", "<UUID>")
    t = F.regexp_replace(t, r"\b[0-9a-fA-F]{16,}\b", "<HEX>")
    t = F.regexp_replace(t, r"\d+", "<N>")
    return (
        df.select(t.alias("template"), F.col(body_col).alias("_raw"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min("_raw").alias("example"),
        )
        .orderBy(F.desc("count"), F.asc("template"))
        .limit(k)
    )
