"""TraceQL parser + Tempo tags logfmt parser.

Default mode accepts the widened Tempo grammar Grafana emits daily —
disjunction (``||``), ``!=``, regex (``=~``/``!~``) and range
(``>``/``>=``/``<``/``<=``) matchers on span/resource scopes, and
``duration`` comparisons with unit literals — all of which the
reference rejects (parse_traceql, search_filter.rs:234-330). A
``strict=True`` mode reproduces the reference's equality-only subset
exactly, including its rejections, for parity pinning.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class TraceQLError(ValueError):
    pass


@dataclass(frozen=True)
class SpanPredicate:
    scope: str  # "span" | "resource" | "intrinsic" | "unscoped"
    key: str
    value: "str | float"
    op: str = "="  # = != =~ !~ > >= < <=


@dataclass(frozen=True)
class Disjunction:
    """``{A} `` with top-level ``||`` inside: OR of conjunction groups
    (DNF — Tempo grammar the reference rejects outright)."""

    groups: tuple[tuple[SpanPredicate, ...], ...]


_PRED_RE = re.compile(
    r'\s*(?P<lhs>[a-zA-Z_.][a-zA-Z0-9_.]*)\s*(?P<op>=~|!~|!=|>=|<=|=|>|<)\s*'
    r'(?P<val>"(?:[^"\\]|\\.)*"|\S+)\s*'
)

INTRINSICS = {"name", "status", "duration", "kind"}

# canonical status normalization (search_filter.rs:74-85)
STATUS_MAP = {
    "ok": "Ok", "error": "Error", "unset": "Unspecified",
    "Ok": "Ok", "Error": "Error", "Unspecified": "Unspecified",
}

_DURATION_UNITS = {
    "ns": 1.0, "us": 1e3, "µs": 1e3, "ms": 1e6, "s": 1e9, "m": 60e9, "h": 3600e9,
}
_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)$")


def _parse_duration_nanos(val: str) -> float:
    m = _DURATION_RE.match(val)
    if not m:
        raise TraceQLError(f"bad duration literal {val!r}")
    return float(m.group(1)) * _DURATION_UNITS[m.group(2)]


def _split_outside_quotes(body: str, sep: str) -> list[str]:
    """Split on a two-char separator, ignoring occurrences inside
    double-quoted strings (a regex value may contain ``||``)."""
    parts, buf, in_str, i = [], [], False, 0
    while i < len(body):
        ch = body[i]
        if in_str:
            buf.append(ch)
            if ch == "\\" and i + 1 < len(body):
                buf.append(body[i + 1])
                i += 1
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
            buf.append(ch)
        elif body.startswith(sep, i):
            parts.append("".join(buf))
            buf = []
            i += len(sep) - 1
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _parse_one(part: str, strict: bool) -> SpanPredicate:
    m = _PRED_RE.fullmatch(part)
    if not m:
        raise TraceQLError(f"unparsable predicate {part.strip()!r}")
    lhs, op, val = m.group("lhs"), m.group("op"), m.group("val")
    if strict and op != "=":
        raise TraceQLError(f"operator {op!r} not supported (equality only)")
    quoted = val.startswith('"')
    if quoted:
        val = re.sub(r"\\(.)", r"\1", val[1:-1])
    if lhs in ("traceDuration", "rootName", "rootServiceName"):
        # trace-LEVEL intrinsics (Tempo traceql.md): predicate on the
        # whole trace, not the span
        if strict:
            raise TraceQLError(f"{lhs} not supported (equality only)")
        if lhs == "traceDuration":
            if op in ("=~", "!~"):
                raise TraceQLError("traceDuration takes range/equality operators")
            return SpanPredicate("trace", lhs, _parse_duration_nanos(val), op)
        return SpanPredicate("trace", lhs, val, op)
    if lhs in INTRINSICS:
        if lhs == "duration":
            if strict:
                raise TraceQLError("duration matcher not supported (equality only)")
            if op in ("=~", "!~"):
                raise TraceQLError("duration takes range/equality operators")
            return SpanPredicate("intrinsic", "duration", _parse_duration_nanos(val), op)
        if lhs == "status" and op in ("=", "!="):
            norm = STATUS_MAP.get(val)
            if norm is None:
                raise TraceQLError(f"unknown status {val!r}")
            val = norm
        if lhs == "kind":
            # TraceQL spells kinds lowercase (kind = server); storage
            # keeps the OTLP enum names — equality uppercases, regex
            # matchers go case-insensitive
            if op in ("=", "!="):
                val = val.upper()
            elif op in ("=~", "!~"):
                val = f"(?i){val}"
        return SpanPredicate("intrinsic", lhs, val, op)
    if lhs.startswith("span."):
        scope, key = "span", lhs[5:]
    elif lhs.startswith("resource."):
        scope, key = "resource", lhs[9:]
    elif lhs.startswith("."):
        scope, key = "unscoped", lhs[1:]
    else:
        raise TraceQLError(f"unscoped attribute {lhs!r} needs a leading dot")
    if not quoted and op in (">", ">=", "<", "<="):
        try:
            return SpanPredicate(scope, key, float(val), op)
        except ValueError as e:
            raise TraceQLError(f"range matcher needs a numeric value: {val!r}") from e
    return SpanPredicate(scope, key, val, op)


def parse_traceql(
    q: str, strict: bool = False
) -> "list[SpanPredicate] | Disjunction":
    # ``||`` appears both BETWEEN spansets ({A} || {B}) and INSIDE one
    # ({ a = "b" || c = "d" }); both lower to the same DNF
    chunks = [c.strip() for c in _split_outside_quotes(q.strip(), "||")]
    if strict and len(chunks) > 1:
        raise TraceQLError("disjunction (||) not supported")
    groups: list[tuple[SpanPredicate, ...]] = []
    for chunk in chunks:
        if not (chunk.startswith("{") and chunk.endswith("}")):
            raise TraceQLError("TraceQL query must be wrapped in { }")
        body = chunk[1:-1].strip()
        if not body:
            groups.append(())  # empty spanset: matches everything
            continue
        inner = _split_outside_quotes(body, "||")
        if strict and len(inner) > 1:
            raise TraceQLError("disjunction (||) not supported")
        for g in inner:
            groups.append(
                tuple(
                    _parse_one(part, strict)
                    for part in _split_outside_quotes(g, "&&")
                )
            )
    if len(groups) == 1:
        return list(groups[0])
    return Disjunction(tuple(groups))


@dataclass(frozen=True)
class StructuralQuery:
    """``{left} OP {right}`` where OP is ``>`` (direct child), ``>>``
    (descendant), or ``~`` (sibling). Beyond-reference extension — the
    reference rejects multi-spanset queries (search_filter.rs:240-246);
    Tempo's TraceQL defines these."""

    op: str  # ">" | ">>" | "~"
    left: tuple[SpanPredicate, ...]
    right: tuple[SpanPredicate, ...]


_STRUCT_RE = re.compile(r"^(\{[^{}]*\})\s*(!?>>|!?>|!?~)\s*(\{[^{}]*\})$")


@dataclass(frozen=True)
class AggregateQuery:
    """``{preds} | agg(col) OP threshold`` — Tempo spanset aggregate
    filter (beyond-reference; lowered by structural.spanset_aggregate).
    ``agg_col`` is None for ``count()``."""

    preds: tuple[SpanPredicate, ...]
    agg: str  # count | sum | avg | min | max
    agg_col: str | None
    op: str  # > >= < <= = !=
    threshold: float


_AGG_RE = re.compile(
    r"^(\{[^{}]*\})\s*\|\s*(count|sum|avg|min|max)\(\s*([A-Za-z_][\w.]*)?\s*\)"
    r"\s*(>=|<=|!=|=|>|<)\s*(-?[0-9]+(?:\.[0-9]+)?(?:ns|us|µs|ms|s|m|h)?)$"
)


@dataclass(frozen=True)
class SelectQuery:
    """``{preds} | select(f1, f2, …)`` — Tempo's projection widener
    (traceql.md "select"): matched spans come back with the named
    fields as extra columns. Fields are scoped attribute refs
    (``span.x`` / ``resource.y`` / unscoped ``.z``) or intrinsics
    (``name``/``status``/``duration``/``kind``)."""

    preds: tuple[SpanPredicate, ...]
    fields: tuple[str, ...]


_SELECT_RE = re.compile(r"^(\{[^{}]*\})\s*\|\s*select\(\s*([^)]*?)\s*\)$")


def _conj(q: str) -> tuple[SpanPredicate, ...]:
    parsed = parse_traceql(q)
    if isinstance(parsed, Disjunction):
        raise TraceQLError("|| inside a structural/aggregate spanset is not supported")
    return tuple(parsed)


def parse_traceql_expr(
    q: str,
) -> "list[SpanPredicate] | Disjunction | StructuralQuery | AggregateQuery":
    """Full-expression entry point: a single spanset (delegates to
    :func:`parse_traceql` — widened grammar, or a Disjunction for
    top-level ``||``), one structural ``{A} OP {B}`` with OP in
    ``>``/``>>``/``~``, or one spanset aggregate filter
    ``{A} | agg(col) op n`` (``n`` a number or a duration such as
    ``1ms``)."""
    m = _STRUCT_RE.match(q.strip())
    if m is not None:
        return StructuralQuery(m.group(2), _conj(m.group(1)), _conj(m.group(3)))
    s = _SELECT_RE.match(q.strip())
    if s is not None:
        fields = tuple(
            f.strip() for f in s.group(2).split(",") if f.strip()
        )
        if not fields:
            raise TraceQLError("select() needs at least one field")
        return SelectQuery(_conj(s.group(1)), fields)
    a = _AGG_RE.match(q.strip())
    if a is not None:
        col = a.group(3)
        if col is not None and col.startswith("span."):
            col = col[len("span."):]
        return AggregateQuery(
            _conj(a.group(1)),
            a.group(2),
            col,
            a.group(4),
            # a unit-suffixed threshold (``avg(duration) > 1ms``) is a
            # duration, compared in nanoseconds like duration_nanos
            _parse_duration_nanos(v) if (v := a.group(5))[-1].isalpha()
            else float(v),
        )
    return parse_traceql(q)


def parse_tags(tags: str) -> list[SpanPredicate]:
    """Tempo logfmt ``tags`` parameter: ``key=value key2="v 2"``
    (parse_tags, search_filter.rs:184-232) — unscoped predicates."""
    preds: list[SpanPredicate] = []
    for m in re.finditer(r'([a-zA-Z_.][a-zA-Z0-9_.]*)=("(?:[^"\\]|\\.)*"|\S+)', tags):
        key, val = m.group(1), m.group(2)
        if val.startswith('"'):
            val = re.sub(r"\\(.)", r"\1", val[1:-1])
        preds.append(SpanPredicate("unscoped", key, val))
    return preds
