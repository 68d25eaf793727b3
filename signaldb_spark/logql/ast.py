"""LogQL AST — engine-neutral plan dataclasses.

Semantics-equivalent to the reference's AST (src/logql/src/ast.rs,
metric.rs) but designed fresh for the Spark lowering: the parser
produces these and ``signaldb_spark.logql.lowering`` turns them into
DataFrames. Parser stages that the reference accepts-but-ignores
(logql.rs:107-128) are recorded as ``ParserStage`` nodes so behavior
parity tests can target them; `json`/`logfmt` are actually executed in
our lowering (an upgrade noted in SURVEY §2.10).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Matcher:
    label: str
    op: str  # = != =~ !~
    value: str


@dataclass(frozen=True)
class LineFilter:
    op: str  # |= != |~ !~
    value: str
    is_ip: bool = False  # |= ip("cidr|range|addr") — Loki ip() matcher


@dataclass(frozen=True)
class ParserStage:
    name: str  # json logfmt regexp pattern unpack decolorize line_format label_format drop keep distinct
    arg: str | None = None


@dataclass(frozen=True)
class LabelFilter:
    label: str
    op: str  # = == != > >= < <= =~ !~
    value: str | float
    unit: str | None = None  # duration/bytes literals normalized by parser
    is_ip: bool = False  # | addr = ip("cidr|range|addr")


@dataclass(frozen=True)
class LogSelector:
    matchers: tuple[Matcher, ...]
    line_filters: tuple[LineFilter, ...] = ()
    stages: tuple[ParserStage, ...] = ()
    label_filters: tuple[LabelFilter, ...] = ()
    unwrap: str | None = None
    # Loki unwrap conversion functions: `| unwrap duration(lbl)` /
    # `bytes(lbl)` parse the label's "1.5s"/"3MiB"-style value instead
    # of a bare float cast
    unwrap_fn: str | None = None  # None | "duration" | "duration_seconds" | "bytes"


@dataclass(frozen=True)
class RangeAgg:
    """<fn>_over_time({sel}[range]) — fn in count/rate/bytes/bytes_rate/
    sum/avg/min/max/first/last/stddev/stdvar/quantile/absent_over_time."""

    fn: str
    selector: LogSelector
    range_seconds: float
    param: float | None = None  # quantile φ
    offset_seconds: float = 0.0  # `[5m] offset 1h` — evaluate shifted back


@dataclass(frozen=True)
class VectorAgg:
    """sum/avg/min/max/count/stddev/stdvar/topk/bottomk/sort/sort_desc
    by/without (...) (expr)."""

    op: str
    expr: "MetricExpr"
    grouping: tuple[str, ...] = ()
    without: bool = False
    param: float | None = None  # k for topk/bottomk


@dataclass(frozen=True)
class BinOp:
    op: str  # + - * / % ^ == != > >= < <= and or unless
    lhs: "MetricExpr"
    rhs: "MetricExpr"
    bool_mode: bool = False
    on: tuple[str, ...] | None = None  # None = full label match
    ignoring: tuple[str, ...] | None = None
    group_side: str | None = None  # "left"/"right": many-to-one matching


@dataclass(frozen=True)
class Scalar:
    value: float


@dataclass(frozen=True)
class VectorLit:
    """vector(N) — constant series over the bucket spine."""

    value: float


@dataclass(frozen=True)
class LabelReplace:
    expr: "MetricExpr"
    dst: str
    replacement: str
    src: str
    regex: str


MetricExpr = RangeAgg | VectorAgg | BinOp | Scalar | VectorLit | LabelReplace
Query = LogSelector | MetricExpr
