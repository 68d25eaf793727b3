"""Vector (series-matrix) binary operations and label/value transforms.

The reference evaluates every vector binary op post-collect with Rust
hash maps keyed on (bucket, label-set) (join_binary logs.rs:988-1015,
eval_binary metrics.rs:415-530). Here they are ordinary DataFrame
equi-joins on (bucket, *match_labels): Catalyst picks broadcast vs
sort-merge, AQE fixes skew, and nothing is driver-bound.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ieee_div(a, b):
    """PromQL (IEEE-754 float) division: x/0 is signed infinity, 0/0 is
    NaN. Spark's ``/`` under ANSI mode (on by default in Spark 4) would
    instead abort the whole query with DIVIDE_BY_ZERO on one zero
    sample; :func:`scalar_fold` implements exactly these semantics for
    two literals."""
    return F.when(b != 0, a / b).otherwise(
        F.when(a > 0, F.lit(float("inf")))
        .when(a < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))  # 0/0 and NaN/0
    )


def _go_mod(a, b):
    """Go math.Mod: truncated remainder, sign of the dividend; x % 0 is
    NaN (never ANSI's REMAINDER_BY_ZERO abort)."""
    return F.when(b != 0, a % b).otherwise(F.lit(float("nan")))


ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": _ieee_div,
    # Prometheus % is Go math.Mod: truncated remainder, sign of the
    # dividend (NOT pmod) — Spark's native % matches for b != 0
    "%": _go_mod,
    "^": lambda a, b: F.pow(a, b),
    # binary operator in PromQL grammar, same precedence tier as *
    "atan2": lambda a, b: F.atan2(a, b),
}


def _no_nan(a, b, cond):
    # PromQL/IEEE: every comparison with a NaN operand is FALSE except
    # != (which is true). Spark's SQL semantics instead make NaN equal
    # to itself and greater than every double — extra series would
    # survive filters Prometheus drops.
    return cond & ~F.isnan(a) & ~F.isnan(b)


COMPARE = {
    "==": lambda a, b: _no_nan(a, b, a == b),
    "!=": lambda a, b: (a != b) | F.isnan(a) | F.isnan(b),
    ">": lambda a, b: _no_nan(a, b, a > b),
    ">=": lambda a, b: _no_nan(a, b, a >= b),
    "<": lambda a, b: _no_nan(a, b, a < b),
    "<=": lambda a, b: _no_nan(a, b, a <= b),
}

# ``s CMP v`` with the literal on the left is ``v FLIP[CMP] s``
FLIP = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "==": "==", "!=": "!="}


def scalar_fold(op: str, l: float, r: float) -> float:
    """Fold ``literal OP literal`` with the PromQL/LogQL float semantics
    the column operators above implement."""
    if op == "/":
        # IEEE-754: x/0 is signed infinity, 0/0 is NaN (Python's
        # ZeroDivisionError is integer thinking)
        if r == 0:
            return math.nan if l == 0 else math.copysign(math.inf, l)
        return l / r
    if op == "^":
        # math.pow: negative base ^ fractional exponent is NaN, never a
        # Python complex (which F.lit cannot lower)
        try:
            return math.pow(l, r)
        except (ValueError, OverflowError):
            return math.nan
    return {
        "+": l + r, "-": l - r, "*": l * r,
        "%": math.fmod(l, r) if r else math.nan,
        "atan2": math.atan2(l, r),
    }[op]


def _ieee_log(logged, v):
    """Spark's log family returns NULL for non-positive input; IEEE (and
    Prometheus) define log(0) = -Inf and log(x<0) = NaN."""
    return (
        F.when(v > 0, logged)
        .when(v == 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    )


def _prep(
    left: DataFrame, right: DataFrame, on: list[str], extras: tuple = (),
    extras_side: str = "right",
):
    # extras ride whichever operand is the group-modifier "one" side:
    # group_left copies labels from the right operand (extras_side="right",
    # the default — left keeps its full many-side identity), group_right
    # mirrors it (extras_side="left" — right keeps full identity).
    if extras_side == "right":
        l = left.withColumnRenamed("value", "_lv")
        r = right.withColumnRenamed("value", "_rv").select(*on, *extras, "_rv")
    else:
        l = left.withColumnRenamed("value", "_lv").select(*on, *extras, "_lv")
        r = right.withColumnRenamed("value", "_rv")
    return l, r


def vector_arith(
    left: DataFrame, right: DataFrame, op: str, on: list[str], extras: tuple = (),
    extras_side: str = "right",
) -> DataFrame:
    """a OP b: inner-join on (bucket, labels); unmatched series dropped
    (join_binary, logs.rs:988-1015). ``on`` already includes 'bucket'.
    ``extras`` are group_left/right(lbl, …) columns copied from the one
    side onto result rows — they ride the join."""
    l, r = _prep(left, right, on, extras, extras_side)
    return l.join(r, on, "inner").withColumn("value", ARITH[op](F.col("_lv"), F.col("_rv"))).drop(
        "_lv", "_rv"
    )


def vector_compare(
    left: DataFrame, right: DataFrame, op: str, on: list[str],
    bool_mode: bool = False, extras: tuple = (), extras_side: str = "right",
) -> DataFrame:
    """a CMP b: filter left by comparison, or 1/0 with ``bool``
    (join_compare, logs.rs:1016-1046). ``extras`` as in vector_arith."""
    l, r = _prep(left, right, on, extras, extras_side)
    j = l.join(r, on, "inner")
    cond = COMPARE[op](F.col("_lv"), F.col("_rv"))
    if bool_mode:
        return j.withColumn("value", F.when(cond, 1.0).otherwise(0.0)).drop("_lv", "_rv")
    return j.filter(cond).withColumn("value", F.col("_lv")).drop("_lv", "_rv")


def vector_logical(left: DataFrame, right: DataFrame, op: str, on: list[str]) -> DataFrame:
    """and/or/unless set semantics; left values carried, never combined
    (join_logical, logs.rs:1050-1095)."""
    rkeys = right.select(*on).distinct()
    if op == "and":
        return left.join(rkeys, on, "left_semi")
    if op == "unless":
        return left.join(rkeys, on, "left_anti")
    if op == "or":
        lkeys = left.select(*on).distinct()
        return left.unionByName(right.join(lkeys, on, "left_anti"), allowMissingColumns=True)
    raise ValueError(op)


def scalar_arith(matrix: DataFrame, op: str, scalar: float, scalar_left: bool = False) -> DataFrame:
    """vector OP literal with operand order preserved (logs.rs:743-757)."""
    v = F.col("value")
    s = F.lit(float(scalar))
    expr = ARITH[op](s, v) if scalar_left else ARITH[op](v, s)
    return matrix.withColumn("value", expr)


def compare_scalar_filter(
    matrix: DataFrame, op: str, scalar: float, bool_mode: bool = False
) -> DataFrame:
    """vector CMP scalar: filter, or 1/0 with bool (metrics.rs:2513-2606)."""
    cond = COMPARE[op](F.col("value"), F.lit(float(scalar)))
    if bool_mode:
        return matrix.withColumn("value", F.when(cond, 1.0).otherwise(0.0))
    return matrix.filter(cond)


# ---------------------------------------------------------------------------
# PromQL ValueOps (apply_value_ops_expr, metrics.rs:2471-2543)

VALUE_OPS = {
    "abs": lambda v, a: F.abs(v),
    "ceil": lambda v, a: F.ceil(v).cast("double"),
    "floor": lambda v, a: F.floor(v).cast("double"),
    # round(v[, to_nearest]): second arg is a multiple, not a scale;
    # to_nearest <= 0 falls back to 1 (Prometheus defaults). Ties round
    # toward +Inf like Prometheus (floor(v/n + 0.5) * n): round(-2.5)
    # is -2, where Spark's F.round (half away from zero) says -3
    "round": lambda v, a: (
        F.floor(v / (n := (a[0] if a and a[0] and a[0] > 0 else 1)) + 0.5)
        .cast("double") * F.lit(float(n))
    ),
    "sqrt": lambda v, a: F.sqrt(v),
    "exp": lambda v, a: F.exp(v),
    # Prometheus/IEEE log semantics: log(0) = -Inf, log(x<0) = NaN —
    # Spark's log family returns NULL for both, silently vanishing the
    # sample from downstream aggregates
    "ln": lambda v, a: _ieee_log(F.log(v), v),
    "log2": lambda v, a: _ieee_log(F.log2(v), v),
    "log10": lambda v, a: _ieee_log(F.log10(v), v),
    "sgn": lambda v, a: F.signum(v),
    "clamp": lambda v, a: F.least(F.greatest(v, F.lit(a[0])), F.lit(a[1])),
    "clamp_min": lambda v, a: F.greatest(v, F.lit(a[0])),
    "clamp_max": lambda v, a: F.least(v, F.lit(a[0])),
    # trigonometric battery (Prometheus 2.31 "trig functions" set) —
    # all JVM-side, stay inside whole-stage codegen
    "sin": lambda v, a: F.sin(v),
    "cos": lambda v, a: F.cos(v),
    "tan": lambda v, a: F.tan(v),
    "asin": lambda v, a: F.asin(v),
    "acos": lambda v, a: F.acos(v),
    "atan": lambda v, a: F.atan(v),
    "sinh": lambda v, a: F.sinh(v),
    "cosh": lambda v, a: F.cosh(v),
    "tanh": lambda v, a: F.tanh(v),
    "asinh": lambda v, a: F.asinh(v),
    "acosh": lambda v, a: F.acosh(v),
    "atanh": lambda v, a: F.atanh(v),
    "deg": lambda v, a: F.degrees(v),
    "rad": lambda v, a: F.radians(v),
}


def apply_value_op(matrix: DataFrame, op: str, *args: float) -> DataFrame:
    return matrix.withColumn("value", VALUE_OPS[op](F.col("value"), list(args)))


# ---------------------------------------------------------------------------
# label ops (post-collect in the reference: logs.rs:1096-1188,
# metrics.rs:1813-1908 — column expressions here)


def label_replace(
    matrix: DataFrame, dst: str, replacement: str, src: str, regex: str
) -> DataFrame:
    """Anchored regex capture into a (possibly new) label column.

    ``replacement`` uses ``$1``-style captures (regexp_replace syntax).
    Non-matching rows keep the existing dst (or null); empty result
    deletes the label (null), per apply_label_replace.
    """
    anchored = f"^(?:{regex})$"
    # a missing label is the empty string (Prometheus): coalesce row
    # NULLs too, not just an absent column — label_replace(m, dst, 'd',
    # 'src', '.*') must set dst on series whose src value is null
    src_col = (
        F.coalesce(F.col(src), F.lit("")) if src in matrix.columns else F.lit("")
    )
    matched = src_col.rlike(anchored)
    replaced = F.regexp_replace(src_col, anchored, replacement)
    existing = F.col(dst) if dst in matrix.columns else F.lit(None).cast("string")
    new = F.when(matched & (replaced != ""), replaced).when(
        matched & (replaced == ""), F.lit(None)
    ).otherwise(existing)
    return matrix.withColumn(dst, new)


def label_join(matrix: DataFrame, dst: str, sep: str, srcs: list[str]) -> DataFrame:
    cols: list[Column] = [
        (F.col(s) if s in matrix.columns else F.lit("")) for s in srcs
    ]
    return matrix.withColumn(dst, F.concat_ws(sep, *[F.coalesce(c, F.lit("")) for c in cols]))
