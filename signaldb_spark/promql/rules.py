"""Prometheus recording rules: evaluate an expression on a schedule and
persist the result as a NEW metric series, queryable like any ingested
one. The reference has no rule engine at all; Prometheus semantics:
``record: <new_name>  expr: <promql>`` — the output keeps the grouping
labels of the expression and gets the recorded metric name.

Shape: one ``query_range`` evaluation (all the scale properties of the
query engine apply), one projection back into the at-rest gauge layout
(bucket → timestamp, series columns → label columns), one idempotent
manifest commit keyed by the rule's evaluation window — replaying an
evaluation is a no-op (the manifest's batch lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lowering import PromCtx, query_range


def evaluate_rule(
    ctx: PromCtx,
    expr: str,
    record_name: str,
    service_col: str = "service_name",
) -> DataFrame:
    """Evaluate ``expr`` over the ctx window and shape the matrix back
    into the metrics-gauge at-rest layout under ``record_name``: bucket
    becomes the sample timestamp (left edge — Prometheus stamps the
    evaluation instant; the bucket edge is the deterministic analog),
    the series column rides along, remaining labels pack into the
    attributes map."""
    out = query_range(ctx, expr)
    series_cols = [c for c in out.columns if c not in ("bucket", "value")]
    svc = (
        F.col(service_col) if service_col in out.columns else F.lit("recorded")
    )
    label_cols = [c for c in series_cols if c != service_col]
    attrs = (
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in label_cols]),
            F.array(*[F.col(c).cast("string") for c in label_cols]),
        )
        if label_cols
        else F.create_map().cast("map<string,string>")
    )
    ts = F.timestamp_seconds(F.col("bucket"))
    return out.select(
        ts.alias("timestamp"),
        svc.alias("service_name"),
        F.lit(record_name).alias("metric_name"),
        F.col("value").cast("double").alias("value"),
        attrs.alias("attributes"),
        F.to_date(ts).alias("date_day"),
        F.hour(ts).alias("hour"),
    )


def record_rule(
    ctx: PromCtx,
    expr: str,
    record_name: str,
    table_path: str,
    batch_id: str | None = None,
) -> None:
    """Evaluate + commit to a gauge table through the manifest, the
    layout every sink writes. ``batch_id`` defaults to the rule name +
    window, so re-evaluating the same window never appends duplicates.
    A bare parquet directory (``storage.manifest.bare_parquet_table``)
    raises ``ValueError``: a manifest committed over it would shadow its
    files. An empty directory holds nothing to shadow and commits."""
    import re

    from ..storage.manifest import bare_parquet_table, write_batch_manifest

    if bare_parquet_table(table_path):
        raise ValueError(
            f"record_rule: {table_path} is a bare parquet directory, not a "
            "manifest-committed table"
        )
    df = evaluate_rule(ctx, expr, record_name)
    bid = batch_id or re.sub(
        r"[^A-Za-z0-9_.-]", "-", f"rule-{record_name}-{ctx.start}-{ctx.end}"
    )
    write_batch_manifest(df, table_path, "metrics_gauge", batch_id=bid)


def alert_rule(ctx: PromCtx, expr: str, for_seconds: float = 0.0) -> DataFrame:
    """Batch alert-rule evaluation (``alert:``/``expr:``/``for:``): the
    expression's result vector marks a series PENDING wherever present;
    it turns FIRING once present for ``for`` consecutive steps. The
    consecutive-run length comes from the bucket − rank·step constancy
    trick — one window pass, no self-join. (The STREAMING for-state
    alert lives in streaming.sessions; this is the rule-file batch
    evaluation over history that Grafana backtesting uses.)"""
    from pyspark.sql import Window

    import math

    m = query_range(ctx, expr)
    series = [c for c in m.columns if c not in ("bucket", "value")]
    # firing once the condition has HELD for `for` seconds: n buckets
    # span (n-1)·step, so n = ceil(for/step) + 1 (floor under-counts
    # whenever `for` is not a step multiple)
    need = math.ceil(for_seconds / ctx.step_seconds) + 1
    w = Window.partitionBy(*series).orderBy("bucket")
    run_key = F.col("bucket") - F.row_number().over(w) * F.lit(ctx.step_seconds)
    with_run = m.withColumn("_rk", run_key)
    w2 = Window.partitionBy(*series, "_rk").orderBy("bucket")
    return (
        with_run.withColumn("_n", F.row_number().over(w2))
        .withColumn(
            "alertstate",
            F.when(F.col("_n") >= need, F.lit("firing")).otherwise(F.lit("pending")),
        )
        .drop("_rk", "_n")
    )


def evaluate_rule_group(
    spark,
    base: str,
    group: dict,
    start,
    end,
    step_seconds: int,
    tenant: str = "acme",
    dataset: str = "prod",
) -> dict:
    """Prometheus rule-GROUP semantics: rules evaluate sequentially and
    later rules see earlier recordings (the in-group ordering guarantee
    rule files rely on — a `record:` feeding the next rule's `expr:`).
    Each rule re-resolves the tenant tables so freshly recorded series
    are visible. Returns {"recorded": [names], "alerts": {name: df}}."""
    from ..catalog import optional_table, signal_table_path
    from ..logql.lexer import parse_duration

    recorded: list[str] = []
    alerts: dict[str, DataFrame] = {}
    for rule in group.get("rules", []):
        t = lambda n: optional_table(spark, base, tenant, dataset, n)  # noqa: E731
        ctx = PromCtx(
            spark, t("metrics_gauge"), t("metrics_sum"), t("metrics_histogram"),
            start, end, step_seconds, tenant=tenant, dataset=dataset,
            exphist=t("metrics_exponential_histogram"),
        )
        if "record" in rule:
            record_rule(
                ctx, rule["expr"], rule["record"],
                signal_table_path(base, tenant, dataset, "metrics_gauge"),
            )
            recorded.append(rule["record"])
        elif "alert" in rule:
            for_s = parse_duration(rule["for"]) if rule.get("for") else 0.0
            alerts[rule["alert"]] = alert_rule(ctx, rule["expr"], for_seconds=for_s)
        else:
            raise ValueError(f"rule needs 'record' or 'alert': {rule}")
    return {"recorded": recorded, "alerts": alerts}
