"""Structured Streaming ingest: the WAL→writer→Iceberg pipeline of the
reference collapsed onto Spark's own machinery.

Reference path (docs/architecture/overview.md:127-148): OTLP → acceptor
WAL → writer transform → writer WAL → 5s drain → coalesced Iceberg
commit. In Spark, checkpointing + ``foreachBatch`` replaces BOTH WALs
(exactly-once via the streaming checkpoint + idempotent append), the
trigger interval IS the commit coalescing, ``withWatermark`` is the
``partition_lateness`` gate, and ``processAllAvailable`` / availableNow
gives read-your-writes (the Flight ``do_action("flush")`` analog).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import signal_table_path
from ..sources.otlp import OTLP_LOGS_SCHEMA, flatten_otlp_logs, with_dead_letter_flag
from ..storage.manifest import write_batch_manifest

# the binaryFile source's columns: one wire body per file
_WIRE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def dead_letter_path(base: str, tenant: str, dataset: str, signal: str) -> str:
    return os.path.join(base, tenant, dataset, "dead_letter", signal)


def write_dead_letters(
    dead: DataFrame, base: str, tenant: str, dataset: str, signal: str,
    batch_id: int, reason: str = "undecodable payload",
    payload_col: str = "value",
) -> None:
    """Preserve undecodable payloads verbatim with a reason instead of
    wedging or silently dropping the batch — the WAL dead-letter
    directory analog (src/common/src/wal/mod.rs:806 `dead_letter`:
    raw bytes preserved, entry marked processed). Written per-batch
    with mode=overwrite so an at-least-once replay of the same batch
    cannot duplicate entries."""
    out = dead.select(
        F.col(payload_col).alias("payload"),
        F.lit(reason).alias("reason"),
        F.lit(batch_id).alias("batch_id"),
    )
    out.write.mode("overwrite").parquet(
        os.path.join(dead_letter_path(base, tenant, dataset, signal), f"batch-{batch_id}")
    )


def required_violation(df: DataFrame, table: str) -> Column | None:
    """The predicate a row of ``df`` fails when a NON-NULLABLE column of
    the table's at-rest schema is null, or None when the table declares
    no required columns (or none are present in the frame).

    A batch that decodes fine but violates a required column — the
    issue-#1060 poison, a metrics_sum datapoint with a null value — is a
    DETERMINISTIC writer refusal: retrying cannot help, and letting it
    fail the whole drain would shadow every batch queued behind it. The
    violating rows go to the dead-letter sink; everything else
    commits."""
    from functools import reduce

    from ..schemas.signal_schemas import SCHEMAS

    schema = SCHEMAS.get(table)
    if schema is None:
        return None
    required = [f.name for f in schema.fields
                if not f.nullable and f.name in df.columns]
    if not required:
        return None
    return reduce(lambda a, b: a | b, [F.col(c).isNull() for c in required])


def _observed_or_probed(obs: Observation, fired: bool, rows: DataFrame) -> int:
    """The observed row count when the write carrying ``obs`` ran, else
    an explicit probe of ``rows`` (0 or 1). A write skipped as an
    already-committed replay runs no job, so its observation never
    fires and ``Observation.get`` would wait forever."""
    return obs.get["n"] if fired else rows.limit(1).count()


def _write_table(df: DataFrame, base: str, tenant: str, dataset: str,
                 table: str, batch_id: int) -> bool:
    """Commit one table of a batch through the manifest; rows violating
    its required columns go to the table's dead-letter sink instead.
    Returns whether the table write ran (False: an already-committed
    replay)."""
    table_path = signal_table_path(base, tenant, dataset, table)
    violated = required_violation(df, table)
    if violated is None:
        return write_batch_manifest(df, table_path, table, batch_id=batch_id)
    obs = Observation()
    ok = df.observe(obs, F.count_if(violated).alias("n")).filter(~violated)
    wrote = write_batch_manifest(ok, table_path, table, batch_id=batch_id)
    bad = df.filter(violated)
    if _observed_or_probed(obs, wrote, bad):
        write_dead_letters(
            bad.select(F.to_json(F.struct("*")).alias("value")),
            base, tenant, dataset, table, batch_id,
            reason="required column is null",
        )
    return wrote


def _commit_batch(
    decoded: DataFrame, dead: Column, payload: Column, route,
    base: str, tenant: str, dataset: str, signal: str, batch_id: int,
) -> None:
    """The commit every ``foreachBatch`` sink shares. ``decoded`` is the
    micro-batch with its undecodable rows marked by ``dead``;
    ``route(good, hold)`` maps the decodable rows to ``{table: frame}``
    and may ``hold`` (persist until the batch is done) a shared parse so
    a multi-table fan-out decodes once. Every table commits under the
    batch id, then undecodable payloads (``payload``, kept verbatim) go
    to the signal's dead-letter sink.

    No probe jobs: the counts that decide whether a dead-letter sink is
    written are observed metrics of the table writes themselves
    (``DataFrame.observe`` — the per-batch observed metrics of
    Structured Streaming), so a clean batch costs one Spark job per
    table write. The undecodable count is observed below the fan-out,
    so it is trusted only when EVERY table write ran: when one was
    skipped as a replay, an earlier action (a required-column probe) may
    have fired it over part of the batch, so it is probed instead.
    Dead letters are per-batch overwrites, so a replay leaves each sink
    holding its rows exactly once."""
    dead_obs = Observation()
    good = decoded.observe(dead_obs, F.count_if(dead).alias("n")).filter(~dead)
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    try:
        wrote = [
            _write_table(df, base, tenant, dataset, table, batch_id)
            for table, df in route(good, hold).items()
        ]
        undecodable = decoded.filter(dead)
        if _observed_or_probed(dead_obs, bool(wrote) and all(wrote), undecodable):
            write_dead_letters(
                undecodable.select(payload.alias("value")),
                base, tenant, dataset, signal, batch_id,
            )
    finally:
        # unpersist on ALL exits: an exception mid-write otherwise pins
        # the cached blocks, and at-least-once retries stack a fresh
        # leaked copy per attempt
        for df in held:
            df.unpersist()


def read_dead_letters(
    spark: SparkSession, base: str, tenant: str, dataset: str, signal: str
) -> DataFrame | None:
    path = dead_letter_path(base, tenant, dataset, signal)
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(os.path.join(path, "batch-*"))


def _charge_ingest(rate_limiter, tenant: str, batch_df: DataFrame, size_col) -> None:
    """Charge a micro-batch against the tenant's ingest rate budgets
    BEFORE any decode/commit work — each source payload is one acceptor
    request (k files in a batch = k requests, charged atomically) plus
    its payload bytes, mirroring the reference's per-HTTP-body check
    (src/acceptor/src/handler/prometheus_handler.rs:119-124). A
    rejection raises :class:`..ratelimit.RateLimitExceeded` out of
    foreachBatch, so the checkpoint does NOT advance and the batch
    retries later — the 429-and-retry contract remote_write clients
    already implement.

    The charge is clamped to bucket capacity (``clamp_to_capacity``):
    unlike the reference's external HTTP clients — which chunk bodies,
    so a single request never exceeds ``rate × burst`` — our file
    source re-presents the IDENTICAL batch on every retry, so a batch
    priced above capacity would otherwise 429-loop forever and wedge
    the checkpoint. Clamping means an oversized batch waits for a full
    bucket, drains it completely, and commits — drain liveness is
    preserved and the long-run rate still converges to the configured
    limit. Size ``burst_seconds`` so ``rate × burst ≥`` the max batch
    cost (requests: ≥ maxFilesPerTrigger=16) to keep the clamp
    inactive in normal operation."""
    if rate_limiter is None:
        return
    stats = batch_df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(size_col).alias("b")
    ).first()
    n = int(stats["n"] or 0)
    if n:
        rate_limiter.check_ingest(tenant, int(stats["b"] or 0), requests=n,
                                  clamp_to_capacity=True)


def _wire_decoded(batch_df: DataFrame, parse) -> DataFrame:
    """Decode each wire body of a binaryFile batch with ``parse``
    (bytes → JSON string) in a Python worker. A body ``parse`` rejects
    keeps its hex in ``_dead_payload`` (``value`` null) instead of
    failing the batch."""

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            vals, dead = [], []
            for p in pdf["content"]:
                try:
                    vals.append(parse(bytes(p)))
                except Exception:
                    dead.append(bytes(p).hex())
            yield pd.DataFrame(
                {
                    "value": vals + [None] * len(dead),
                    "_dead_payload": [None] * len(vals) + dead,
                }
            )

    return batch_df.select("content").mapInPandas(
        decode, "value string, _dead_payload string"
    )


def _ingest(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str,
    dataset: str,
    signal: str,
    route,
    checkpoint_dir: str | None,
    available_now: bool,
    rate_limiter=None,
    usage_tracker=None,
    schema=None,
    parse=None,
    stream: str | None = None,
):
    """The driver behind every ingest entry point: a file stream of at
    most 16 files per trigger whose ``foreachBatch`` sink charges the
    tenant's budgets, splits undecodable payloads off and commits
    ``route(good, hold)`` through :func:`_commit_batch`, dead-lettering
    under ``signal``.

    A text source holds OTLP/JSON lines checked against ``schema``; with
    ``parse`` the source is binary, one wire body per file, decoded by
    :func:`_wire_decoded`. The checkpoint defaults to
    ``base/_checkpoints/tenant/dataset/<stream or signal>``.
    ``available_now=True`` drains everything then stops (read-your-writes
    for tests / batch backfill); ``False`` runs continuous micro-batches
    (the 5s WAL drain analog)."""
    checkpoint = checkpoint_dir or os.path.join(
        base, "_checkpoints", tenant, dataset, stream or signal
    )
    wire = parse is not None
    reader = spark.readStream.format("binaryFile" if wire else "text")
    if wire:
        from ..shipping import ensure_package_on_workers

        ensure_package_on_workers(spark)
        reader = reader.schema(_WIRE_SCHEMA)
    raw = reader.option("maxFilesPerTrigger", "16").load(source_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # rate limit first (ratelimit.rs order: 429 rate before 429
        # quota); wire bodies charge their on-the-wire length (the
        # binaryFile `length` column) before the decode spends any
        # executor work
        size = F.col("length") if wire else F.octet_length("value")
        _charge_ingest(rate_limiter, tenant, batch_df, size)
        if usage_tracker is not None:
            usage_tracker.check_ingest(tenant)  # raises StorageQuotaExceeded
        # split poison payloads off the batch BEFORE flattening: the raw
        # payload is preserved in the dead-letter sink and the batch
        # itself is marked processed by the checkpoint — one bad payload
        # cannot wedge the drain loop (processor.rs:125-127 semantics).
        # Both source kinds share the commit and its required-column
        # dead-lettering: bad rows must not differ by ingest path.
        if wire:
            decoded = _wire_decoded(batch_df, parse)
            dead, payload = F.col("_dead_payload").isNotNull(), F.col("_dead_payload")
        else:
            decoded = with_dead_letter_flag(batch_df, schema)
            dead, payload = F.col("_dead"), F.col("value")
        _commit_batch(decoded, dead, payload, route,
                      base, tenant, dataset, signal, batch_id)

    writer = raw.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="5 seconds").start()


def ingest_otlp_logs_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    usage_tracker=None,
    rate_limiter=None,
):
    """File-source OTLP/JSON ingest → hour-partitioned logs table.
    (No watermark parameter: ``withWatermark`` is a no-op inside
    foreachBatch — event-time lateness gating lives in the maintenance
    partition-close check, ``is_partition_closed``.)

    ``usage_tracker`` (a :class:`..storage.quota.StorageUsageTracker`)
    gates each micro-batch on the tenant's ``max_storage_bytes`` quota —
    the acceptor-side rejection of storage_usage.rs (issue #610).
    Enforcement is eventually consistent by design: the tracker's cached
    usage decides, never a hot-path recount.

    ``available_now=True`` drains everything then stops (read-your-writes
    for tests / batch backfill); ``False`` runs continuous micro-batches
    (the 5s WAL drain analog is the default trigger).

    Every micro-batch commits through the snapshot-manifest protocol
    (storage.write_batch_manifest), the semantics the reference gets
    from Iceberg (storage-layout.md:45-96): readers see atomic
    snapshots, a replay that produces a different file count stays
    idempotent, and a crashed attempt's files are orphans for
    maintenance.cleanup_orphans."""
    return _ingest(
        spark, source_dir, base, tenant, dataset, "logs",
        lambda good, _hold: {"logs": flatten_otlp_logs(good, json_col="value")},
        checkpoint_dir, available_now, rate_limiter=rate_limiter,
        usage_tracker=usage_tracker, schema=OTLP_LOGS_SCHEMA,
    )


def live_severity_counts(
    spark: SparkSession, source_dir: str, window: str = "1 minute", watermark: str = "10 minutes"
):
    """Live windowed aggregation over the ingest stream — the capability
    the reference explicitly lacks (live tail, overview.md:247): a
    watermarked tumbling-window count per (service, severity)."""
    raw = spark.readStream.format("text").load(source_dir)
    flat = flatten_otlp_logs(raw, json_col="value")
    return (
        flat.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window), "service_name", "severity_text")
        .count()
    )


def deduped_stream(
    df: DataFrame,
    id_cols: list[str],
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-by-key dedup for at-least-once upstreams.

    The reference's WAL replay re-delivers whole entries and relies on
    batch-idempotent writes
    (tests-integration/tests/writer/wal_replay_idempotency.rs); that
    dedupes a replayed BATCH but not a re-sent RECORD (an OTLP client
    retry after a partial ack). This drops any record whose ``id_cols``
    were already seen within the event-time watermark using Spark's
    per-key state store: state is evicted past the watermark, so memory
    is bounded by (keys arriving per watermark window), not stream
    history — the property that keeps it viable at 100 TB/day.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "timestamp",
    right_ts: str = "r_timestamp",
    before_seconds: int = 300,
    after_seconds: int = 0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on keys within an event-time interval:
    right.ts ∈ [left.ts - before, left.ts + after].

    Both sides carry watermarks and the join condition bounds the two
    event times against each other — exactly the shape Spark requires to
    EXPIRE join state: each side's buffered rows are dropped once the
    other side's watermark passes the interval bound, so state is
    bounded by (arrival rate × (watermark + interval)), never by stream
    history. Right-side columns must already be disambiguated (no shared
    names besides ``key_cols``).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = None
    for k in key_cols:
        c = l[k] == r[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {before_seconds} SECONDS"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {after_seconds} SECONDS"))
    )
    joined = l.join(r, cond, "inner")
    for k in key_cols:
        joined = joined.drop(r[k])
    return joined


def ingest_otlp_traces_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    rate_limiter=None,
):
    """File-source OTLP/JSON trace ingest → hour-partitioned traces
    table — the span half of the acceptor→writer pipeline
    (overview.md:127-148), same manifest-committed exactly-once sink as
    the logs stream."""
    from ..sources.otlp import OTLP_TRACES_SCHEMA, flatten_otlp_traces

    return _ingest(
        spark, source_dir, base, tenant, dataset, "traces",
        lambda good, _hold: {"traces": flatten_otlp_traces(good, json_col="value")},
        checkpoint_dir, available_now, rate_limiter=rate_limiter,
        schema=OTLP_TRACES_SCHEMA,
    )


def ingest_otlp_metrics_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    rate_limiter=None,
):
    """File-source OTLP/JSON metrics ingest: one stream, per-type
    routing inside the batch — gauge/sum/histogram/exp-histogram/summary
    datapoints land in their own hour-partitioned tables in the SAME
    micro-batch (conversion_metrics target_table routing,
    src/writer/src/conversion_metrics.rs), every table committed through
    the manifest protocol under one batch id so a replay is a no-op on
    all of them."""
    from ..sources.otlp import OTLP_METRICS_SCHEMA, metric_base, route_metric_base

    # parse ONCE per batch: the five-kind routing fans out to five
    # table writes, and without the held base each write would re-run
    # from_json over the whole batch — at ingest scale a 5x decode tax
    # (sources/otlp.py metric_base). Null required columns (a poison
    # datapoint) dead-letter per table.
    return _ingest(
        spark, source_dir, base, tenant, dataset, "metrics",
        lambda good, hold: route_metric_base(hold(metric_base(good, "value"))),
        checkpoint_dir, available_now, rate_limiter=rate_limiter,
        schema=OTLP_METRICS_SCHEMA,
    )


def ingest_otlp_traces_pb_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    rate_limiter=None,
):
    """OTLP *protobuf* trace ingest — see :func:`ingest_otlp_pb_stream`
    (this is the signal="traces" form, kept as the named entry point)."""
    return ingest_otlp_pb_stream(
        spark, source_dir, base, "traces", tenant=tenant, dataset=dataset,
        checkpoint_dir=checkpoint_dir, available_now=available_now,
        rate_limiter=rate_limiter,
    )


def ingest_otlp_pb_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    signal: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    rate_limiter=None,
):
    """Generic OTLP protobuf ingest: binaryFile stream of wire bodies →
    pure-Python decode → JVM flatten → manifest commit, for any signal.
    ``signal`` ∈ traces / logs / metrics; metrics route all five
    datapoint kinds to their own tables inside the SAME micro-batch,
    every table committed under one batch id (a replay no-ops on all)."""
    import json

    from ..sources import otlp, otlp_pb

    parse_fn = {
        "traces": otlp_pb.parse_trace_request,
        "logs": otlp_pb.parse_logs_request,
        "metrics": otlp_pb.parse_metrics_request,
    }[signal]

    def route(good: DataFrame, hold) -> dict[str, DataFrame]:
        if signal == "traces":
            return {"traces": otlp.flatten_otlp_traces(good, json_col="value")}
        if signal == "logs":
            return {"logs": otlp.flatten_otlp_logs(good, json_col="value")}
        # parse once per batch — the five-table fan-out must not re-run
        # from_json (and here the Python wire decode under it) five times
        return otlp.route_metric_base(hold(otlp.metric_base(good, "value")))

    return _ingest(
        spark, source_dir, base, tenant, dataset, signal, route,
        checkpoint_dir, available_now, rate_limiter=rate_limiter,
        parse=lambda body: json.dumps(parse_fn(body)), stream=f"{signal}_pb",
    )


def ingest_remote_write_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    tenant: str = "acme",
    dataset: str = "prod",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    rate_limiter=None,
):
    """Prometheus remote_write ingest: binaryFile stream of
    snappy+protobuf WriteRequest bodies (the POST /api/v1/write payload,
    acceptor prometheus_handler.rs) → pure-Python wire decode → JVM
    flatten → manifest commit. Float samples route to gauge/sum by the
    counter-suffix heuristic; native histograms (Prometheus ≥2.40) land
    in metrics_exponential_histogram — all tables committed under ONE
    batch id, so a replay no-ops on all of them. Corrupt payloads
    dead-letter instead of poisoning the stream."""
    from ..sources import remote_write as rw

    # the held decode feeds every routed table: the Python wire decode
    # runs once per batch, not once per table write
    return _ingest(
        spark, source_dir, base, tenant, dataset, "remote_write",
        lambda good, hold: rw.flatten_remote_write(hold(good)),
        checkpoint_dir, available_now, rate_limiter=rate_limiter,
        parse=rw.decode_snappy_protobuf,
    )


def deduplicated_log_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
):
    """OTLP log stream with re-sent records dropped (see
    :func:`deduped_stream` for the state-bounding argument). The record
    identity is the FULL row: time, stream, trace/span correlation,
    severity, body, and a JSON rendering of the attribute map (maps
    cannot key a dedup directly; a verbatim re-send renders its
    attributes identically) — two genuinely distinct records that share
    a body do NOT collapse.

    Returns the unstarted deduplicated streaming DataFrame; compose
    with any sink (the ingest writers, memory for tests)."""
    from ..sources.otlp import flatten_otlp_logs

    raw = spark.readStream.format("text").load(source_dir)
    df = flatten_otlp_logs(raw, json_col="value").withColumn(
        "_attr_sig", F.to_json("log_attributes")
    )
    out = deduped_stream(
        df,
        ["timestamp", "service_name", "trace_id", "span_id",
         "severity_text", "body", "_attr_sig"],
        watermark=watermark,
    )
    return out.drop("_attr_sig")


def tail_logs(
    spark: SparkSession,
    source_dir: str,
    query: str = '{service_name=~".+"}',
):
    """Loki ``/loki/api/v1/tail`` analog — LIVE tail of the ingest
    stream with the full LogQL selector pipeline applied (matchers,
    line filters, parser-stage label filters). The reference explicitly
    lacks live tail (overview.md:247); here the same filter expressions
    the batch path lowers run unchanged on the streaming DataFrame —
    one definition of the selector semantics for both.

    Returns an unstarted streaming DataFrame; callers pick the sink
    (memory for tests, console/websocket push for a UI)."""
    from ..logql.lowering import (
        label_filter_expr,
        line_filter_expr,
        matcher_expr,
    )
    from ..logql.parser import parse as logql_parse
    from ..sources.otlp import flatten_otlp_logs

    sel = logql_parse(query)
    if not hasattr(sel, "matchers"):
        # a metric expression parsed — tail streams log LINES only
        raise ValueError(
            f"tail takes a log selector, not a metric query: {query!r}"
        )
    raw = spark.readStream.format("text").load(source_dir)
    df = flatten_otlp_logs(raw, json_col="value")
    for m in sel.matchers:
        df = df.filter(matcher_expr(df, sel, m))
    for lf in sel.line_filters:
        df = df.filter(line_filter_expr(lf))
    for lf in sel.label_filters:
        df = df.filter(label_filter_expr(df, sel, lf))
    # output/transform stages (line_format, decolorize, unpack,
    # drop/keep) execute exactly like the batch path — tail output for
    # a pipeline must match query output for the same expression.
    # `| distinct` needs a global window, which a live stream cannot
    # provide — reject it loudly instead of an obscure planner error.
    from ..logql.lowering import _apply_output_stages

    if any(s.name == "distinct" and s.arg for s in sel.stages):
        raise ValueError("'| distinct' is not supported on a live tail")
    df = _apply_output_stages(df, sel)
    return df.select(
        "timestamp", "service_name", "severity_text", "body", "log_attributes"
    )
