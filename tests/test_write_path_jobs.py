"""Write-path job budget: between landing a batch and reading it back the
engine runs no Spark job beyond the table writes and the query itself,
and a query over small inputs runs as one job.

The sinks fold their dead-letter and required-column probes into the
write job (``DataFrame.observe``), and the manifest records the written
schema, so a session refresh or a relation build infers nothing from
parquet footers. These tests pin the job counts and the fallbacks that
keep the budget safe: a replayed batch, whose write is skipped and whose
observation therefore never fires, must neither block nor lose or
duplicate a dead letter.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import threading

import pytest

from signaldb_spark import catalog
from signaldb_spark.catalog import optional_table, signal_table_path
from signaldb_spark.logql.lowering import LowerCtx, query_metric
from signaldb_spark.schemas.signal_schemas import LOGS
from signaldb_spark.storage.manifest import (
    SMALL_SCAN_BYTES,
    ManifestTable,
    compact_partition_manifest,
    write_batch_manifest,
)
from signaldb_spark.streaming.ingest import (
    ingest_otlp_logs_stream,
    ingest_otlp_metrics_stream,
    ingest_otlp_pb_stream,
    ingest_otlp_traces_stream,
    ingest_remote_write_stream,
    read_dead_letters,
)
from signaldb_spark.tenancy import TenantSession
from signaldb_spark.testing import gen_logs, write_signal_tables
from signaldb_spark.traceql.trace_ops import search_traceql

T0 = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)
METRIC_TABLES = (
    "metrics_gauge", "metrics_sum", "metrics_histogram",
    "metrics_exponential_histogram", "metrics_summary",
)


def _kv(k, v):
    return {"key": k, "value": {"stringValue": v}}


def _resource(service):
    return {"attributes": [_kv("service.name", service)]}


def _logs_payload(n):
    return json.dumps({"resourceLogs": [{
        "resource": _resource("api"),
        "scopeLogs": [{"scope": {"name": "t"}, "logRecords": [
            {"timeUnixNano": str(T0 + i * 60_000_000_000),
             "observedTimeUnixNano": str(T0 + i * 60_000_000_000),
             "severityText": "info", "body": {"stringValue": f"req {i}"},
             "attributes": [_kv("idx", str(i))],
             "traceId": "ab" * 16, "spanId": "cd" * 8}
            for i in range(n)
        ]}],
    }]})


def _traces_payload(n):
    return json.dumps({"resourceSpans": [{
        "resource": _resource("api"),
        "scopeSpans": [{"scope": {"name": "t"}, "spans": [
            {"traceId": f"{i:032x}", "spanId": f"{i:016x}", "name": f"op{i}",
             "kind": 2, "startTimeUnixNano": str(T0 + i * 1_000_000),
             "endTimeUnixNano": str(T0 + i * 1_000_000 + 500_000),
             "status": {"code": 1}, "attributes": [_kv("k", "v")]}
            for i in range(n)
        ]}],
    }]})


def _metrics_payload(poison: bool = False):
    """One datapoint of every kind (two sums); ``poison`` drops the
    value of the second sum, a null in a required column."""
    ts = str(T0)
    second = {"timeUnixNano": str(T0 + 10_000_000_000), "attributes": []}
    if not poison:
        second["asInt"] = "7"
    return json.dumps({"resourceMetrics": [{
        "resource": _resource("api"),
        "scopeMetrics": [{"metrics": [
            {"name": "cpu", "unit": "1", "gauge": {"dataPoints": [
                {"timeUnixNano": ts, "asDouble": 0.5, "attributes": []}]}},
            {"name": "reqs", "unit": "1", "sum": {
                "dataPoints": [
                    {"timeUnixNano": ts, "asInt": "42", "attributes": []}, second],
                "aggregationTemporality": 2, "isMonotonic": True}},
            {"name": "lat", "histogram": {"dataPoints": [
                {"timeUnixNano": ts, "count": "10", "sum": 123.0,
                 "bucketCounts": ["2", "6", "2"], "explicitBounds": [10.0, 20.0],
                 "attributes": []}], "aggregationTemporality": 2}},
            {"name": "lat_exp", "exponentialHistogram": {"dataPoints": [
                {"timeUnixNano": ts, "count": "7", "sum": 70.0, "scale": 2,
                 "zeroCount": "1",
                 "positive": {"offset": 3, "bucketCounts": ["1", "2", "3"]},
                 "negative": {"offset": 0, "bucketCounts": []},
                 "attributes": []}], "aggregationTemporality": 2}},
            {"name": "rpc_lat", "summary": {"dataPoints": [
                {"timeUnixNano": ts, "count": "100", "sum": 250.0,
                 "quantileValues": [{"quantile": 0.5, "value": 2.0}],
                 "attributes": []}]}},
        ]}],
    }]})


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    # the status tracker learns of jobs through the asynchronous
    # listener bus: let it catch up before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _job_group(spark, name):
    """Run the block under job group ``name``; yields a job counter."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: _jobs_in_group(spark, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _drain_jobs(spark, query) -> int:
    """Jobs a streaming drain ran: micro-batch jobs carry the run id as
    their job group."""
    return _jobs_in_group(spark, str(query.runId))


def _drain(fn, *args, **kwargs):
    """Run a drain with a deadline: a foreachBatch blocked on an
    observation that never fired would hang the whole suite."""
    out = {}

    def run():
        try:
            out["q"] = fn(*args, **kwargs)
        except BaseException as e:  # surfaced below
            out["err"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(240)
    if t.is_alive():
        for q in args[0].streams.active:
            q.stop()
        pytest.fail("drain blocked: an observation waited on a write that never ran")
    if "err" in out:
        raise out["err"]
    return out["q"]


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    """One batch per signal drained into a fresh tenant; returns
    (base, {signal: jobs its drain ran})."""
    base = str(tmp_path_factory.mktemp("jobs_base"))
    jobs = {}
    for signal, fn, payload in (
        ("logs", ingest_otlp_logs_stream, _logs_payload(30)),
        ("traces", ingest_otlp_traces_stream, _traces_payload(20)),
        ("metrics", ingest_otlp_metrics_stream, _metrics_payload()),
    ):
        src = tmp_path_factory.mktemp(f"jobs_{signal}")
        (src / "b.jsonl").write_text(payload)
        jobs[signal] = _drain_jobs(spark, _drain(fn, spark, str(src), base))
    return base, jobs


def test_one_batch_drain_runs_only_the_table_writes(landed):
    """A clean batch costs one job per table write: no dead-letter or
    required-column probe, no cache materialization of its own."""
    _base, jobs = landed
    assert jobs == {"logs": 1, "traces": 1, "metrics": len(METRIC_TABLES)}


def test_one_wire_batch_drain_runs_only_the_table_writes(spark, tmp_path):
    """The binary-wire sinks hold their Python decode once per batch and
    write each routed table once: a protobuf metrics batch costs one job
    per metric table, a remote_write batch of gauge, counter and native
    histogram samples one job per table it lands in."""
    from signaldb_spark.sources.otlp_pb import encode_metrics_request
    from signaldb_spark.sources.remote_write import (
        encode_write_request,
        snappy_compress_literal,
    )

    rw = {"timeseries": [
        {"labels": [{"name": "__name__", "value": "http_requests_total"},
                    {"name": "job", "value": "api"}],
         "samples": [{"value": 7.0, "timestamp": 1704067200000}]},
        {"labels": [{"name": "__name__", "value": "mem_bytes"},
                    {"name": "job", "value": "api"}],
         "samples": [{"value": 128.0, "timestamp": 1704067200000}]},
        {"labels": [{"name": "__name__", "value": "req_size_bytes"},
                    {"name": "job", "value": "web"}],
         "histograms": [{
             "count_int": 10, "sum": 30.0, "schema": 0, "zero_count_int": 0,
             "positive_spans": [{"offset": 1, "length": 3}],
             "positive_deltas": [2, 4, -4],
             "timestamp": 1704067200000}]},
    ]}
    jobs = {}
    for name, body, fn, extra in (
        ("metrics_pb", encode_metrics_request(json.loads(_metrics_payload())),
         ingest_otlp_pb_stream, ("metrics",)),
        ("remote_write", snappy_compress_literal(encode_write_request(rw)),
         ingest_remote_write_stream, ()),
    ):
        src = tmp_path / name
        src.mkdir()
        (src / "b.bin").write_bytes(body)
        base = str(tmp_path / f"{name}_tables")
        jobs[name] = _drain_jobs(spark, _drain(fn, spark, str(src), base, *extra))
    assert jobs == {"metrics_pb": len(METRIC_TABLES), "remote_write": 3}


def test_refresh_and_relation_builds_run_no_jobs(spark, landed, tmp_path):
    """After a commit, re-resolving the tenant and building manifest
    relations infers nothing from footers: zero jobs. A live session's
    table lookup right after another writer's commit resolves the new
    snapshot, also without a job."""
    base, _jobs = landed
    catalog._RELATION_MEMO.pop(spark, None)  # build, don't hit the memo
    with _job_group(spark, "refresh-after-commit") as jobs:
        session = TenantSession(spark, base, "acme", "prod")
        session.refresh()
        assert jobs() == 0
    assert all(session.table(t) is not None
               for t in ("logs", "traces", *METRIC_TABLES))

    mt = ManifestTable(signal_table_path(base, "acme", "prod", "traces"))
    catalog._RELATION_MEMO.pop(spark, None)
    with _job_group(spark, "relation-build") as jobs:
        mt.read(spark)
        mt.point_lookup(spark, "trace_id", f"{3:032x}")
        assert jobs() == 0
    assert mt.point_lookup(spark, "trace_id", f"{3:032x}").count() == 1

    other = str(tmp_path / "other")
    path = signal_table_path(other, "acme", "prod", "logs")
    logs = spark.createDataFrame(gen_logs(), LOGS)
    write_batch_manifest(logs.limit(100), path, "logs", batch_id=0)
    session = TenantSession(spark, other, "acme", "prod")
    assert session.table("logs").count() == 100
    write_batch_manifest(logs.limit(50), path, "logs", batch_id=1)
    with _job_group(spark, "table-after-commit") as jobs:
        df = session.table("logs")
        assert jobs() == 0
    assert df.count() == 150


def test_recorded_schema_reads_like_inference_on_every_table(spark, landed):
    """For each ingested table, a read typed by the recorded schema has
    the schema and rows of a read that infers it from the footers."""
    base, _jobs = landed
    for table in ("logs", "traces", *METRIC_TABLES):
        mt = ManifestTable(signal_table_path(base, "acme", "prod", table))
        assert mt.load_manifest()["schema"] is not None, table
        recorded = mt.read(spark)
        inferred = spark.read.option("basePath", mt.data_dir).parquet(*mt.files())
        assert recorded.schema == inferred.schema, table
        assert sorted(map(str, recorded.collect())) == sorted(
            map(str, inferred.collect())
        ), table


def test_replayed_poison_batch_dead_letters_exactly_once(spark, tmp_path):
    """Replay one batch id that holds an undecodable line and a datapoint
    with a null required column. The replay's writes are skipped, so its
    observations never fire: the drain must fall back to probes, not
    block, and leave every table and dead-letter sink holding its rows
    exactly once."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b.jsonl").write_text(_metrics_payload(poison=True) + "\ngarbage {\n")
    base = str(tmp_path / "tables")

    def state():
        counts = {
            t: optional_table(spark, base, "acme", "prod", t).count()
            for t in METRIC_TABLES
        }
        dead = {
            s: sorted(r.payload for r in read_dead_letters(
                spark, base, "acme", "prod", s).collect())
            for s in ("metrics", "metrics_sum")
        }
        return counts, dead

    for attempt in range(2):  # a fresh checkpoint replays batch 0
        _drain(ingest_otlp_metrics_stream, spark, str(src), base,
               checkpoint_dir=str(tmp_path / f"ck{attempt}"))
        counts, dead = state()
        assert counts == {t: 1 for t in METRIC_TABLES}, attempt
        assert dead["metrics"] == ["garbage {"], attempt
        assert len(dead["metrics_sum"]) == 1, attempt
        assert '"metric_name":"reqs"' in dead["metrics_sum"][0]


def test_partly_committed_replay_probes_the_undecodable_count(spark, tmp_path):
    """A replay that finds only SOME tables committed runs a required-
    column probe over the batch before the first real write; that probe
    may fire the undecodable-count observation over part of the batch,
    so the sink must probe instead of trusting it."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b.jsonl").write_text(_metrics_payload() + "\ngarbage {\n")
    base = str(tmp_path / "tables")
    # the first routed table already holds batch 0 (a crashed attempt)
    ManifestTable(
        signal_table_path(base, "acme", "prod", "metrics_gauge")
    ).commit([], batch_id=0)
    _drain(ingest_otlp_metrics_stream, spark, str(src), base)
    dead = read_dead_letters(spark, base, "acme", "prod", "metrics")
    assert [r.payload for r in dead.collect()] == ["garbage {"]
    assert optional_table(spark, base, "acme", "prod", "metrics_sum").count() == 2


def test_one_partition_compaction_runs_one_job(spark, tmp_path):
    """Compacting one (day, hour) partition runs one Spark job: the
    recorded schema types its input relation (no inference job) and the
    one task that writes the replacement file reads the inputs itself
    (no shuffle)."""
    path = str(tmp_path / "logs")
    logs = spark.createDataFrame(gen_logs(), LOGS)
    for b in range(3):
        assert write_batch_manifest(logs.repartition(2), path, "logs", batch_id=b)
    mt = ManifestTable(path)
    part = mt.file_partitions()[mt.load_manifest()["files"][0]]
    day, hour = part["date_day"], part["hour"]
    before = mt.read(spark).count()
    with _job_group(spark, "compact-one-partition") as jobs:
        assert compact_partition_manifest(spark, path, "logs", day, hour) == 1
        assert jobs() == 1
    assert mt.read(spark).count() == before


def _hourly_logs(spark, base, hours, files_per_hour):
    """A ``logs`` table of ``hours`` closed hour partitions holding
    ``files_per_hour`` files each (one sink batch writes one file per
    hour); returns its path."""
    from pyspark.sql import functions as F

    path = signal_table_path(base, "acme", "prod", "logs")
    for b in range(files_per_hour):
        df = spark.range(hours * 10).select(
            F.lit("2024-01-01").alias("date_day"),
            (F.col("id") % hours).cast("int").alias("hour"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("timestamp"),
            (F.col("id") + b * 1000).alias("value"),
        )
        assert write_batch_manifest(
            df.repartition("date_day", "hour"), path, "logs", batch_id=b
        )
    return path


def test_compaction_pass_runs_one_job_for_all_its_partitions(spark, tmp_path):
    """A compactor pass over three closed hours of three files each
    writes all three replacement files in one Spark job and still
    commits each hour on its own (three manifest versions)."""
    from signaldb_spark.maintenance.jobs import compaction_cycle

    base = str(tmp_path)
    path = _hourly_logs(spark, base, hours=3, files_per_hour=3)
    mt = ManifestTable(path)
    before, version = mt.read(spark).count(), mt.current_version()
    with _job_group(spark, "compaction-cycle") as jobs:
        done = compaction_cycle(spark, base, "acme", "prod", "logs",
                                now=dt.datetime(2024, 1, 2))
        assert jobs() == 1
    assert done == [("2024-01-01", h) for h in range(3)]
    assert mt.current_version() == version + 3
    assert len(mt.load_manifest()["files"]) == 3
    assert mt.read(spark).count() == before


def test_ops_compact_runs_one_job_for_all_its_partitions(spark, tmp_path):
    """The ops-compact route rewrites four hours in one Spark job."""
    from signaldb_spark.api import SignalDBAPI

    base = str(tmp_path)
    _hourly_logs(spark, base, hours=4, files_per_hour=3)
    api = SignalDBAPI(spark, base, "acme", "prod")
    with _job_group(spark, "ops-compact") as jobs:
        out = api.ops_compact("logs", day="2024-01-01")
        assert jobs() == 1
    assert [(r["hour"], r["files_before"], r["files_after"])
            for r in out["data"]] == [(h, 3, 1) for h in range(4)]


def test_compaction_pass_over_33_inputs_also_runs_the_listing_job(
    spark, tmp_path
):
    """Above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32 paths) Spark lists the input files in a job of its own, so a
    pass over 3 hours of 11 files runs two jobs: that listing job and
    the write. The count is measured, not a target: it pins where the
    listing job starts until the relation build stops launching it."""
    from signaldb_spark.maintenance.jobs import compaction_cycle

    base = str(tmp_path)
    path = _hourly_logs(spark, base, hours=3, files_per_hour=11)
    assert len(ManifestTable(path).load_manifest()["files"]) == 33
    with _job_group(spark, "compaction-cycle-33") as jobs:
        done = compaction_cycle(spark, base, "acme", "prod", "logs",
                                now=dt.datetime(2024, 1, 2))
        assert jobs() == 2
    assert len(done) == 3


def _formatted_plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_small_manifest_metric_query_runs_one_job(spark, landed):
    """A LogQL metric query over a small manifest table: the relation is
    one partition (``ManifestTable.query_scan``), so the plan holds no
    exchange and the query runs as one Spark job."""
    base, _jobs = landed
    logs = optional_table(spark, base, "acme", "prod", "logs")
    ctx = LowerCtx(spark, logs, "2024-01-01 00:00:00", "2024-01-01 02:00:00", 3600)
    df = query_metric(
        ctx, 'sum by (service_name) (count_over_time({service_name="api"}[1h]))'
    )
    assert "Exchange" not in _formatted_plan(df)
    with _job_group(spark, "small-metric-query") as jobs:
        rows = df.collect()
        assert jobs() == 1
    assert sum(r.value for r in rows) == 30


def test_relation_above_the_threshold_keeps_file_splits(spark, tmp_path):
    """The decision reads the manifest's recorded bytes: at the threshold
    the relation is one partition, one byte above it keeps Spark's file
    splits and a grouped aggregate plans its exchange again."""
    path = str(tmp_path / "logs")
    write_batch_manifest(
        spark.createDataFrame(gen_logs(), LOGS).repartition(4), path, "logs",
        batch_id=0,
    )
    mt = ManifestTable(path)
    files = mt.load_manifest()["files"]
    assert len(files) > 1

    def recorded_total(total):
        sizes = {f: total // len(files) for f in files}
        sizes[files[0]] += total - sum(sizes.values())
        mt.commit([], sizes=sizes)
        # a live file's recorded size never changes, so the relation
        # memo signs by file list; rewriting the sizes needs a build
        catalog._RELATION_MEMO.pop(spark, None)
        return mt.read(spark)

    at = recorded_total(SMALL_SCAN_BYTES)
    assert at.rdd.getNumPartitions() == 1
    above = recorded_total(SMALL_SCAN_BYTES + 1)
    assert above.rdd.getNumPartitions() > 1
    assert "Exchange" in _formatted_plan(above.groupBy("service_name").count())
    assert above.count() == at.count() == len(gen_logs())


def test_traceql_search_scans_once(spark, tmp_path):
    """The newest-N truncation ranks with windows over the span-limited
    rows, not with a join against its own ranking: the search plans one
    parquet scan and runs one job."""
    write_signal_tables(spark, str(tmp_path))
    traces = optional_table(spark, str(tmp_path), "acme", "prod", "traces")
    df = search_traceql(traces, '{ .service.name = "api" }', limit=5,
                        spans_per_trace=2)
    plan = _formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    with _job_group(spark, "traceql-search") as jobs:
        rows = df.collect()
        assert jobs() == 1
    assert rows
