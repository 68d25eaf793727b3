"""Trace-by-id pruning on production-written tables: the streaming sink
and the maintenance compactor build ``trace_id`` bloom sidecars for
``traces`` because the table kind declares them
(``storage.manifest.POINT_LOOKUP_COLS``), so ``SignalDBAPI.tempo_trace``
plans only the files that may hold the id, before and after a
maintenance pass."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.parquet as pq

from signaldb_spark.api import SignalDBAPI
from signaldb_spark.catalog import signal_table_path
from signaldb_spark.maintenance.jobs import maintenance_cycle
from signaldb_spark.storage.blooms import BLOOMS_DIR
from signaldb_spark.storage.manifest import ManifestTable
from signaldb_spark.streaming.ingest import ingest_otlp_traces_stream

T0 = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)
HOUR_NS = 3_600_000_000_000
BATCHES = 3
TRACES_PER_HOUR = 4


def _tid(batch, hour, i):
    return f"{batch:08x}{hour:08x}{i:016x}"


def _batch_payload(batch):
    """Two spans (root and child) per trace, TRACES_PER_HOUR traces in
    each of hours 0 and 1: every batch lands one file per hour."""
    spans = []
    for hour in (0, 1):
        for i in range(TRACES_PER_HOUR):
            tid = _tid(batch, hour, i)
            root = f"{batch:04x}{hour:04x}{i:07x}0"
            start = T0 + hour * HOUR_NS + (batch * 100 + i) * 1_000_000
            for s in (0, 1):
                spans.append({
                    "traceId": tid, "spanId": f"{root[:-1]}{s}",
                    "parentSpanId": root if s else "", "name": f"op{s}", "kind": 2,
                    "startTimeUnixNano": str(start + s * 1000),
                    "endTimeUnixNano": str(start + s * 1000 + 500_000),
                    "status": {"code": 1},
                })
    return json.dumps({"resourceSpans": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": "api"}}]},
        "scopeSpans": [{"scope": {"name": "t"}, "spans": spans}],
    }]})


def _holding(mt, tid):
    """Live files (relative to data/) whose rows hold ``tid``."""
    return {
        f for f in mt.load_manifest()["files"]
        if tid in pq.read_table(
            os.path.join(mt.data_dir, f), columns=["trace_id"]
        ).column("trace_id").to_pylist()
    }


def _kept(mt, tid):
    fs, _pruned = mt.pruned_files_point("trace_id", tid)
    return {os.path.relpath(p, mt.data_dir) for p in fs}


def _assert_route_prunes(api, mt, tid):
    holding = _holding(mt, tid)
    assert holding and _kept(mt, tid) == holding
    assert len(holding) < len(mt.load_manifest()["files"])
    # the route's own relation reads only those files
    scan = api._manifest_point_scan("traces", "trace_id", tid)
    assert {
        os.path.relpath(p.removeprefix("file:"), mt.data_dir)
        for p in scan.inputFiles()
    } == holding
    resp = api.tempo_trace(tid)
    assert resp["traceID"] == tid and resp["spanCount"] == 2, resp


def test_production_trace_lookup_prunes_files(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    base = str(tmp_path / "tables")
    for b in range(BATCHES):  # one drain per landed batch
        (src / f"b{b}.jsonl").write_text(_batch_payload(b))
        ingest_otlp_traces_stream(spark, str(src), base)
    mt = ManifestTable(signal_table_path(base, "acme", "prod", "traces"))
    m = mt.load_manifest()
    assert len(m["files"]) == 2 * BATCHES
    assert m["props"]["bloom.cols"] == "trace_id"
    assert all("trace_id" in m["blooms"].get(f, {}) for f in m["files"])

    api = SignalDBAPI(spark, base)
    tid = _tid(1, 0, 2)
    _assert_route_prunes(api, mt, tid)

    out = maintenance_cycle(spark, base, "acme", "prod", "traces",
                            keep_snapshots=1)
    assert len(out["compacted"]) == 2 and out["expired_files"]
    m = mt.load_manifest()
    assert len(m["files"]) == 2
    assert all(
        "compact-" in f and "trace_id" in m["blooms"].get(f, {})
        for f in m["files"]
    )
    _assert_route_prunes(api, mt, tid)
    _assert_route_prunes(api, mt, _tid(2, 1, 0))
    # expired files took their sidecars with them
    bdir = os.path.join(mt.table_path, BLOOMS_DIR)
    for f in out["expired_files"]:
        assert not os.path.exists(os.path.join(bdir, f + ".trace_id.bloom")), f
