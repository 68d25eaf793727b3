"""In-memory spans around the engine's layer entry points.

The traced run swaps wrappers in for the functions the routes call
(lowerings, shapers, DataFrame actions, table refresh, manifest point
pruning); nothing inside ``signaldb_spark`` is edited. Spans carry a
name, start, end, parent and request ID, stay in a list while the run
lasts, and are summarised (or written out) when it ends.

A layer's self time is its span's duration minus the part of it that
its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    req: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.req = 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self.on = False

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else -1, self.req))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Register a wrapper for ``owner.attr``; it is swapped in by
        :meth:`enable`. ``after(result, args)`` may record a count."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = original(*args, **kwargs)
            if after is not None:
                after(out, args)
            return out

        self._patches.append((owner, attr, original, wrapper))

    def enable(self) -> None:
        for owner, attr, _orig, wrapper in self._patches:
            setattr(owner, attr, wrapper)
        self.on = True

    def disable(self) -> None:
        for owner, attr, orig, _wrapper in self._patches:
            setattr(owner, attr, orig)
        self.on = False

    # -- analysis ----------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent >= 0:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_time(self, i: int, kids: dict[int, list[int]]) -> float:
        s = self.spans[i]
        covered, cur = 0.0, s.start
        for c in sorted(kids.get(i, []), key=lambda j: self.spans[j].start):
            cs = self.spans[c]
            lo, hi = max(cs.start, cur), min(cs.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        return s.end - s.start - covered

    def per_request(self, names: dict[str, str]) -> dict[str, list[float]]:
        """Per request, the summed ms of each layer, for every request
        that entered the layer. ``names`` maps a span name to how it is
        measured: ``"self"`` (self time) or ``"outer"`` (duration of the
        spans not nested in a span of the same name)."""
        kids = self.children()
        per: dict[tuple[str, int], float] = {}
        for i, s in enumerate(self.spans):
            how = names.get(s.name)
            if how is None:
                continue
            if how == "outer":
                p = s.parent
                nested = False
                while p >= 0:
                    if self.spans[p].name == s.name:
                        nested = True
                        break
                    p = self.spans[p].parent
                if nested:
                    continue
                ms = (s.end - s.start) * 1000
            else:
                ms = self.self_time(i, kids) * 1000
            per[(s.name, s.req)] = per.get((s.name, s.req), 0.0) + ms
        out: dict[str, list[float]] = {}
        for (name, _req), ms in per.items():
            out.setdefault(name, []).append(ms)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def install_layer_wrappers(tracer: Tracer, counts: dict[str, list[float]]) -> None:
    """Wrap the layer entry points the routes call. ``counts`` collects
    per-call observations (point-pruning ratios)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from signaldb_spark import api, tenancy
    from signaldb_spark.ir import metrics as ir_metrics
    from signaldb_spark.ir import planner
    from signaldb_spark.storage.manifest import ManifestTable
    from signaldb_spark.traceql import trace_ops

    for attr in ("query_logs", "query_metric", "query_instant"):
        tracer.wrap(api, attr, "logql.lower")
    tracer.wrap(api.SignalDBAPI, "_tail_topk", "logql.lower")
    tracer.wrap(api, "query_range", "promql.lower")
    for attr in ("search_traceql", "metrics_query", "find_by_id", "assemble_hierarchy"):
        tracer.wrap(trace_ops, attr, "traceql.lower")
    tracer.wrap(planner, "lower", "ir.lower")
    tracer.wrap(ir_metrics, "lower_metrics", "ir.lower")
    tracer.wrap(tenancy.TenantSession, "sql", "ir.lower")
    for attr in ("matrix_to_prom", "matrix_to_instant_vector", "logs_to_loki_streams",
                 "trace_to_tempo"):
        tracer.wrap(api, attr, "shapers")
    tracer.wrap(api.SignalDBAPI, "_manifest_point_scan", "manifest.point_scan")
    tracer.wrap(tenancy.TenantSession, "refresh", "tenancy.refresh")

    def point_ratio(out, _args):
        kept, pruned = out
        if kept or pruned:
            counts.setdefault("manifest.point_files_ratio", []).append(
                len(kept) / (len(kept) + pruned))

    tracer.wrap(ManifestTable, "pruned_files_point", "manifest.prune", after=point_ratio)
    for attr in ("collect", "count"):
        tracer.wrap(DataFrame, attr, "spark.action")


class JobCounter:
    """Jobs, stages and tasks one request launched, read back through
    ``SparkContext.statusTracker()`` from a per-request job group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.rows: list[tuple[int, int, int]] = []

    @contextmanager
    def group(self, req: int):
        gid = f"perfbench-{req}"
        self.sc.setJobGroup(gid, "perfbench request")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = self.tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    stages += 1
                    st = self.tracker.getStageInfo(sid)
                    tasks += st.numTasks if st is not None else 0
            self.rows.append((len(jobs), stages, tasks))

    def averages(self) -> dict[str, float]:
        if not self.rows:
            return {}
        return {
            "spark.jobs_per_query": statistics.mean(r[0] for r in self.rows),
            "spark.stages_per_query": statistics.mean(r[1] for r in self.rows),
            "spark.tasks_per_query": statistics.mean(r[2] for r in self.rows),
        }
