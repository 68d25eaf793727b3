"""signaldb-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The harness generates seeded OTLP/JSON
payload files, drives the engine only through its public entry points
(the ``streaming.ingest`` drains, ``SignalDBAPI`` routes,
``TenantSession.refresh`` and ``maintenance_cycle``) and checks every
response against an independent Python oracle. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones. Every file it
writes lives under ``.bench_work/`` (deleted at exit) and
``.bench_out/`` (span dumps) in the current directory. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dashboard_read", "ingest_fresh")
TENANT, DATASET = "acme", "prod"

# Corpus and batch sizes at --scale 1. The seed corpus is one hour of
# telemetry landed as one slice; an ingest_fresh cycle lands the next
# ten minutes at the same rates.
SEED_HOURS = 1
LOGS_PER_HOUR = 4000
TRACES_PER_HOUR = 500
CYCLE_SECONDS = 600
SEED_FILES_PER_SIGNAL = 4
CYCLE_FILES_PER_SIGNAL = 2
# flush policy: one availableNow drain per signal per cycle, and one
# maintenance_cycle over every table every MAINTENANCE_EVERY cycles
MAINTENANCE_EVERY = 2
MIN_CYCLES = MAINTENANCE_EVERY
BRING_UPS = 3
WARM_PASSES = 2
# dashboard_read measures at least this many passes of the route mix, so
# every run weighs each class and request shape the same way
MIN_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size multiplier (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def configure_environment(work: str) -> None:
    """Point every Spark and Python scratch location into ``work``
    before the JVM starts, and size Spark to the CPUs this process may use."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files, and no perf-data file, inside the work directory
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank); with fewer than twenty samples, the maximum."""
    if not xs:
        return 0.0, "p100"
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], "p100"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f}"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


class Bench:
    def __init__(self, args, work: str):
        import gen
        import routes
        import tracing
        from signaldb_spark.catalog import SIGNAL_TABLES
        from signaldb_spark.session import get_spark

        self.args, self.routes = args, routes
        self.tables = [t for t in SIGNAL_TABLES if t != "profiles"]
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark_start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.base = os.path.join(work, "base")
        self.src = {s: os.path.join(work, "src", s) for s in ("logs", "traces", "metrics")}
        self.gen = gen.Generator(args.seed, self.src, os.path.join(work, "landing"))
        self.oracle = self.gen.oracle
        self.maker = routes.RequestMaker(args.seed, self.oracle, gen.T0_NS // 1000)
        self.tracer = tracing.Tracer()
        self.counts: dict[str, list[float]] = {}
        self.jobs = None
        if args.trace:
            tracing.install_layer_wrappers(self.tracer, self.counts)
            self.jobs = tracing.JobCounter(self.sc)
        self.api = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        # measured-window observations
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.lat_by_mode: dict[tuple[bool, str], list[float]] = defaultdict(list)
        # ingest-side observations, tagged "seed" or "window"
        self.cycles: list[dict] = []
        self.drains: list[dict] = []
        self.passes: list[dict] = []
        self.refresh_ms: list[float] = []
        self.setup_s = 0.0
        self.bytes_maintained = 0  # JSON bytes landed before the last pass
        s = args.scale
        self.seed_size = gen.SliceSize(SEED_HOURS * 3600, max(50, int(LOGS_PER_HOUR * SEED_HOURS * s)),
                                       max(10, int(TRACES_PER_HOUR * SEED_HOURS * s)))
        self.cycle_size = gen.SliceSize(CYCLE_SECONDS, max(10, int(LOGS_PER_HOUR * CYCLE_SECONDS / 3600 * s)),
                                        max(4, int(TRACES_PER_HOUR * CYCLE_SECONDS / 3600 * s)))

    # -- requests ------------------------------------------------------------
    def issue(self, req, traced: bool = False) -> float:
        """Issue one request, check it, and return its latency in ms."""
        self.attempted += 1
        self.tracer.req += 1
        if traced:
            self.tracer.enable()
        err = None
        t = time.perf_counter()
        try:
            with (self.jobs.group(self.tracer.req) if traced else nullcontext()), \
                    self.tracer.span("api"):
                resp = req.call(self.api)
            ms = (time.perf_counter() - t) * 1000
        except Exception as e:  # an engine exception is a failed request
            ms = (time.perf_counter() - t) * 1000
            resp, err = None, f"{type(e).__name__}: {e}"
        finally:
            if traced:
                self.tracer.disable()
        if err is None:
            err = req.check(resp)
        if err is not None:
            self.failed += 1
            self.errors.append(f"{req.cls}: {err}"[:300])
        return ms

    def measure(self, cls: str, recent: bool, traced: bool) -> None:
        req = self.maker.make(cls, recent)
        ms = self.issue(req, traced)
        self.lat[cls].append(ms)
        self.lat_by_mode[traced, cls].append(ms)

    # -- ingest --------------------------------------------------------------
    def drain_all(self, phase: str) -> None:
        from signaldb_spark.streaming import ingest

        for signal, fn in (("logs", ingest.ingest_otlp_logs_stream),
                           ("traces", ingest.ingest_otlp_traces_stream),
                           ("metrics", ingest.ingest_otlp_metrics_stream)):
            t = time.perf_counter()
            q = fn(self.spark, self.src[signal], self.base, TENANT, DATASET,
                   available_now=True)
            wall = (time.perf_counter() - t) * 1000
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            d = [p["durationMs"] for p in progress]
            trigger = sum(x.get("triggerExecution", 0) for x in d)
            self.drains.append({
                "phase": phase,
                "start_ms": wall - trigger,
                "add_batch_ms": sum(x.get("addBatch", 0) for x in d),
                "offsets_ms": sum(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d),
                "wal_ms": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
                "batches": len(progress),
            })

    def live_files(self) -> dict[str, list[str]]:
        from signaldb_spark.catalog import signal_table_path
        from signaldb_spark.storage.manifest import MANIFEST_DIR, ManifestTable

        out = {}
        for t in self.tables:
            path = signal_table_path(self.base, TENANT, DATASET, t)
            if os.path.isdir(os.path.join(path, MANIFEST_DIR)):
                out[t] = ManifestTable(path).files()
        return out

    def maintenance(self, phase: str) -> None:
        from signaldb_spark.maintenance.jobs import maintenance_cycle

        before = self.live_files()
        expired = 0
        t = time.perf_counter()
        for table in before:
            out = maintenance_cycle(self.spark, self.base, TENANT, DATASET, table)
            expired += len(out["expired_files"])
        ms = (time.perf_counter() - t) * 1000
        after = self.live_files()
        gone = sum(len(set(before[t]) - set(after.get(t, []))) for t in before)
        added = [f for t in after for f in set(after[t]) - set(before.get(t, []))]
        self.passes.append({
            "phase": phase, "ms": ms, "files_compacted": gone,
            "files_expired": expired,
            "bytes_rewritten": sum(os.path.getsize(f) for f in added),
            "input_bytes": self.oracle.json_bytes - self.bytes_maintained,
        })
        self.bytes_maintained = self.oracle.json_bytes

    def open_api(self):
        from signaldb_spark.api import SignalDBAPI

        t = time.perf_counter()
        api = SignalDBAPI(self.spark, self.base, TENANT, DATASET)
        self.refresh_ms.append((time.perf_counter() - t) * 1000)
        return api

    def cycle(self, phase: str, size, files: int, maintain: bool) -> None:
        """One producer cycle: land, drain, maybe maintain, refresh, probe.
        Freshness runs from the files being fully landed to the probe
        returning with exactly the acknowledged rows."""
        rows_before = sum(self.oracle.counts.values())
        self.gen.land(size, files)
        t_landed = time.perf_counter()
        self.drain_all(phase)
        if maintain:
            self.maintenance(phase)
        if self.api is None:
            self.api = self.open_api()
        else:
            t = time.perf_counter()
            self.api.session.refresh()
            self.refresh_ms.append((time.perf_counter() - t) * 1000)
        probe_ms = self.issue(self.routes.freshness_probe(self.oracle))
        self.cycles.append({"phase": phase, "probe_ms": probe_ms,
                            "rows": sum(self.oracle.counts.values()) - rows_before,
                            "fresh_ms": (time.perf_counter() - t_landed) * 1000})

    # -- workloads -----------------------------------------------------------
    def setup(self, static: bool) -> None:
        """Seed the tenant with one slice through the drains, then bring
        the served tenant up BRING_UPS times (a fresh SignalDBAPI
        answering the freshness probe), then warm the read path with
        checked requests: the JVM keeps compiling it over its first few
        dozen requests, and a measured window that starts cold spreads
        widely from run to run. A ``static`` tenant, served without
        further writes, is also compacted once (one maintenance_cycle
        per table) and warmed with WARM_PASSES passes of the route mix;
        an ingesting one with one request of each class. setup_s = Spark
        start + seeding + the median bring-up + the warm-up."""
        t = time.perf_counter()
        self.cycle("seed", self.seed_size, SEED_FILES_PER_SIGNAL, maintain=False)
        # the seed's ingest loop is its cycle plus its maintenance pass
        self.seed_loop_ms = self.cycles[-1]["fresh_ms"]
        if static:
            self.maintenance("seed")
            self.seed_loop_ms += self.passes[-1]["ms"]
        seed_s = time.perf_counter() - t
        bring = []
        for _ in range(BRING_UPS):
            t = time.perf_counter()
            self.api = self.open_api()
            self.issue(self.routes.freshness_probe(self.oracle))
            bring.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = self.routes.MIX * WARM_PASSES if static else self.routes.CLASSES
        for cls in warm:
            self.issue(self.maker.make(cls, recent=not static))
        warm_s = time.perf_counter() - t
        self.seed_s, self.bring_up_s, self.warm_s = seed_s, bring, warm_s
        self.setup_s = self.spark_start_s + seed_s + statistics.median(bring) + warm_s

    def mix_pass(self, n: int, recent: bool) -> None:
        """Pass ``n`` of the route mix. A traced run traces every other
        request, flipping which half on each pass."""
        for i, cls in enumerate(self.routes.MIX):
            self.measure(cls, recent, traced=bool(self.args.trace) and (i + n) % 2 == 0)

    def dashboard_read(self, seconds: float) -> None:
        """Closed loop, one client: the fixed route mix over static tables."""
        t0, passes = time.perf_counter(), 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < seconds:
            self.mix_pass(passes, recent=False)
            passes += 1
        self.window_s = time.perf_counter() - t0

    def ingest_fresh(self, seconds: float) -> None:
        """Closed loop, one producer: land the next slice only after the
        previous cycle's drains, probe and reads returned. After each
        probe a dashboard watching the newest data refreshes once: one
        pass of the route mix over windows ending at the newest row."""
        t0, n = time.perf_counter(), 0
        while n < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            maintain = n % MAINTENANCE_EVERY == MAINTENANCE_EVERY - 1
            self.cycle("window", self.cycle_size, CYCLE_FILES_PER_SIGNAL, maintain)
            self.mix_pass(n, recent=True)
            n += 1
        self.window_s = time.perf_counter() - t0

    # -- results -------------------------------------------------------------
    def _phase(self, rows: list[dict]) -> list[dict]:
        """Ingest-side records of the measured window when the workload
        ingests in it, otherwise the seed's."""
        window = [r for r in rows if r["phase"] == "window"]
        return window or [r for r in rows if r["phase"] == "seed"]

    def rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024

    def end_to_end(self) -> dict:
        all_q = [ms for cls in self.routes.CLASSES for ms in self.lat[cls]]
        cycles = self._phase(self.cycles)
        fresh = [c["fresh_ms"] for c in cycles]
        loop_ms = (sum(fresh) if cycles[0]["phase"] == "window" else self.seed_loop_ms)
        passes = self._phase(self.passes)
        tenant_dir = os.path.join(self.base, TENANT, DATASET)
        q_tail, q_pct = tail(all_q)
        f_tail, f_pct = tail(fresh)
        self.notes = {"query_samples": len(all_q), "query_tail_percentile": q_pct,
                      "fresh_samples": len(fresh), "fresh_tail_percentile": f_pct,
                      "maintenance_passes": len(passes)}
        m = {
            "setup_s": (self.setup_s, "s"),
            "driver_rss_mb": (self.rss_mb(), "MB"),
            "query_p50_ms": (median(all_q), "ms"),
            "query_tail_ms": (q_tail, "ms"),
        }
        for cls in self.routes.CLASSES:
            m[f"{cls}_p50_ms"] = (median(self.lat[cls]), "ms")
        m.update({
            "ingest_rows_per_s": (sum(c["rows"] for c in cycles) / (loop_ms / 1000), "rows/s"),
            "fresh_p50_ms": (median(fresh), "ms"),
            "fresh_tail_ms": (f_tail, "ms"),
            "maintenance_s": (median([p["ms"] for p in passes]) / 1000, "s"),
            "bytes_per_input_byte": (dir_bytes(tenant_dir) / self.oracle.json_bytes, "ratio"),
        })
        return m

    def per_layer(self) -> dict:
        from signaldb_spark import catalog

        tr = self.tracer
        per = tr.per_request({
            "api": "self", "logql.lower": "self", "promql.lower": "self",
            "traceql.lower": "self", "ir.lower": "self", "shapers": "self",
            "manifest.point_scan": "self", "spark.action": "outer",
        })
        drains = self._phase(self.drains)
        cycles = self._phase(self.cycles)
        passes = self._phase(self.passes)
        memo = sum(len(m.get(self.spark, {})) for m in (catalog._RELATION_MEMO, catalog._TABLE_MEMO))
        # per class, so an uneven traced/untraced class mix cannot bias it
        overhead = [median(self.lat_by_mode[True, c]) - median(self.lat_by_mode[False, c])
                    for c in self.routes.CLASSES
                    if self.lat_by_mode[True, c] and self.lat_by_mode[False, c]]
        m = dict(self.jobs.averages())
        m.update({
            "spark.action_ms": median(per.get("spark.action", [])),
            "logql.lower_ms": median(per.get("logql.lower", [])),
            "promql.lower_ms": median(per.get("promql.lower", [])),
            "traceql.lower_ms": median(per.get("traceql.lower", [])),
            "ir.lower_ms": median(per.get("ir.lower", [])),
            "shapers.self_ms": median(per.get("shapers", [])),
            "api.self_ms": median(per.get("api", [])),
            "manifest.point_scan_ms": median(per.get("manifest.point_scan", [])),
            "manifest.point_files_ratio": statistics.mean(
                self.counts.get("manifest.point_files_ratio", [0.0])),
            "manifest.live_files": sum(len(v) for v in self.live_files().values()),
            "tenancy.refresh_ms": median(self.refresh_ms),
            "catalog.memo_entries": memo,
            "streaming.start_ms": median([d["start_ms"] for d in drains]),
            "streaming.add_batch_ms": median([d["add_batch_ms"] for d in drains]),
            "streaming.offsets_ms": median([d["offsets_ms"] for d in drains]),
            "streaming.wal_ms": median([d["wal_ms"] for d in drains]),
            "streaming.batches_per_drain": statistics.mean(d["batches"] for d in drains),
            "fresh.probe_ms": median([c["probe_ms"] for c in cycles]),
            "maintenance.cycle_ms": median([p["ms"] for p in passes]),
            "maintenance.files_compacted": median([p["files_compacted"] for p in passes]),
            "maintenance.files_expired": median([p["files_expired"] for p in passes]),
            "maintenance.bytes_rewritten_per_input_byte": (
                sum(p["bytes_rewritten"] for p in passes)
                / max(1, sum(p["input_bytes"] for p in passes))),
            "trace.overhead_ms": median(overhead),
        })
        units = {"_ms": "ms", "_ratio": "ratio", "_byte": "ratio"}
        return {k: (v, next((u for s, u in units.items() if k.endswith(s)), "count"))
                for k, v in m.items()}

    def environment(self) -> dict:
        import pyspark

        conf = self.spark.conf
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "default_parallelism": self.sc.defaultParallelism,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "corpus": {"seed_hours": SEED_HOURS, "seed_logs": self.seed_size.logs,
                       "seed_traces": self.seed_size.traces,
                       "rows_acknowledged": dict(self.oracle.counts),
                       "json_bytes": self.oracle.json_bytes},
            "batch": {"cycle_seconds_of_data": CYCLE_SECONDS,
                      "cycle_logs": self.cycle_size.logs,
                      "cycle_traces": self.cycle_size.traces,
                      "seed_files_per_signal": SEED_FILES_PER_SIGNAL,
                      "cycle_files_per_signal": CYCLE_FILES_PER_SIGNAL,
                      "maintenance_every_cycles": MAINTENANCE_EVERY},
            "spark_start_s": round(self.spark_start_s, 3),
            "seed_s": round(self.seed_s, 3),
            "bring_up_s": [round(x, 3) for x in self.bring_up_s],
            "warm_up_s": round(self.warm_s, 3),
            "window_s": round(self.window_s, 3),
            "failed_ratio": self.failed / max(1, self.attempted),
            "errors": self.errors[:5],
        }

    def close(self) -> None:
        """Stop Spark and wait until its JVM has exited."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    try:
        import signaldb_spark  # noqa: F401  (the engine must be in this checkout)

        bench = Bench(args, work)
        try:
            bench.setup(static=args.workload == "dashboard_read")
            getattr(bench, args.workload)(args.seconds)
            metrics = bench.per_layer() if args.trace else bench.end_to_end()
            env = bench.environment()
            if args.trace:
                out = os.path.join(root, ".bench_out")
                os.makedirs(out, exist_ok=True)
                bench.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        finally:
            bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env.update(getattr(bench, "notes", {}))
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
