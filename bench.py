"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Each query is materialized via the ``noop`` sink, which executes the
full plan including every output column — ``count()`` would let
Catalyst prune the entire project list of map-only queries and time a
column-less row count instead of the operator — while keeping
driver-side result transfer out of the measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from signaldb_spark.registry import all_queries  # noqa: E402
from signaldb_spark.session import get_spark, graft_cpus  # noqa: E402

QUERIES = all_queries()

# Every registered query is a headline query: the driver-proven r1-r2
# names were trimmed from an explicit list in r4-r5, which let the total
# drift and could hide a regression in an old operator. Deriving the
# list from the registry keeps the headline == the full engine surface,
# round over round, with zero maintenance.
HEADLINE = list(QUERIES)


_FAMILIES = (
    "dedup", "emb", "text", "logql", "promql", "trace", "ir",
    "multimodal", "asof", "exphist", "curation", "api",
)


def _family(name: str) -> str:
    for f in _FAMILIES:
        if name == f or name.startswith(f + "_"):
            return f
    return "core"


def parallelism(spark) -> dict:
    """The run's effective parallelism: small query inputs run as one
    task by design (``storage.manifest.SMALL_SCAN_BYTES``), so a reader
    of the bench line needs the core count to tell serial-by-choice
    from starved."""
    return {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_graft_cpus": graft_cpus(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("signaldb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")  # keep the output stream clean
    # warm the JVM + parquet footer caches once so timings measure the
    # engine, not first-touch JIT
    QUERIES["pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    total = 0.0
    for i, name in enumerate(HEADLINE):
        if i % 64 == 63:
            # 400+ distinct plans' generated classes accumulate in the
            # JVM old gen over the run; without an occasional full GC the
            # tail queries pay multi-second collection pauses that read
            # as (false) per-query regressions
            spark.sparkContext._jvm.System.gc()
        best = float("inf")
        for _ in range(2):  # steady-state: min of 2 runs (JIT/footer-cache noise)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        total += best

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf else None

    # Full per-query map goes to a file; stdout gets one COMPACT line.
    # The driver captures a bounded tail of stdout — a 100+-entry map
    # overflows it and parses as null (BENCH_r02), so the printed line
    # carries totals, per-family rollups, and the slowest 5 only.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_per_query.json"), "w") as fh:
        json.dump(
            {"metric": "headline_total", "value": round(total, 3),
             "unit": "sec", "queries": timings, "sf": sf_val, "n": len(timings),
             **parallelism(spark),
             # self-describing provenance: a fresh run writes an empty
             # notes map; any hand-splice/adjudication of individual
             # query values MUST be recorded here (query -> note) so the
             # artifact doesn't silently present a composite as one run
             "provenance": {"run": "single-session min-of-2",
                            "notes": {},
                            "adjudications_doc":
                                "docs/bench_adjudications.md"}},
            fh, indent=1)

    # write-path micro-benches (OTLP decode, manifest append, hot
    # round-trip, compaction) — the ingest-side coverage the reference's
    # performance-benchmarking-suite change specifies
    from signaldb_spark.bench_write_paths import run as run_write_paths

    write_paths = run_write_paths(spark)

    fams: dict[str, float] = {}
    for name, sec in timings.items():
        fams[_family(name)] = round(fams.get(_family(name), 0.0) + sec, 3)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": slowest,
                "families": fams,
                "n_queries": len(timings),
                "per_query_file": "bench_per_query.json",
                "write_paths": write_paths,
                "sf": sf_val,
                **parallelism(spark),
            }
        )
    )


if __name__ == "__main__":
    main()
