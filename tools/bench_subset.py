"""Time a subset of registered queries with bench.py's exact methodology.

Usage:
    python tools/bench_subset.py name1 name2 ... [--out FILE] [--runs N]
    python tools/bench_subset.py --top K        # K slowest per committed anchor
    python tools/bench_subset.py --explain DIR  # also dump explain("formatted")

Same timed region as bench.py: build the DataFrame from the registry
callable, materialize via the noop sink, min of N runs (default 2).
Never run concurrently with another Spark session on the box.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from signaldb_spark.registry import all_queries  # noqa: E402
from signaldb_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="")
    ap.add_argument("--explain", default="")
    args = ap.parse_args()

    queries = all_queries()
    names = list(args.names)
    if args.top:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "bench_per_query.json")) as fh:
            anchor = json.load(fh)
        ranked = [k for k, _ in sorted(anchor["queries"].items(),
                                       key=lambda kv: -kv[1])[: args.top]]
        missing = [k for k in ranked if k not in queries]
        if missing:
            print(f"note: {len(missing)} of the top {args.top} ranked names "
                  f"are not registered, skipped: {', '.join(missing)}",
                  file=sys.stderr)
        names += [k for k in ranked if k in queries]
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("signaldb-spark-bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    queries["pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        if i % 64 == 63:
            spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(name)
        best = float("inf")
        for _ in range(args.runs):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = queries[name](spark, sf_dir)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        print(f"{timings[name]:7.3f}  {name}", flush=True)

    total = round(sum(timings.values()), 3)
    payload = {"total": total, "queries": timings, "sf_dir": sf_dir,
               "runs": args.runs}
    print(json.dumps({"subset_total": total, "n": len(timings)}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
