"""Split per-query wall time into build / resolve / execute (guide §1).

Usage:
    python tools/profile_queries.py name1 name2 ...        # explicit names
    python tools/profile_queries.py --top K                # K slowest per anchor
    python tools/profile_queries.py --all                  # every registered query
    python tools/profile_queries.py --out FILE

For each query: ``build`` times the registry callable (pure Python +
py4j expression construction — and Catalyst analysis, which Spark 4 runs
eagerly as each DataFrame is built), ``resolve`` times the fetch of the
already-analyzed plan (~0: it is NOT the analysis cost, which sits in
``build``), ``exec`` times the noop-sink action (min of 2, bench.py's
methodology). build+resolve+exec ~= bench per-query seconds.
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
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--out", default="")
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
    if args.all:
        names = list(queries)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("signaldb-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries["pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    rows = []
    for i, name in enumerate(names):
        if i % 64 == 63:
            spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(name)
        best = (float("inf"),) * 3
        for _ in range(2):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().analyzed()
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            tot = t3 - t0
            if tot < sum(best):
                best = (t1 - t0, t2 - t1, t3 - t2)
        rows.append((name, *[round(v, 3) for v in best]))
        b, r, e = rows[-1][1:]
        print(f"{b:7.3f} {r:7.3f} {e:7.3f}  {b+r+e:7.3f}  {name}", flush=True)

    tot_b = round(sum(r[1] for r in rows), 2)
    tot_r = round(sum(r[2] for r in rows), 2)
    tot_e = round(sum(r[3] for r in rows), 2)
    print(json.dumps({"n": len(rows), "build": tot_b, "resolve": tot_r,
                      "exec": tot_e}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"columns": ["name", "build", "resolve", "exec"],
                       "rows": rows}, fh, indent=1)


if __name__ == "__main__":
    main()
