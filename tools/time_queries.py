"""Per-query timing harness for optimization work (bench.py is FROZEN for
measurement; this tool replicates its session config and timing action so
numbers are comparable, but lets us time a subset of queries, repeat runs,
and optionally dump .explain("formatted") plans).

Usage:
  python tools/time_queries.py [--sf DIR] [--runs N] [--explain OUTDIR] q1 q2 ...
  python tools/time_queries.py --all            # every declared query
  python tools/time_queries.py --conf spark.ztdf.ccDriverMaxEdges=0 dedup_clusters
                                                # runtime session conf, repeatable
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (reuses build_spark + time_query — same methodology)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain", default=None, help="dir to write <name>.txt plans")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="runtime session conf set before warm-up (repeatable), e.g. a "
                    "driver-path gate forced to 0 to time the distributed side")
    args = ap.parse_args()
    confs = dict(kv.split("=", 1) for kv in args.conf)

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs.items():
        spark.conf.set(k, v)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = list(qs) if args.all else args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    # same warm-up protocol as bench.py — including the Python worker pool
    # (bench.py warms it inside run_replay before the sweep; without it,
    # wide UDF stages here hit cold workers the real sweep never sees)
    from ztdf_spark.pipeline import warm_python_workers

    warm_python_workers(spark)
    bench.canary_time(spark)
    for wname in ("doc_fingerprints", "cdc_latest_wins"):
        if wname in qs:
            try:
                bench.time_query(spark, qs[wname], args.sf, n_runs=1)
            except Exception:
                pass

    out = {}
    for name in names:
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        spark.sparkContext.setJobDescription(f"time:{name}")
        canary = bench.canary_time(spark)
        t0 = time.monotonic()
        runs = bench.time_query(spark, qs[name], args.sf, n_runs=args.runs)
        out[name] = {"runs": runs, "min": min(runs), "canary": canary,
                     "wall": round(time.monotonic() - t0, 1)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": args.sf, "conf": confs, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
