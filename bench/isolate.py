#!/usr/bin/env python
"""Isolation harness: time individual queries() keys with the noop
sink and labeled jobs, with optional plan capture.

Usage:
  python bench/isolate.py KEY [KEY...] [--sf DIR] [--reps N]
      [--explain OUTDIR] [--cpus N]

--sf defaults to $SPARK_GRAFT_SF_DIR, else sf0.1; --cpus to
$SPARK_GRAFT_CPUS, else the CPUs this process may run on. Prints one
JSON line: {"sf":..., "reps":N, "loadavg_start":[...],
"loadavg_end":[...], "keys": {name: {"best":s, "all":[...],
"compiles":[...]}}}. ``compiles[i]`` is the number of classes Janino
compiled during rep i (CodegenMetrics; in local mode the driver and the
executors share one JVM and one codegen cache). Rep 1 compiles the
key's plan; from rep 2 on it should read 0. More than 0 there means the
generated source changed between calls (a per-call path, uuid or seed
inside an expression) or the working set outgrew the codegen cache.
With --explain, writes .explain("formatted") to OUTDIR/<key>.txt; run
it from two checkouts to diff plans before and after a change.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "src"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                or len(os.sched_getaffinity(0))))
    args = ap.parse_args()

    import ocrflow.dataops  # noqa: F401
    from ocrflow.session import build_session
    from ocrflow.queries import QUERIES

    spark = build_session(master=f"local[{args.cpus}]", app="isolate",
                          shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    compile_timer = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                     .CodegenMetrics.METRIC_COMPILATION_TIME())

    out: dict = {}
    load0 = os.getloadavg()
    for name in args.keys:
        fn = QUERIES[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        times, compiles = [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            c0 = compile_timer.getCount()
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            compiles.append(compile_timer.getCount() - c0)
        out[name] = {"best": min(times), "all": times, "compiles": compiles}
    print(json.dumps({"sf": args.sf, "reps": args.reps,
                      "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                      "keys": out}))
    spark.stop()


if __name__ == "__main__":
    main()
