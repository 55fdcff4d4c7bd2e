#!/usr/bin/env python
"""Driver-style string-exact oracle sweep at sf0.01: every oracled
queries() key vs DuckDB, comparing str()-rendered, column-sorted,
row-sorted tuples.

Usage: python bench/sweep.py {tuned,stock} [outfile]

tuned uses ocrflow.session.build_session(); stock uses a default
SparkSession at local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on) with only the UTC session time zone set. Writes
{"mode", "n", "bad", "keys"} to outfile (default /tmp/sweep_<mode>.json).
"""
import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # __spark_entry__ adds src/ itself
SF = "/root/testdata/sf0.01"


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "tuned"
    if mode not in ("tuned", "stock"):
        sys.exit(f"usage: {sys.argv[0]} {{tuned,stock}} [outfile]")
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sweep_{mode}.json"

    # Import the entry module FIRST in both modes: it exports PYTHONPATH
    # for executor python workers (the driver does the same — it imports
    # __spark_entry__ before building its session). Creating the stock
    # session first leaves workers unable to unpickle ocrflow UDFs.
    import __spark_entry__ as E

    if mode == "stock":
        from pyspark.sql import SparkSession
        cpus = (os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .getOrCreate())
    else:
        from ocrflow.session import build_session
        spark = build_session()
    Q, O = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for n in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{SF}/{n}.parquet')")
    res, bad = {}, 0
    for k in Q:
        if k not in O:
            continue
        t0 = time.time()
        try:
            sdf = Q[k](spark, SF); c = sdf.columns
            i = sorted(range(len(c)), key=lambda j: c[j])
            s = sorted(tuple(str(r[j]) for j in i) for r in sdf.collect())
            rel = con.execute(O[k]); dc = [d[0] for d in rel.description]
            di = sorted(range(len(dc)), key=lambda j: dc[j])
            d = sorted(tuple(str(r[j]) for j in di) for r in rel.fetchall())
            ok = sorted(c) == sorted(dc) and s == d and bool(s)
            res[k] = {"ok": ok, "rows": len(s), "oracle_rows": len(d),
                      "sec": round(time.time() - t0, 2)}
        except Exception as ex:
            res[k] = {"ok": False, "err": str(ex)[:300],
                      "sec": round(time.time() - t0, 2)}
            ok = False
        if not ok:
            bad += 1
            print("ISSUE", k, json.dumps(res[k])[:200], flush=True)
    with open(out, "w") as fh:
        json.dump({"mode": mode, "n": len(res), "bad": bad, "keys": res}, fh,
                  indent=1)
    print("sweep", mode, "issues:", bad, "of", len(res))
    spark.stop()


if __name__ == "__main__":
    main()
