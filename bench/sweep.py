#!/usr/bin/env python
"""Driver-style string-exact oracle sweep at sf0.01: every oracled
queries() key vs DuckDB, in a fresh JVM at Spark's default heap.

Usage: python bench/sweep.py {tuned,stock} [outfile]

tuned uses ocrflow.session.build_session(); stock uses a default
SparkSession at local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on) with only the UTC session time zone set. Writes
{"mode", "n", "bad", "keys"} to outfile (default /tmp/sweep_<mode>.json).

oracle_mismatch() is the one comparison: tests/test_oracle.py imports
it and runs it on every oracled key at sf0.001 under both sessions.
"""
import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _str_rows(cols, rows) -> list:
    """Rows as str()-rendered tuples, columns in name order, sorted."""
    idx = sorted(range(len(cols)), key=lambda j: cols[j])
    return sorted(tuple(str(r[j]) for j in idx) for r in rows)


def oracle_mismatch(sdf, rel) -> str | None:
    """None when the Spark DataFrame ``sdf`` and the executed DuckDB
    relation ``rel`` have the same column names and the same non-empty
    str()-rendered, column-sorted, row-sorted rows; else what differs."""
    cols, dcols = sdf.columns, [d[0] for d in rel.description]
    if sorted(cols) != sorted(dcols):
        return f"columns spark={sorted(cols)} duckdb={sorted(dcols)}"
    s, d = _str_rows(cols, sdf.collect()), _str_rows(dcols, rel.fetchall())
    if s == d:
        return None if s else "empty result on both sides"
    i = next((i for i, (a, b) in enumerate(zip(s, d)) if a != b),
             min(len(s), len(d)))
    a, b = (rows[i] if i < len(rows) else None for rows in (s, d))
    return (f"rows spark={len(s)} duckdb={len(d)}; sorted row {i}: "
            f"spark={str(a)[:300]} duckdb={str(b)[:300]}")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "tuned"
    if mode not in ("tuned", "stock"):
        sys.exit(f"usage: {sys.argv[0]} {{tuned,stock}} [outfile]")
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sweep_{mode}.json"

    # Import the entry module FIRST in both modes: it exports PYTHONPATH
    # for executor python workers (the driver does the same — it imports
    # __spark_entry__ before building its session). Creating the stock
    # session first leaves workers unable to unpickle ocrflow UDFs.
    sys.path.insert(0, REPO)  # __spark_entry__ adds src/ itself
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
    for n in TABLES:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{SF}/{n}.parquet')")
    res, bad = {}, 0
    for k in Q:
        if k not in O:
            continue
        t0 = time.time()
        try:
            issue = oracle_mismatch(Q[k](spark, SF), con.execute(O[k]))
        except Exception as ex:
            issue = f"{type(ex).__name__}: {str(ex)[:300]}"
        res[k] = {"ok": issue is None, "sec": round(time.time() - t0, 2)}
        if issue is not None:
            res[k]["issue"] = issue
            bad += 1
            print("ISSUE", k, issue[:300], flush=True)
    with open(out, "w") as fh:
        json.dump({"mode": mode, "n": len(res), "bad": bad, "keys": res}, fh,
                  indent=1)
    print("sweep", mode, "issues:", bad, "of", len(res))
    spark.stop()


if __name__ == "__main__":
    main()
