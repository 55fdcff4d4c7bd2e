#!/usr/bin/env python
"""Round-6 equivalence fingerprint: order-insensitive result hash for
queries() keys, to prove a rewrite computes the identical result.

Usage: python bench/r06_equiv.py KEY [KEY...] [--sf DIR ...] [--cpus N]
Prints one JSON line {key: {sf: {"n": rows, "hash": md5}}}. --cpus
defaults to $SPARK_GRAFT_CPUS, else the CPUs this process may run on.

Hashing: every row formatted with repr (floats via repr -> exact bit
pattern), rows sorted lexicographically, md5 over the joined bytes —
matches the "identical results" bar, not an approximate compare.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "src"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", action="append", default=None)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                or len(os.sched_getaffinity(0))))
    args = ap.parse_args()
    sfs = args.sf or ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
                      "/root/testdata/sf0.1"]

    import ocrflow.dataops  # noqa: F401
    from ocrflow.session import build_session
    from ocrflow.queries import QUERIES

    spark = build_session(master=f"local[{args.cpus}]", app="r06-equiv")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    for name in args.keys:
        fn = QUERIES[name]
        out[name] = {}
        for sf in sfs:
            rows = fn(spark, sf).collect()
            lines = sorted(repr(tuple(r)) for r in rows)
            h = hashlib.md5("\n".join(lines).encode()).hexdigest()
            out[name][sf] = {"n": len(rows), "hash": h}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
