#!/usr/bin/env python
"""Data-growth study: the same queries() keys at 1x and k x data.

Replicates every fact table an op reads k times, shifting keys so
per-replica structure (dup clusters, label blocks, funnels) repeats
instead of vanishing: documents get a replica token appended, events
shift user/event ids, embeddings shift vec ids and labels,
orders/lineitem shift order keys. The static dims (region, nation,
customer, supplier, part) are linked in unchanged. File count scales
with data (repartition(8k)) because scan parallelism caps at file
count.

Protocol: local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may
run on), noop-write sink (count() lets Catalyst prune unconsumed
expressions), one warm-up pass at 1x, then best-of-2 per (op, scale).
Linear pipelines grow wall ~x k; an all-pairs regression shows ~x k^2.
Run at low loadavg with nothing else on Spark:

    python bench/growth.py --ops eval_cer eval_bleu2 \\
        --factor 4 --out BENCH/my_growth.json

Reads tables from $SPARK_GRAFT_SF_DIR (default sf0.1). BENCH/README.md
maps each committed BENCH/*growth.json to the command that made it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STATIC_TABLES = ("region", "nation", "customer", "supplier", "part")


def replicate(spark, sf_dir: str, k: int, out_dir: str) -> str:
    """Write sf_dir's tables at k times the rows into out_dir; return it.

    Fact tables are replicated with the key shifts above; the static
    dims are symlinked to sf_dir's files.
    """
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write(parts, name):
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(8 * k).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    write([docs.select(
        (F.col("doc_id") + i * 10 * n).alias("doc_id"),
        F.when(F.lit(i) == 0, F.col("text"))
         .otherwise(F.concat_ws(" ", "text", F.lit(f"rep{i}"))).alias("text"),
        "lang", "source", "n_chars") for i in range(k)], "documents")

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ne = ev.count()
    write([ev.select((F.col("event_id") + i * 10 * ne).alias("event_id"),
                     "ts",
                     (F.col("user_id") + i * 10_000_000).alias("user_id"),
                     "event_type", "value", "props") for i in range(k)],
          "events")

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nv = em.count()
    write([em.select((F.col("vec_id") + i * 10 * nv).alias("vec_id"),
                     "embedding",
                     (F.col("label") + i * 100_000).alias("label"))
           for i in range(k)], "embeddings")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    no = orders.count()
    write([orders.select(
        (F.col("o_orderkey") + i * 10 * no).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority") for i in range(k)], "orders")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = [c for c in li.columns if c != "l_orderkey"]
    write([li.select(
        (F.col("l_orderkey") + i * 10 * no).alias("l_orderkey"), *cols)
        for i in range(k)], "lineitem")

    for name in STATIC_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), dst)
    return out_dir


def main() -> None:
    from ocrflow.session import build_session
    import ocrflow.dataops  # noqa: F401
    import ocrflow.multimodal  # noqa: F401
    from ocrflow.queries import QUERIES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ops", nargs="+", required=True, metavar="KEY")
    ap.add_argument("--factor", type=int, choices=(4, 16), required=True)
    ap.add_argument("--out", required=True, metavar="PATH")
    args = ap.parse_args()
    unknown = [op for op in args.ops if op not in QUERIES]
    if unknown:
        ap.error(f"unknown queries() keys: {' '.join(unknown)}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    kx = args.factor
    results: dict = {"sf_dir": SF_DIR, "loadavg": os.getloadavg(),
                     "protocol": f"local[{cpus}], noop sink, warm-up, "
                                 f"best-of-2, facts replicated x1/x{kx} "
                                 "(dims static)",
                     "ops": {}}

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    with tempfile.TemporaryDirectory(prefix="ocrflow_growth_") as scratch:
        dirs = {k: replicate(spark, SF_DIR, k, os.path.join(scratch, f"x{k}"))
                for k in (1, kx)}

        for op in args.ops:                # warm-up: JIT + python workers
            sink(QUERIES[op](spark, dirs[1]))

        for op in args.ops:
            fn = QUERIES[op]
            walls, rows = {}, {}
            for k in (1, kx):
                rows[k] = fn(spark, dirs[k]).count()
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    sink(fn(spark, dirs[k]))
                    best = min(best, time.perf_counter() - t0)
                walls[k] = round(best, 2)
            growth = round(walls[kx] / walls[1], 2) if walls[1] > 0 else None
            results["ops"][op] = {
                "wall_1x_s": walls[1], f"wall_{kx}x_s": walls[kx],
                "rows_1x": rows[1], f"rows_{kx}x": rows[kx],
                f"wall_growth_{kx}x": growth}
            print(op, results["ops"][op], flush=True)
    spark.stop()

    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print("wrote", args.out, flush=True)


if __name__ == "__main__":
    main()
