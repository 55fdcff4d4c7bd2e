#!/usr/bin/env python
"""Pinned N-vs-4N scaling evidence for the RELATIONAL/DEDUP suite
(round-3 VERDICT item 5): the extraction path has fresh-JVM 2-vs-8-core
interleaved numbers (bench/run_bench.py); this applies the same
discipline to the top-cost queries of the driver suite, with the
shuffle-bytes + per-task histogram the BASELINE.md protocol promises.

Protocol (same honesty rules as run_bench.py):
- fresh JVM per (config, round), pinned with ``taskset`` to 2 or 8
  cores; configs interleaved per round, best-of-N per query reported.
- identical plans across configs: spark.sql.shuffle.partitions is fixed
  at 32 for BOTH, so only physical parallelism differs (run_bench
  scales partitions with cores because the extraction job's partition
  count is part of its interface; here the suite queries fix their own
  shapes).
- per-query shuffle read/write bytes and the heaviest stage's task
  histogram come from the Spark UI REST API (stages completed during
  the timed window), recorded as skew evidence.
- scaling efficiency per query = (wall_N / wall_4N) / 4. Short queries
  (<1 s) are dominated by fixed job overhead and are reported but not
  meaningful; the suite-level number uses the wall SUMS.

Run pinned-quiet only (loadavg < ~4):
    PYTHONPATH=src python bench/query_scaling.py
Writes BENCH/query_scaling.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# top-cost queries of BENCH_r02 + one representative per heavy family
QUERIES = [
    "dedup_materialize", "join_salted_skew", "tpch_q5_shape",
    "tpch_q3_shape", "dedup_minhash_lsh", "dedup_lsh_verified",
    "dedup_simhash", "join_asof", "join_range_bucketed", "topk_per_group",
]

CONFIGS = [("N", 2, "local[2]"), ("4N", 8, "local[8]")]

_CHILD = r"""
import json, sys, time, urllib.request
sys.path.insert(0, SRC)
from ocrflow.session import build_session
import ocrflow.dataops  # noqa: F401
import ocrflow.multimodal  # noqa: F401
from ocrflow.queries import QUERIES

spark = build_session(master=MASTER, app="ocrflow-qscale",
                      shuffle_partitions=32,
                      extra={"spark.ui.enabled": "true",
                             "spark.ui.port": "4050"})
spark.sparkContext.setLogLevel("ERROR")
ui = spark.sparkContext.uiWebUrl


def _get(path):
    with urllib.request.urlopen(ui + "/api/v1" + path, timeout=10) as r:
        return json.load(r)


app_id = _get("/applications")[0]["id"]


def stages():
    try:
        return {(s["stageId"], s["attemptId"]): s
                for s in _get(f"/applications/{app_id}/stages?status=complete")}
    except Exception:
        return {}


# global warmup: executors, codegen, python workers
QUERIES["agg_hash"](spark, SF).count()


def sink(df):
    # noop write: full plan executes (count() lets Catalyst prune
    # unconsumed expressions — see bench.py round-3 note)
    df.write.format("noop").mode("overwrite").save()


out = {}
for name in PLAN:
    fn = QUERIES[name]
    sink(fn(spark, SF))              # per-query warmup (JIT, OS page cache)
    rows = fn(spark, SF).count()
    before = set(stages())
    t0 = time.perf_counter()
    sink(fn(spark, SF))
    wall = time.perf_counter() - t0
    time.sleep(0.3)                  # let the listener flush stage metrics
    after = stages()
    mine = [s for k, s in after.items() if k not in before]
    sr = sum(s.get("shuffleReadBytes", 0) for s in mine)
    sw = sum(s.get("shuffleWriteBytes", 0) for s in mine)
    ntasks = sum(s.get("numCompleteTasks", 0) for s in mine)
    hist = None
    if mine:
        heavy = max(mine, key=lambda s: s.get("executorRunTime", 0))
        try:
            q = _get(f"/applications/{app_id}/stages/{heavy['stageId']}/"
                     f"{heavy['attemptId']}/taskSummary"
                     f"?quantiles=0.5,0.95,1.0")
            hist = {"stage_task_p50_ms": round(q["executorRunTime"][0], 1),
                    "stage_task_p95_ms": round(q["executorRunTime"][1], 1),
                    "stage_task_max_ms": round(q["executorRunTime"][2], 1),
                    "stage_n_tasks": heavy.get("numCompleteTasks")}
        except Exception:
            hist = None
    out[name] = {"wall_s": round(wall, 3), "rows": rows,
                 "shuffle_read_mb": round(sr / 2**20, 2),
                 "shuffle_write_mb": round(sw / 2**20, 2),
                 "n_stages": len(mine), "n_tasks": ntasks,
                 "heavy_stage": hist}
print("CHILD_JSON:" + json.dumps(out))
spark.stop()
"""


def run_config(master: str, cores: int, plan: list[str]) -> dict:
    code = (f"SRC = {os.path.join(REPO, 'src')!r}\n"
            f"MASTER = {master!r}\nSF = {SF_DIR!r}\nPLAN = {plan!r}\n"
            + _CHILD)
    cpu = f"0-{cores - 1}"
    out = subprocess.run(["taskset", "-c", cpu, sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=3600)
    if out.returncode != 0:
        raise RuntimeError(f"config {master} failed:\n{out.stderr[-3000:]}")
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("CHILD_JSON:")][-1]
    return json.loads(line[len("CHILD_JSON:"):])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument("--sf-dir", default=None,
                    help="override input dir (e.g. a replicated x16 dir "
                         "from bench/growth.replicate)")
    ap.add_argument("--out", default="query_scaling.json")
    args = ap.parse_args()
    plan = args.queries.split(",")
    global SF_DIR
    if args.sf_dir:
        SF_DIR = args.sf_dir

    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    best: dict = {name: {} for name, _, _ in CONFIGS}
    for rnd in range(args.rounds):
        for name, cores, master in CONFIGS:   # interleaved
            res = run_config(master, cores, plan)
            for qn, r in res.items():
                cur = best[name].get(qn)
                if cur is None or r["wall_s"] < cur["wall_s"]:
                    best[name][qn] = r
            print(f"round {rnd} {name}: " + " ".join(
                f"{qn}={r['wall_s']}s" for qn, r in res.items()), flush=True)

    per_query = {}
    for qn in plan:
        n, n4 = best["N"][qn], best["4N"][qn]
        eff = round((n["wall_s"] / n4["wall_s"]) / 4, 3) \
            if n4["wall_s"] > 0 else None
        per_query[qn] = {"N": n, "4N": n4, "speedup": round(
            n["wall_s"] / n4["wall_s"], 2), "scaling_efficiency": eff}
    sum_n = sum(best["N"][q]["wall_s"] for q in plan)
    sum_4n = sum(best["4N"][q]["wall_s"] for q in plan)
    summary = {
        "sf_dir": SF_DIR, "loadavg_at_start": load,
        "protocol": "fresh JVM per (config, round), taskset-pinned, "
                    "interleaved, best-of-%d, shuffle_partitions=32 both" %
                    args.rounds,
        "suite_wall_N_s": round(sum_n, 2), "suite_wall_4N_s": round(sum_4n, 2),
        "suite_speedup": round(sum_n / sum_4n, 3),
        "suite_scaling_efficiency": round((sum_n / sum_4n) / 4, 3),
        "queries": per_query,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", args.out), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({"suite_scaling_efficiency":
                      summary["suite_scaling_efficiency"],
                      "suite_wall_N_s": summary["suite_wall_N_s"],
                      "suite_wall_4N_s": summary["suite_wall_4N_s"]}))


if __name__ == "__main__":
    main()
