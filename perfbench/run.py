#!/usr/bin/env python3
"""ocrflow benchmark: one workload per run at local[4], closed loop.

    python3 perfbench/run.py --workload extract_skewed --seed 1 --seconds 16 --trace 0

One driver process submits one Spark job at a time to 4 task slots. The
run builds a session, generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, warms up, then repeats the
workload's timed unit until ``--seconds`` have passed, checks the
outputs outside the timed region and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``E2E``). ``--trace 1``
then repeats the timed loop with the Spark event log and job groups on,
adds the benchmark's own spans, and reports the per-layer metrics
(``LAYERS``) instead; a metric of a layer the workload does not run
reads 0. See README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(ROOT, ".perfbench_work")
FINGERPRINTS = os.path.join(HERE, "suite_fingerprints.json")

MASTER = "local[4]"
SLOTS = 4
PARTITIONS = 8           # shuffle partitions: two waves of the 4 slots
SETUP_REPEATS = 3       # input generation runs this often; setup uses the median
DRIVER_MEM = "2g"      # also the initial heap: a fixed heap keeps peak RSS steady

#: extract_skewed input: about half the turns sit in one conversation
EXTRACT_TURNS = 16_000
MONSTER_EVERY = 150
MONSTER_SIZE = 8_000
SAMPLE_EVERY = 16       # 1 turn in 16 is byte-checked against the reference
REPLAY_TURNS = 2048     # kernel replay sample, cut into REPLAY_BATCH-row batches
REPLAY_BATCH = 256

#: the extraction input is RESUME_FILES parquet files; set-up extracts
#: them into an icelite table in commits of RESUME_MAX_FILES files
RESUME_FILES = 8
RESUME_MAX_FILES = 4
RESUME_PARTITIONS = 4

#: operator_suite keys and their modules, frozen: ROADMAP's costliest
#: leaves, its pushdown-barrier operators and the q21 join-hint shape.
#: Later edits to bench.HEADLINE do not change this workload.
SUITE_KEYS = {
    "dedup_materialize": "dataops", "assoc_pairs_support": "queries",
    "decontaminate_fuzzy": "dataops", "corpus_curation_e2e": "dataops",
    "emb_quantize_int8": "dataops", "tpch_q21_shape": "queries",
}

SUITE_MIN_RUNS = 2      # timed runs per key, even when --seconds has passed

E2E = [("wall_s", "s"), ("items_per_s", "1/s"), ("setup_s", "s"),
       ("peak_rss_mb", "MB")]

LAYERS = (
    [(f"reference.{n}_s", "s") for n in (
        "sniff", "segment_html", "segment_pdf", "segment_plain", "classify",
        "stitch", "segment_spans")]
    + [("reference.blocks", "count"), ("reference.blocks_kept", "count"),
       ("reference.keep_ratio", "ratio"), ("chartables.score_spans_s", "s"),
       ("kernel.turns_per_cpu_s", "1/s"), ("kernel.assembly_s", "s"),
       ("kernel.batches", "count"), ("kernel.batch_ms.p50", "ms"),
       ("kernel.batch_ms.p99", "ms"),
       ("pipeline.stages", "count"), ("pipeline.scan.cpu_s", "s"),
       ("pipeline.exchange.shuffle_write_mb", "MB"),
       ("pipeline.exchange.shuffle_read_mb", "MB"),
       ("pipeline.kernel_stage.cpu_s", "s"), ("pipeline.kernel_stage.run_s", "s"),
       ("pipeline.kernel_stage.task_s.p50", "s"),
       ("pipeline.kernel_stage.task_s.max", "s"),
       ("pipeline.kernel_stage.skew", "ratio"), ("pipeline.gc_s", "s"),
       ("pipeline.spill_mb", "MB"), ("pipeline.parallel_efficiency", "ratio"),
       ("runner.run_extract_s", "s"), ("runner.rerun_s", "s"),
       ("runner.completed_input_files_s", "s"), ("runner.expire_orphans_s", "s"),
       ("runner.lineage_rows", "count"),
       ("icelite.write_files_s", "s"), ("icelite.commit_append_s", "s"),
       ("icelite.files_written", "count"), ("icelite.bytes_written_mb", "MB"),
       ("icelite.bytes_per_input_byte", "ratio"), ("icelite.read_s", "s"),
       ("icelite.snapshots", "count")]
    + [(f"{mod}.{k}.wall_s", "s") for k, mod in SUITE_KEYS.items()]
    + [(f"{mod}.{m}", u) for mod in ("queries", "dataops")
       for m, u in (("cpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))]
    + [(f"{k}.{m}", u) for k in SUITE_KEYS
       for m, u in (("cpu_s", "s"), ("shuffle_mb", "MB"), ("jobs", "count"))]
    + [("session.build_s", "s"), ("synth.gen_s", "s"),
       ("trace.overhead_frac", "ratio"), ("kernel.trace_overhead_frac", "ratio")]
)

MB = 1 << 20


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def noop(df) -> None:
    """Timing sink that consumes every column (count() would prune)."""
    df.write.format("noop").mode("overwrite").save()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> str:
    with open("/proc/loadavg", encoding="ascii") as f:
        return " ".join(f.read().split()[:3])


def prepare_env() -> None:
    """Keep every file the run writes inside WORK, and pin the knobs
    that would change the program's plan between hosts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for var in [v for v in os.environ if v.startswith("OCRFLOW_")]:
        del os.environ[var]
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local, "OCRFLOW_LOCAL_DIR": local,
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "OCRFLOW_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = None


class Bench:
    """One run: the session, the work dir, counters and metric values."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spark = None
        self._proc = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {name: 0.0 for name, _ in LAYERS}
        self.tracing = False    # event log and job groups on
        self.events_dir = os.path.join(WORK, "events")

    # -- session ---------------------------------------------------------
    def _session(self):
        from ocrflow.session import build_session
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if self.tracing:
            os.makedirs(self.events_dir, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.dir": f"file://{self.events_dir}"})
        spark = build_session(master=MASTER, app=f"perfbench-{self.workload}",
                              shuffle_partitions=PARTITIONS, extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def start(self) -> float:
        """Build the untraced session (and launch the JVM); returns seconds."""
        t0 = time.perf_counter()
        self.spark = self._session()
        build_s = time.perf_counter() - t0
        self._proc = self.spark.sparkContext._gateway.proc
        self.layers["session.build_s"] = build_s
        return build_s

    def restart_traced(self) -> None:
        """Swap the untraced session for one with the event log on, in the
        same JVM, so its JIT state carries over to the traced repeat."""
        self.spark.stop()
        self.tracing = True
        self.spark = self._session()

    def group(self, name: str) -> None:
        """Tag the jobs that follow (traced session only)."""
        if self.tracing:
            self.spark.sparkContext.setJobGroup(name, name)

    def peak_rss_mb(self) -> float:
        """High-water RSS of the driver JVM plus this Python driver."""
        return vm_hwm_mb(self._proc.pid) + vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark, then the JVM (it exits when its stdin closes), and
        wait for it; executor Python workers exit with the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            proc, self._proc = self._proc, None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
                    raise

    # -- shared steps ----------------------------------------------------
    def generate(self, make) -> str:
        """Run ``make(dir)`` SETUP_REPEATS times into fresh dirs; the first
        dir is the input. Returns it and records the median time."""
        walls, dirs = [], []
        for i in range(SETUP_REPEATS):
            d = os.path.join(WORK, f"input{i}")
            t0 = time.perf_counter()
            make(d)
            walls.append(time.perf_counter() - t0)
            dirs.append(d)
        for d in dirs[1:]:
            shutil.rmtree(d)
        self.layers["synth.gen_s"] = median(walls)
        return dirs[0]

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            log(f"FAILED {failed}/{attempted}: {what}")

    def finish_e2e(self, build_s: float, warmup_s: float, wall_s: float,
                   items: float, timed_s: float) -> None:
        log(f"build {build_s:.2f}s gen {self.layers['synth.gen_s']:.2f}s "
            f"warm-up {warmup_s:.2f}s timed {timed_s:.2f}s wall {wall_s:.3f}s "
            f"items {items}")
        self.e2e = {"wall_s": wall_s, "items_per_s": items / timed_s,
                    "setup_s": build_s + self.layers["synth.gen_s"] + warmup_s,
                    "peak_rss_mb": self.peak_rss_mb()}

    def event_groups(self) -> dict:
        """Per-job-group totals from the event log (session must be stopped)."""
        from eventlog import find_log, read_groups
        return read_groups(find_log(self.events_dir))

    def result(self) -> dict:
        names = LAYERS if self.trace else E2E
        values = self.layers if self.trace else self.e2e
        return {"correct": self.failed == 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": {n: {"value": float(values[n]), "unit": u}
                            for n, u in names}}


# -- extraction helpers ---------------------------------------------------

def check_extraction(b: Bench, input_dir: str, output) -> None:
    """Every input turn appears once in ``output`` (missing, extra and
    duplicate turns each count as failed); a deterministic 1-in-
    SAMPLE_EVERY sample is byte-equal to ``reference.extract_turn``."""
    from pyspark.sql import functions as F
    from ocrflow import reference
    keys = ["conv_id", "turn_idx"]
    inp = b.spark.read.parquet(input_dir)
    seen = output.groupBy(*keys).count()
    r = (inp.select(*keys).withColumn("_in", F.lit(True)).join(seen, keys, "full_outer")
         .agg(F.count("_in").alias("n_in"),
              F.count_if(F.col("count").isNull()).alias("missing"),
              F.count_if(F.col("_in").isNull()).alias("extra"),
              F.sum(F.greatest(F.col("count") - 1, F.lit(0))).alias("dup"))
         .first())
    b.count(r["n_in"], r["missing"] + r["extra"] + (r["dup"] or 0),
            f"{r['missing']} missing, {r['extra']} extra, {r['dup']} duplicate turns")

    pick = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(b.seed)),
                  F.lit(SAMPLE_EVERY)) == 0
    rows = (inp.filter(pick).select(*keys, "text", "role")
            .join(output, keys).collect())
    bad = 0
    for r in rows:
        ref = reference.extract_turn(r["text"], role=r["role"])
        spans = [(s["start"], s["end"], reference.SPAN_KINDS[s["kind_code"]], s["score"])
                 for s in r["spans"]]
        bad += (r["extracted_text"] != ref.extracted_text or spans != ref.spans
                or r["payload_kind"] != ref.payload_kind)
    b.count(len(rows), bad, "sampled turns differ from reference.extract_turn")


def replay_batches(input_dir: str, seed: int):
    """REPLAY_TURNS rows drawn from the workload's input with ``seed``,
    as the kernel sees them (conv_id, turn_idx, text, role)."""
    import numpy as np
    import pyarrow.parquet as pq
    table = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text", "role"])
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(table.num_rows, min(REPLAY_TURNS, table.num_rows),
                             replace=False))
    return table.take(idx).combine_chunks().to_batches(max_chunksize=REPLAY_BATCH)


def kernel_layers(b: Bench, input_dir: str) -> float:
    """Replay the kernel untraced and traced; fill the reference, chartables
    and kernel metrics. Returns the wrappers' overhead fraction."""
    from ocrflow import chartables
    from tracer import replay_kernel
    rep = replay_kernel(replay_batches(input_dir, b.seed), chartables.default_weights())
    b.count(rep.batches * rep.rounds, rep.mismatched_batches,
            "traced kernel batches differ from untraced")
    L = b.layers
    for name in ("sniff", "segment_html", "segment_pdf", "segment_plain",
                 "classify", "stitch", "segment_spans"):
        L[f"reference.{name}_s"] = rep.per_round(f"reference.{name}")
    L["chartables.score_spans_s"] = rep.per_round("chartables.score_spans")
    L["kernel.assembly_s"] = rep.per_round("kernel.extract_batch")
    blocks = rep.recorder.counts["blocks"] / rep.rounds
    kept = rep.recorder.counts["blocks_kept"] / rep.rounds
    L["reference.blocks"] = blocks
    L["reference.blocks_kept"] = kept
    L["reference.keep_ratio"] = kept / blocks if blocks else 0.0
    L["kernel.turns_per_cpu_s"] = rep.turns / median(rep.plain_cpu_s)
    L["kernel.batches"] = rep.batches
    ms = sorted(rep.batch_ms)
    L["kernel.batch_ms.p50"] = median(ms)
    L["kernel.batch_ms.p99"] = ms[min(len(ms) - 1, int(0.99 * len(ms)))]
    return rep.overhead_frac


def pipeline_layers(b: Bench, groups: dict, units: dict[str, float]) -> None:
    """Stage metrics of the timed extract_df passes, median over passes.

    The scan stage writes the salted exchange (shuffle write, no shuffle
    read); the kernel stage reads it and runs mapInArrow into the sink."""
    per = []
    for name, wall in units.items():
        g = groups[name]
        stages = list(g.stages.values())
        kern = max((s for s in stages if s.shuffle_read_b), key=lambda s: s.shuffle_read_b)
        scan = max((s for s in stages if s.shuffle_write_b and not s.shuffle_read_b),
                   key=lambda s: s.shuffle_write_b)
        task_p50, task_max = median(kern.task_s), max(kern.task_s)
        per.append({
            "pipeline.stages": len(stages),
            "pipeline.scan.cpu_s": scan.cpu_s,
            "pipeline.exchange.shuffle_write_mb": scan.shuffle_write_b / MB,
            "pipeline.exchange.shuffle_read_mb": kern.shuffle_read_b / MB,
            "pipeline.kernel_stage.cpu_s": kern.cpu_s,
            "pipeline.kernel_stage.run_s": kern.run_s,
            "pipeline.kernel_stage.task_s.p50": task_p50,
            "pipeline.kernel_stage.task_s.max": task_max,
            "pipeline.kernel_stage.skew": task_max / task_p50,
            "pipeline.gc_s": g.total("gc_s"),
            "pipeline.spill_mb": g.total("spill_b") / MB,
            "pipeline.parallel_efficiency": g.total("run_s") / (wall * SLOTS),
        })
    for k in per[0]:
        b.layers[k] = median(d[k] for d in per)


# -- workloads ------------------------------------------------------------

def extract_skewed(b: Bench) -> None:
    """Set-up: skewed synth parquet in RESUME_FILES files, extracted into
    an icelite table by resumable runs (checked after timing). Timed:
    extract_df over the parquet to a noop sink."""
    from pyspark.sql import Observation, functions as F
    from ocrflow import pipeline, synth
    build_s = b.start()
    spark = b.spark
    inp = b.generate(lambda d: synth.synth_dataframe(
        spark, EXTRACT_TURNS, seed=b.seed, partitions=RESUME_FILES,
        monster_every=MONSTER_EVERY, monster_size=MONSTER_SIZE).write.parquet(d))

    t0 = time.perf_counter()
    table = commit_cycle(b, inp)
    warmup_s = time.perf_counter() - t0

    def timed():
        walls, units = [], {}
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < b.seconds:
            name = f"extract#{len(walls)}"
            b.group(name)
            obs = Observation(name)
            t0 = time.perf_counter()
            df = pipeline.extract_df(b.spark, b.spark.read.parquet(inp))
            noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
            walls.append(time.perf_counter() - t0)
            units[name] = walls[-1]
            b.count(1, int(obs.get["rows"] != EXTRACT_TURNS), f"{name} row count")
        log("pass walls " + " ".join(f"{w:.3f}" for w in walls))
        return walls, units, time.perf_counter() - start

    walls, _, timed_s = timed()
    b.finish_e2e(build_s, warmup_s, median(walls), EXTRACT_TURNS * len(walls), timed_s)
    check_extraction(b, inp, table.read(spark))
    if b.trace:
        b.restart_traced()
        traced, units, _ = timed()
        b.layers["trace.overhead_frac"] = median(traced) / median(walls) - 1.0
        b.layers["kernel.trace_overhead_frac"] = kernel_layers(b, inp)
        b.stop()
        pipeline_layers(b, b.event_groups(), units)


def commit_cycle(b: Bench, inp: str):
    """runner.run_extract in commits of RESUME_MAX_FILES input files, a
    rerun with nothing pending and a read-back of the icelite table.
    Counts a failure unless every commit takes its share of files, the
    rerun takes none and each input file has exactly one completion
    marker. Returns the table."""
    from pyspark.sql import functions as F
    from ocrflow import runner
    from ocrflow.icelite import IceliteTable
    from tracer import SpanRecorder
    spark = b.spark
    files = runner.list_input_files(inp)
    if len(files) != RESUME_FILES:
        raise RuntimeError(f"expected {RESUME_FILES} input files, got {len(files)}")
    path = os.path.join(WORK, "table")

    def run() -> dict:
        return runner.run_extract(spark, inp, path, max_files=RESUME_MAX_FILES,
                                  partitions=RESUME_PARTITIONS)

    rec = SpanRecorder()
    targets = [
        (runner, "completed_input_files", "runner.completed_input_files"),
        (runner, "expire_orphan_data_commits", "runner.expire_orphans"),
        (runner, "write_dataframe_files", "icelite.write_files"),
        (IceliteTable, "commit_append", "icelite.commit_append"),
    ] if b.trace else []
    commits = []
    with rec.patched(targets):
        for i in range(RESUME_FILES // RESUME_MAX_FILES):
            t0 = time.perf_counter()
            r = run()
            commits.append(time.perf_counter() - t0)
            b.count(1, int(r["files_processed"] != RESUME_MAX_FILES), f"commit {i} files")
        t0 = time.perf_counter()
        r = run()
        rerun_s = time.perf_counter() - t0
        b.count(1, int(r["files_processed"] != 0), "rerun processed files")
        table = IceliteTable(path)
        t0 = time.perf_counter()
        noop(table.read(spark))
        read_s = time.perf_counter() - t0

    lin = IceliteTable(os.path.join(path, "lineage")).read(spark)
    markers = {r["input_file"]: r["count"] for r in
               lin.filter(F.col("partition_id") == -1).groupBy("input_file").count().collect()}
    bad = sum(markers.get(f) != 1 for f in files) + len(set(markers) - set(files))
    b.count(len(files), bad, "input files without exactly one completion marker")

    if b.trace:
        L = b.layers
        L["runner.run_extract_s"] = median(commits)
        L["runner.rerun_s"] = rerun_s
        L["runner.completed_input_files_s"] = median(
            rec.durations["runner.completed_input_files"])
        L["runner.expire_orphans_s"] = median(rec.durations["runner.expire_orphans"])
        L["runner.lineage_rows"] = lin.count()
        L["icelite.write_files_s"] = rec.total["icelite.write_files"] / len(commits)
        L["icelite.commit_append_s"] = rec.total["icelite.commit_append"] / len(commits)
        data_files = table.file_list()
        written = sum(os.path.getsize(f) for f in data_files)
        L["icelite.files_written"] = len(data_files)
        L["icelite.bytes_written_mb"] = written / MB
        L["icelite.bytes_per_input_byte"] = written / sum(os.path.getsize(f) for f in files)
        L["icelite.read_s"] = read_s
        L["icelite.snapshots"] = len(table.snapshots())
    return table


def _canon(v) -> str:
    """Render a value so equal results render equal across runs: floats
    to 6 significant digits (-0.0 as 0.0), arrays and maps as sorted
    multisets (element order from collect_list is not stable)."""
    if isinstance(v, float):
        return "nan" if v != v else format(v + 0.0, ".6g")
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, list):
        return "[" + ",".join(sorted(_canon(x) for x in v)) + "]"
    if isinstance(v, tuple):      # Row / struct: field order is the schema's
        return "(" + ",".join(_canon(x) for x in v) + ")"
    if hasattr(v, "is_finite"):   # Decimal
        return format(float(v) + 0.0, ".6g")
    return str(v)


def fingerprint(rows) -> dict:
    digest = hashlib.sha256("\n".join(sorted(_canon(tuple(r)) for r in rows)).encode())
    return {"rows": len(rows), "sha256": digest.hexdigest()[:16]}


def operator_suite(b: Bench, record: bool = False) -> None:
    """SUITE_KEYS at a fixed sf0.01-shaped scale, each key to a noop sink
    per pass. The tables use a fixed seed: ``--seed`` does not apply."""
    import ocrflow.dataops  # noqa: F401 — registers the dataops keys
    import tables
    from ocrflow.queries import QUERIES
    build_s = b.start()
    spark = b.spark
    sf = b.generate(tables.write_tables)
    for k, mod in SUITE_KEYS.items():
        if QUERIES[k].__module__ != f"ocrflow.{mod}":
            raise RuntimeError(f"{k} moved to {QUERIES[k].__module__}")

    # warm-up: every key once, collected and fingerprinted
    got = {}
    t0 = time.perf_counter()
    for k in SUITE_KEYS:
        try:
            got[k] = fingerprint(QUERIES[k](spark, sf).collect())
        except Exception as e:  # a key that raises is a failed op, not a crash
            log(f"{k} raised {e!r}")
    warmup_s = time.perf_counter() - t0
    if record:
        with open(FINGERPRINTS, "w", encoding="utf-8") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        return
    with open(FINGERPRINTS, encoding="utf-8") as f:
        expected = json.load(f)
    bad = [k for k in SUITE_KEYS if got.get(k) != expected.get(k)]
    b.count(len(SUITE_KEYS), len(bad), f"fingerprints differ: {bad}")
    keys = [k for k in SUITE_KEYS if k in got]

    def timed():
        """Keys round-robin, one noop write each, until the time is up and
        every key has run SUITE_MIN_RUNS times. Returns per-key walls, the
        suite wall (timed seconds per full pass over the keys; a sum of
        per-key medians would switch estimator when a key gets an odd
        run), units and timed seconds."""
        key_walls, units = {k: [] for k in keys}, {}
        start = time.perf_counter()
        while (len(units) < SUITE_MIN_RUNS * len(keys)
               or time.perf_counter() - start < b.seconds):
            k = keys[len(units) % len(keys)]
            name = f"{k}#{len(key_walls[k])}"
            b.group(name)
            t0 = time.perf_counter()
            noop(QUERIES[k](b.spark, sf))
            key_walls[k].append(time.perf_counter() - t0)
            units[name] = key_walls[k][-1]
        timed_s = time.perf_counter() - start
        b.count(len(units), 0, "suite keys")
        return key_walls, timed_s * len(keys) / len(units), units, timed_s

    _, suite_s, units, timed_s = timed()
    b.finish_e2e(build_s, warmup_s, suite_s, len(units), timed_s)

    if b.trace:
        b.restart_traced()
        key_walls, traced_s, units, _ = timed()
        L = b.layers
        for k in keys:
            L[f"{SUITE_KEYS[k]}.{k}.wall_s"] = median(key_walls[k])
        L["trace.overhead_frac"] = traced_s / suite_s - 1.0
        b.stop()
        groups = b.event_groups()
        for k in keys:
            mod = SUITE_KEYS[k]
            gs = [groups[n] for n in units if n.startswith(f"{k}#")]
            cpu = median(g.total("cpu_s") for g in gs)
            shuffle = median((g.total("shuffle_read_b") + g.total("shuffle_write_b")) / MB
                             for g in gs)
            spill = median(g.total("spill_b") / MB for g in gs)
            L[f"{mod}.cpu_s"] += cpu
            L[f"{mod}.shuffle_mb"] += shuffle
            L[f"{mod}.spill_mb"] += spill
            L[f"{k}.cpu_s"] = cpu
            L[f"{k}.shuffle_mb"] = shuffle
            L[f"{k}.jobs"] = median(g.jobs for g in gs)


WORKLOADS = {"extract_skewed": extract_skewed, "operator_suite": operator_suite}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="operator_suite only: rewrite suite_fingerprints.json")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(SRC, "ocrflow", "__init__.py")):
        print(f"perfbench: no ocrflow package under {SRC}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    prepare_env()
    sys.path[:0] = [HERE, SRC]
    log(f"{args.workload} seed={args.seed} trace={args.trace} loadavg={loadavg()}")
    b = Bench(args)
    try:
        if args.record_fingerprints:
            operator_suite(b, record=True)
            return 0
        WORKLOADS[args.workload](b)
    finally:
        b.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    log(f"done loadavg={loadavg()}")
    print(json.dumps(b.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
