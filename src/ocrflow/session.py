"""SparkSession helpers with the engine's scale-oriented defaults.

Defaults follow the 100 TB design point (SURVEY.md §4): AQE on
(coalesce + skew-join backstop), shuffle partitions sized to cores (not
the 200 default), Arrow transfers on with an explicit batch size (the
classify-kernel saturation knob), UTC session timezone (oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch size — the "inference batch" of the classify kernel (A6)
DEFAULT_ARROW_BATCH = 2048


def _local_dir() -> str:
    """Shuffle/spill dir: prefer the RAM disk in local mode.

    A real cluster puts shuffle on per-executor local SSDs, which scale
    with the executor count; a single shared container disk does not and
    was measured to halve 32-core throughput. /dev/shm is the local-mode
    stand-in. Override with OCRFLOW_LOCAL_DIR (e.g. for inputs larger
    than RAM)."""
    override = os.environ.get("OCRFLOW_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/ocrflow_local"
    return "/tmp/ocrflow_local"


def _export_pythonpath() -> str:
    """Make the ocrflow package importable in executor Python workers.

    Local mode: workers inherit the driver env, so prepending the
    package dir to PYTHONPATH mirrors what `spark-submit --py-files
    ocrflow.zip` does on a real cluster (SURVEY.md §7-M5)."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cur = os.environ.get("PYTHONPATH", "")
    if pkg_dir not in cur.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_dir}:{cur}" if cur else pkg_dir
    # one BLAS thread per python worker: N workers × M BLAS threads
    # oversubscribes cores catastrophically on tiny kernel matvecs
    # (32-core history, not re-measured since: a 15× per-turn slowdown
    # at local[32] before pinning)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    return pkg_dir


def build_session(master: str | None = None, app: str = "ocrflow",
                  shuffle_partitions: int | None = None,
                  arrow_batch: int = DEFAULT_ARROW_BATCH,
                  extra: dict | None = None) -> SparkSession:
    pkg_dir = _export_pythonpath()
    cores = os.cpu_count() or 4
    master = master or f"local[{min(cores, 32)}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else ""
        shuffle_partitions = cores if n in ("", "*") else max(int(n), 4)
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # allow shuffled-hash join where its size conditions hold
         # (guide §3.1/§9): no sort on either side; SMJ remains the
         # planner's fallback and AQE skew-join still splits oversized
         # partitions. Measured on the q21 semi/anti self-join legs:
         # the sort of 3 lineitem legs disappears from the plan.
         .config("spark.sql.join.preferSortMergeJoin", "false")
         .config("spark.sql.session.timeZone", "UTC")
         # Scan split size (guide §6): parameterised because the right
         # value is scale-dependent. Local default 32m: the bench
         # inputs are single files whose row groups (~20 MB) otherwise
         # pack into one-or-two 128 MB splits, capping scan-stage
         # parallelism at 1-2 tasks on a 32-core machine (measured:
         # lineitem 131 MB/6 row groups → 2 tasks at the default).
         # On a real cluster with thousands of files set
         # OCRFLOW_MAX_PARTITION_BYTES=512m-1g (guide §6 recommends
         # large sequential splits to cut task overhead and map-side
         # shuffle block count).
         .config("spark.sql.files.maxPartitionBytes",
                 os.environ.get("OCRFLOW_MAX_PARTITION_BYTES", "32m"))
         # InferFiltersFromGenerate is a measured trap for this engine
         # (round-5 decontaminate_fuzzy lesson, re-confirmed round 6 by
         # plan audit): it clones the generator's input expression —
         # here whole-document regexp_extract_all gram builders — into
         # inferred size()>0/isnotnull() filters that predicate
         # pushdown then drops BELOW the exchanges, re-evaluating the
         # expensive expression 2-3x per row at SCAN parallelism (a
         # single task on one-row-group inputs: plans/r06/
         # decontaminate_fuzzy_before.txt shows 3 regex evals in the
         # scan-stage Filter). The rows it would prune are rows
         # explode() drops for free one node later. Excluding the rule
         # removes the duplicated evals engine-wide; results are
         # optimizer-invariant (full oracle sweep green).
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer."
                 "InferFiltersFromGenerate")
         # INT96 (Spark's parquet default) carries NO min/max stats and
         # is forbidden by the Iceberg spec; int64 micros restores
         # footer stats so icelite's manifest data-skipping works on
         # timestamp columns (test_partition_evolution relies on it)
         .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
         # Whole-stage codegen cache, a static conf: only a builder can
         # set it. Spark's default holds 100 classes; a warm pass of
         # perfbench's six operator_suite keys needs ~145, one of
         # bench.py's 39 HEADLINE keys 601. Keys run in turn then evict
         # each other, and every warm pass recompiles all of its classes
         # with Janino. 1000 covers the HEADLINE set with headroom: warm
         # passes compile 0 classes (CodegenMetrics), and operator_suite
         # wall_s fell from 5.06 to 3.80 s (median of 10 pairs, 4 vCPUs).
         .config("spark.sql.codegen.cache.maxEntries", "1000")
         # The cache is keyed by generated source, and by default the
         # class name embeds the codegen stage id. AQE numbers stages in
         # the order they are planned, which follows which stage
         # finished first, so a pipeline comes back under another id now
         # and then and recompiles (assoc_pairs_support: 4 compiles on
         # about one warm call in ten, each a first-call source with its
         # id changed). Plans and dumps keep the id; class names drop it.
         .config("spark.sql.codegen.useIdInClassName", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
         .config("spark.ui.enabled", "false")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
         .config("spark.local.dir", _local_dir())
         .config("spark.driver.memory", os.environ.get("OCRFLOW_DRIVER_MEM", "16g")))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
