"""Resumable extraction runs: icelite snapshots + per-partition lineage.

The A11 operator (SURVEY.md §2.A): each run processes the input files
not yet recorded as completed, commits output + lineage atomically as a
new snapshot, and a re-run after a crash picks up exactly the pending
remainder (resume = anti-join on completed input files). Idempotent:
commit happens only after the chunk's output is fully written, so a
failed run leaves the table at its previous snapshot; a crash BETWEEN
the data commit and the lineage commit leaves an orphan data head that
the next run expires before reprocessing (expire_orphan_data_commits),
so readers never see duplicated rows.

Lineage rows (BASELINE.json north_star: "per-partition lineage rows
(partition id, input file, turn-range, rows-in/out, wall-time) written
to a metrics table") come from the kernel's list accumulator — zero
extra Spark jobs; per-input-file completion comes from a cheap
column-pruned scan of the just-written output. The wall-time column
``wall_ms`` times the kernel generator only, not the whole task: the
Python worker's per-task set-up before the kernel starts is not in it
(``kernel.make_kernel``).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import SparkSession, functions as F

from .icelite import IceliteTable, read_parquet, write_dataframe_files
from .pipeline import DEFAULT_SALT_BUCKETS, extract_df

#: lineage rows as run_extract builds them; a ``ts`` timestamp column
#: is appended at write time
LINEAGE_DDL = ("run_id string, snapshot_id bigint, partition_id int, "
               "input_file string, turn_lo bigint, turn_hi bigint, "
               "rows_in bigint, rows_out bigint, wall_ms double")


class _ListAccum(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def list_input_files(input_path: str) -> list[str]:
    """Input discovery SEAM (local-FS stand-in, like icelite's link-claim
    seam): ``os.listdir`` is correct only for a posix directory. On a
    real deployment this is the one function to swap — for object
    stores / HDFS use the Hadoop FS API via the JVM gateway
    (``spark._jvm.org.apache.hadoop.fs.FileSystem`` globStatus), or —
    better at 10^5+ files, where listing itself is the bottleneck —
    read the file list from a manifest/catalog (the icelite snapshot of
    the upstream table). Everything downstream (resume accounting,
    per-file lineage, skip sets) keys on the returned paths and is
    listing-agnostic. The path is resolved first, so two spellings of
    one directory yield the same keys and resume skips the same files.
    """
    input_path = os.path.realpath(input_path)
    if os.path.isdir(input_path):
        return sorted(
            os.path.join(input_path, n) for n in os.listdir(input_path)
            if n.endswith(".parquet"))
    return [input_path]


def completed_input_files(spark: SparkSession, lineage_table: IceliteTable) -> set[str]:
    if lineage_table.current_snapshot_id() is None:
        return set()
    # only the per-file completion markers (partition_id = -1); per-task
    # rows carry file:// URIs / comma-joined lists and are metrics-only
    rows = (lineage_table.read(spark)
            .filter(F.col("partition_id") == -1)
            .select("input_file").distinct().collect())
    return {r["input_file"] for r in rows}


def _lineage_confirmed_snapshots(lineage: IceliteTable) -> set[int]:
    """Data snapshot ids that have a paired lineage commit (read from
    lineage snapshot props — pure metadata, no Spark scan)."""
    return {s["props"]["snapshot_id"] for s in lineage.snapshots()
            if "snapshot_id" in s.get("props", {})}


def expire_orphan_data_commits(out: IceliteTable, lineage: IceliteTable) -> int:
    """Crash recovery for the commit protocol (data snapshot first,
    lineage second): a crash between the two leaves a HEAD data
    snapshot with no lineage commit. Readers following CURRENT would
    see its rows, and resume (keyed off lineage) would reprocess the
    same input files and append them AGAIN — duplicates. Expire such
    orphan heads (roll CURRENT back) before resuming; the redo commit
    reuses the freed snapshot-id slot. Only run_extract commits (those
    tagged with run_id) are candidates: a ``compact()`` replace snapshot
    on the output table never gets a lineage pair, and rolling it back
    would drop the compaction. Returns how many heads were expired.
    """
    confirmed = _lineage_confirmed_snapshots(lineage)
    n = 0
    while True:
        sid = out.current_snapshot_id()
        if sid is None or sid in confirmed:
            return n
        if "run_id" not in out.snapshot(sid).get("props", {}):
            return n
        out.expire_head()
        n += 1


def _dedup_lineage_rows(rows: list) -> list:
    """Accumulator updates from inside mapInArrow (a transformation)
    are re-applied on task retry/speculation — the same partition can
    deliver its lineage row more than once on a flaky cluster. The
    kernel emits exactly one row per partition, so keying by
    partition_id and keeping the first delivery restores exactly-once
    lineage (attempts are deterministic — duplicates are identical).
    """
    seen = {}
    for row in rows:
        seen.setdefault(row[0], row)
    return list(seen.values())


def run_extract(spark: SparkSession, input_path: str, out_table_path: str,
                run_id: str | None = None, partitions: int | None = None,
                salt_buckets: int = DEFAULT_SALT_BUCKETS,
                max_files: int | None = None) -> dict:
    """One resumable extraction run. Returns a summary dict.

    ``max_files`` caps how many pending input files this run processes —
    the unit of commit granularity (and the crash-injection knob for
    the resume test, SURVEY.md §5.5).
    """
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    out = IceliteTable(out_table_path)
    lineage = IceliteTable(os.path.join(out_table_path, "lineage"))
    expire_orphan_data_commits(out, lineage)

    all_files = list_input_files(input_path)
    done = completed_input_files(spark, lineage)
    pending = [f for f in all_files if f not in done]
    if max_files is not None:
        pending = pending[:max_files]
    if not pending:
        return {"run_id": run_id, "snapshot_id": out.current_snapshot_id(),
                "files_processed": 0, "rows_out": 0, "skipped": len(done)}

    acc = spark.sparkContext.accumulator([], _ListAccum())
    df = (read_parquet(spark, *pending)
          .withColumn("_input_file", F.input_file_name()))
    extracted = extract_df(spark, df, partitions=partitions,
                           salt_buckets=salt_buckets,
                           lineage_acc=acc, input_file_col="_input_file")

    t0 = time.time()
    commit_dir = out.new_commit_dir(f"{run_id}-{uuid.uuid4().hex[:6]}")
    files = write_dataframe_files(extracted, commit_dir)
    wall_s = time.time() - t0

    sid_guess = (out.current_snapshot_id() or 0) + 1
    # per-task lineage from the accumulator (partition id, rows, turn
    # range, wall), deduped by partition id against task-retry replays
    task_rows = _dedup_lineage_rows(acc.value)
    lineage_rows = [
        (run_id, sid_guess, int(pid), in_files, int(lo), int(hi),
         int(rin), int(rout), float(ms))
        for (pid, in_files, rin, rout, lo, hi, ms) in task_rows]
    ldf = (spark.createDataFrame(lineage_rows, LINEAGE_DDL)
           .withColumn("ts", F.current_timestamp()))
    # exact per-input-file completion markers (partition_id = -1): resume
    # anti-joins on these even when one task consumed several files
    file_rows = [(run_id, sid_guess, -1, f, -1, -1, -1, -1, 0.0)
                 for f in pending]
    fdf = (spark.createDataFrame(file_rows, LINEAGE_DDL)
           .withColumn("ts", F.current_timestamp()))
    lineage_commit_dir = lineage.new_commit_dir(f"{run_id}-{uuid.uuid4().hex[:6]}")
    lfiles = write_dataframe_files(ldf.unionByName(fdf).coalesce(1),
                                   lineage_commit_dir)

    # commit order: data snapshot first, then lineage. A crash between
    # the two leaves an orphan data head that the NEXT run expires
    # (expire_orphan_data_commits above) before reprocessing — so
    # default readers never accumulate duplicate rows, and resume
    # stays exactly-once end to end.
    # conv_id min/max per file ride the manifest (read(stats_filter=)
    # then skips files at the manifest level for conv-range reads)
    sid = out.commit_append(files, props={"run_id": run_id,
                                          "input_files": len(pending)},
                            stats_cols=("conv_id",))
    lineage.commit_append(lfiles, props={"run_id": run_id, "snapshot_id": sid})

    rows_out = sum(int(r[3]) for r in task_rows if r[3] >= 0)
    return {"run_id": run_id, "snapshot_id": sid,
            "files_processed": len(pending), "rows_out": rows_out,
            "wall_s": round(wall_s, 3), "skipped": len(done)}
