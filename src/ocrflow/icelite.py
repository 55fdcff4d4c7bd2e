"""icelite — snapshot-isolated parquet tables with an Iceberg-shaped seam.

No Iceberg runtime jar exists in this environment (SURVEY.md §0), so
snapshot semantics are implemented as a thin layer over partitioned
Parquet + JSON manifests. What it honestly emulates (SURVEY.md §7
hard-part 3): an ordered snapshot list, atomic commit (tmp-file +
hard-link claim), time-travel reads by snapshot id, append-only data
files, optimistic concurrent writers (link-claim CAS + rebase-retry,
single host — a real deployment swaps the claim seam for the catalog's
CAS), compaction/expiry/GC (commit_replace, expire_snapshots,
remove_orphan_files), and additive schema evolution on read (planned
from the manifest's column signatures). A snapshot's file list is the
whole table state. What it does NOT emulate: the Iceberg format spec
itself, multi-host commit coordination, row- and column-level deletes.
The table API mirrors Iceberg's naming so a real
`spark.read.format("iceberg")` catalog can be swapped in where the jar
exists.

Layout:
    <table>/data/<commit_tag>/*.parquet
    <table>/metadata/snap-<n>.json     one manifest per snapshot
    <table>/metadata/CURRENT           pointer file (atomic rename)

Manifest: {"snapshot_id", "parent_id", "committed_at", "files":
[{"path", "rows", "schema", "stats"?}], "props": {...}} — files are
table-relative paths, ``schema`` their top-level column names;
the full file list of a snapshot is the manifest's list (each manifest
is self-contained, parent chain kept for history/audit).
"""

from __future__ import annotations

import datetime
import json
import os
import time
import uuid
from functools import reduce

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

# CURRENT.lock is held for microseconds; anything older than this is a
# crashed holder and is reclaimed by the next _advance_current waiter.
_LOCK_STALE_SECS = 5.0


class CommitConflictError(RuntimeError):
    """A validated commit found the table changed under it (Iceberg's
    ValidationException): the rewrite's source snapshot is no longer
    the head, so replacing the file list would silently drop the
    concurrent commit's files. The caller re-reads and retries the
    whole rewrite — icelite never resolves this by guessing."""


class IceliteTable:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.data_dir = os.path.join(self.path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------

    def _current_pointer(self) -> str | None:
        p = os.path.join(self.meta_dir, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip() or None

    def current_snapshot_id(self) -> int | None:
        ptr = self._current_pointer()
        if ptr is None:
            return None
        return int(ptr.removeprefix("snap-").removesuffix(".json"))

    def _max_committed_id(self) -> int | None:
        """Highest snapshot id with a live manifest on disk. A winner's
        manifest exists (fully written + fsynced) the instant its link
        claim lands, BEFORE it advances CURRENT — so losers rebase onto
        this, not onto the (possibly lagging) pointer. Expired
        manifests are renamed ``*.expired-*`` and don't count."""
        ids = [int(n.removeprefix("snap-").removesuffix(".json"))
               for n in os.listdir(self.meta_dir)
               if n.startswith("snap-") and n.endswith(".json")]
        return max(ids) if ids else None

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                return None
        p = os.path.join(self.meta_dir, f"snap-{snapshot_id}.json")
        with open(p) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snap-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["snapshot_id"])

    def file_list(self, snapshot_id: int | None = None) -> list[str]:
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        return [os.path.join(self.path, f["path"]) for f in snap["files"]]

    # -- commit ----------------------------------------------------------

    def new_commit_dir(self, tag: str | None = None) -> str:
        tag = tag or f"commit-{uuid.uuid4().hex[:12]}"
        d = os.path.join(self.data_dir, tag)
        return d

    def _atomic_write(self, path: str, content: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)

    def _commit(self, entries_for_parent, props: dict,
                max_retries: int = 20) -> int:
        """Optimistic-concurrency commit (Iceberg's commit protocol in
        miniature): compute the manifest against the CURRENT parent,
        then CLAIM the snapshot-id slot with os.link (hard-link fails
        with EEXIST if another writer took the id first — the atomic
        compare-and-swap this filesystem gives us). A loser re-derives
        the parent from the max committed MANIFEST (not from CURRENT,
        which the winner advances only after its claim — rebasing off
        CURRENT could spin a loser through every retry inside that
        window with no real conflict), REBASES its entry list, and
        retries — so concurrent appenders serialize without locks and
        neither's files are lost. The CURRENT pointer only ever
        advances, and the advance itself is serialized by a hard-link
        mutex so two winners can't interleave the read-then-write.

        ``entries_for(parent)`` may raise CommitConflictError to abort
        a commit whose validation fails against the rebased parent
        (see commit_replace validate_from).

        A reader holding the old pointer keeps a consistent view —
        snapshot isolation. On a real object store the link-claim seam
        is replaced by the catalog's CAS; the rebase logic is
        unchanged.
        """
        for _ in range(max_retries):
            parent = self._max_committed_id()
            sid = (parent or 0) + 1
            manifest = {
                "snapshot_id": sid,
                "parent_id": parent,
                "committed_at": time.time(),
                "files": entries_for_parent(parent),
                "props": props,
            }
            final = os.path.join(self.meta_dir, f"snap-{sid}.json")
            tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, final)        # atomic claim of the sid slot
            except FileExistsError:
                os.remove(tmp)             # lost the race: rebase + retry
                continue
            os.remove(tmp)
            self._advance_current(sid)
            return sid
        raise RuntimeError(
            f"icelite commit on {self.path}: lost {max_retries} "
            f"optimistic-commit races, giving up")

    def _advance_current(self, sid: int) -> None:
        """Monotonic CURRENT advance under a hard-link mutex: winners
        of adjacent sids can race here, and an unserialized
        read-then-write would let a slower earlier winner clobber a
        later pointer after its staleness check. The lock holder window
        is microseconds; a lock left behind by a crashed holder is
        reclaimed once its mtime is older than _LOCK_STALE_SECS, so the
        mutex self-heals instead of degrading every later commit to the
        unlocked ~2s fallback (worst case of that fallback is the
        original benign monotonicity race, never a lost manifest)."""
        lock = os.path.join(self.meta_dir, "CURRENT.lock")
        tmp = lock + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(str(sid))
        acquired = False
        try:
            for _ in range(2000):
                try:
                    os.link(tmp, lock)
                    acquired = True
                    break
                except FileExistsError:
                    try:
                        if time.time() - os.stat(lock).st_mtime > _LOCK_STALE_SECS:
                            # crashed holder: reclaim, then re-race for
                            # the link (another waiter may win — fine)
                            os.remove(lock)
                            continue
                    except FileNotFoundError:
                        continue  # holder released between link and stat
                    time.sleep(0.001)
            if (self.current_snapshot_id() or 0) < sid:
                self._atomic_write(os.path.join(self.meta_dir, "CURRENT"),
                                   f"snap-{sid}.json")
        finally:
            os.remove(tmp)
            if acquired:
                os.remove(lock)

    def _entries_for(self, files: list[str],
                     stats_cols: tuple[str, ...] = ()) -> list[dict]:
        out = []
        for f in files:
            # one footer read per file gives the row count, the column
            # signature (read() plans additive schema evolution from
            # the MANIFEST — the Iceberg model: schema lives in table
            # metadata, not in 10^5 file footers) and the stats
            md = pq.ParquetFile(f).metadata
            entry = {"path": os.path.relpath(os.path.abspath(f), self.path),
                     "rows": md.num_rows,
                     "schema": md.schema.to_arrow_schema().names}
            if stats_cols:
                stats = _column_stats(md, stats_cols)
                if stats:
                    entry["stats"] = stats
            out.append(entry)
        return out

    def commit_append(self, new_files: list[str], props: dict | None = None,
                      stats_cols: tuple[str, ...] = ()) -> int:
        """Atomically append data files as a new snapshot (concurrent
        appenders rebase onto each other, see _commit).

        ``stats_cols`` records per-file min/max for those columns in
        the manifest (Iceberg's data-file stats) — read(stats_filter=)
        then skips files whose range can't match, BEFORE any Spark
        scan. The footers are already open for row counts, so the
        stats are nearly free at commit time.
        """
        new_entries = self._entries_for(new_files, stats_cols)

        def entries(parent):
            parent_files = (self.snapshot(parent)["files"]
                            if parent is not None else [])
            return list(parent_files) + new_entries
        return self._commit(entries, props or {})

    def commit_replace(self, new_files: list[str], props: dict | None = None,
                       stats_cols: tuple[str, ...] = (),
                       validate_from: int | None = None) -> int:
        """Commit a snapshot whose file list is EXACTLY ``new_files``
        (no parent-union) — the rewrite primitive behind compaction,
        the icelite analog of Iceberg's rewrite_data_files result
        snapshot. Older snapshots keep referencing the old data files
        (still on disk), so time travel across the rewrite still works.

        ``validate_from`` is the snapshot id the rewrite READ from.
        When given, the commit aborts with CommitConflictError if the
        table head moved past it — otherwise a concurrent append that
        won the race would be silently dropped from the new table head
        (data loss; Iceberg fails such commits via validation). A plain
        rebase-retry is wrong here because the rewrite's output no
        longer reflects the parent's contents; the caller must re-read
        and redo the rewrite.
        """
        new_entries = self._entries_for(new_files, stats_cols)

        def entries(parent):
            if validate_from is not None and (parent or 0) != validate_from:
                raise CommitConflictError(
                    f"icelite replace on {self.path}: table advanced from "
                    f"snapshot {validate_from} to {parent} since the rewrite "
                    f"was read; committing would drop the concurrent "
                    f"commit's files — re-read and retry the rewrite")
            return new_entries
        return self._commit(entries, {"operation": "replace",
                                      **(props or {})})

    def expire_head(self) -> int | None:
        """Roll CURRENT back to the head snapshot's parent (crash
        recovery: expire a data commit whose paired lineage commit
        never landed). The manifest is renamed to ``*.expired-*`` —
        kept for audit, and the snapshot-id slot is freed so the redo
        commit can reuse it. Returns the new current snapshot id.
        """
        sid = self.current_snapshot_id()
        if sid is None:
            return None
        parent = self.snapshot(sid).get("parent_id")
        manifest = os.path.join(self.meta_dir, f"snap-{sid}.json")
        os.rename(manifest, manifest + f".expired-{uuid.uuid4().hex[:8]}")
        self._atomic_write(os.path.join(self.meta_dir, "CURRENT"),
                           f"snap-{parent}.json" if parent is not None else "")
        return parent

    def merge_upsert(self, spark, updates, key_cols: tuple[str, ...],
                     order_col: str, stats_cols: tuple[str, ...] = ()) -> int:
        """MERGE INTO semantics (latest-wins upsert): union the current
        snapshot with ``updates``, keep one row per key (max
        ``order_col`` wins, updates tagged newer on ties), commit the
        result as a replace snapshot. Old snapshots still time-travel
        to the pre-merge state.

        Scale notes: this is copy-on-write MERGE (Iceberg's COW mode) —
        one shuffle on the key for the latest-wins window, then a full
        rewrite. At 100 TB you restrict the rewrite to the partitions
        the updates touch (read(path_filter=bucket) per touched bucket,
        merge, replace those files only) — the per-bucket loop composes
        from these same primitives.
        """
        from pyspark.sql import Window as W, functions as F

        src = self.current_snapshot_id()
        cur = self.read(spark) if src is not None else None
        tagged_new = updates.withColumn("_src", F.lit(1))
        both = (cur.withColumn("_src", F.lit(0)).unionByName(tagged_new)
                if cur is not None else tagged_new)
        w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc(),
                                             F.col("_src").desc())
        merged = (both.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn", "_src"))
        out_dir = self.new_commit_dir(f"merge-{uuid.uuid4().hex[:8]}")
        files = write_dataframe_files(merged, out_dir)
        return self.commit_replace(files, props={"operation": "merge"},
                                   stats_cols=stats_cols,
                                   validate_from=src or 0)

    def compact(self, spark, target_file_bytes: int = 128 << 20,
                derive: dict | None = None,
                sort_by: tuple[str, ...] = (),
                stats_cols: tuple[str, ...] = ()) -> int:
        """Rewrite the current snapshot's files into ~target-sized files
        (icelite's rewrite_data_files). Every append commits at least one
        file per writing task, so a table that takes thousands of small
        commits accumulates thousands of small files; compaction
        periodically collapses them. Old snapshots remain
        time-travelable (commit_replace keeps them).

        ``derive`` = {name: Column} adds computed columns before the
        rewrite, e.g. a Z-order key to cluster on (``zorder_expr``).

        ``sort_by`` clusters the rewrite (range-partition + sort within
        files — Iceberg's rewrite sort strategy): each output file then
        covers a tight ``sort_by`` value range, which is what makes
        ``stats_cols`` min/max skipping effective (random placement
        gives every file the full range and skips nothing).
        """
        src = self.current_snapshot_id()
        files = self.file_list(src)
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // max(1, target_file_bytes)))  # ceil
        df = self.read(spark, snapshot_id=src)
        for col_name, expr in (derive or {}).items():
            df = df.withColumn(col_name, expr)
        out_dir = self.new_commit_dir(f"compact-{uuid.uuid4().hex[:8]}")
        if sort_by:
            shuffled = (df.repartitionByRange(n_out, *sort_by)
                        .sortWithinPartitions(*sort_by))
        else:
            shuffled = df.repartition(n_out)
        new_files = write_dataframe_files(shuffled, out_dir)
        return self.commit_replace(new_files, props={
            "compaction_of": src,
            "files_before": len(files), "files_after": len(new_files)},
            stats_cols=stats_cols, validate_from=src or 0)

    # -- named refs (tags / publish pointers) ----------------------------

    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def refs(self) -> dict:
        p = self._refs_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def set_ref(self, name: str, snapshot_id: int) -> None:
        """Create or move a NAMED REF to a snapshot — Iceberg's
        tags/branch heads. Refs make the write-audit-publish pattern
        expressible: writers commit (snapshot N), tag it for audit,
        and readers keep following a 'published' ref that only moves
        AFTER validation — staging is invisible without any copy of
        the data. Atomic via write-to-temp + rename; referenced
        snapshots are protected from expire_snapshots."""
        try:
            known = self.snapshot(snapshot_id) is not None
        except FileNotFoundError:
            known = False
        if not known:
            raise ValueError(f"icelite: cannot ref unknown snapshot "
                             f"{snapshot_id}")
        refs = self.refs()
        refs[name] = snapshot_id
        tmp = self._refs_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self._refs_path())

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        refs.pop(name, None)
        tmp = self._refs_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self._refs_path())

    def ref_snapshot_id(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"icelite: unknown ref {name!r}")
        return refs[name]

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot manifests
        (Iceberg's expire_snapshots). Time travel to expired ids stops
        working — by design, that is what releases their files for
        remove_orphan_files(). The CURRENT pointer is never expired,
        and neither is any snapshot a named ref points to (Iceberg's
        tag-retention rule — a published/tagged snapshot outlives the
        keep-last horizon until its ref is dropped).
        Returns the expired snapshot ids.
        """
        snaps = self.snapshots()
        current = self.current_snapshot_id()
        keep = {s["snapshot_id"] for s in snaps[-max(keep_last, 1):]}
        keep.add(current)
        keep.update(self.refs().values())
        expired = []
        for s in snaps:
            sid = s["snapshot_id"]
            if sid in keep:
                continue
            m = os.path.join(self.meta_dir, f"snap-{sid}.json")
            os.rename(m, m + f".expired-{uuid.uuid4().hex[:8]}")
            expired.append(sid)
        return expired

    def remove_orphan_files(self, dry_run: bool = False) -> list[str]:
        """Delete data files referenced by NO live snapshot manifest
        (Iceberg's remove_orphan_files): after compaction +
        expire_snapshots, the pre-compaction files become unreferenced
        and this reclaims the space — without it, every compaction
        doubles storage forever. Also sweeps crash-orphaned commit dirs
        that never reached a manifest. Returns the deleted (or, with
        dry_run, would-be-deleted) absolute paths.
        """
        live: set[str] = set()
        for s in self.snapshots():
            for f in s["files"]:
                live.add(os.path.normpath(os.path.join(self.path, f["path"])))
        doomed = []
        for root, _dirs, files in os.walk(self.data_dir):
            for n in files:
                p = os.path.normpath(os.path.join(root, n))
                if p not in live:
                    doomed.append(p)
        if not dry_run:
            for p in doomed:
                os.remove(p)
            # prune now-empty commit dirs
            for root, dirs, files in os.walk(self.data_dir, topdown=False):
                if root != self.data_dir and not dirs and not files:
                    os.rmdir(root)
        return sorted(doomed)

    # -- read ------------------------------------------------------------

    def read(self, spark, snapshot_id: int | None = None,
             path_filter: str | None = None,
             stats_filter: dict | None = None, ref: str | None = None):
        """Snapshot-isolated scan (time travel when ``snapshot_id`` or a
        named ``ref`` is given; the two selectors are mutually
        exclusive — ref resolves via ref_snapshot_id).

        ``path_filter`` prunes files whose relative path does not
        contain the given substring (e.g. "_day=2024-01-01/") BEFORE any
        scan — manifest-level partition pruning, the icelite analog of
        Iceberg's partition stats.

        ``stats_filter`` = {col: (lo, hi)} skips files whose recorded
        min/max range (commit_append stats_cols) cannot intersect
        [lo, hi] — Iceberg's data-file skipping. Files without stats
        for the column are conservatively kept, so the filter is a
        pure pruning hint, never a correctness dependency (the caller
        still applies the real predicate; parquet row-group stats
        prune again inside each file Spark does scan).

        Additive schema evolution is planned from the manifest: a
        snapshot whose commits carry different (column-added) schemas
        reads as the union schema, older files null-filling the new
        columns — Iceberg's add-column semantics (see _scan).
        """
        if snapshot_id is not None and ref is not None:
            raise ValueError("pass at most one of snapshot_id / ref")
        if ref is not None:
            snapshot_id = self.ref_snapshot_id(ref)
        snap = self.snapshot(snapshot_id)
        all_entries = snap["files"] if snap is not None else []
        if not all_entries:
            raise ValueError(f"icelite table {self.path} has no data "
                             f"files in this snapshot")
        entries = all_entries
        if path_filter is not None:
            entries = [e for e in entries if path_filter in e["path"]]
        if stats_filter:
            for col, (lo, hi) in stats_filter.items():
                entries = [
                    e for e in entries
                    if col not in e.get("stats", {})
                    or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
                ]
        return self._scan(spark, entries, all_entries[0])

    def incremental_read(self, spark, from_snapshot_id: int,
                         to_snapshot_id: int | None = None):
        """Incremental APPEND scan: the rows added strictly AFTER
        ``from_snapshot_id`` up to and including ``to_snapshot_id``
        (default: current) — Iceberg's incremental read
        (``start-snapshot-id``/``end-snapshot-id``), the primitive CDC
        consumers and incremental ETL build on. Planned purely from
        manifests: the file set of ``to`` minus the file set of
        ``from``, scanned like read() (see _scan).

        Append-only contract, checked not assumed: if the range
        contains a replace/compaction (a ``from`` file missing from
        ``to``), a row-level diff is not expressible as a file-set
        difference and this raises — the Iceberg behavior for
        non-append snapshots in an incremental scan. Callers handle
        those snapshots via a full-snapshot refresh instead."""
        from_snap = self.snapshot(from_snapshot_id)
        to_snap = self.snapshot(to_snapshot_id)
        if from_snap is None or to_snap is None:
            raise ValueError("incremental_read: unknown snapshot id")
        if to_snap["snapshot_id"] < from_snap["snapshot_id"]:
            raise ValueError("incremental_read: to < from")
        from_paths = {e["path"] for e in from_snap["files"]}
        if not from_paths <= {e["path"] for e in to_snap["files"]}:
            raise ValueError(
                "incremental_read: range contains a replace/compaction; "
                "not an append-only range")
        added = [e for e in to_snap["files"] if e["path"] not in from_paths]
        return self._scan(spark, added, to_snap["files"][0])

    def _scan(self, spark, entries: list[dict], table_entry: dict):
        """Scan manifest entries, planned from their recorded column
        signatures with no footer read per file: files are grouped by
        signature, each homogeneous group is one parquet scan typed by
        its first file's footer (so building the frame runs no
        schema-inference job), and the groups are null-filled together
        with unionByName. First-seen (commit) order keeps added columns
        appended, Iceberg's add-column rule. No entries is a CORRECT
        outcome (pruning to a range that holds no data): an empty frame
        typed by ``table_entry``'s footer."""
        if not entries:
            return spark.createDataFrame([], parquet_schema(
                spark, os.path.join(self.path, table_entry["path"])))
        groups: dict[tuple, list[str]] = {}
        for e in entries:
            groups.setdefault(tuple(e["schema"]), []).append(
                os.path.join(self.path, e["path"]))
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                      [read_parquet(spark, *g) for g in groups.values()])


def _column_stats(md, cols: tuple[str, ...]) -> dict:
    """Per-file [min, max] for the requested columns, aggregated over
    the row groups of the parquet footer metadata ``md`` (no data
    read). Only JSON-representable stats are kept (numbers, strings;
    timestamps via isoformat) — anything else is silently omitted, and
    readers treat missing stats as "keep the file"."""
    agg: dict[str, list] = {}
    invalid: set[str] = set()  # any row group without stats voids the column
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for i in range(row_group.num_columns):
            col = row_group.column(i)
            name = col.path_in_schema
            if name not in cols or name in invalid:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                invalid.add(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    invalid.add(name)
                    continue
            if isinstance(lo, (datetime.datetime, datetime.date)):
                lo, hi = lo.isoformat(), hi.isoformat()
            if not isinstance(lo, (int, float, str)):
                invalid.add(name)
                continue
            if name in agg:
                agg[name] = [min(agg[name][0], lo), max(agg[name][1], hi)]
            else:
                agg[name] = [lo, hi]
    return {k: v for k, v in agg.items() if k not in invalid}


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType),
                                           True, f.metadata) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType), True)
    return dt


def parquet_schema(spark, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one parquet footer, so it runs no Spark job (schema inference
    runs a one-task job per read).

    Like Spark without ``mergeSchema``, it reads the first data file in
    path order when ``path`` is a directory, skipping ``_``/``.`` names;
    takes the Spark schema a Spark writer stored in the footer (which
    keeps INT96 columns ``timestamp`` and written ``timestamp_ntz``
    columns ``timestamp_ntz``), else converts the Arrow schema, reading
    unzoned timestamps as ``timestamp_ntz`` only under the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``; and makes every
    field nullable, as file sources do."""
    if "://" not in path:
        path = os.path.abspath(path)
    fs, p = pafs.FileSystem.from_uri(path)
    if fs.get_file_info(p).type == pafs.FileType.Directory:
        p = min(i.path for i in fs.get_file_info(pafs.FileSelector(
                    p, recursive=True))
                if i.type == pafs.FileType.File
                and not any(part.startswith(("_", "."))
                            for part in i.path[len(p):].split("/")))
    schema = pq.read_schema(p, filesystem=fs)
    stored = (schema.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        dt = T.StructType.fromJson(json.loads(stored))
    else:
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
        dt = from_arrow_schema(schema,
                               prefer_timestamp_ntz=ntz.lower() == "true")
    return _as_nullable(dt)


def read_parquet(spark, *paths: str):
    """``spark.read.parquet(*paths)`` typed by the first path's footer
    (``parquet_schema``), so building the frame runs no Spark job. For
    files of one column signature that is the schema Spark would
    infer."""
    return spark.read.schema(parquet_schema(spark, paths[0])).parquet(*paths)


def write_dataframe_files(df, out_dir: str,
                          partition_by: tuple[str, ...] = ()) -> list[str]:
    """Write a DataFrame to a fresh directory; return the data files.

    Spark writes task files + _SUCCESS; only the parquet files become
    manifest entries. With ``partition_by``, files land under
    partition=value/ subdirs (hive layout) — the manifest keeps the
    relative paths, so the partition value is recoverable from the path
    for file-level pruning (see IceliteTable.read path_filter).
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out_dir)
    out = []
    for root, _dirs, files in os.walk(out_dir):
        for n in files:
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return sorted(out)


def zorder_bucket(col, lo: float, hi: float, bits: int = 12):
    """Scale a numeric column to an integer bucket in [0, 2^bits) for
    Z-order interleaving. lo/hi are the column's (min, max) — in
    production read them from the table's manifest stats (one metadata
    pass, no scan)."""
    from pyspark.sql import functions as F

    span = max(hi - lo, 1e-12)
    q = ((col.cast("double") - F.lit(float(lo))) / F.lit(span)
         * F.lit((1 << bits) - 1))
    return F.least(F.greatest(F.floor(q).cast("bigint"), F.lit(0)),
                   F.lit((1 << bits) - 1))


def zorder_expr(cols, bits: int = 12):
    """Z-order (Morton) key: bit-interleave pre-bucketed non-negative
    int columns into one sort key. compact(derive={"_z": zorder_expr(
    [zorder_bucket(...), ...])}, sort_by=("_z",), stats_cols=(real
    cols)) range-partitions on the space-filling curve, so every
    output file covers a tight box in ALL interleaved dimensions and
    manifest min/max skipping prunes multi-column range queries —
    Iceberg/Delta's Z-ORDER rewrite strategy. Pure JVM bit arithmetic
    (shiftleft/bitwiseAND), no UDF."""
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, i * n + j))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)
