"""Spark event-log reader: per-job-group stage and task totals, offline.

The traced repeat of a run's timed loop uses a session with
``spark.eventLog.enabled`` and a local ``spark.eventLog.dir`` and tags
each timed unit with ``sc.setJobGroup``. After ``spark.stop()`` the log is a finished JSON
lines file; this module turns it into one :class:`GroupStats` per job
group. It needs no UI, no live application and no change to the session
helper.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class StageStats:
    stage_id: int
    tasks: int = 0
    run_s: float = 0.0          # executor run time, summed over tasks
    cpu_s: float = 0.0          # executor (JVM thread) CPU time
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0            # memory + disk bytes spilled
    task_s: list = field(default_factory=list)   # launch → finish per task


@dataclass
class GroupStats:
    group: str
    jobs: int = 0
    stages: dict = field(default_factory=dict)   # stage id → StageStats

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages.values())


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (the run starts one app)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_groups(path: str) -> dict[str, GroupStats]:
    """Fold one event log into per-group stage totals.

    A stage belongs to the group of the job that submitted it. Stages
    that were skipped (reused shuffle output) have no tasks and do not
    appear. Failed task attempts are counted like successful ones: they
    cost executor time.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "(none)"
                gs = groups.setdefault(g, GroupStats(g))
                gs.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid, "(none)")
                gs = groups.setdefault(g, GroupStats(g))
                st = gs.stages.setdefault(sid, StageStats(sid))
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                st.spill_b += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                if info.get("Finish Time") and info.get("Launch Time"):
                    st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    return groups
