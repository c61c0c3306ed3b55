"""Per-call Spark costs from the benchmark session's event log.

Every timed call runs under its own Spark job group. Jobs launched from
threads the engine starts itself carry no group; they are charged to
the call whose wall interval contains their submission time (the
benchmark has one client, so calls never overlap).

Per call: jobs, stages and tasks run, executor CPU, shuffle write and
spill bytes, and the driver gap: call wall minus the union of its job
intervals, i.e. time the driver spent outside any Spark job.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Call:
    group: str
    kind: str
    start_ms: float
    end_ms: float
    jobs: list = field(default_factory=list)  # (id, submit, end, call site)
    stages: set = field(default_factory=set)
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms

    def gap_ms(self) -> float:
        busy, cur_s, cur_e = 0.0, None, None
        for _, s, e, _ in sorted(self.jobs, key=lambda j: j[1]):
            s, e = max(s, self.start_ms), min(e, self.end_ms)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, self.wall_ms - busy)

    def summary(self) -> dict:
        return {"kind": self.kind, "group": self.group,
                "wall_ms": round(self.wall_ms, 3),
                "jobs": len(self.jobs), "stages": len(self.stages),
                "tasks": self.tasks, "task_cpu_ms": self.cpu_ns / 1e6,
                "shuffle_write_bytes": self.shuffle_write,
                "spill_bytes": self.spill,
                "driver_gap_ms": round(self.gap_ms(), 3),
                "job_call_sites": [
                    {"job": j, "ms": e - s, "call_site": site}
                    for j, s, e, site in self.jobs]}


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(files)}")
    return files[0]


def attribute(log_path: str, calls: list[Call]) -> None:
    """Fill each call's counters from the event log at ``log_path``."""
    by_group = {c.group: c for c in calls}

    def owner(props: dict, t_ms: float) -> Call | None:
        c = by_group.get((props or {}).get("spark.jobGroup.id"))
        if c is not None:
            return c
        for c in calls:
            if c.start_ms <= t_ms <= c.end_ms:
                return c
        return None

    job_owner: dict[int, Call] = {}
    job_start: dict[int, tuple] = {}
    stage_owner: dict[int, Call] = {}
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid, t = ev["Job ID"], ev["Submission Time"]
                c = owner(ev.get("Properties"), t)
                if c is None:
                    continue
                job_owner[jid] = c
                infos = ev.get("Stage Infos") or [{}]
                last = max(infos, key=lambda s: s.get("Stage ID", -1))
                site = (ev.get("Properties") or {}).get(
                    "callSite.short") or last.get("Stage Name", "")
                job_start[jid] = (t, site)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                c = job_owner.get(jid)
                if c is not None:
                    t, site = job_start[jid]
                    c.jobs.append((jid, t, ev["Completion Time"], site))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                c = owner(ev.get("Properties"),
                          info.get("Submission Time") or 0)
                if c is not None:
                    stage_owner[info["Stage ID"]] = c
                    c.stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                c = stage_owner.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if c is None or not m:
                    continue
                c.tasks += 1
                c.cpu_ns += m.get("Executor CPU Time", 0)
                c.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c.spill += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
