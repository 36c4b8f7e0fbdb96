"""Read what Spark already exposes about a run, from outside the
package: job/stage/task counts from the status tracker, SQL metrics
from an executed plan, micro-batch progress events, the file source's
batch log, and task metrics from the event log."""

from __future__ import annotations

import bisect
import json
from datetime import datetime
from pathlib import Path


def job_shape(sc, job_ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) for the given job ids, as the status
    tracker still retains them."""
    tracker = sc.statusTracker()
    stages, tasks = set(), 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid not in stages:
                stages.add(sid)
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
    return len(job_ids), len(stages), tasks


def group_jobs(sc, group: str | None) -> set[int]:
    if not group:
        return set()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def plan_metrics(jplan, node_fragment: str, names: tuple[str, ...]) -> dict[str, int]:
    """Sum the named SQL metrics over every node of a JVM SparkPlan whose
    node name contains `node_fragment`. Missing metrics read 0."""
    out = {n: 0 for n in names}
    todo = [jplan]
    while todo:
        node = todo.pop()
        if node_fragment in node.nodeName():
            metrics = node.metrics()
            for n in names:
                opt = metrics.get(n)
                if opt.isDefined():
                    out[n] += int(opt.get().value())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def progress_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"]).timestamp()


def source_batches(checkpoint: Path) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source
    numbers its own log entries (plain and compacted); the query's
    offset log says up to which entry each micro-batch read."""
    entry_of: dict[str, int] = {}
    log = checkpoint / "sources" / "0"
    for f in (log.iterdir() if log.is_dir() else ()):
        if not f.name.startswith("."):
            for line in f.read_text().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    entry_of[e["path"].rsplit("/", 1)[-1]] = int(e["batchId"])
    upto = []  # (last source entry read, micro-batch id)
    for f in (checkpoint / "offsets").iterdir():
        if f.name.isdigit():
            lines = f.read_text().splitlines()
            upto.append((json.loads(lines[2])["logOffset"], int(f.name)))
    upto.sort()
    out = {}
    for name, entry in entry_of.items():
        i = bisect.bisect_left(upto, (entry, -1))
        if i < len(upto):
            out[name] = upto[i][1]
    return out


def executor_totals(log_dir: Path, t0: float, t1: float) -> dict[str, float]:
    """Task metrics of every task that finished inside [t0, t1], summed
    over all event log files under `log_dir` (one directory per session
    in the v2 layout)."""
    tot = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
    if not log_dir.is_dir():
        return tot
    lo, hi = t0 * 1000, t1 * 1000
    for f in (p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev.get("Task Info", {}).get("Finish Time", 0)
                m = ev.get("Task Metrics")
                if not m or not lo <= fin <= hi:
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                tot["tasks"] += 1
                tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                              + rd.get("Local Bytes Read", 0))
                tot["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return tot
