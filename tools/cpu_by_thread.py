"""Run a command and split the CPU time of its process tree by thread
class: JVM JIT compiler threads, Spark executor task threads, the
Structured Streaming execution thread, Python workers, the Python
driver, and everything else.

Usage:
    python tools/cpu_by_thread.py -- CMD [ARG ...]

e.g. python tools/cpu_by_thread.py -- python3 perfbench/run.py \\
         --workload sensor_keyed_upsert --seconds 10 --trace 0

The command runs with the caller's stdin/stdout/stderr; the split is
printed to stderr after it exits, so a wrapped command's last stdout
line stays its own. Exit status is the command's.

Every INTERVAL_S seconds the tool walks /proc for the descendants of
the command and reads each one's /proc/<pid>/stat and
/proc/<pid>/task/<tid>/stat (read only). A process, once seen, stays
counted after it is re-parented. Per-class figures are the last
reading of each thread, so:
- a JVM's CPU not covered by its live threads' last readings (threads
  that ended, and the tail after the last sample) is `jvm_exited`;
- Python processes are counted whole (their totals include ended
  threads), as worker or driver by command line;
- a process that starts and ends between two samples (Hadoop's
  `chmod`, `readlink`) is missed; "processes seen" counts the ones
  that were sampled.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.25

# /proc comm is cut to 15 bytes
JVM_THREADS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("executor_tasks", ("Executor task l",)),
    ("stream_thread", ("stream executio",)),
)
CLASSES = ("jit", "executor_tasks", "stream_thread", "jvm_other",
           "jvm_exited", "python_workers", "python_driver", "other")


def read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if the
    process or thread is gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    lo, hi = raw.index("("), raw.rindex(")")
    return raw[lo + 1:hi], raw[hi + 2:].split()


def cpu_s(fields: list[str]) -> float:
    # utime, stime: fields 14 and 15 of stat(5), 12 and 13 after comm
    return (int(fields[11]) + int(fields[12])) / TICK


def process_kind(pid: int) -> str | None:
    """Class of a process by its command line, or None if it is gone
    or exiting (an exiting process shows an empty command line)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except (FileNotFoundError, ProcessLookupError):
        return None
    if not argv[0]:
        return None
    exe = os.path.basename(argv[0].decode(errors="replace"))
    if exe == "java":
        return "java"
    if exe.startswith("python"):
        if any(b"pyspark.daemon" in a or b"pyspark.worker" in a for a in argv):
            return "python_workers"
        return "python_driver"
    return "other"


def thread_class(comm: str) -> str:
    for name, prefixes in JVM_THREADS:
        if comm.startswith(prefixes):
            return name
    return "jvm_other"


class Sampler:
    """Last CPU reading of every process and thread of one tree."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.procs: dict[tuple[int, str], tuple[str, float]] = {}
        self.threads: dict[tuple[int, str, int], tuple[str, float]] = {}
        self.kinds: dict[tuple[int, str], str] = {}

    def _tree(self) -> dict[int, str]:
        """pid -> start time of the root's descendants and of every
        process seen before that is still alive."""
        parent: dict[int, int] = {}
        start: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = read_stat(f"/proc/{entry}/stat")
                if st is not None:
                    parent[int(entry)] = int(st[1][1])
                    start[int(entry)] = st[1][19]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        seen = {pid for pid in start if (pid, start[pid]) in self.kinds}
        tree = {self.root}
        frontier = [self.root]
        while frontier:
            for c in children.get(frontier.pop(), ()):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return {pid: start[pid] for pid in seen | tree if pid in start}

    def sample(self) -> None:
        for pid, started in self._tree().items():
            key = (pid, started)
            # read every time: a launcher script that execs the JVM
            # keeps its pid and start time
            kind = process_kind(pid)
            if kind is not None:
                self.kinds[key] = kind
            elif key not in self.kinds:
                continue
            st = read_stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            self.procs[key] = (self.kinds[key], cpu_s(st[1]))
            if self.kinds[key] != "java":
                continue
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except FileNotFoundError:
                continue
            for tid in tids:
                ts = read_stat(f"/proc/{pid}/task/{tid}/stat")
                if ts is not None:
                    self.threads[(pid, started, int(tid))] = (
                        thread_class(ts[0]), cpu_s(ts[1]))

    def split(self) -> dict[str, float]:
        out = dict.fromkeys(CLASSES, 0.0)
        for (pid, started), (kind, total) in self.procs.items():
            if kind != "java":
                out[kind] += total
                continue
            live = 0.0
            for (tpid, tstart, _), (cls, cpu) in self.threads.items():
                if (tpid, tstart) == (pid, started):
                    out[cls] += cpu
                    live += cpu
            out["jvm_exited"] += max(0.0, total - live)
        return out


def main() -> int:
    cmd = sys.argv[1:]
    cmd = cmd[1:] if cmd[:1] == ["--"] else cmd
    if not cmd:
        print("usage: python tools/cpu_by_thread.py -- CMD [ARG ...]",
              file=sys.stderr)
        return 2

    t0 = time.time()
    proc = subprocess.Popen(cmd)
    sampler = Sampler(proc.pid)
    try:
        while proc.poll() is None:
            sampler.sample()
            time.sleep(INTERVAL_S)
    except KeyboardInterrupt:
        proc.terminate()
        proc.wait()
    split = sampler.split()
    total = sum(split.values())
    print(f"wall {time.time() - t0:.2f} s, sampled cpu {total:.2f} s, "
          f"{len(sampler.kinds)} processes seen", file=sys.stderr)
    for name, v in split.items():
        share = 100 * v / total if total else 0.0
        print(f"  {name:15s} {v:8.2f} s  {share:5.1f}%", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
