"""Measurement plumbing shared by the workloads: the process-tree probe
(CPU seconds and resident memory read from /proc), the span tracer,
the run record, and small statistics helpers. Nothing here imports
Spark or the package under test."""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import subprocess
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

# set-ups per run; setup_s is their median. The first one starts the
# JVM, the later ones restart the session inside it.
SETUP_REPEATS = 2

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    """`root` and every live descendant (the JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """CPU time and peak RSS of this process and all its descendants.

    CPU counts user+system time of live processes plus the reaped
    children each one has waited for, so a Python worker that exits
    mid-run is still counted through its parent. RSS is summed over
    the tree, so pages that forked workers share are counted once per
    process."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_detail: list[tuple[str, float]] = []  # (command, MB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def cpu_s(self) -> float:
        ticks = 0
        for pid in _tree(self.root):
            f = _stat_fields(pid)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _TICK

    def _rss(self) -> list[tuple[str, int]]:
        """(command, resident bytes) per process of the tree. A child of
        the JVM that still runs the JVM binary is a fork about to exec
        (Spark starts its Python daemon and helpers this way): it shares
        the JVM's pages, so it is skipped."""
        exe, parent = {}, {}
        for pid in _tree(self.root):
            try:
                exe[pid] = os.readlink(f"/proc/{pid}/exe")
            except OSError:
                continue
            f = _stat_fields(pid)
            parent[pid] = int(f[1]) if f else 0
        out = []
        for pid, path in exe.items():
            if path == exe.get(parent[pid]) and path.endswith("/java"):
                continue
            try:
                pages = int(Path(f"/proc/{pid}/statm").read_text().split()[1])
                name = Path(f"/proc/{pid}/comm").read_text().strip()
            except (OSError, IndexError):
                continue
            out.append((name, pages * _PAGE))
        return out

    def _sample_once(self) -> None:
        procs = self._rss()
        total = sum(b for _, b in procs)
        if total > self.peak_rss:
            self.peak_rss = total
            self.peak_detail = [(n, round(b / 2**20, 1)) for n, b in procs]

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample_once()

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample_once()


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span id
    and trace id. Disabled, `span` costs one generator frame and
    records nothing; the untraced run measures the end-to-end metrics
    with it disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name,
                           "trace": trace, "start": start, "end": end,
                           "parent": parent})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace: str) -> Iterator[int | None]:
        """Record the enclosed block as a span; yields its id."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, trace, time.time(), math.nan)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times_ms(self) -> dict[str, float]:
        """Per layer (first dotted component of the span name): the sum
        over its spans of duration minus the part of the span that its
        children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".")[0]
            own = max(0.0, s["end"] - s["start"] - covered) * 1000.0
            out[layer] = out.get(layer, 0.0) + own
        return {k: round(v, 3) for k, v in sorted(out.items())}


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _versions() -> dict[str, str]:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "duckdb", "pandas", "numpy"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = "absent"
    return out


def source_digest(root: Path) -> str:
    """sha256 over the package sources, so a run in a checkout that is
    not a git repository still names the code it measured."""
    h = hashlib.sha256()
    for p in sorted((root / "examples_scala_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha(root: Path) -> str:
    if not (root / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    it inflates wall time without showing as load inside this host."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / _TICK


def host_record(root: Path) -> dict:
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "loadavg_before": os.getloadavg(),
        "steal_s_before": steal_s(),
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "versions": _versions(),
    }


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
    tmp.replace(path)
