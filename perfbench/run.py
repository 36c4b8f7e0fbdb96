"""Benchmark launcher.

    python3 perfbench/run.py --workload sensor_window --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 20 --trace 1 --cores 1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The launcher sets up the Spark session
from outside the package (core count, driver memory sized to the host,
PYTHONPATH for the Python workers, every scratch path inside the
checkout), runs one workload in a child process, stops that process
tree, deletes its scratch directory and prints the run as one JSON
object on the last line of standard output. The run record, with the
host facts, is kept under .bench_out/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_out"
TIMEOUT_S = 150  # leaves time to stop the process tree within 180 s


def metric_defs(workload: str, trace: int) -> list[dict]:
    defs = json.loads((HERE / "metrics.json").read_text())
    kind = "per_layer" if trace else "end_to_end"
    return [m for m in defs[kind] if workload in m["workloads"]]


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getpgid(int(entry)) == pgid:
                    return True
            except ProcessLookupError:
                pass
    return False


def _stop_group(pgid: int) -> None:
    """SIGTERM the worker's process group (Python, JVM, Python workers),
    SIGKILL what is left after 10 s, and wait until all of it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def session_env(work: Path, cores: int, trace: int) -> dict[str, str]:
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # a sixth of the host, at most 4g: the repo default (16g)
    # oversubscribes small hosts. The heap starts at its full size so
    # that heap growth does not vary GC work and memory between runs.
    heap = f"{max(1, min(4, int(host_gb // 6)))}g"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.streaming.minBatchesToRetain": "10000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (work / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false"})
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": heap,
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "TMPDIR": str(tmp),
        # every JVM (spark-submit's launcher too): temp files inside the
        # checkout, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    })
    return env


def launch(workload: str, seed: int, seconds: float, trace: int, cores: int,
           smoke: bool = False) -> tuple[int, dict | None]:
    """Run one workload in a child process; return (exit code, record)."""
    work = OUT / "work" / f"{workload}-{seed}-{os.getpid()}"
    out = OUT / "results" / (f"{workload}-seed{seed}-trace{trace}-cores{cores}"
                             + ("-smoke" if smoke else "") + ".json")
    shutil.rmtree(work, ignore_errors=True)
    out.unlink(missing_ok=True)
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--work", str(work), "--out", str(out)]
    if smoke:
        cmd.append("--smoke")
    try:
        proc = subprocess.Popen(cmd, env=session_env(work, cores, trace),
                                cwd=ROOT, start_new_session=True,
                                stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
            rc = 124
        finally:
            _stop_group(proc.pid)
            proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = json.loads(out.read_text()) if out.exists() else None
    if record is not None and "error" in record:
        print(record["error"], file=sys.stderr)
        rc = rc or 1
    return rc, record


def result_line(record: dict, trace: int) -> dict:
    values = record["layers"] if trace else record["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in metric_defs(record["workload"], trace)}
    return {"correct": bool(record["correct"]),
            "attempted": int(record["attempted"]),
            "failed": int(record["failed"]), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; run every workload and check the metric set")
    args = ap.parse_args()

    if not (ROOT / "examples_scala_spark" / "__init__.py").is_file():
        print(f"perfbench: no examples_scala_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.smoke:
        import smoke
        return smoke.main(launch, result_line, metric_defs)
    if not args.workload or not metric_defs(args.workload, 0):
        ap.error("--workload must name a workload in perfbench/metrics.json")

    rc, record = launch(args.workload, args.seed, args.seconds, args.trace,
                        args.cores)
    if record is None or "error" in record:
        return rc or 1
    summary = {k: record[k] for k in ("workload", "seed", "seconds", "cores",
                                      "trace", "host")}
    summary["check"] = record["details"]["check"]
    if args.trace:
        summary["layer_self_ms"] = record["layer_self_ms"]
        summary["tracing_overhead"] = tracing_overhead(record)
    print(json.dumps({"perfbench_record": summary}))
    print(json.dumps(result_line(record, args.trace)))
    return 0 if record["correct"] else 1


def tracing_overhead(record: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, against the
    untraced record of the same workload, seed, length, core count and
    code (git sha and package source digest) when one is present."""
    plain = OUT / "results" / (f"{record['workload']}-seed{record['seed']}"
                               f"-trace0-cores{record['cores']}.json")
    if not plain.exists():
        return None
    base = json.loads(plain.read_text())
    same_code = all(base.get("host", {}).get(k) == record["host"][k]
                    for k in ("git_sha", "source_digest"))
    if base.get("seconds") != record["seconds"] or "e2e" not in base or not same_code:
        return None
    return {k: record["e2e"][k] - base["e2e"][k] for k in record["e2e"]}


if __name__ == "__main__":
    raise SystemExit(main())
