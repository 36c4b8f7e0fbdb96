"""Smoke mode (`python3 perfbench/run.py --smoke`): every workload end to
end on tiny inputs (a few micro-batches, one query pass), traced, so
that a change which breaks a seam the benchmark drives fails in
minutes. It asserts that each run checked its outputs and that every
metric metrics.json defines for the workload, and every metric
BENCHMARK.json names, is printed as a number with its unit."""

from __future__ import annotations

import json
import os
from numbers import Number
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("sensor_window", "sensor_keyed_upsert", "batch_headline")
SECONDS = 3


def _problems(workload: str, record: dict, result_line, metric_defs,
              bench: dict) -> list[str]:
    out = []
    check = record.get("details", {}).get("check")
    if not check or not check.get("ok") or not record["correct"]:
        out.append(f"output check failed or missing: {check}")
    declared = {w["name"] for w in bench.get("workloads", ())}
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        printed = result_line(record, trace)["metrics"]
        want = {m["name"]: m["unit"] for m in metric_defs(workload, trace)}
        if workload in declared:
            named = {m["name"]: m["unit"] for m in bench[kind]}
            if named != want:
                out.append(f"BENCHMARK.json {kind} differs from metrics.json")
        for name, unit in want.items():
            got = printed.get(name)
            if (got is None or got["unit"] != unit
                    or not isinstance(got["value"], Number)):
                out.append(f"{kind} {name}: printed {got}, want unit {unit}")
    return out


def main(launch, result_line, metric_defs) -> int:
    bench_file = ROOT / "BENCHMARK.json"
    bench = json.loads(bench_file.read_text()) if bench_file.exists() else {}
    failed = {}
    for w in WORKLOADS:
        rc, record = launch(w, 1, SECONDS, 1, len(os.sched_getaffinity(0)),
                            smoke=True)
        if rc or record is None or "error" in record:
            failed[w] = [f"run failed with exit code {rc}"]
            continue
        problems = _problems(w, record, result_line, metric_defs, bench)
        if problems:
            failed[w] = problems
        print(json.dumps({"workload": w, "ok": not problems,
                          "check": record["details"]["check"]}))
    print(json.dumps({"smoke": "failed" if failed else "ok",
                      "problems": failed}))
    return 1 if failed else 0
