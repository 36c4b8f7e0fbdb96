"""One benchmark run inside the Spark driver process. Started by
run.py, which sets the environment first; writes the run record as
JSON to --out and prints nothing that the launcher relies on."""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback
from pathlib import Path

from harness import ProcTree, Tracer, host_record, steal_s, write_json

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


class Context:
    def __init__(self, args, cfg: dict, proc: ProcTree) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work = Path(args.work)
        self.eventlog = self.work / "eventlog"
        self.cfg, self.proc = cfg, proc
        self.tracer = Tracer(self.trace)


def load_config(smoke: bool) -> dict:
    cfg = json.loads((HERE / "config.json").read_text())
    smoke_cfg = cfg.pop("smoke")
    if smoke:
        for name, over in smoke_cfg.items():
            cfg["workloads"][name].update(over)
    return cfg


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    cfg = load_config(args.smoke)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "cores": args.cores, "smoke": args.smoke,
              "host": host_record(ROOT), "started": time.time()}
    with ProcTree() as proc:
        ctx = Context(args, cfg, proc)
        try:
            if args.workload == "batch_headline":
                import suite
                result = suite.run(ctx)
            else:
                import streams
                result = streams.run(ctx, args.workload)
        except Exception:
            record["error"] = traceback.format_exc()
            write_json(Path(args.out), record)
            return 1
    record.update(result)
    record["details"]["peak_rss_by_process_mb"] = proc.peak_detail
    record["host"]["loadavg_after"] = os.getloadavg()
    record["host"]["steal_s"] = steal_s() - record["host"].pop("steal_s_before")
    if ctx.trace:
        record["layer_self_ms"] = ctx.tracer.self_times_ms()
        write_json(Path(args.out).with_name(Path(args.out).stem + "-spans.json"),
                   ctx.tracer.spans)
    write_json(Path(args.out), record)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
