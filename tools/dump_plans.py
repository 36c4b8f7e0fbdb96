"""Dump .explain('formatted') for a list of registry queries into
plans/<outdir>/<query>_<tag>.txt — the optimization-round evidence the
judge checks plan claims against.

Usage: python tools/dump_plans.py <tag> [outdir] [query ...]
  tag     'before' | 'after' (file suffix)
  outdir  subdirectory under plans/ (default r12)
  query   registry names; default = the bench headline set

Streaming queries (tagged 'streaming') materialize eagerly when built;
their plan is the memory-table scan, which is useless — for those we
skip with a note instead.

AQE `plan_id=` counters and `#<n>` expression ids, which count what the
session planned before, are written as `plan_id=N` and `#N`, so two
dumps of one checkout are byte-identical.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from examples_scala_spark.plans.inspect import explain_str  # noqa: E402
from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_volume_customer",
    "w_avg_temp", "rolling_max_by", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "ann_topk_bruteforce", "token_count",
    "pipeline_training_data",
]

SESSION_IDS = re.compile(r"(plan_id=|#)\d+")


def main() -> None:
    args = sys.argv[1:]
    tag = args[0] if args else "before"
    outdir = args[1] if len(args) > 1 else "r12"
    names = args[2:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dest = os.path.join(ROOT, "plans", outdir)
    os.makedirs(dest, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spec = REGISTRY[name]
        path = os.path.join(dest, f"{name}_{tag}.txt")
        if "streaming" in spec.tags:
            note = ("streaming replay: the returned DataFrame is the "
                    "materialized memory sink; no batch plan to dump")
            with open(path, "w") as f:
                f.write(f"# {name}: {note}\n")
            print(f"skip  {name} ({note})")
            continue
        df = spec.fn(spark, sf_dir)
        with open(path, "w") as f:
            # record the environment the plan shape depends on, so
            # cross-host plan diffs stay interpretable
            f.write(f"# defaultParallelism={spark.sparkContext.defaultParallelism} "
                    f"sf_dir={sf_dir}\n")
            f.write(SESSION_IDS.sub(r"\1N", explain_str(df, "formatted")))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
