"""Generate PLANS.md: a per-query physical-plan audit of the whole
registry — shuffle exchange count, broadcast joins, whole-stage-codegen
spans, Python (Arrow) stages, top-k form, and whether any filter
reached a parquet scan. This is the browsable form of what
tests/test_plan_hygiene.py asserts pointwise: the evidence that every
query's plan has the shape its docstring claims at 100 TB.

Streaming queries are skipped (building them starts real streams);
they are exercised by the streaming tests and the gate instead.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from examples_scala_spark.plans.inspect import explain_str  # noqa: E402
from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    print("# Physical-plan audit (generated by tools/plan_report.py)")
    print()
    print(f"Plans built lazily against `{sf_dir}`; nothing is executed.")
    print("Columns: shuffle exchanges (hash + single-partition),")
    print("broadcast joins, Arrow/Python stages (0 = fully JVM-side),")
    print("TakeOrderedAndProject top-k, filters pushed to a scan.")
    print("(Codegen spans are not visible pre-execution under AQE;")
    print("the hygiene tests assert the Python/UDF-free property")
    print("directly. Queries whose reused aggregate is lazily")
    print("localCheckpoint-ed — q2/q11/q15, the r6 single-chain")
    print("rewrites — display the plan ABOVE the checkpoint, so their")
    print("scan-side pushed filters don't show here; the pre-rewrite")
    print("rows and the scan-audit tool cover that side.) Streaming")
    print("queries are exercised by the gate and the streaming tests")
    print("instead (building them starts streams).")
    print()
    print("| query | shuffles | bcast joins | py stages | top-k | "
          "pushed filters |")
    print("|---|---|---|---|---|---|")
    skipped = []
    for name, spec in REGISTRY.items():
        if "streaming" in spec.tags:
            skipped.append(name)
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = explain_str(df, "simple")
            fmt = explain_str(df, "formatted")
        except Exception as exc:  # pragma: no cover - report, don't die
            print(f"| {name} | ERROR {str(exc)[:60]} | | | | |")
            continue
        shuffles = (plan.count("Exchange hashpartitioning")
                    + plan.count("Exchange SinglePartition"))
        bcast = plan.count("BroadcastHashJoin")
        py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") \
            + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas")
        topk = "yes" if "TakeOrderedAndProject" in plan else ""
        pushed = "yes" if "PushedFilters: [" in fmt and \
            "PushedFilters: []" not in fmt.replace(
                "PushedFilters: [],", "PushedFilters: []") else ""
        print(f"| {name} | {shuffles} | {bcast} | {py} | {topk} | "
              f"{pushed} |")
    print()
    print(f"Streaming queries exercised elsewhere ({len(skipped)}): "
          + ", ".join(skipped))


if __name__ == "__main__":
    main()
