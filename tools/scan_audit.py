"""Scan audit: count parquet scans per FACT table in every batch
registry query's physical plan — the detector for the
"reused-aggregate recomputed per consumer" anti-pattern (a DataFrame
feeding two consumers re-runs its whole upstream chain per consumer
unless the small intermediate is checkpointed).

Round-6 finds: q18 re-joined lineitem after the HAVING aggregate it
already had (fixed: 1.38 -> 0.91 s); q2/q11/q15 re-ran the derived-
partsupp / revenue chain once per consumer (fixed: lazy checkpoint of
the supplier/part-sized aggregate). Self-join recomputes over
FACT-SIZED intermediates (minhash_lsh_pairs, part_neighbors_cosine)
were A/B'd and left alone — re-scanning columnar parquet measured
cheaper than materializing (BENCH_NOTES.md).

Interpreting the output: >1 scan of a fact table is a SMELL, not a
verdict. Legitimate cases: broadcast scalar branches (narrow pushed
column scans), algorithmically-required two-pass shapes (median-of-
deviations), self-joins where the reused intermediate is fact-sized.
Investigate when the duplicated subtree contains a WIDE aggregation
or explode and the reusable intermediate is dimension-sized.

Usage: python tools/scan_audit.py [sf_dir] [min_scans]
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from examples_scala_spark.plans.inspect import explain_str  # noqa: E402
from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark  # noqa: E402
from examples_scala_spark.sources.tables import TABLES  # noqa: E402

FACTS = ("lineitem", "orders", "events", "documents", "embeddings")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    min_scans = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue  # building streaming queries starts real streams
        try:
            plan = explain_str(spec.fn(spark, sf_dir), "simple")
        except Exception as ex:  # noqa: BLE001
            print(f"{name:36s} PLAN-ERROR {str(ex)[:80]}")
            continue
        # count SCAN NODES, not raw path mentions (ADVICE r6): a path
        # echoed by a non-scan node (reused exchange, comment) must
        # not inflate the count, so only lines that are scan operators
        # contribute, one per line.
        counts: Counter = Counter()
        for ln in plan.splitlines():
            if "Scan parquet" not in ln and "Scan ExistingRDD" not in ln:
                continue
            m = re.search(rf"({'|'.join(TABLES)})\.parquet", ln)
            if m:
                counts[m.group(1)] += 1
        hot = {t: n for t, n in counts.items()
               if t in FACTS and n >= min_scans}
        if hot:
            flagged += 1
            print(f"{name:36s} {hot}")
    print(f"\n{flagged} queries with >= {min_scans} scans of a fact table")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
