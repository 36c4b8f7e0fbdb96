"""Isolate one registry query in a fresh session: run it `runs` times,
print per-run wall seconds (first run includes JVM/codegen warmup).

Usage: python tools/isolate.py <query> [runs] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup unrelated to the target: JVM + parquet reader paths
    REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir).collect()
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"isolate:{name}#{i}")
        t0 = time.time()
        n = len(REGISTRY[name].fn(spark, sf_dir).collect())
        print(f"run{i}: {time.time() - t0:.3f}s ({n} rows)", flush=True)


if __name__ == "__main__":
    main()
