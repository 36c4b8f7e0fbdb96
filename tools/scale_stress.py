"""Scale stress: synthesize a ~10x-sf0.1 dataset (~1M events, ~50k
docs, ~50k embeddings) in the session's scratch, removed when the
session stops, and run a representative query slice — the local
stand-in for the "would this survive a 100x scale-up?" question.
Prints one timing line per query and a JSON summary.

Synthesis multiplies the sf0.1 tables with shifted ids/timestamps so
value distributions, key cardinality ratios, and text content match
the driver data rather than being uniform noise.

Usage: python tools/scale_stress.py [multiplier] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark, scratch_dir  # noqa: E402
from examples_scala_spark.sources.tables import load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"

# a slice spanning scan-bound, window, join, dedup, ANN, streaming-ish
DEFAULT_QUERIES = [
    "q1_pricing_summary", "w_avg_temp", "events_scd2_intervals",
    "dedup_exact", "minhash_lsh_pairs", "token_count",
    "doc_sequence_packing", "stratified_reservoir",
    "quality_model_scores", "user_hll_rollup", "events_session_stats",
]


def synthesize(spark, mult: int) -> str:
    out = scratch_dir(f"sgs_stress_x{mult}_")
    reps = spark.range(mult).withColumnRenamed("id", "rep")

    ev = load_table(spark, BASE, "events")
    n_events = ev.count()
    n_users = 1500 * mult  # keep users/events ratio
    (ev.crossJoin(F.broadcast(reps))
       .select(
           (F.col("event_id") + F.col("rep") * n_events).alias("event_id"),
           # shift each replica by a day so time windows stay realistic
           F.expr("ts + make_interval(0, 0, 0, rep, 0, 0, 0)").alias("ts"),
           F.pmod(F.col("user_id") + F.col("rep") * 1500,
                  F.lit(n_users)).alias("user_id"),
           "event_type", "value", "props")
       .repartition(32)
       .write.mode("overwrite").parquet(os.path.join(out, "events.parquet")))

    docs = load_table(spark, BASE, "documents")
    n_docs = docs.count()
    (docs.crossJoin(F.broadcast(reps))
         .select(
             (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
             # vary replicated text so dedup ops see near-dups, not
             # pure copies
             F.when(F.col("rep") == 0, F.col("text"))
              .otherwise(F.concat_ws(" ", "text",
                         F.concat(F.lit("rep"), F.col("rep"))))
              .alias("text"),
             "lang", "source", "n_chars")
         .repartition(16)
         .write.mode("overwrite").parquet(os.path.join(out, "documents.parquet")))

    emb = load_table(spark, BASE, "embeddings")
    n_vecs = emb.count()
    (emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            "embedding", "label")
        .repartition(16)
        .write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet")))

    # dims pass through unchanged — a synthesis choice: the probe
    # stresses fact-side scaling against driver-sized dims (scaling
    # the dims too would change join selectivities, not just volume)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        (load_table(spark, BASE, t)
         .write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet")))
    return out


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    sf_dir = synthesize(spark, mult)
    print(f"# synthesized x{mult} at {sf_dir} in {time.time()-t0:.1f}s",
          file=sys.stderr)

    # SPARK_GRAFT_STRESS_RUNS=N -> best-of-N per query (VERDICT r6:
    # probes should absorb ambient-load noise like bench.py does)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_STRESS_RUNS", "1")))
    # SPARK_GRAFT_STRESS_PARTITIONS=scaled -> size batch shuffle
    # partitions (AQE's initial partition number) to the multiplier
    # (32 * mult, capped 256), the way a real cluster sizes them to
    # volume. Default keeps the session's 32 so probe rows stay
    # comparable with the historical series; use "scaled" when
    # separating plan growth from the fixed-partition artifact. Every
    # query calls session.tune, which sets that number from
    # SPARK_GRAFT_CPUS, so the scaled count goes there: a conf set
    # here is undone before the query plans (SCALE.md, the round-10
    # correction). The session's core count was fixed by get_spark.
    if os.environ.get("SPARK_GRAFT_STRESS_PARTITIONS") == "scaled":
        scaled = min(256, 32 * mult)
        os.environ["SPARK_GRAFT_CPUS"] = str(scaled)
        print(f"# shuffle partitions scaled to {scaled}", file=sys.stderr)
    timings: dict[str, float] = {}
    for name in names:
        samples = []
        n = 0
        for _ in range(runs):
            t0 = time.time()
            n = len(REGISTRY[name].fn(spark, sf_dir).collect())
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 2)
        print(f"# {name}: best {timings[name]:.2f}s of "
              f"{[round(s, 2) for s in samples]} ({n} rows)",
              file=sys.stderr)
    print(json.dumps({"multiplier": mult, "runs": runs,
                      "queries": timings,
                      "total_sec": round(sum(timings.values()), 2)}))


if __name__ == "__main__":
    main()
