"""SparkSession construction with scale-oriented defaults.

The reference configures its environment per-program
(StreamExecutionEnvironment.getExecutionEnvironment +
setStreamTimeCharacteristic, see
reference chapter1/AverageSensorReadings.scala:34-39). Here `tune`
applies the settings we want on every session, `get_spark`'s included:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- UTC session timezone (determinism of every time expression)
- Arrow for all Python<->JVM transfer
- two partition counts. Batch shuffles start from the local core count
  through AQE's initial partition number; on a real cluster AQE
  coalescing makes it mostly a ceiling. Streams run with AQE off, so
  they read `spark.sql.shuffle.partitions`, which holds
  STREAM_STATE_PARTITIONS: one state store per stateful operator.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark import SparkFiles
from pyspark.sql import SparkSession

#: The shuffle partitions, and so the state stores, of every stateful
#: operator of a stream; also every shuffle inside a stream's
#: foreachBatch. Batch shuffles do not read it: AQE is on in every
#: session built or tuned here, and under AQE a batch shuffle starts
#: from `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
#: Each store commits a delta file and a checkpoint-checksum file in
#: every micro-batch, each a tmp-file write plus a rename with Hadoop
#: CRCs. Without native Hadoop IO each store costs 20 shelled-out
#: `chmod`/`readlink` processes per batch: JFR `jdk.ProcessStart` over
#: a 10-batch windowed aggregation at local[4] counted 113 process
#: starts per batch at 4 stores and 53 at 1. A stream checkpoint fixes
#: the count at its first batch; a stream whose rate needs more stores
#: sets it per query.
STREAM_STATE_PARTITIONS = 1


def scratch_dir(prefix: str) -> str:
    """A new directory for a query's, program's or tool's staging,
    checkpoint or sink table, under the active SparkContext's files
    root (`spark-*/userFiles-*`). Spark deletes that root when the
    context stops, and at JVM exit without a stop; a SIGKILLed JVM
    leaves it behind."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, rows: int,
                              rows_per_partition: int = 500_000,
                              floor: int = 8):
    """Clamp the batch shuffle partitions (AQE's initial partition
    number) to the iterated volume for a driver-side loop (connected
    components, PageRank, BPE), restoring the session value after. At
    test scale this kills per-round task-scheduling overhead; at
    cluster scale the row count drives the clamp back up to the
    session setting, so a real run is unaffected.

    Guards (ADVICE r5): if the session value is non-numeric (e.g.
    'auto' on some runtimes) the clamp is skipped entirely rather than
    raising. Note the setting is session-global while held — callers
    should not run concurrent queries on the same session inside the
    scope (no registry query does; streaming replays use their own
    bounded sessions)."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev = spark.conf.get(key)
    try:
        sess = int(prev)
    except (TypeError, ValueError):
        yield
        return
    target = max(floor, min(sess,
                            (rows + rows_per_partition - 1)
                            // rows_per_partition))
    try:
        spark.conf.set(key, str(target))
        yield
    finally:
        spark.conf.set(key, prev)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the
    driver-provided one) so query semantics are deterministic."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # InferFiltersFromGenerate duplicates the generator's child
    # expression into a pre-Generate (size(..)>0 AND isnotnull(..))
    # filter that is pushed below the projection — for explode over a
    # COMPUTED array (every shingle/token pipeline here: split +
    # transform + array_join) the whole higher-order expression then
    # runs 3x per row, interpreted, inside the scan's DataFilters.
    # Measured 9x on the n-gram pipelines (6.3s -> 0.7s at sf0.1).
    # The rule only ever pays off when exploding a STORED array column
    # (prunes rows before Generate); no query in this repo does that,
    # so it is excluded wholesale.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    try:
        # batch count first: if it cannot be set, batch shuffles read
        # spark.sql.shuffle.partitions, which then keeps its value
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(STREAM_STATE_PARTITIONS))
    except Exception:
        pass  # immutable under AQE in some builds; fine
    return spark


def get_spark(app_name: str = "examples-scala-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # single-JVM local mode: eager localCheckpoint materialization
        # of a corpus-sized iteration frontier (suffix-span / CC loops
        # at the 100x probe) accounts against driver.maxResultSize even
        # though the blocks never leave the process; a cluster driver
        # never sees executor-held checkpoint blocks, so the 1g default
        # is a local-mode artifact, not a plan-budget signal
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    return tune(builder.getOrCreate())
