"""Program surface (programs.py): every reference main has a runnable
twin. Build-only analysis check for all; a sampled few run live."""

from __future__ import annotations

import pytest

from examples_scala_spark import programs
from examples_scala_spark.session import scratch_dir


def test_every_program_builds(spark):
    """Analysis-time check: each program's plan resolves (schema
    available) — catches signature drift without running streams."""
    for name, p in programs.PROGRAMS.items():
        df = p.build(spark)
        assert df.schema.fields, name
        assert df.isStreaming, name


# Every distinct piece of streaming machinery a program can exercise
# is started at least once: plan analysis alone (test above) misses
# failures Spark raises only at stream START — the r12 sweep caught a
# stream-stream join without an equality predicate, an update-mode
# sink over an append-mode applyInPandasWithState, and an event-time
# timeout whose watermark column was projected away, all of which
# built fine.
@pytest.mark.parametrize("name", ["average_sensor_readings",
                                  "keyed_transformations",
                                  "custom_window",
                                  "session_windows",
                                  "pii_scrub",
                                  # stream-stream interval join
                                  "multi_stream_transformations",
                                  # ProcessingTimeTimeout + append sink
                                  "process_function_timers",
                                  # EventTimeTimeout (watermark survives
                                  # the projection)
                                  "stateful_process_function",
                                  # union-tagged co-process
                                  "co_process_function_timers",
                                  # stream-static per-batch join
                                  "broadcast_state_function",
                                  # spark_partition_id keyed op-state
                                  "operator_list_state",
                                  # allowed lateness on shuffled event
                                  # time (EventTimeTimeout)
                                  "late_data_updating_window"])
def test_program_runs_live(spark, name):
    """Start on the live rate source and stop once two micro-batches
    have completed without error; fail if that takes over 60 s."""
    import time

    p = programs.PROGRAMS[name]
    df = p.build(spark)
    q = (df.writeStream.format("memory").queryName(f"prog_{name}")
         .outputMode(p.output_mode)
         .option("checkpointLocation", scratch_dir(f"sgs_test_prog_{name}_"))
         .start())
    try:
        deadline = time.monotonic() + 60
        while len(q.recentProgress) < 2:
            assert time.monotonic() < deadline, "no 2 micro-batches in 60 s"
            # re-raises the query's error if it failed
            assert not q.awaitTermination(0.2), "query stopped on its own"
        assert q.exception() is None
    finally:
        q.stop()


def test_idempotent_sink_program_runs_its_upsert_writer(spark):
    """The live test above always attaches a memory sink; this one runs
    a program through its own foreachBatch writer (the bucketed
    parquet upsert, K3). awaitTermination re-raises a failed query's
    error, so a broken writer fails here."""
    programs.run_program(spark, "idempotent_sink", duration=12)


def test_program_count_covers_reference_mains():
    # 20 runnable concept programs in the reference (SURVEY §2/§3);
    # the registry must not silently shrink
    assert len(programs.PROGRAMS) >= 20


def test_curation_v4_program_is_stateless(spark):
    """The flagship live gate must stay a stateless per-row pipeline:
    no aggregation, no stream-static join, no state store — the frozen
    model ships as a map literal inside the projection. A stateful
    node appearing here means someone broke the production pattern."""
    df = programs.PROGRAMS["curation_v4"].build(spark)
    plan = df._jdf.queryExecution().analyzed().toString()
    for node in ("Aggregate", "Join", "FlatMapGroupsWithState",
                 "TransformWithState", "Deduplicate"):
        assert node not in plan, f"stateful/shuffling node {node} in:\n{plan}"
    assert df.isStreaming
