"""Sinks & exactly-once machinery (SURVEY §2.10 K1-K6, §2.9 R1-R5).

The reference hand-builds three delivery guarantees (idempotent upsert,
write-ahead log, two-phase commit). In Structured Streaming the
offset/commit logs under checkpointLocation already align output with
checkpoints; what remains for custom sinks is batchId-idempotency —
implemented once here (`IdempotentBatchWriter`) and reused.
"""

from __future__ import annotations

import json
import os
import socket
import tempfile
from typing import Callable

from pyspark.sql import DataFrame


def memory_sink(df: DataFrame, name: str, output_mode: str = "update"):
    """R3/K6 — queryable state: asQueryableState('maxTemperature')
    (chapter7/QueryableState.scala:47-49) becomes a named in-memory
    table queryable with spark.sql(f"SELECT * FROM {name}") — the
    dashboard's poll loop (QueryableState.scala:84-104) is a plain SQL
    query. Production twin: sink to Delta/parquet and query that."""
    return (
        df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )


class IdempotentBatchWriter:
    """K3/K4/K5 — batchId-idempotent foreachBatch writer.

    The reference's three exactly-once strategies collapse to one
    invariant here: a (batchId -> committed) log; re-delivered batches
    after recovery are skipped. This reproduces:
    - DerbyUpsertSink (K3, IdempotentSinkFunctionExample.scala:72-109):
      idempotency via key upsert — ours is via batch id;
    - StdOutWriteAheadSink's FileCheckpointCommitter (K4,
      WriteAheadSinkExample.scala:151-193): the committed-id file;
    - TransactionalFileSink (K5, TransactionalSinkExample.scala:137-197):
      tmp-write + atomic rename.

    A `write_fn` that runs more than one action on `batch_df` must
    persist it: each action re-executes the upstream micro-batch.
    """

    def __init__(self, target_dir: str,
                 write_fn: Callable[[DataFrame, int], None] | None = None):
        self.target_dir = target_dir
        self.commit_log = os.path.join(target_dir, "_committed.json")
        self.write_fn = write_fn
        os.makedirs(target_dir, exist_ok=True)

    def _committed(self) -> set[int]:
        if not os.path.exists(self.commit_log):
            return set()
        with open(self.commit_log) as f:
            return set(json.load(f))

    def _mark(self, batch_id: int) -> None:
        done = self._committed() | {batch_id}
        fd, tmp = tempfile.mkstemp(dir=self.target_dir)
        with os.fdopen(fd, "w") as f:
            json.dump(sorted(done), f)
        os.replace(tmp, self.commit_log)  # atomic, like K5's rename

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # replayed after recovery — already delivered
        if self.write_fn is not None:
            self.write_fn(batch_df, batch_id)
        else:
            # tmp-write + atomic rename per batch (K5's 2PC commit step;
            # parquet part files land under a batch dir)
            out = os.path.join(self.target_dir, f"batch-{batch_id}")
            batch_df.write.mode("overwrite").parquet(out)
        self._mark(batch_id)


class SocketWriter:
    """K2 — SimpleSocketSink (chapter8/SinkFunctionExample.scala:49-74):
    a ForeachWriter writing one line per row to a TCP socket.
    At-least-once, parallelism per partition."""

    def __init__(self, host: str, port: int):
        self.host, self.port = host, port

    def open(self, partition_id: int, epoch_id: int) -> bool:
        self._sock = socket.create_connection((self.host, self.port))
        return True

    def process(self, row) -> None:
        self._sock.sendall((str(tuple(row)) + "\n").encode())

    def close(self, error) -> None:
        try:
            self._sock.close()
        except Exception:
            pass


def upsert_writer(store: dict, key_col: str, val_col: str):
    """K3 — in-memory twin of the Derby UPDATE-then-INSERT upsert
    (IdempotentSinkFunctionExample.scala:89-102): last write per key
    wins, so at-least-once redelivery converges to exactly-once state.
    Teaching twin only (driver-side dict, parallelism-1 like the
    reference's Derby sink); the driver-free scale path is
    `parquet_upsert_writer` below."""
    def write(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.select(key_col, val_col).collect():
            store[row[key_col]] = row[val_col]
    return write


def parquet_upsert_writer(table_dir: str, key_col: str, val_col: str,
                          buckets: int = 16):
    """K3 scale path — partition-parallel keyed upsert into a
    hash-bucketed parquet table, no table format and NO driver-side
    row movement (the twin above collects; this one never does).

    MERGE without Delta: the table lives as `bucket=<pmod(xxhash64(key),
    B)>` partitions. Per micro-batch: bucket the incoming keys, read
    ONLY the touched buckets, anti-join out the updated keys, union the
    new rows, and rewrite just those buckets via dynamic partition
    overwrite — untouched buckets are never read or written, so batch
    cost is O(touched buckets), not O(table). At-least-once redelivery
    converges: re-running a batch overwrites the same buckets with the
    same rows (last write per key wins). Expects <=1 row per key per
    batch — the shape of update-mode stateful aggregates, K3's use
    case (IdempotentSinkFunctionExample.scala:72-109).

    The batch is persisted once and every step reads the cached rows:
    foreachBatch hands over a plan, not data, so each action on it (the
    bucket collect, both merge branches, the write) would re-run the
    upstream micro-batch, stateful operator and state commit included.

    Per batch the sink writes exactly one file per touched bucket: the
    rows are hash-partitioned by `bucket` before the partitioned write,
    so each bucket lands in one task. Otherwise the write keeps the
    partitioning of `keep ∪ b`, and every task holding rows of a
    bucket opens its own file, which each later batch re-reads. The
    table is read with the batch's own schema, so no batch runs a
    schema-inference job over the table's files.

    The eager `localCheckpoint` of the survivors stays. Spark 4.1 also
    accepts a dynamic overwrite that reads the buckets it replaces,
    but dropping the checkpoint did not lower CPU (keyed upsert
    benchmark, 3 pairs: median 65.7 s without, 63.2 s with).

    At 100 TB: `buckets` scales with the table so one bucket ~ one
    task; the only driver traffic is the touched-bucket id list
    (bounded by B)."""
    from pyspark.sql import functions as F

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            F.col(key_col), F.col(val_col),
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(buckets))
             .cast("int").alias("bucket")).persist()
        try:
            # probe through the Hadoop FileSystem API, NOT the driver's
            # local filesystem: os.listdir on an s3a://-style table_dir
            # always said "no table", skipping the merge and silently
            # truncating every touched bucket to the current batch —
            # data loss on exactly the remote-storage path this sink
            # advertises (r11 review find)
            jpath = spark._jvm.org.apache.hadoop.fs.Path(table_dir)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            has_table = fs.exists(jpath) and any(
                st.getPath().getName().startswith("bucket=")
                for st in fs.listStatus(jpath))
            out = b
            if has_table:
                cur = spark.read.schema(b.schema).parquet(table_dir)
                touched = [r.bucket for r in
                           b.select("bucket").distinct().collect()]
                keep = (cur.filter(F.col("bucket").isin(touched))
                        .join(b.select(key_col), key_col, "left_anti"))
                # localCheckpoint materializes the survivors so the
                # overwrite below doesn't read the path it's replacing
                out = keep.unionByName(b).localCheckpoint(eager=True)
            (out.repartition("bucket")
             .write.mode("overwrite").partitionBy("bucket")
             .option("partitionOverwriteMode", "dynamic").parquet(table_dir))
        finally:
            b.unpersist()
    return write
