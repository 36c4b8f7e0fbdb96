"""Storage layout helpers: bucketing and partition pruning — the two
levers that remove whole shuffle/scan stages at 100 TB.

- Bucketing pre-shuffles a table ONCE at write time: both sides of a
  repeated equi-join bucketed by the join key on the same bucket count
  join with NO Exchange (the per-query fact shuffle disappears).
- Partition pruning turns a filter on the partition column into
  directory-level file skipping (the IVF cell layout in similarity.py
  relies on this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scratch_dir


def write_bucketed(df: DataFrame, table: str, key: str,
                   buckets: int = 32, sort: bool = True) -> None:
    """Persist `df` as table `table`, replacing it, bucketed (and
    optionally sorted) by `key`, its files in the session's scratch.
    Reading the table back exposes the bucketing to Catalyst: joins
    and aggregations on `key` skip their Exchange (and with sort=True,
    sort-merge joins skip the Sort too)."""
    w = (df.write.mode("overwrite").bucketBy(buckets, key)
         .option("path", scratch_dir(f"sgs_bkt_{table}_")))
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_cell_partitioned(df: DataFrame, path: str, cell_col: str) -> None:
    """Persist partitioned by a low-cardinality cell/bucket column
    (e.g. IVF cell id). A query filtering on `cell_col` scans only the
    matching directories — partition pruning."""
    df.write.mode("overwrite").partitionBy(cell_col).parquet(path)

def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_bytes: int = 128 << 20) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(input_bytes / target_bytes) files and return that count.

    The small-files problem is the quiet killer of 100 TB pipelines:
    streaming sinks and fine-grained partitions leave thousands of
    KB-sized files, so scans pay per-file open/footer costs and the
    driver pays per-file listing/planning. Compaction restores
    ~target_bytes files (default 128 MB — one HDFS/S3-friendly block,
    matching `spark.sql.files.maxPartitionBytes` so one task reads one
    file). Uses `coalesce` (narrow, no shuffle) — file assembly moves
    bytes but never re-hashes rows; use a `repartition(col)` variant
    instead when the rewrite should also co-locate a join key."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-total // target_bytes))
    df = spark.read.parquet(path)
    # coalesce can only REDUCE partition count: when the target asks
    # for more files than the scan yields (target_bytes below
    # maxPartitionBytes), the returned count silently overstated what
    # was written (r11 review find) — clamp to the scan's partition
    # count; splitting finer than the scan would need a shuffle
    # (repartition), which defeats compaction's narrow-plan point
    n_files = min(n_files, df.rdd.getNumPartitions())
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def equiwidth_bucket(col, lo: float, hi: float, bits: int):
    """Clamp-normalized equi-width bucket of `col` into [0, 2^bits).
    Production note: on heavily skewed columns swap in approx-quantile
    boundaries (one approxQuantile pass, broadcast the cut points) so
    buckets carry equal row mass; equi-width keeps the demo exact and
    engine-reproducible."""
    from pyspark.sql import functions as F
    n = 1 << bits
    b = F.floor((col - F.lit(lo)) / F.lit((hi - lo) / n)).cast("long")
    return F.least(F.greatest(b, F.lit(0)), F.lit(n - 1))


def zorder_key(bucket_cols: list, bits: int = 8):
    """Morton/Z-order key: interleave the low `bits` bits of each
    (already-bucketed) column — column j's bit i lands at position
    i*d + j. Pure shift/mask arithmetic, codegen'd; d*bits terms.

    Sorting by this key makes every parquet file a small hyper-rectangle
    in the d-dim space, so per-file min/max stats prune multi-column
    range predicates — the effect bucketing/1-D sort only gives the
    leading column."""
    from pyspark.sql import functions as F
    d = len(bucket_cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                i * d + j)
    return z


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   bits: int = 8, n_files: int = 32) -> None:
    """Rewrite `df` Z-ordered on `cols`: one min/max agg (driver-tiny),
    bucketize, range-repartition on the interleaved key, sort within
    partitions, write. The range partitioner samples the z-key, so
    files get ~equal rows AND tight per-file bounding boxes; at 100 TB
    this is the same one-extra-shuffle cost as any repartition, paid
    once at write time to make every later multi-dim scan prune."""
    from pyspark.sql import functions as F
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    if any(row[f"__lo_{c}"] is None for c in cols):
        # empty input (or an all-NULL cluster column): nothing to
        # cluster — write through unmodified
        df.write.mode("overwrite").parquet(path)
        return
    buckets = [
        equiwidth_bucket(F.col(c), float(row[f"__lo_{c}"]),
                         float(row[f"__hi_{c}"]) + 1e-9, bits)
        for c in cols
    ]
    (df.withColumn("__z", zorder_key(buckets, bits))
       .repartitionByRange(n_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode("overwrite").parquet(path))
