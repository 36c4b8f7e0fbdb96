"""Storage-layout tests: the plan-level evidence for SCALE.md's claims
that bucketing removes the per-query fact shuffle and cell
partitioning prunes scans."""

from __future__ import annotations

import pyspark.sql.functions as F

from examples_scala_spark.plans.inspect import explain_str
from examples_scala_spark.sources.layout import (
    write_bucketed, write_cell_partitioned,
)
from examples_scala_spark.sources.tables import load_table


def test_bucketed_join_eliminates_exchange(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    # force the shuffle path so the comparison is join-strategy-stable
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert explain_str(plain, "simple").count("Exchange") == 2

        write_bucketed(li, "li_b", "l_orderkey", buckets=8)
        write_bucketed(orders, "ord_b", "o_orderkey", buckets=8)
        li_b, ord_b = spark.table("li_b"), spark.table("ord_b")
        bucketed = li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey)
        plan = explain_str(bucketed, "simple")
        assert "Exchange" not in plan  # the fact shuffle is gone
        assert (bucketed.count()
                == plain.count())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_cell_partitioned_scan_prunes(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cell", (F.col("user_id") % 8).cast("int"))
    path = str(tmp_path / "cells")
    write_cell_partitioned(ev.select("event_id", "value", "cell"),
                           path, "cell")
    back = spark.read.parquet(path).filter(F.col("cell") == 3)
    plan = explain_str(back)
    # partition filter recognized -> directory-level pruning
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1)[1][:200]
    want = ev.filter(F.col("cell") == 3).count()
    assert back.count() == want

def test_compact_parquet_restores_big_files(spark, sf_dir, tmpdir):
    import glob
    import os

    from examples_scala_spark.sources.layout import compact_parquet

    src = os.path.join(tmpdir, "smallfiles")
    dst = os.path.join(tmpdir, "compacted")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(32).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 32

    n = compact_parquet(spark, src, dst)  # tiny input -> 1 target file
    assert n == 1
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 1
    # content-preserving: same rows, same aggregate
    a = ev.groupBy("event_type").count().collect()
    b = spark.read.parquet(dst).groupBy("event_type").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_registry_partition_pruned_scan_prunes(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    df = REGISTRY["partition_pruned_scan"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    # the event_type filter must reach the directory level, not the rows
    frag = plan.split("PartitionFilters", 1)
    assert len(frag) == 2 and "event_type" in frag[1][:200], plan


def test_registry_bucketed_join_zero_exchange(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["bucketed_colocated_join"].fn(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


# ---------------------------------------------------------------- z-order

def test_zorder_key_interleaves_bits(spark):
    from examples_scala_spark.sources.layout import zorder_key
    df = spark.createDataFrame([(3, 1), (0, 0), (255, 255)], "x long, y long")
    out = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
    ).collect()}
    # x bit i -> position 2i, y bit i -> position 2i+1
    assert out[(3, 1)] == 0b111          # x:1@0,1@2  y:1@1
    assert out[(0, 0)] == 0
    assert out[(255, 255)] == (1 << 16) - 1


def test_zorder_files_cluster_2d_box_better_than_1d_sort(spark, sf_dir,
                                                         tmp_path):
    from examples_scala_spark.sources.layout import write_zordered
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    n_files = 16
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(ev, zdir, ["user_id", "value"], bits=8, n_files=n_files)
    # 1-D comparison layout: range-sorted by value only
    (ev.repartitionByRange(n_files, "value").sortWithinPartitions("value")
       .write.mode("overwrite").parquet(sdir))

    box = (F.col("user_id").between(40, 60)
           & F.col("value").between(100.0, 200.0))

    def files_hit(path):
        return (spark.read.parquet(path).filter(box)
                .select(F.input_file_name()).distinct().count())

    z_hit, s_hit = files_hit(zdir), files_hit(sdir)
    # identical rows either way
    assert (spark.read.parquet(zdir).filter(box).count()
            == spark.read.parquet(sdir).filter(box).count()
            == ev.filter(box).count())
    # the 2-D box concentrates in fewer files under z-order than under
    # a sort on the non-leading dimension, and never touches them all
    assert z_hit <= s_hit
    assert z_hit < n_files
