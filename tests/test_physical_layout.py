"""Physical-layout scale features: date-partitioned writes prune at the
scan, and bucketed tables co-locate joins (no Exchange). These are the
SURVEY §4 'partition pruning becomes relevant once we write
date_id-partitioned parquet' and the brief's 'bucketing for co-located
joins' made observable."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark import generate as G

SCRATCH = Path(__file__).resolve().parent.parent / ".tmp" / "layout"


@pytest.fixture()
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def test_date_partitioned_write_prunes(spark, scratch):
    stores = G.generate_stores(spark, 20).cache()
    products = G.generate_products(spark, 50).cache()
    dists = G.generate_distributors(spark, 10).cache()
    days = [20240601, 20240602, 20240603]
    facts = None
    for d in days:
        day = G.generate_fact_sales(spark, stores, products, dists, date_id=d, rows=200)
        facts = day if facts is None else facts.unionByName(day)
    path = str(scratch / "fact_partitioned")
    facts.write.partitionBy("date_id").mode("overwrite").parquet(path)

    # one directory per day on disk
    dirs = sorted(p.name for p in Path(path).iterdir() if p.name.startswith("date_id="))
    assert dirs == [f"date_id={d}" for d in days]

    q = spark.read.parquet(path).filter(F.col("date_id") == 20240602)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "20240602" in plan
    # pruned scan reads exactly one day
    assert q.count() == 200


def test_bucketed_join_has_no_shuffle(spark):
    # tables land in ./spark-warehouse (gitignored); warehouse.dir is a
    # static conf and can't be pointed at the scratch dir per-test
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    from dynamic_etl_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    lines = load_table(spark, SF_SMALL, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lines.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lines")
    )
    joined = spark.table("b_lines").join(spark.table("b_orders"), "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located: the join consumes bucketed scans directly — no Exchange
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert joined.count() == lines.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")


def test_zorder_write_prunes_second_dimension(spark, tmp_path):
    """The point of Morton layout: a table linearly sorted by x gives a
    y-band predicate NO file pruning (every file spans all y), while the
    z-ordered write bounds BOTH dimensions per file — verified from the
    actual parquet footers, not the plan."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from dynamic_etl_spark.ops.layout import zorder_key

    n_side = 200
    df = (
        spark.range(n_side * n_side)
        .select(
            (F.col("id") % n_side).alias("x"),
            (F.col("id") / n_side).cast("long").alias("y"),
        )
    )
    linear_dir = str(tmp_path / "linear")
    z_dir = str(tmp_path / "zorder")
    (
        df.repartitionByRange(32, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear_dir)
    )
    # x/y are already grid coordinates in [0, 256); range-partitioning on
    # the key gives each file a contiguous Morton range
    (
        df.withColumn("__z", zorder_key([F.col("x"), F.col("y")]))
        .repartitionByRange(32, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(z_dir)
    )

    def files_overlapping_y_band(d, lo, hi):
        hit, total = 0, 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            y_min = min(
                md.row_group(g).column(names["y"]).statistics.min
                for g in range(md.num_row_groups)
            )
            y_max = max(
                md.row_group(g).column(names["y"]).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if y_max >= lo and y_min <= hi:
                hit += 1
        return hit, total

    lin_hit, lin_total = files_overlapping_y_band(linear_dir, 50, 60)
    z_hit, z_total = files_overlapping_y_band(z_dir, 50, 60)
    # linear-by-x: every file spans essentially all y -> no pruning
    assert lin_hit == lin_total
    # z-order: the y-band maps to a bounded strip of Morton tiles
    assert z_hit <= z_total // 2, (z_hit, z_total)
    # and the layout loses no rows
    assert spark.read.parquet(z_dir).count() == n_side * n_side
