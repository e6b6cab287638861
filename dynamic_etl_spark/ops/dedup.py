"""Deduplication operators (SURVEY.md §2.6, D1-D3).

pandas ``drop_duplicates(keep='last')`` has an implicit file order; Spark
has no free row order, so keep-first/keep-last require an explicit ordering
column (SURVEY.md §7 hard part c). Both are windowed row_number plans: one
shuffle on the dedup key, no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _keep_one(df: DataFrame, keys: Sequence[str], order, desc: bool) -> DataFrame:
    order_cols = [F.desc(c) if desc else F.asc(c) for c in order]
    window = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(window))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_last(df: DataFrame, keys: Sequence[str], order: Sequence[str]) -> DataFrame:
    """D1 — reference: drop_duplicates(keep='last'),
    scripts2/load_dim_product_dw.py:387-392."""
    return _keep_one(df, keys, order, desc=True)


def dedup_keep_first(df: DataFrame, keys: Sequence[str], order: Sequence[str]) -> DataFrame:
    """D2 — reference: drop_duplicates(keep='first'),
    scripts2/load_dim_store_dw.py:261-267. Deterministic (unlike raw
    dropDuplicates, which keeps an arbitrary row)."""
    return _keep_one(df, keys, order, desc=False)


def dedup_keep_last_agg(df: DataFrame, keys: Sequence[str], order: Sequence[str]) -> DataFrame:
    """D1, hot-key-resilient formulation: ``max_by`` over the ordering
    tuple instead of a row_number window. Same result as
    ``dedup_keep_last`` when (keys + order) is a total order and the order
    columns are non-null — but as a hash AGGREGATE it gets map-side
    partial combine: a key holding 50% of the corpus reduces to one row
    per map task before the shuffle, where the window formulation must
    colocate every row of the hot key on one reducer (AQE cannot split a
    window partition). Prefer this at 100 TB whenever only the surviving
    row — not its rank — is needed."""
    ord_struct = F.struct(*[F.col(c) for c in order])
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*keys)
        .agg(F.max_by(payload, ord_struct).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])
    )


def duplicate_members(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """D3 — report every member of each duplicated key group
    (reference: df.duplicated(keep=False), scripts/validate_table.py:225-231)."""
    window = Window.partitionBy(*keys)
    return (
        df.withColumn("__n", F.count(F.lit(1)).over(window))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
