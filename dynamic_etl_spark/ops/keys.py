"""Surrogate-key assignment (SURVEY.md §2.5 W5, §4 custom-work item 2).

The reference assigns keys driver-side as ``next_key + i`` over a Python
list (scripts2/load_fact_sales_dw.py:352-357 and 3 more loaders). Here the
keys are gap-free and reproduce reference semantics exactly via
``row_number`` over a global window. A global window collapses to a
single partition — fine for dimension-sized inputs and delta-sized merge
inserts (the only places the reference needs it), and guarded against
fact-scale input by ``CONTIGUOUS_GUARD_ROWS``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: The numbering window runs on one partition; above this row count it
#: raises instead of funneling the input through one task.
CONTIGUOUS_GUARD_ROWS = 10_000_000


def assign_surrogate_keys(
    df: DataFrame,
    order_cols: Sequence[str],
    key_col: str,
    offset: int = 0,
) -> DataFrame:
    window = Window.orderBy(*[F.col(c) for c in order_cols])
    key = (F.row_number().over(window) + F.lit(offset)).cast("long")
    # The guard rides INSIDE the numbering expression: it raises at
    # execution time (SparkRuntimeException, USER_RAISED_EXCEPTION). An
    # eager limit(n+1).count() pre-check was measured to re-execute the
    # caller's whole upstream plan as an extra job (+35% on
    # scd1_merge_orders). The check gates on the FULL-FRAME partition
    # count, not the row number, so EVERY emitted row — including the
    # first — sees the partition size: a prefix-consuming action
    # (limit/first/show) still raises even though it never reaches row
    # guard+1. Scope: an action that prunes the key column prunes the
    # window too — nothing funnels, nothing raises; and the oversized
    # partition is sorted before the raise surfaces — the guard rejects
    # the misconfiguration, it does not pre-empt that one sort.
    total = F.count(F.lit(1)).over(
        window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    key = F.when(total <= F.lit(CONTIGUOUS_GUARD_ROWS), key).otherwise(
        F.raise_error(
            F.lit(
                f"contiguous surrogate keys run on a single partition; "
                f"input exceeds {CONTIGUOUS_GUARD_ROWS} rows"
            )
        )
    )
    return df.withColumn(key_col, key)
