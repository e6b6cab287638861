"""Time-series regridding: per-key resampling to a regular grid with
linear interpolation — the repair step between event streams and
models/joins that need aligned, regularly-spaced series (the events
table is irregular; date_gap_fill covers CALENDAR gaps, this covers
value interpolation on event time).

Parity discipline: timestamps travel as exact integer epoch
MICROSECONDS end-to-end (SCALE.md micros rule); the interpolation is
three IEEE double operations from exact integers — one subtraction
ratio, one multiply, one add — bit-identical across engines, no
rounding needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: The regular grid's step (hourly); the registry's DuckDB twin reads it.
STEP_SECONDS = 3600


def resample_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Resample each key's series to a regular ``STEP_SECONDS`` grid,
    linearly interpolating between the surrounding observations.

    Grid points span ``ceil(min_ts/step)*step .. max_ts`` per key. A
    grid point coinciding with an observation takes that exact value; a
    point outside the observed range (only possible at the leading edge
    before the first observation — the grid never extends past the
    last) stays null rather than extrapolating.

    Plan (no as-of join, no range join): observations and generated grid
    rows UNION, then per key two running windows — carry the previous
    observation forward and the next observation backward. Observations
    sort BEFORE a coincident grid point, so exact hits resolve through
    the "previous" side with a zero numerator. Both windows are keyed
    and the union is row-count-linear: one shuffle on the key, total
    order (ts, is_grid) within it — deterministic at any parallelism.
    """
    keys = list(key_cols)
    # a null value is NO observation: it must neither anchor an exact
    # hit nor supply an interpolation endpoint (a half-null anchor would
    # pair one observation's timestamp with another's value)
    df = df.filter(F.col(value_col).isNotNull())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    step_us = STEP_SECONDS * 1_000_000
    # observations with EQUAL timestamps need a total order (repo window
    # rule) or the carried value is partition-order-dependent; grid rows
    # are unique per (key, us), so their null tiebreak never compares
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)

    obs = df.select(
        *keys,
        us.alias("__us"),
        F.col(value_col).alias("__v"),
        F.lit(0).alias("__is_grid"),
        tb.alias("__tb"),
    )
    span = df.groupBy(*keys).agg(
        F.min(us).alias("__lo"), F.max(us).alias("__hi")
    )
    # a span narrower than one step holds no grid point: sequence(start >
    # stop) THROWS in Spark (DuckDB's generate_series returns empty), so
    # emit an explicit empty array for those keys — explode drops them
    start = (-F.floor(-F.col("__lo") / step_us) * step_us).cast("long")
    grid = span.select(
        *keys,
        F.explode(
            F.when(
                start <= F.col("__hi"),
                F.sequence(start, F.col("__hi"), F.lit(step_us)),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("__us"),
        F.lit(None).cast(df.schema[value_col].dataType).alias("__v"),
        F.lit(1).alias("__is_grid"),
        F.lit(None).cast(obs.schema["__tb"].dataType).alias("__tb"),
    )

    order = [F.col("__us"), F.col("__is_grid"), F.col("__tb")]
    wb = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    both = obs.unionByName(grid)
    prev_us = F.last(F.when(F.col("__is_grid") == 0, F.col("__us")), ignorenulls=True).over(wb)
    prev_v = F.last(F.when(F.col("__is_grid") == 0, F.col("__v")), ignorenulls=True).over(wb)
    next_us = F.first(F.when(F.col("__is_grid") == 0, F.col("__us")), ignorenulls=True).over(wf)
    next_v = F.first(F.when(F.col("__is_grid") == 0, F.col("__v")), ignorenulls=True).over(wf)

    interpolated = (
        F.when(prev_us.isNotNull() & (prev_us == F.col("__us")), prev_v)
        .when(
            prev_us.isNotNull() & next_us.isNotNull(),
            prev_v
            + (next_v - prev_v)
            * (
                (F.col("__us") - prev_us).cast("double")
                / (next_us - prev_us).cast("double")
            ),
        )
    )
    return (
        both.withColumn("__iv", interpolated)
        .filter(F.col("__is_grid") == 1)
        .select(
            *keys,
            F.timestamp_micros(F.col("__us")).cast("timestamp_ntz").alias("grid_ts"),
            F.col("__iv").alias(value_col),
        )
    )
