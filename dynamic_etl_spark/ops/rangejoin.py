"""Point-in-interval range join, bucketized so it stays an EQUI-join.

Spark has no native range-join strategy: a raw ``ts BETWEEN start AND
end`` predicate becomes a broadcast-nested-loop (or cartesian) plan that
compares every point against every interval. The standard fix (used by
the interval-join implementations in stream processors and documented in
the range-join literature) is bucketization: choose a bucket width no
smaller than the longest interval, map each point to the single bucket
containing its timestamp, explode each interval to the (at most two)
buckets it touches, equi-join on bucket, and apply the exact containment
predicate as a post-filter. Each (point, interval) candidate pair is
produced at most once — a point lives in exactly one bucket — so no
dedup is needed, and the plan is an ordinary hash/sort-merge join that
shuffles each side once and scales like any other equi-join at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _epoch_us(c: Column) -> Column:
    """Micros since epoch for TIMESTAMP *or* TIMESTAMP_NTZ input.

    ``unix_micros`` rejects TIMESTAMP_NTZ (the events table's type), so
    cast through TIMESTAMP first: the engine pins the session timezone
    to UTC (session.py), making the cast interpret naive timestamps as
    UTC, and it is a no-op for already-zoned columns.
    """
    return F.unix_micros(c.cast("timestamp"))


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    ts_col: str = "ts",
    bucket_seconds: int,
    how: str = "left",
) -> DataFrame:
    """Join each point to every interval with ``start <= ts < end``.

    ``bucket_seconds`` MUST be >= the longest interval: a longer interval
    would silently lose matches, so the guard is folded into the bucket
    expression itself (it raises per-row — folding it into a separate
    column would let Catalyst prune it away unevaluated).
    ``how='left'`` preserves empty intervals (their point columns null);
    NOTE an unmatched interval surfaces once per bucket it touches (at
    most twice), so aggregate by an interval key downstream — counts and
    sums over POINT columns skip the nulls and are unaffected.
    Empty/negative intervals (end <= start) are dropped.

    Column-name collisions between the two inputs are the caller's to
    resolve (select/alias first), as with any Spark join.
    """
    us = int(bucket_seconds) * 1_000_000
    p = points.withColumn(
        "__pbucket", F.floor(_epoch_us(F.col(ts_col)) / F.lit(us))
    )
    last_bucket = F.when(
        _epoch_us(F.col("w_end")) - _epoch_us(F.col("w_start")) <= F.lit(us),
        F.floor((_epoch_us(F.col("w_end")) - 1) / F.lit(us)),
    ).otherwise(
        F.raise_error(F.lit(
            f"interval longer than bucket_seconds={bucket_seconds}; "
            "matches would be lost"
        ))
    )
    iv = intervals.filter(F.col("w_end") > F.col("w_start")).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(_epoch_us(F.col("w_start")) / F.lit(us)), last_bucket
            )
        ),
    )
    cond = (
        (iv["__bucket"] == p["__pbucket"])
        & (p[ts_col] >= iv["w_start"])
        & (p[ts_col] < iv["w_end"])
    )
    return iv.join(p, cond, how).drop("__bucket", "__pbucket")
