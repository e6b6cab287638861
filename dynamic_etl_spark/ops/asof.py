"""As-of (point-in-time) join: for every probe row, attach the most
recent state row with ``state.ts <= probe.ts`` for the same key — the
lookup feature stores and slowly-changing telemetry need constantly, and
one the reference has no counterpart for (SURVEY.md:187 — its joins are
all equi-joins).

Spark-first strategy: NOT a range join. The probe and state sides are
UNIONED, sorted once per key on (ts, side, tiebreak), and the state
attributes are carried forward with ``last(..., ignorenulls=True)`` over
a running frame; probes are then filtered back out. Cost: one shuffle of
probe+state on the key, one sort — the same price as a plain sort-merge
join — with no interval explosion and no skew amplification: a key's
cost is linear in its own row count. A naive formulation (join on key +
ts inequality, then keep the max state ts) materializes every
(probe, earlier-state) pair first — quadratic per key — and is exactly
what this operator exists to avoid at 100 TB.

Equal timestamps: state sorts BEFORE probe (the join is inclusive,
``<=``); among state rows tied on (key, ts) the one with the greatest
``tiebreak_col`` wins — a documented total order, so results are
identical at any parallelism (repo determinism rule).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    state: DataFrame,
    *,
    key_cols: Sequence[str],
    ts_col: str,
    attach_cols: Sequence[str],
    tiebreak_col: str,
) -> DataFrame:
    """Left as-of join. Returns every probe row + ``asof_``-prefixed
    copies of ``attach_cols`` from the latest state row at-or-before the
    probe's ``ts_col`` (nulls when no state precedes it).

    ``attach_cols`` must not collide with probe columns after prefixing;
    ``tiebreak_col`` is a state column that totally orders equal-ts state
    rows (highest wins).
    """
    keys = list(key_cols)
    out_cols = [f"asof_{c}" for c in attach_cols]
    collide = set(out_cols) & set(probe.columns)
    if collide:
        raise ValueError(f"attach columns collide with probe columns: {sorted(collide)}")

    state_side = state.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tie"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(o) for c, o in zip(attach_cols, out_cols)],
        *[F.lit(None).alias(f"__p_{c}") for c in probe.columns],
    )
    probe_side = probe.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(None).cast(state.schema[tiebreak_col].dataType).alias("__tie"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(state.schema[c].dataType).alias(o) for c, o in zip(attach_cols, out_cols)],
        *[F.col(c).alias(f"__p_{c}") for c in probe.columns],
    )
    # state first at equal ts (side 0 < 1) -> inclusive <=; __tie last so
    # the max-tiebreak state row is the frame's last non-null
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = state_side.unionByName(probe_side)
    for o in out_cols:
        carried = carried.withColumn(o, F.last(o, ignorenulls=True).over(w))
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__p_{c}").alias(c) for c in probe.columns], *out_cols
    )
