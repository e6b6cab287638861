"""Join operators (SURVEY.md §2.3, J1-J8).

The reference hand-rolls every join as a Python dict probe
(scripts2/load_fact_sales_dw.py:130-155,213-261). Here each becomes a
declarative Spark join so Catalyst/AQE pick the physical strategy:
truly-small dimensions get an explicit broadcast hint; everything else is
left to AQE's runtime statistics (a hardcoded broadcast of a dimension that
is small at sf0.1 but huge at 100 TB would be a scale bug).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def semi_join(df: DataFrame, other: DataFrame, on) -> DataFrame:
    """J7 — existence check (reference: scripts/validate_table.py:352-366
    does it as a per-key SQL probe; set-based here)."""
    return df.join(other, on, "left_semi")


def anti_join(df: DataFrame, other: DataFrame, on) -> DataFrame:
    """J6 — new-keys-only (reference: Python set difference,
    scripts2/load_dim_store_dw.py:230-234)."""
    return df.join(other, on, "left_anti")


def lookup_with_fallback(
    df: DataFrame,
    dim: DataFrame,
    primary_keys: Sequence[str],
    fallback_keys: Sequence[str],
    value_col: str,
    out_col: str,
) -> DataFrame:
    """J3 — two-level fallback key resolution (reference: product lookup by
    (name,brand) falling back to name-only,
    scripts2/load_fact_sales_dw.py:138-145,224-230).

    Exact-key match wins; rows that miss are resolved by the relaxed key.
    Both probes are plain equi-joins, so at scale they shuffle/broadcast
    like any dimension lookup. The fallback dim is deduplicated on the
    relaxed key (keep the minimum value) so the fallback is deterministic.
    """
    primary = dim.groupBy(*primary_keys).agg(F.min(value_col).alias("__fb_primary"))
    fallback = dim.groupBy(*fallback_keys).agg(F.min(value_col).alias("__fb_fallback"))
    out = df.join(primary, list(primary_keys), "left").join(
        fallback, list(fallback_keys), "left"
    )
    return out.withColumn(
        out_col, F.coalesce(F.col("__fb_primary"), F.col("__fb_fallback"))
    ).drop("__fb_primary", "__fb_fallback")


def any_change(
    exact_cols: Sequence[str],
    tolerance_cols: Sequence[str],
    new_prefix: str = "",
) -> Column:
    """F24 — the shared change predicate of J8 and the SCD-1 merge:
    null-safe inequality on exact columns; ``abs(a-b) > 0.01`` on
    measures with both-null counting as unchanged and one-sided null as
    changed (reference: load_fact_sales_dw.py:320-350,
    load_dim_product_dw.py:524-531)."""
    diffs: list[Column] = []
    for c in exact_cols:
        diffs.append(~F.col(f"{new_prefix}{c}").eqNullSafe(F.col(f"__ex_{c}")))
    for c in tolerance_cols:
        new, old = F.col(f"{new_prefix}{c}"), F.col(f"__ex_{c}")
        both_null = new.isNull() & old.isNull()
        moved = F.abs(new - old) > F.lit(0.01)
        diffs.append(~both_null & F.coalesce(moved, F.lit(True)))
    out = F.lit(False)
    for d in diffs:
        out = out | d
    return out


def change_detection(
    incoming: DataFrame,
    existing: DataFrame,
    natural_key: Sequence[str],
    exact_cols: Sequence[str] = (),
    tolerance_cols: Sequence[str] = (),
) -> DataFrame:
    """J8 — INSERT/UPDATE/NOOP classification against the existing table
    (reference: scripts2/load_fact_sales_dw.py:299-350 loads the ENTIRE
    fact table into a driver dict; here it is a distributed left join).

    Numeric measure columns compare with ``abs(a-b) > 0.01`` (F24);
    exact columns (int quantities, strings) compare with null-safe
    equality. Reference parity: both-null counts as unchanged
    (scripts2/load_dim_product_dw.py:524-531).
    """
    keys = list(natural_key)
    ex = existing.select(
        *keys,
        *[F.col(c).alias(f"__ex_{c}") for c in (*exact_cols, *tolerance_cols)],
        F.lit(True).alias("__ex_present"),
    )
    joined = incoming.join(ex, keys, "left")
    any_diff = any_change(exact_cols, tolerance_cols)
    out = joined.withColumn(
        "operation",
        F.when(F.col("__ex_present").isNull(), F.lit("INSERT"))
        .when(any_diff, F.lit("UPDATE"))
        .otherwise(F.lit("NOOP")),
    )
    return out.drop("__ex_present", *[f"__ex_{c}" for c in (*exact_cols, *tolerance_cols)])


#: The largest Levenshtein distance fuzzy_blocked_match accepts; the
#: registry's DuckDB twin reads it.
FUZZY_MAX_DISTANCE = 2


def fuzzy_blocked_match(
    dirty: DataFrame,
    dim: DataFrame,
    *,
    dirty_col: str,
    dim_col: str,
    block,
) -> DataFrame:
    """Fuzzy lookup: resolve each dirty value to its closest dimension
    value by Levenshtein distance, comparing ONLY within a blocking key.

    The fuzzy rung missing from the reference's exact -> case-insensitive
    -> Generic lookup ladder (load_dim_product_dw.py:437-468 via
    ops/clean.lookup_map_join). ``block`` is a Column->Column function
    building the blocking key (e.g. last-2-chars, soundex, length
    bucket); candidates are generated by an EQUI-join on that key, so
    the plan shuffles on the block — never dirty x dim. Choose a block
    the expected error mode cannot corrupt. Best match per dirty value =
    lowest (distance, dim value) — a total order, per the repo window
    rule; ``dirty`` must be unique on ``dirty_col`` (pre-distinct it).
    Values with no in-block candidate within ``FUZZY_MAX_DISTANCE`` are
    dropped — the caller decides the fallback, as with any lookup miss.
    """
    from pyspark.sql import Window

    d = dirty.withColumn("__blk", block(F.col(dirty_col)))
    m = (
        dim.select(F.col(dim_col).alias("__dim_val"))
        .distinct()
        .withColumn("__blk", block(F.col("__dim_val")))
    )
    cand = (
        d.join(m, "__blk")
        .withColumn(
            "__dist", F.levenshtein(F.col(dirty_col), F.col("__dim_val")).cast("long")
        )
        .filter(F.col("__dist") <= FUZZY_MAX_DISTANCE)
    )
    w = Window.partitionBy(dirty_col).orderBy("__dist", "__dim_val")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            dirty_col,
            F.col("__dim_val").alias("match_value"),
            F.col("__dist").alias("match_distance"),
        )
    )


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    ts_col: str,
) -> DataFrame:
    """SCD-2 point-in-time lookup: each fact row joins the dimension
    VERSION whose ``[valid_from, valid_to)`` interval contains the fact
    timestamp — the read-side companion of ``scd2_merge`` (the reference
    only ever joins current-state dims, e.g. the star lookups in
    scripts2/load_fact_sales_dw.py; historically-correct attribution
    needs the version that was open when the fact happened).

    Half-open intervals ensure a fact on a version boundary matches
    exactly the NEWER version (the SCD-2 close/open convention:
    ``valid_to`` of the closed row equals ``valid_from`` of its
    successor). The join is a left join: facts predating every version of
    their key survive with null dim columns — unmatched-fact accounting
    stays visible instead of silently dropping rows.

    Scale: this is an EQUI-join on the key with the interval predicate
    riding along — one shuffle on the natural key, each fact meeting
    only its own key's few versions. Never express this as a range-only
    join (that degenerates to a per-interval broadcast or cross
    product); version count per key is bounded by dim churn, so skew
    follows the fact key distribution alone.
    """
    cond = (
        (facts[fact_key] == dim[dim_key])
        & (facts[ts_col] >= dim["valid_from"])
        & (facts[ts_col] < dim["valid_to"])
    )
    return facts.join(dim, cond, "left")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff of two table snapshots: one row per key present in
    EITHER side with ``change_type`` ∈ {ADDED, REMOVED, CHANGED,
    UNCHANGED} and ``changed_cols`` — the comma-joined names of the
    columns that differ (empty unless CHANGED).

    The audit primitive ``change_detection`` (J8, write-path) doesn't
    cover: that one classifies an INCOMING feed for merging (left join,
    no REMOVED); this one compares two complete versions — consecutive
    io/versioned snapshots, yesterday-vs-today extracts, pre-vs-post
    backfill — and attributes the change per column. Column comparison
    is null-safe equality (both-null = equal, the J8 convention).

    Scale shape: one full-outer shuffle join on the key; per-column
    comparison is codegen CASE/concat_ws (concat_ws skips the NULLs of
    unchanged columns on both engines, which is what makes the
    attribution string oracle-exact).
    """
    keys = list(keys)
    if compare_cols is None:
        # UNION of both sides' non-key columns: versioned tables evolve
        # (io/versioned supports mid-stream column adds), so a column
        # present on only one side must still participate — the absent
        # side contributes typed nulls, and a value appearing (or a
        # dropped column's value vanishing) correctly reads CHANGED
        # under null-safe comparison rather than crashing / passing
        # silently
        compare_cols = [c for c in new.columns if c not in keys] + [
            c for c in old.columns if c not in keys and c not in new.columns
        ]

    def _side(df: DataFrame, other: DataFrame, prefix: str) -> list:
        cols = []
        for c in compare_cols:
            if c in df.columns:
                cols.append(F.col(c).alias(f"{prefix}{c}"))
            else:
                cols.append(
                    F.lit(None).cast(other.schema[c].dataType).alias(f"{prefix}{c}")
                )
        return cols

    o = old.select(
        *keys, *_side(old, new, "__o_"), F.lit(True).alias("__o_present")
    )
    n = new.select(
        *keys, *_side(new, old, "__n_"), F.lit(True).alias("__n_present")
    )
    j = o.join(n, keys, "full_outer")
    changed_cols = F.concat_ws(
        ",",
        *[
            F.when(
                ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
            )
            for c in compare_cols
        ],
    )
    return j.select(
        *keys,
        F.when(F.col("__o_present").isNull(), F.lit("ADDED"))
        .when(F.col("__n_present").isNull(), F.lit("REMOVED"))
        .when(changed_cols != "", F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
        .alias("change_type"),
        F.when(
            F.col("__o_present").isNotNull() & F.col("__n_present").isNotNull(),
            changed_cols,
        )
        .otherwise(F.lit(""))
        .alias("changed_cols"),
    )
