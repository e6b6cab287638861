"""Merge / SCD / snowflake-load operators (SURVEY.md §2.9 U1-U5, §2.3 J5).

The reference ends every DW load in a staging-table + server-side MERGE
(scripts2/load_fact_sales_dw.py:299-416 et al), with the entire existing
table loaded into a driver dict for change detection. Here the MERGE is a
single distributed full-outer join rewrite — no staging table, no driver
dict, no scale ceiling. For table formats with native MERGE (Delta/Iceberg)
the same classification plugs into ``MERGE INTO``; on plain parquet the
result is written out whole (write-new-then-swap).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.io.sinks import restore_interrupted_swap, write_counted
from dynamic_etl_spark.io.table import read_table
from dynamic_etl_spark.ops.agg import high_water_mark
from dynamic_etl_spark.ops.dedup import dedup_keep_last_agg
from dynamic_etl_spark.ops.joins import anti_join, any_change
from dynamic_etl_spark.ops.keys import assign_surrogate_keys


def scd1_merge(
    existing: DataFrame,
    incoming: DataFrame,
    natural_key: Sequence[str],
    surrogate_col: str,
    exact_cols: Sequence[str] = (),
    tolerance_cols: Sequence[str] = (),
) -> DataFrame:
    """U1/J5/J8 — SCD Type-1 MERGE as one full-outer join rewrite.

    Row classification mirrors the reference exactly
    (load_fact_sales_dw.py:299-350):
    - KEEP: existing row with no incoming match (MERGE leaves it untouched);
    - INSERT: incoming row with no existing match — gets MAX(surrogate)+i;
    - UPDATE: natural key matches and any exact col differs (null-safe) or
      any tolerance col moved more than 0.01 — incoming values win,
      existing surrogate is preserved;
    - NOOP: matched within tolerance — EXISTING values win (a <0.01 drift
      is deliberately not written, same as the reference's skip).

    Plan: the INSERT branch and the non-INSERT branch of the union
    each plan the full-outer join on their own, and column
    pruning makes their ``existing`` projections differ, so no exchange
    is reused: ``scd1_merge_orders`` at sf0.01 runs 2 SortMergeJoins
    over 4 parquet scans, 5 shuffles (``tests/test_shuffle_budget.py``)
    and 9 jobs. Add one scalar MAX of the surrogate to the driver (the
    reference's A1 pattern) and the insert numbering, a global window on
    a single partition. Insert surrogates are gap-free (reference
    semantics) and inherit ``assign_surrogate_keys``' row-count guard: a
    bulk/initial load where everything classifies INSERT raises instead
    of silently funneling the table through one task.

    Preconditions: BOTH sides must be unique per natural key — the
    full-outer join fans out otherwise, and a duplicated incoming key
    emits multiple UPDATE rows carrying the SAME preserved surrogate
    (collapse change feeds first, e.g. ``dedup_keep_last_agg``;
    :func:`scd1_merge_into` does this via ``batch_order_col``). Note the
    contiguous-key guard raises lazily from the executor as
    ``SparkRuntimeException`` when the key column is evaluated (not
    ``ValueError`` at build time) — see ``assign_surrogate_keys``.
    """
    keys = list(natural_key)
    value_cols = [*exact_cols, *tolerance_cols]
    hwm = high_water_mark(existing, surrogate_col)

    ex = existing.select(
        *keys,
        F.col(surrogate_col).alias("__ex_sk"),
        *[F.col(c).alias(f"__ex_{c}") for c in value_cols],
        F.lit(True).alias("__ex_present"),
    )
    inc = incoming.select(
        *[F.col(c).alias(f"__in_{c}") for c in keys],
        *[F.col(c).alias(f"__in_{c}") for c in value_cols],
        F.lit(True).alias("__in_present"),
    )
    cond = [ex[k].eqNullSafe(inc[f"__in_{k}"]) for k in keys]
    j = ex.join(inc, cond, "full_outer")

    any_diff = any_change(exact_cols, tolerance_cols, new_prefix="__in_")
    op = (
        F.when(F.col("__in_present").isNull(), F.lit("KEEP"))
        .when(F.col("__ex_present").isNull(), F.lit("INSERT"))
        .when(any_diff, F.lit("UPDATE"))
        .otherwise(F.lit("NOOP"))
    )
    joined = j.select(
        *[F.coalesce(F.col(f"__in_{k}"), ex[k]).alias(k) for k in keys],
        F.col("__ex_sk"),
        *[
            F.when(op.isin("UPDATE", "INSERT"), F.col(f"__in_{c}"))
            .otherwise(F.col(f"__ex_{c}"))
            .alias(c)
            for c in value_cols
        ],
        op.alias("operation"),
    )

    # Surrogate numbering runs over the INSERT rows ONLY: a window
    # partitioned on (op == 'INSERT') would also funnel the entire
    # existing table through the false-partition's single-task sort just
    # to discard the result. Inserts are delta-sized in steady state; the
    # guard inside assign_surrogate_keys catches the bulk-load case.
    inserts = assign_surrogate_keys(
        joined.filter(F.col("operation") == "INSERT"),
        order_cols=keys,
        key_col=surrogate_col,
        offset=hwm,
    )
    others = joined.filter(F.col("operation") != "INSERT").withColumn(
        surrogate_col, F.col("__ex_sk")
    )
    out_cols = [surrogate_col, *keys, *value_cols, "operation"]
    return inserts.select(*out_cols).unionByName(others.select(*out_cols))


def scd1_merge_into(
    table_path: str,
    batch: DataFrame,
    natural_key: Sequence[str],
    surrogate_col: str,
    exact_cols: Sequence[str] = (),
    tolerance_cols: Sequence[str] = (),
    batch_order_col: str | None = None,
) -> int:
    """The whole SCD-1 table load — MERGE ``batch`` into the parquet
    table at ``table_path``, then staged swap (load_fact_sales_dw.py:
    299-423) — returning the committed row count observed on the write.
    The DW fact load and the streaming merge sink both end here.

    - The batch is collapsed to one row per natural key first (the
      merge's precondition): with ``batch_order_col`` the latest row by
      that column wins (``dedup_keep_last_agg``); without it a
      duplicated key raises — an unordered batch has no "last" row.
    - The committed table is read through ``io.read_table``. The result
      REPLACES it, so a table column outside the declared ones
      (``surrogate_col`` + ``natural_key`` + ``exact_cols`` +
      ``tolerance_cols``) raises instead of being silently destroyed;
      batch columns outside them are not persisted.
    - An absent table (checked after repairing an interrupted swap)
      bootstraps from the batch with surrogates 1..n in natural-key
      order: what a merge against an empty table assigns, without its
      join and high-water-mark job.
    """
    keys = list(natural_key)
    declared = [surrogate_col, *keys, *exact_cols, *tolerance_cols]
    if batch_order_col is not None:
        batch = dedup_keep_last_agg(batch, keys=keys, order=[batch_order_col])
    elif not batch.groupBy(*keys).count().filter(F.col("count") > 1).isEmpty():
        raise ValueError(
            "batch contains duplicate natural keys; pass batch_order_col "
            "to keep the latest row per key"
        )
    restore_interrupted_swap(table_path)
    if not os.path.exists(table_path):
        merged = assign_surrogate_keys(
            batch.select(*keys, *exact_cols, *tolerance_cols),
            order_cols=keys,
            key_col=surrogate_col,
        ).select(*declared)
    else:
        existing = read_table(batch.sparkSession, table_path)
        undeclared = set(existing.columns) - set(declared)
        if undeclared:
            raise ValueError(
                f"table has columns the merge would destroy (declare them "
                f"as exact/tolerance cols): {sorted(undeclared)}"
            )
        merged = scd1_merge(
            existing, batch, keys, surrogate_col, exact_cols, tolerance_cols
        ).drop("operation")
    # the self-referential rewrite is safe: the swap writes the staging
    # copy (executing the read of the current table) before any rename
    return write_counted(merged, table_path)


def scd2_merge(
    existing: DataFrame,
    incoming: DataFrame,
    natural_key: Sequence[str],
    surrogate_col: str,
    effective_date: str,
    exact_cols: Sequence[str] = (),
    tolerance_cols: Sequence[str] = (),
) -> DataFrame:
    """SCD Type-2 MERGE: history-preserving upsert as one full-outer join.

    The reference stops at Type-1 overwrite (its MERGE updates in place,
    load_dim_product_dw.py:524-531); Type-2 is the standard extension every
    warehouse needs for auditable dimensions. ``existing`` carries the
    version columns (``valid_from``/``valid_to``/``is_current`` with the
    reference's Y/N flag convention); ``incoming`` is a current snapshot
    keyed by the natural key. Per key:

    - closed-out history rows (``is_current <> 'Y'``) pass through
      untouched (op HISTORY);
    - a current row with no incoming match stays open (KEEP — no delete
      detection, matching the reference's merge);
    - a matched row with no change (same null-safe exact cols, tolerance
      cols within 0.01 — the shared ``any_change`` predicate)
      stays open (KEEP);
    - a changed row is emitted twice: the old version closed out at
      ``effective_date`` with ``is_current='N'`` (CLOSE), and a new open
      version with the incoming values and a fresh surrogate (REVISE);
    - an unmatched incoming key becomes a first open version (INSERT).

    The open-end sentinel is 2100-01-01 rather than the
    warehouse-classic 9999-12-31: the parity harness (and any pandas
    consumer) converts timestamps to nanoseconds, whose ceiling is
    2262-04-11 — a year-9999 sentinel overflows Arrow's ns cast.
    ``effective_date`` is an explicit literal (repo determinism rule: no
    ``current_date``), cast to ``valid_from``'s type; it must postdate
    every open row's ``valid_from`` (same-day re-merge of a key is the
    caller's conflict to resolve). New surrogates are numbered
    hwm+1.. in natural-key order over INSERT∪REVISE together, through
    the same guarded window as :func:`scd1_merge`.

    Plan: the join (current rows only; history never shuffles) feeds
    three branches; ``scd2_merge_customers`` runs it as 1 SortMergeJoin
    and 2 BroadcastHashJoins within 3 shuffles
    (``tests/test_shuffle_budget.py``), plus one scalar MAX and the
    delta-sized insert numbering.
    """
    keys = list(natural_key)
    value_cols = [*exact_cols, *tolerance_cols]
    out_cols = [
        surrogate_col, *keys, *value_cols,
        "valid_from", "valid_to", "is_current", "operation",
    ]
    vf_type = existing.schema["valid_from"].dataType
    eff = F.lit(effective_date).cast(vf_type)
    open_end = F.lit("2100-01-01 00:00:00").cast(vf_type)
    hwm = high_water_mark(existing, surrogate_col)

    # null-safe split: a row with a NULL current flag counts as history
    # (plain != 'Y' is NULL for it, which would drop the row from BOTH
    # branches — silent data loss in a history-PRESERVING merge)
    is_open = F.col("is_current").eqNullSafe(F.lit("Y"))
    history = existing.filter(~is_open).withColumn("operation", F.lit("HISTORY"))
    cur = existing.filter(is_open)

    ex = cur.select(
        *keys,
        F.col(surrogate_col).alias("__ex_sk"),
        F.col("valid_from").alias("__ex_vf"),
        F.col("valid_to").alias("__ex_vt"),
        *[F.col(c).alias(f"__ex_{c}") for c in value_cols],
        F.lit(True).alias("__ex_present"),
    )
    inc = incoming.select(
        *[F.col(c).alias(f"__in_{c}") for c in keys],
        *[F.col(c).alias(f"__in_{c}") for c in value_cols],
        F.lit(True).alias("__in_present"),
    )
    j = ex.join(
        inc, [ex[k].eqNullSafe(inc[f"__in_{k}"]) for k in keys], "full_outer"
    )
    matched = F.col("__ex_present").isNotNull() & F.col("__in_present").isNotNull()
    changed = matched & any_change(exact_cols, tolerance_cols, new_prefix="__in_")

    keep = j.filter(
        (F.col("__in_present").isNull() & F.col("__ex_present").isNotNull())
        | (matched & ~changed)
    ).select(
        F.col("__ex_sk").alias(surrogate_col),
        *keys,
        *[F.col(f"__ex_{c}").alias(c) for c in value_cols],
        F.col("__ex_vf").alias("valid_from"),
        F.col("__ex_vt").alias("valid_to"),
        F.lit("Y").alias("is_current"),
        F.lit("KEEP").alias("operation"),
    )
    closed = j.filter(changed).select(
        F.col("__ex_sk").alias(surrogate_col),
        *keys,
        *[F.col(f"__ex_{c}").alias(c) for c in value_cols],
        F.col("__ex_vf").alias("valid_from"),
        eff.alias("valid_to"),
        F.lit("N").alias("is_current"),
        F.lit("CLOSE").alias("operation"),
    )
    fresh = j.filter(changed | F.col("__ex_present").isNull()).select(
        *[F.col(f"__in_{k}").alias(k) for k in keys],
        *[F.col(f"__in_{c}").alias(c) for c in value_cols],
        eff.alias("valid_from"),
        open_end.alias("valid_to"),
        F.lit("Y").alias("is_current"),
        F.when(F.col("__ex_present").isNull(), F.lit("INSERT"))
        .otherwise(F.lit("REVISE"))
        .alias("operation"),
    )
    fresh = assign_surrogate_keys(
        fresh,
        order_cols=keys,
        key_col=surrogate_col,
        offset=hwm,
    )
    return (
        history.select(*out_cols)
        .unionByName(keep.select(*out_cols))
        .unionByName(closed.select(*out_cols))
        .unionByName(fresh.select(*out_cols))
    )


def merge_insert_only(
    existing: DataFrame, incoming: DataFrame, key: Sequence[str] | str
) -> DataFrame:
    """U4 — idempotent WHEN-NOT-MATCHED-INSERT-only MERGE: append rows whose
    key is absent; re-sending the same feed is a no-op
    (reference chain merge, load_dim_store_dw.py:247-254)."""
    keys = [key] if isinstance(key, str) else list(key)
    new_rows = anti_join(incoming, existing, keys).select(*existing.columns)
    return existing.unionByName(new_rows)


def upsert_mini_dim(
    dim: DataFrame,
    values: DataFrame,
    key_col: str,
    name_col: str,
) -> DataFrame:
    """U2 — generic mini-dimension upsert: distinct new names get
    MAX(key)+1.. surrogates in name order, then append
    (reference upsert_dim, load_dim_product_dw.py:428-468).

    Mini-dims are bounded-cardinality by construction (categories,
    manufacturers, chains) so the ordering window is safe. NULL names are
    dropped — a left-anti join never matches NULL, so without the drop a
    NULL value would be "new" on every run and mint a key each time
    (the reference's dropna().unique() has the same semantics,
    load_dim_store_dw.py:231).
    """
    hwm = high_water_mark(dim, key_col)
    new_names = anti_join(
        values.select(name_col).na.drop().distinct(), dim, [name_col]
    )
    w = Window.orderBy(name_col)
    assigned = new_names.select(
        (F.row_number().over(w) + F.lit(hwm)).cast("long").alias(key_col),
        F.col(name_col),
    )
    return dim.select(key_col, name_col).unionByName(assigned)


def snowflake_extract(
    df: DataFrame,
    name_col: str,
    dim: DataFrame,
    key_col: str,
    dim_name_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """U3 — snowflake extraction: upsert the distinct values of ``name_col``
    into a keyed mini-dimension and join the surrogate key back onto the
    source rows (reference chain extraction, load_dim_store_dw.py:227-257,
    296). NULL names stay NULL-keyed (independent stores carry no chain).

    Returns (df_with_key, updated_dim). The dim is broadcast on the
    join-back — bounded cardinality at any scale.
    """
    dim_name_col = dim_name_col or name_col
    values = df.select(F.col(name_col).alias(dim_name_col)).na.drop()
    updated = upsert_mini_dim(dim, values, key_col, dim_name_col)
    joined = df.join(
        F.broadcast(updated.withColumnRenamed(dim_name_col, name_col)), name_col, "left"
    )
    return joined, updated
