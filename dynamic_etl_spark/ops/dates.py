"""Calendar / date-dimension operators (SURVEY.md §2.7 F13-F21, §2.11 G4,
§2.9 U5).

The reference builds its date dimension with a per-day Python loop
(scripts/dim_date_daily.py:149-204, scripts2/load_dim_date_dw.py:140-169).
Here the row set comes from ``spark.range`` and every attribute is a
native column expression, so a 100-year calendar costs nothing and the
same builder serves fixtures at any scale.

The range is deliberately built with ~1 partition per century of days: a
calendar is dimension-sized by definition (a row is ~100 bytes; a century
is 4 MB), so defaulting to cluster parallelism just buys 32 tasks of
scheduling overhead per build (measured 0.5s/build at local[32]) and a
multi-partition input to every downstream broadcast.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark.session import local_df

# Indian public holidays 2023-2026, date_id -> name (public calendar facts;
# the reference ships the same table inline, scripts/dim_date_daily.py:15-76).
INDIAN_HOLIDAYS: tuple[tuple[int, str], ...] = (
    (20230126, "Republic Day"), (20230218, "Maha Shivaratri"),
    (20230308, "Holi"), (20230407, "Good Friday"),
    (20230422, "Eid ul-Fitr"), (20230815, "Independence Day"),
    (20230907, "Janmashtami"), (20231002, "Gandhi Jayanti"),
    (20231024, "Dussehra"), (20231112, "Diwali"),
    (20231127, "Guru Nanak Jayanti"), (20231225, "Christmas"),
    (20240126, "Republic Day"), (20240308, "Maha Shivaratri"),
    (20240325, "Holi"), (20240329, "Good Friday"),
    (20240411, "Eid ul-Fitr"), (20240417, "Ram Navami"),
    (20240423, "Mahavir Jayanti"), (20240815, "Independence Day"),
    (20240826, "Janmashtami"), (20241002, "Gandhi Jayanti"),
    (20241012, "Dussehra"), (20241031, "Diwali"),
    (20241101, "Diwali (Day 2)"), (20241115, "Guru Nanak Jayanti"),
    (20241225, "Christmas"),
    (20250126, "Republic Day"), (20250226, "Maha Shivaratri"),
    (20250314, "Holi"), (20250330, "Eid ul-Fitr"),
    (20250406, "Ram Navami"), (20250410, "Mahavir Jayanti"),
    (20250418, "Good Friday"), (20250815, "Independence Day"),
    (20250816, "Janmashtami"), (20251002, "Gandhi Jayanti"),
    (20251022, "Dussehra"), (20251101, "Diwali"),
    (20251105, "Guru Nanak Jayanti"), (20251225, "Christmas"),
    (20260126, "Republic Day"), (20260304, "Holi"),
    (20260815, "Independence Day"), (20261002, "Gandhi Jayanti"),
    (20261108, "Diwali"), (20261225, "Christmas"),
)


def holiday_table(spark: SparkSession) -> DataFrame:
    # VALUES LocalRelation, not createDataFrame: the calendar build joins
    # this on every invocation and a LocalRelation broadcast costs zero
    # tasks (see session.local_df).
    return local_df(
        spark, INDIAN_HOLIDAYS, {"date_id": "BIGINT", "holiday_name": "STRING"}
    )


def date_key(d: Column) -> Column:
    """F13 — int yyyyMMdd key from a date (reference:
    scripts/fact_sales_daily.py:22)."""
    return F.date_format(d, "yyyyMMdd").cast("int")


def fiscal_quarter(d: Column) -> Column:
    """F15 — Indian FY: Q1=Apr-Jun … Q4=Jan-Mar
    (reference get_fiscal_quarter, scripts/dim_date_daily.py:81-86)."""
    m = F.month(d)
    return F.when(m >= 4, ((m - 4) / 3).cast("int") + 1).otherwise(F.lit(4))


def fiscal_year(d: Column) -> Column:
    """F15 — end-year convention: Apr 2024-Mar 2025 -> 2025
    (reference get_fiscal_year, scripts/dim_date_daily.py:88-90)."""
    return F.when(F.month(d) >= 4, F.year(d) + 1).otherwise(F.year(d))


def _yn(cond: Column) -> Column:
    return F.when(cond, F.lit("Y")).otherwise(F.lit("N"))


def build_date_dimension(
    spark: SparkSession,
    start: str | date,
    end: str | date,
) -> DataFrame:
    """G4/F13-F17 — full calendar dimension for [start, end] inclusive
    (reference row loop: scripts/dim_date_daily.py:149-204).

    Plan shape: ``range(n)`` (no shuffle, ~1 partition per 100 years —
    see module docstring) -> column exprs -> broadcast left join against
    the tiny holiday table. day_of_week is 1=Monday..7=Sunday;
    week_of_year is ISO (both parity traps, SURVEY §7).
    """
    start_d, end_d = date.fromisoformat(str(start)), date.fromisoformat(str(end))
    n_days = (end_d - start_d).days + 1
    d = F.date_add(F.lit(str(start_d)).cast("date"), F.col("id").cast("int"))
    cal = spark.range(0, n_days, 1, n_days // 36525 + 1).select(
        date_key(d).alias("date_id"),
        d.alias("full_date"),
        F.dayofmonth(d).alias("day"),
        F.date_format(d, "EEEE").alias("day_name"),
        (F.weekday(d) + 1).alias("day_of_week"),
        F.weekofyear(d).alias("week_of_year"),
        F.month(d).alias("month"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.quarter(d).alias("quarter"),
        F.year(d).alias("year"),
        fiscal_quarter(d).alias("fiscal_quarter"),
        fiscal_year(d).alias("fiscal_year"),
        _yn(F.weekday(d) >= 5).alias("is_weekend"),
        _yn(d == F.last_day(d)).alias("is_month_end"),
        _yn((d == F.last_day(d)) & F.month(d).isin(3, 6, 9, 12)).alias("is_quarter_end"),
        # Indian fiscal quarters end the same calendar months (Jun/Sep/Dec/Mar)
        _yn((d == F.last_day(d)) & F.month(d).isin(3, 6, 9, 12)).alias("is_fiscal_quarter_end"),
        _yn((F.month(d) == 12) & (F.dayofmonth(d) == 31)).alias("is_year_end"),
        _yn((F.month(d) == 3) & (F.dayofmonth(d) == 31)).alias("is_fiscal_year_end"),
    )
    cal = cal.join(F.broadcast(holiday_table(spark)), "date_id", "left")
    return cal.withColumn("is_holiday", _yn(F.col("holiday_name").isNotNull())).withColumn(
        "is_business_day",
        _yn((F.col("day_of_week") <= 5) & F.col("holiday_name").isNull()),
    )


def date_dimension_delta(
    spark: SparkSession,
    existing: DataFrame,
    as_of: str,
) -> DataFrame:
    """U5/A3/F20 — initial-vs-incremental mode switch (reference:
    scripts2/load_dim_date_dw.py:181-207): empty dim -> backfill from Jan 1
    two years back; else gap-fill from MAX(full_date)+1 through
    ``as_of`` (never the future). Returns the NEW rows only.

    The MAX probe is a scalar aggregate (one job, one row back to the
    driver) — the only driver-side value in the builder, same as the
    reference's high-water-mark pattern (A1).
    """
    row = existing.agg(F.max("full_date").alias("hwm")).collect()[0]
    hwm = row["hwm"]
    as_of_d = date.fromisoformat(as_of)
    if hwm is None:
        start = date(as_of_d.year - 2, 1, 1)
    else:
        hwm = hwm.date() if hasattr(hwm, "date") and not isinstance(hwm, date) else hwm
        start = date.fromordinal(hwm.toordinal() + 1)
    if start > as_of_d:
        return build_date_dimension(spark, as_of_d, as_of_d).limit(0)
    return build_date_dimension(spark, start, as_of_d)
