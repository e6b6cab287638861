"""Cleaning / standardization operators (SURVEY.md §2.7 F1-F12, F19,
F23-F27, F31-F35; §2.2 P7/P9; §1.2 dynamic schema).

The "Dynamic" in Dynamic-ETL: the reference defends every load against
dirty, string-typed, alias-headered CSV input with row-at-a-time Python
(scripts2/load_fact_sales_dw.py:40-54, load_dim_store_dw.py:39-93,
load_dim_product_dw.py:216-323, load_dim_distributor_dw.py:38-83). Every
function here is a pure native Column expression — zero Python UDFs — so
the whole cleaning layer stays inside whole-stage codegen and scales to
any input size.

Title-casing note: the reference uses Python ``str.title()``; the engine
uses Spark ``initcap`` (words split on whitespace). They agree on the
alpha-word values these columns carry; ``initcap`` is the documented
engine semantics.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# String cleaning (F1-F6)
# ---------------------------------------------------------------------------


def normalize_key(c: Column) -> Column:
    """F1 — null-safe strip+upper; null/empty -> '' (reference
    normalize_key, scripts2/load_fact_sales_dw.py:40-43)."""
    return F.upper(F.trim(F.coalesce(c, F.lit(""))))


def collapse_ws(c: Column) -> Column:
    """Whitespace collapse: `' '.join(s.split())` equivalent."""
    return F.regexp_replace(F.trim(c), r"\s+", " ")


def _is_blank(c: Column) -> Column:
    return c.isNull() | (F.trim(c) == "")


def clean_upper(c: Column, empty_default: str | None = None) -> Column:
    """F2+F3 — collapse whitespace + upper; blank -> sentinel (or null)
    (reference clean_store_name / clean_distributor_name,
    scripts2/load_dim_store_dw.py:39-47)."""
    cleaned = F.upper(collapse_ws(c))
    default = F.lit(empty_default) if empty_default is not None else F.lit(None)
    return F.when(_is_blank(c), default).otherwise(cleaned)


def clean_title(c: Column, empty_default: str | None = None) -> Column:
    """F2+F3 — strip + title-case; blank -> sentinel (or null)
    (reference clean_city/clean_state, scripts2/load_dim_store_dw.py:49-57)."""
    default = F.lit(empty_default) if empty_default is not None else F.lit(None)
    return F.when(_is_blank(c), default).otherwise(F.initcap(collapse_ws(c)))


def clean_zip(c: Column) -> Column:
    """F4 — digit extraction + length gate: >=6 digits -> first 6, else null
    (reference clean_zip, scripts2/load_dim_store_dw.py:59-65)."""
    only_digits = F.regexp_replace(F.trim(c), "[^0-9]", "")
    return F.when(F.length(only_digits) >= 6, F.substring(only_digits, 1, 6))


# ---------------------------------------------------------------------------
# Numeric cleansing (F5, F25, F26)
# ---------------------------------------------------------------------------

#: Characters the reference strips before numeric parse: currency symbols,
#: thousands separators, inner whitespace (load_dim_product_dw.py:317,
#: load_fact_sales_dw.py:45-54, validate_table.py:174-184).
CURRENCY_JUNK = r"[₹$,\s]"


def strip_currency(c: Column) -> Column:
    """F5 — currency/symbol strip; blank-after-strip -> null."""
    stripped = F.regexp_replace(F.trim(c), CURRENCY_JUNK, "")
    return F.nullif(stripped, F.lit(""))


def clean_numeric(
    c: Column,
    dtype: str = "decimal(12,2)",
    min_value: float | None = 0.0,
    max_value: float | None = None,
    min_exclusive: bool = False,
) -> Column:
    """F5+F26 — currency strip -> decimal cast (null on parse failure, like
    errors='coerce') -> bounded validity window.

    Reference variants: fact clean_numeric keeps n >= 0
    (load_fact_sales_dw.py:45-54); product clean_price keeps
    0 < p <= 100000 (load_dim_product_dw.py:313-323).
    """
    parsed = strip_currency(c).try_cast(dtype)
    cond = parsed.isNotNull()
    if min_value is not None:
        cond = cond & (parsed > min_value if min_exclusive else parsed >= min_value)
    if max_value is not None:
        cond = cond & (parsed <= max_value)
    return F.when(cond, parsed)


def coercion_failures(raw: Column, parsed: Column) -> Column:
    """F25 — rows that were non-blank but failed the numeric parse
    (reference counts them: validate_table.py:158-197). Use inside an agg:
    ``F.count(coercion_failures(raw, parsed))``."""
    return F.when(~_is_blank(raw) & parsed.isNull(), 1)


def safe_ratio(num: Column, denom: Column) -> Column:
    """F27 — zero-denominator-guarded ratio
    (reference: scripts/fact_sales_daily.py:241-245)."""
    return F.when(denom > 0, num / denom)


# ---------------------------------------------------------------------------
# SKU / natural keys (F7, F8, F9)
# ---------------------------------------------------------------------------


def _alpha_code(c: Column) -> Column:
    return F.substring(F.regexp_replace(F.upper(c), "[^A-Z]", ""), 1, 3)


def synthesize_sku(prefix: Column, brand: Column, subcategory: Column, counter: Column) -> Column:
    """F7 — `PREFIX-BRA-SUB-00042` (reference generate_sku,
    scripts/dim_product_daily.py:938-946: alpha-only uppercase 3-char codes,
    zero-padded 5-digit counter)."""
    return format_sku(prefix, _alpha_code(brand), _alpha_code(subcategory), counter)


def format_sku(prefix: Column, brand_code: Column, sub_code: Column, counter: Column) -> Column:
    """The SKU layout of :func:`synthesize_sku` over codes already
    derived (a generator whose brand and sub-category codes are known
    in advance skips the per-row ``upper``)."""
    return F.concat_ws(
        "-", prefix, brand_code, sub_code, F.lpad(counter.cast("string"), 5, "0")
    )


def parse_sku_counter(sku: Column) -> Column:
    """F8 — parse the trailing counter: split on '-', last segment must be
    all digits, >=4 segments (reference get_next_sku_counter,
    scripts/dim_product_daily.py:926-935)."""
    parts = F.split(sku, "-")
    last = F.element_at(parts, -1)
    return F.when(
        (F.size(parts) >= 4) & last.rlike("^[0-9]+$"), last.cast("int")
    )


def natural_key(*cols: Column) -> Column:
    """F9 — natural-key concat `a_b_c` over normalized components
    (reference: scripts2/load_fact_sales_dw.py:299-313)."""
    return F.concat_ws("_", *cols)


# ---------------------------------------------------------------------------
# Header canonicalization + alias resolution (F11, §1.2)
# ---------------------------------------------------------------------------


def canonicalize_headers(df: DataFrame) -> DataFrame:
    """F11 — `df.columns.str.strip().str.upper()`
    (reference: scripts2/load_fact_sales_dw.py:98)."""
    return df.toDF(*[c.strip().upper() for c in df.columns])


def resolve_aliases(
    df: DataFrame,
    required: Mapping[str, Sequence[str]],
    optional: Mapping[str, Sequence[str]] | None = None,
) -> DataFrame:
    """Alias-set column resolution: for each logical column pick the first
    present alias; missing required -> error; missing optional -> injected
    NULL column (reference REQUIRED_COLUMNS resolution,
    scripts2/load_fact_sales_dw.py:178-210; optional injection
    load_dim_store_dw.py:140-152).

    Returns a frame with exactly the logical column names, in mapping order.
    """
    df = canonicalize_headers(df)
    present = set(df.columns)
    selected: list[Column] = []
    missing: list[str] = []
    for logical, aliases in required.items():
        found = next((a for a in aliases if a.upper() in present), None)
        if found is None:
            missing.append(logical)
        else:
            selected.append(F.col(found.upper()).alias(logical))
    if missing:
        raise ValueError(f"missing required columns {missing}")
    for logical, aliases in (optional or {}).items():
        found = next((a for a in aliases if a.upper() in present), None)
        selected.append(
            (F.col(found.upper()) if found else F.lit(None).cast("string")).alias(logical)
        )
    return df.select(*selected)


# ---------------------------------------------------------------------------
# Flags + mapping standardization (F31-F35)
# ---------------------------------------------------------------------------

#: Truthy tokens: store is_chain uses the first four; distributor
#: active_flag adds ACTIVE/A (load_dim_store_dw.py:85-88,
#: load_dim_distributor_dw.py:67-70).
CHAIN_TRUTHY = ("Y", "YES", "1", "TRUE")
ACTIVE_TRUTHY = ("Y", "YES", "1", "TRUE", "ACTIVE", "A")


def clean_flag(c: Column, truthy: Sequence[str] = CHAIN_TRUTHY, null_default: str = "N") -> Column:
    """F31 — Y/N normalization. Parity trap: the null-default differs per
    column — is_chain -> 'N', active_flag -> 'Y' (SURVEY.md §7)."""
    return (
        F.when(_is_blank(c), F.lit(null_default))
        .when(F.upper(F.trim(c)).isin(*truthy), F.lit("Y"))
        .otherwise(F.lit("N"))
    )


def substring_map(
    c: Column,
    mapping: Mapping[str, str],
    empty_default: str,
    passthrough: str = "strip",
) -> Column:
    """F32 — substring-match standardization: first mapping key contained in
    upper(val) wins (dict order = priority); no match -> passthrough
    (reference clean_class_of_trade strip, load_dim_store_dw.py:67-83;
    clean_distributor_type strip+title, load_dim_distributor_dw.py:53-65).
    """
    upper = F.upper(F.trim(c))
    out = F.trim(c) if passthrough == "strip" else F.initcap(F.trim(c))
    for key, value in reversed(list(mapping.items())):
        out = F.when(upper.contains(key), F.lit(value)).otherwise(out)
    return F.when(_is_blank(c), F.lit(empty_default)).otherwise(out)


def exact_map(c: Column, mapping: Mapping[str, str], empty_default: str) -> Column:
    """F33 — exact-match standardization on upper(strip(val)) with raw-strip
    passthrough (reference standardize_category/subcategory,
    load_dim_product_dw.py:278-297). Small maps ship as a literal MapType
    column — evaluated JVM-side inside codegen, no join, no broadcast."""
    lit_map = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return F.when(_is_blank(c), F.lit(empty_default)).otherwise(
        F.coalesce(lit_map[F.upper(F.trim(c))], F.trim(c))
    )


def lookup_map_join(
    df: DataFrame,
    lookup: DataFrame,
    on: str,
    lookup_key: str,
    value_col: str,
    out_col: str,
    default: str,
) -> DataFrame:
    """F34 — enrichment against a lookup table (brand -> manufacturer):
    exact match first, case-insensitive fallback second, constant default
    last (reference get_manufacturer, load_dim_product_dw.py:300-310).

    The lookup side is explicitly broadcast: mapping tables are small by
    construction at any corpus scale, so this never shuffles the fact side.
    """
    exact = F.broadcast(
        lookup.select(F.col(lookup_key).alias("__mk"), F.col(value_col).alias("__mv_exact"))
    )
    out = df.join(exact, F.trim(F.col(on)) == F.col("__mk"), "left").drop("__mk")
    ci = F.broadcast(
        lookup.groupBy(F.upper(F.col(lookup_key)).alias("__mku")).agg(
            F.min(value_col).alias("__mv_ci")
        )
    )
    out = out.join(ci, F.upper(F.trim(F.col(on))) == F.col("__mku"), "left").drop("__mku")
    resolved = F.coalesce(F.col("__mv_exact"), F.col("__mv_ci"), F.lit(default))
    return out.withColumn(out_col, resolved).drop("__mv_exact", "__mv_ci")


def demote_chain(is_chain: Column, chain_name: Column) -> Column:
    """F35 — consistency repair: chain with no name -> 'N'
    (reference: load_dim_store_dw.py:170-172)."""
    return F.when((is_chain == "Y") & chain_name.isNull(), F.lit("N")).otherwise(is_chain)


def clean_chain_name(chain_name: Column, is_chain: Column) -> Column:
    """F35 companion — NULL chain_name when not a chain, else collapse+title
    (reference clean_chain_name, load_dim_store_dw.py:90-93)."""
    return F.when(
        (is_chain == "Y") & ~_is_blank(chain_name), F.initcap(collapse_ws(chain_name))
    )


# ---------------------------------------------------------------------------
# Lenient date parse (F19)
# ---------------------------------------------------------------------------

#: Formats the loaders see in incoming files (FIXTURES.md §3): ISO,
#: slash-ymd, day-first.
LENIENT_DATE_FORMATS = ("yyyy-MM-dd", "yyyy/MM/dd", "dd-MM-yyyy")


def lenient_date(
    c: Column,
    max_date: str | None = None,
) -> Column:
    """F19 — multi-format date parse with coercion-to-null + plausibility
    window (reference clean_onboarding_date,
    load_dim_distributor_dw.py:72-83: <1990 or future -> null).

    ``max_date`` is pinned by the caller (the reference compares to "now";
    a pinned as-of keeps results deterministic/oracle-checkable).
    """
    parsed = F.coalesce(
        *[
            F.try_to_timestamp(F.trim(c), F.lit(fmt)).cast("date")
            for fmt in LENIENT_DATE_FORMATS
        ]
    )
    window = parsed >= F.lit("1990-01-01").cast("date")
    if max_date is not None:
        window = window & (parsed <= F.lit(max_date).cast("date"))
    return F.when(window, parsed)


# ---------------------------------------------------------------------------
# Tiered discount (F23) — the reference's richest business rule
# ---------------------------------------------------------------------------


def tiered_discount_rate(gross: Column, store_class: Column, is_chain: Column) -> Column:
    """F23 — wholesale base 8% + volume tier (5 bands) + chain bonus 3%,
    capped at 20% (reference calculate_discount,
    scripts/fact_sales_daily.py:115-129)."""
    base = F.when(
        store_class.contains("Wholesale") | store_class.contains("Cash & Carry"), F.lit(0.08)
    ).otherwise(F.lit(0.0))
    vol = (
        F.when(gross >= 20000, F.lit(0.15))
        .when(gross >= 10000, F.lit(0.10))
        .when(gross >= 5000, F.lit(0.07))
        .when(gross >= 2000, F.lit(0.05))
        .otherwise(F.lit(0.02))
    )
    chain = F.when(is_chain == "Y", F.lit(0.03)).otherwise(F.lit(0.0))
    return F.least(base + vol + chain, F.lit(0.20))


# ---------------------------------------------------------------------------
# Validity filters (P7)
# ---------------------------------------------------------------------------


def validity_filter(df: DataFrame, not_null: Sequence[str], not_sentinel: Mapping[str, str]) -> DataFrame:
    """P7 — multi-column NOT NULL + not-sentinel validity mask
    (reference: load_dim_store_dw.py:174-180)."""
    cond = F.lit(True)
    for c in not_null:
        cond = cond & F.col(c).isNotNull()
    for c, sentinel in not_sentinel.items():
        cond = cond & (F.col(c) != sentinel)
    return df.filter(cond)


def fill_forward(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward imputation: within each key
    group, a null in a ``value_cols`` column takes the most recent
    non-null value in ``order_cols`` order (leading nulls stay null —
    there is nothing to carry). The standard gap repair for sensor/feed
    data where absence means "unchanged", complementing the flag/default
    normalizers above (which repair DIRTY values, not missing ones).

    ``order_cols`` must be a TOTAL order within each key (repo window
    rule — append a unique id to break timestamp ties), otherwise the
    carried value is partition-order-dependent.

    Scale: one keyed window per row, running-frame ``last(ignorenulls)``
    — a single shuffle on the key, no self-joins, no sort beyond the
    per-key window sort.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out
