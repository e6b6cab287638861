"""Cleaning/standardization queries (SURVEY.md §2.7 F1-F12, F19, F22-F27,
F31-F35; §2.2 P7/P9).

Each query synthesizes a DIRTY feed deterministically from the testdata
tables (key-modulo case switches — no rand(), so the DuckDB oracle can
rebuild the identical feed) and then cleans it with the ops/clean column
library. The cleaned output is what gets hash-compared, so these queries
verify the cleaning semantics themselves against an independent engine.

Reference parity notes:
- dict-order priority in substring maps (load_dim_store_dw.py:67-83);
- per-column flag null-defaults: is_chain->'N', active_flag->'Y';
- title-casing is Spark ``initcap``; the oracle mirrors it with an explicit
  word-split expression because DuckDB has no initcap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import clean as C
from dynamic_etl_spark.ops import dedup as D
from dynamic_etl_spark.ops.joins import FUZZY_MAX_DISTANCE
from dynamic_etl_spark.registry.core import Query, QueryRegistry, t
from dynamic_etl_spark.session import local_df


def _sql_initcap(expr: str) -> str:
    """DuckDB twin of Spark initcap (upper first char of each
    space-separated word, lower the rest)."""
    return (
        f"array_to_string(list_transform(string_split({expr}, ' '), "
        f"w -> upper(w[1]) || lower(w[2:])), ' ')"
    )


def _sql_blank(expr: str) -> str:
    return f"({expr} IS NULL OR trim({expr}) = '')"


def _sql_collapse(expr: str) -> str:
    """DuckDB twin of ops.clean.collapse_ws."""
    return f"regexp_replace(trim({expr}), '\\s+', ' ', 'g')"


# Precomputed (f-string expressions can't contain backslashes on py3.11)
_CITY_TITLE = _sql_initcap(_sql_collapse("city_raw"))
_STATE_TITLE = _sql_initcap(_sql_collapse("state_raw"))
_CHAIN_TITLE = _sql_initcap(_sql_collapse("chain_name_raw"))
_TYPE_TITLE = _sql_initcap("trim(type_raw)")


# ==========================================================================
# F1/F2/F3/F4/F31/F32/F35/P7/D2 — store feed cleaning
# (reference: scripts2/load_dim_store_dw.py:39-93,157-180,261-267)
# ==========================================================================

#: Reference clean_class_of_trade map, in priority order
#: (load_dim_store_dw.py:67-83).
COT_MAP = {
    "HYPERMARKET": "Modern Trade - Hypermarket",
    "SUPERMARKET": "Modern Trade - Supermarket",
    "KIRANA": "General Trade - Kirana",
    "GENERAL TRADE": "General Trade - Kirana",
    "CONVENIENCE": "Convenience Store",
    "WHOLESALE": "Cash & Carry - Wholesale",
    "RETAIL": "Retail",
}


def _dirty_store_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            k.alias("k"),
            F.when(k % 5 == 0, F.lit(None))
            .when(k % 5 == 1, F.lit("   "))
            .when(k % 5 == 2, F.concat(F.lit("  "), F.lower("c_name"), F.lit("  ")))
            .when(k % 5 == 3, F.concat(F.col("c_name"), F.lit("   PLAZA")))
            .otherwise(F.col("c_name"))
            .alias("name_raw"),
            F.when(k % 4 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("No "), (k % 100).cast("string"), F.lit("  Main   Road")))
            .alias("addr_raw"),
            F.when(k % 3 == 0, F.lower("n_name"))
            .when(k % 3 == 1, F.concat(F.lit(" "), F.col("n_name"), F.lit(" ")))
            .otherwise(F.lit(None))
            .alias("city_raw"),
            F.col("n_name").alias("state_raw"),
            F.when(k % 4 == 0, F.concat(F.lit("4000"), F.lpad((k % 100).cast("string"), 2, "0")))
            .when(k % 4 == 1, F.concat(F.lit("40-00"), (k % 10).cast("string")))
            .when(k % 4 == 2, F.concat(F.lit(" 400 001-"), (k % 10).cast("string")))
            .otherwise(F.lit(None))
            .alias("zip_raw"),
            F.element_at(
                F.array(
                    F.lit("hypermarket"),
                    F.lit(" KIRANA "),
                    F.lit("General trade"),
                    F.lit("convenience  store"),
                    F.lit("WHOLESALE"),
                    F.lit("retail"),
                    F.lit("Departmental Store"),
                    F.lit(None),
                ),
                (k % 8 + 1).cast("int"),
            ).alias("cot_raw"),
            F.element_at(
                F.array(
                    F.lit("yes"), F.lit("TRUE"), F.lit("1"), F.lit("n"), F.lit(None), F.lit("Y")
                ),
                (k % 6 + 1).cast("int"),
            ).alias("chain_raw"),
            F.when(k % 7 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("retail  group "), (k % 5).cast("string")))
            .alias("chain_name_raw"),
        )
    )


_DIRTY_STORE_SQL = """
  SELECT c.c_custkey AS k,
         CASE WHEN c.c_custkey % 5 = 0 THEN NULL
              WHEN c.c_custkey % 5 = 1 THEN '   '
              WHEN c.c_custkey % 5 = 2 THEN '  ' || lower(c.c_name) || '  '
              WHEN c.c_custkey % 5 = 3 THEN c.c_name || '   PLAZA'
              ELSE c.c_name END AS name_raw,
         CASE WHEN c.c_custkey % 4 = 0 THEN NULL
              ELSE 'No ' || CAST(c.c_custkey % 100 AS VARCHAR) || '  Main   Road'
              END AS addr_raw,
         CASE WHEN c.c_custkey % 3 = 0 THEN lower(n.n_name)
              WHEN c.c_custkey % 3 = 1 THEN ' ' || n.n_name || ' '
              ELSE NULL END AS city_raw,
         n.n_name AS state_raw,
         CASE WHEN c.c_custkey % 4 = 0 THEN '4000' || lpad(CAST(c.c_custkey % 100 AS VARCHAR), 2, '0')
              WHEN c.c_custkey % 4 = 1 THEN '40-00' || CAST(c.c_custkey % 10 AS VARCHAR)
              WHEN c.c_custkey % 4 = 2 THEN ' 400 001-' || CAST(c.c_custkey % 10 AS VARCHAR)
              ELSE NULL END AS zip_raw,
         (['hypermarket', ' KIRANA ', 'General trade', 'convenience  store',
           'WHOLESALE', 'retail', 'Departmental Store', NULL])[c.c_custkey % 8 + 1] AS cot_raw,
         (['yes', 'TRUE', '1', 'n', NULL, 'Y'])[c.c_custkey % 6 + 1] AS chain_raw,
         CASE WHEN c.c_custkey % 7 = 0 THEN NULL
              ELSE 'retail  group ' || CAST(c.c_custkey % 5 AS VARCHAR) END AS chain_name_raw
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def clean_store_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # measured: fanning the 1-split customer scan out costs MORE than the
    # regex chain saves (dim-sized input; the dedup window reshuffles
    # anyway) — ensure_fanout_parallelism is for fact-sized fan-out work
    dirty = _dirty_store_feed(spark, sf_dir)
    cleaned = dirty.select(
        F.col("k").alias("store_src_key"),
        C.clean_upper(F.col("name_raw"), "UNKNOWN STORE").alias("store_name"),
        C.clean_upper(F.col("addr_raw")).alias("store_address"),
        C.clean_title(F.col("city_raw"), "UNKNOWN").alias("store_city"),
        C.clean_title(F.col("state_raw"), "UNKNOWN").alias("store_state"),
        C.clean_zip(F.col("zip_raw")).alias("store_zip"),
        C.substring_map(F.col("cot_raw"), COT_MAP, "General Trade").alias("store_class_of_trade"),
        C.clean_flag(F.col("chain_raw")).alias("is_chain_0"),
        F.col("chain_name_raw"),
    )
    cleaned = cleaned.withColumn(
        "chain_name", C.clean_chain_name(F.col("chain_name_raw"), F.col("is_chain_0"))
    ).withColumn("is_chain", C.demote_chain(F.col("is_chain_0"), F.col("chain_name")))
    valid = C.validity_filter(
        cleaned,
        not_null=["store_name", "store_address", "store_city", "store_state"],
        not_sentinel={"store_name": "UNKNOWN STORE"},
    )
    deduped = D.dedup_keep_first(
        valid, keys=["store_name", "store_address", "store_city"], order=["store_src_key"]
    )
    return deduped.select(
        "store_src_key",
        "store_name",
        "store_address",
        "store_city",
        "store_state",
        "store_zip",
        "store_class_of_trade",
        "is_chain",
        "chain_name",
    )


_CLEAN_STORE_CORE = f"""
  SELECT k AS store_src_key,
         CASE WHEN {_sql_blank('name_raw')} THEN 'UNKNOWN STORE'
              ELSE upper(regexp_replace(trim(name_raw), '\\s+', ' ', 'g')) END AS store_name,
         CASE WHEN {_sql_blank('addr_raw')} THEN NULL
              ELSE upper(regexp_replace(trim(addr_raw), '\\s+', ' ', 'g')) END AS store_address,
         CASE WHEN {_sql_blank('city_raw')} THEN 'UNKNOWN'
              ELSE {_CITY_TITLE} END AS store_city,
         CASE WHEN {_sql_blank('state_raw')} THEN 'UNKNOWN'
              ELSE {_STATE_TITLE} END AS store_state,
         CASE WHEN length(regexp_replace(trim(zip_raw), '[^0-9]', '', 'g')) >= 6
              THEN substr(regexp_replace(trim(zip_raw), '[^0-9]', '', 'g'), 1, 6)
              ELSE NULL END AS store_zip,
         CASE WHEN {_sql_blank('cot_raw')} THEN 'General Trade'
              WHEN upper(trim(cot_raw)) LIKE '%HYPERMARKET%' THEN 'Modern Trade - Hypermarket'
              WHEN upper(trim(cot_raw)) LIKE '%SUPERMARKET%' THEN 'Modern Trade - Supermarket'
              WHEN upper(trim(cot_raw)) LIKE '%KIRANA%' THEN 'General Trade - Kirana'
              WHEN upper(trim(cot_raw)) LIKE '%GENERAL TRADE%' THEN 'General Trade - Kirana'
              WHEN upper(trim(cot_raw)) LIKE '%CONVENIENCE%' THEN 'Convenience Store'
              WHEN upper(trim(cot_raw)) LIKE '%WHOLESALE%' THEN 'Cash & Carry - Wholesale'
              WHEN upper(trim(cot_raw)) LIKE '%RETAIL%' THEN 'Retail'
              ELSE trim(cot_raw) END AS store_class_of_trade,
         CASE WHEN {_sql_blank('chain_raw')} THEN 'N'
              WHEN upper(trim(chain_raw)) IN ('Y','YES','1','TRUE') THEN 'Y'
              ELSE 'N' END AS is_chain_0,
         chain_name_raw
  FROM dirty
"""

CLEAN_STORE_ORACLE = f"""
WITH dirty AS ({_DIRTY_STORE_SQL}),
core AS ({_CLEAN_STORE_CORE}),
named AS (
  SELECT *,
         CASE WHEN is_chain_0 = 'Y' AND NOT {_sql_blank('chain_name_raw')}
              THEN {_CHAIN_TITLE}
              ELSE NULL END AS chain_name
  FROM core
),
flagged AS (
  SELECT *,
         CASE WHEN is_chain_0 = 'Y' AND chain_name IS NULL THEN 'N'
              ELSE is_chain_0 END AS is_chain
  FROM named
),
valid AS (
  SELECT * FROM flagged
  WHERE store_name IS NOT NULL AND store_name <> 'UNKNOWN STORE'
    AND store_address IS NOT NULL AND store_city IS NOT NULL AND store_state IS NOT NULL
)
SELECT store_src_key, store_name, store_address, store_city, store_state,
       store_zip, store_class_of_trade, is_chain, chain_name
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY store_name, store_address, store_city
                               ORDER BY store_src_key) AS rn
  FROM valid
) WHERE rn = 1
"""


# ==========================================================================
# F3/F5/F7/F8/F26/F33/F34/P7/D1 — product feed cleaning
# (reference: scripts2/load_dim_product_dw.py:216-392;
# SKU: scripts/dim_product_daily.py:926-946)
# ==========================================================================

#: Reference exact-match standardization maps (load_dim_product_dw.py:216-276)
CATEGORY_MAP = {
    "PERSONALCARE": "PersonalCare",
    "PERSONAL CARE": "PersonalCare",
    "BABYCARE": "BabyCare",
    "BABY CARE": "BabyCare",
    "GROCERY": "Grocery",
    "FOOD": "Grocery",
    "BEVERAGE": "Beverage",
    "DRINKS": "Beverage",
    "DAIRY": "Dairy",
    "HOMECARE": "HomeCare",
    "HOME CARE": "HomeCare",
}

SUBCATEGORY_MAP = {
    "ATTA": "Wheat Flour",
    "OILS": "Edible Oil",
    "OIL": "Edible Oil",
    "DAL": "Pulses",
    "MASALA": "Spices",
    "COOKIES": "Biscuits",
    "RICE": "Rice",
    "SNACKS": "Snacks",
}

#: Engine's own representative brand->manufacturer lookup (the reference
#: ships a ~120-entry dict, load_dim_product_dw.py:41-198; the operator —
#: exact match, case-insensitive fallback, 'Generic' default — is what
#: matters, exercised against the corpus's Brand#NN values).
BRAND_MANUFACTURERS = (
    ("Brand#11", "Acme Consumer Goods"),
    ("Brand#12", "Bharat Foods"),
    ("Brand#21", "Global Home Products"),
    ("Brand#33", "Sunrise Dairy"),
    ("Brand#45", "Metro Beverages"),
)


def clean_product_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    price_str = F.col("p_retailprice").cast("decimal(12,2)").cast("string")
    dirty = part.select(
        k.alias("k"),
        F.when(k % 6 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("  "), F.col("p_type"), F.lit("  ")))
        .alias("name_raw"),
        F.when(k % 3 == 0, F.lower("p_brand"))
        .when(k % 3 == 1, F.concat(F.lit(" "), F.col("p_brand")))
        .otherwise(F.col("p_brand"))
        .alias("brand_raw"),
        F.element_at(
            F.array(
                F.lit("GROCERY"),
                F.lit("Food"),
                F.lit("  personal care "),
                F.lit("DRINKS"),
                F.lit("Imported Goods"),
                F.lit(None),
                F.lit("home care"),
            ),
            (k % 7 + 1).cast("int"),
        ).alias("cat_raw"),
        F.element_at(
            F.array(
                F.lit("ATTA"),
                F.lit("Oils"),
                F.lit("dal"),
                F.lit("COOKIES"),
                F.lit(None),
                F.lit("Premium  Snacks"),
            ),
            (k % 6 + 1).cast("int"),
        ).alias("subcat_raw"),
        F.when(k % 8 == 0, F.concat(F.lit("₹"), price_str))
        .when(k % 8 == 1, F.concat(F.lit("$ "), price_str))
        .when(k % 8 == 2, F.lit("12,345.67"))
        .when(k % 8 == 3, F.lit("-10.00"))
        .when(k % 8 == 4, F.lit("150000"))
        .when(k % 8 == 5, F.lit("abc"))
        .when(k % 8 == 6, F.lit(None))
        .otherwise(price_str)
        .alias("price_raw"),
    )

    cleaned = dirty.select(
        F.col("k"),
        C.clean_upper(F.col("name_raw")).alias("product_name"),
        F.when(C._is_blank(F.col("brand_raw")), F.lit(None))
        .otherwise(F.trim(F.col("brand_raw")))
        .alias("brand"),
        C.exact_map(F.col("cat_raw"), CATEGORY_MAP, "General").alias("category"),
        C.exact_map(F.col("subcat_raw"), SUBCATEGORY_MAP, "General").alias("sub_category"),
        C.clean_numeric(
            F.col("price_raw"), min_value=0, max_value=100000, min_exclusive=True
        ).cast("double").alias("unit_price"),
    )
    lookup = local_df(
        spark,
        BRAND_MANUFACTURERS,
        {"brand_key": "STRING", "manufacturer_name": "STRING"},
    )
    enriched = C.lookup_map_join(
        cleaned,
        lookup,
        on="brand",
        lookup_key="brand_key",
        value_col="manufacturer_name",
        out_col="manufacturer",
        default="Generic",
    )
    valid = C.validity_filter(
        enriched, not_null=["product_name", "brand", "unit_price"], not_sentinel={}
    )
    deduped = D.dedup_keep_last(valid, keys=["product_name", "brand"], order=["k"])
    with_sku = deduped.select(
        F.col("k").alias("product_src_key"),
        "product_name",
        "brand",
        "category",
        "sub_category",
        "unit_price",
        "manufacturer",
        C.synthesize_sku(
            F.lit("PRD"), F.col("brand"), F.col("sub_category"), F.col("k") % 100000
        ).alias("sku"),
    )
    return with_sku.withColumn("sku_counter", C.parse_sku_counter(F.col("sku")))


def _sql_exact_map(expr: str, mapping: dict[str, str], empty_default: str) -> str:
    whens = "\n".join(
        f"              WHEN upper(trim({expr})) = '{key}' THEN '{value}'"
        for key, value in mapping.items()
    )
    return (
        f"CASE WHEN {_sql_blank(expr)} THEN '{empty_default}'\n"
        f"{whens}\n              ELSE trim({expr}) END"
    )


_BRAND_VALUES = ", ".join(f"('{b}', '{m}')" for b, m in BRAND_MANUFACTURERS)

CLEAN_PRODUCT_ORACLE = f"""
WITH dirty AS (
  SELECT p_partkey AS k,
         CASE WHEN p_partkey % 6 = 0 THEN NULL
              ELSE '  ' || p_type || '  ' END AS name_raw,
         CASE WHEN p_partkey % 3 = 0 THEN lower(p_brand)
              WHEN p_partkey % 3 = 1 THEN ' ' || p_brand
              ELSE p_brand END AS brand_raw,
         (['GROCERY', 'Food', '  personal care ', 'DRINKS', 'Imported Goods', NULL,
           'home care'])[p_partkey % 7 + 1] AS cat_raw,
         (['ATTA', 'Oils', 'dal', 'COOKIES', NULL, 'Premium  Snacks'])[p_partkey % 6 + 1] AS subcat_raw,
         CASE WHEN p_partkey % 8 = 0 THEN '₹' || CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR)
              WHEN p_partkey % 8 = 1 THEN '$ ' || CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR)
              WHEN p_partkey % 8 = 2 THEN '12,345.67'
              WHEN p_partkey % 8 = 3 THEN '-10.00'
              WHEN p_partkey % 8 = 4 THEN '150000'
              WHEN p_partkey % 8 = 5 THEN 'abc'
              WHEN p_partkey % 8 = 6 THEN NULL
              ELSE CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) END AS price_raw
  FROM part
),
lookup(brand_key, manufacturer_name) AS (VALUES {_BRAND_VALUES}),
cleaned AS (
  SELECT k,
         CASE WHEN {_sql_blank('name_raw')} THEN NULL
              ELSE upper(regexp_replace(trim(name_raw), '\\s+', ' ', 'g')) END AS product_name,
         CASE WHEN {_sql_blank('brand_raw')} THEN NULL ELSE trim(brand_raw) END AS brand,
         {_sql_exact_map('cat_raw', CATEGORY_MAP, 'General')} AS category,
         {_sql_exact_map('subcat_raw', SUBCATEGORY_MAP, 'General')} AS sub_category,
         CASE WHEN try_cast(nullif(regexp_replace(trim(price_raw), '[₹$,\\s]', '', 'g'), '')
                            AS DECIMAL(12,2)) > 0
               AND try_cast(nullif(regexp_replace(trim(price_raw), '[₹$,\\s]', '', 'g'), '')
                            AS DECIMAL(12,2)) <= 100000
              THEN try_cast(nullif(regexp_replace(trim(price_raw), '[₹$,\\s]', '', 'g'), '')
                            AS DECIMAL(12,2))
              ELSE NULL END AS unit_price
  FROM dirty
),
enriched AS (
  SELECT c.*,
         COALESCE(ex.manufacturer_name, ci.mfr_ci, 'Generic') AS manufacturer
  FROM cleaned c
  LEFT JOIN lookup ex ON trim(c.brand) = ex.brand_key
  LEFT JOIN (SELECT upper(brand_key) AS bku, MIN(manufacturer_name) AS mfr_ci
             FROM lookup GROUP BY upper(brand_key)) ci
    ON upper(trim(c.brand)) = ci.bku
),
valid AS (
  SELECT * FROM enriched
  WHERE product_name IS NOT NULL AND brand IS NOT NULL AND unit_price IS NOT NULL
),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY product_name, brand ORDER BY k DESC) AS rn
    FROM valid
  ) WHERE rn = 1
)
SELECT k AS product_src_key, product_name, brand, category, sub_category,
       CAST(unit_price AS DOUBLE) AS unit_price, manufacturer,
       concat_ws('-', 'PRD',
                 substr(regexp_replace(upper(brand), '[^A-Z]', '', 'g'), 1, 3),
                 substr(regexp_replace(upper(sub_category), '[^A-Z]', '', 'g'), 1, 3),
                 lpad(CAST(k % 100000 AS VARCHAR), 5, '0')) AS sku,
       CAST(CASE WHEN len(string_split(concat_ws('-', 'PRD',
                 substr(regexp_replace(upper(brand), '[^A-Z]', '', 'g'), 1, 3),
                 substr(regexp_replace(upper(sub_category), '[^A-Z]', '', 'g'), 1, 3),
                 lpad(CAST(k % 100000 AS VARCHAR), 5, '0')), '-')) >= 4
            THEN CAST(lpad(CAST(k % 100000 AS VARCHAR), 5, '0') AS INT) END AS INT) AS sku_counter
FROM deduped
"""


# ==========================================================================
# F2/F19/F31/F32 — distributor feed cleaning
# (reference: scripts2/load_dim_distributor_dw.py:38-83,148-160)
# ==========================================================================

#: Reference clean_distributor_type map (load_dim_distributor_dw.py:53-65)
DIST_TYPE_MAP = {
    "NATIONAL": "National",
    "NAT": "National",
    "PAN INDIA": "National",
    "REGIONAL": "Regional",
    "REG": "Regional",
    "MULTI STATE": "Regional",
    "LOCAL": "Local",
    "CITY": "Local",
    "DISTRICT": "Local",
}

#: Pinned "today" for the onboarding plausibility window so results are
#: deterministic (the reference compares to datetime.now()).
AS_OF_DATE = "2026-01-01"


def clean_distributor_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    k = F.col("s_suppkey")
    base_date = F.date_add(F.lit("2015-01-01").cast("date"), (k % 3000).cast("int"))
    dirty = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            k.alias("k"),
            F.when(k % 4 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("  "), F.col("s_name"), F.lit("  ")))
            .alias("name_raw"),
            F.element_at(
                F.array(
                    F.lit("NAT"),
                    F.lit("PAN INDIA"),
                    F.lit("multi state"),
                    F.lit("district"),
                    F.lit(" regional "),
                    F.lit("City"),
                    F.lit(None),
                    F.lit("franchise  partner"),
                ),
                (k % 8 + 1).cast("int"),
            ).alias("type_raw"),
            F.element_at(
                F.array(
                    F.lit("ACTIVE"),
                    F.lit("A"),
                    F.lit("1"),
                    F.lit("no"),
                    F.lit("X"),
                    F.lit(None),
                    F.lit("yes"),
                ),
                (k % 7 + 1).cast("int"),
            ).alias("active_raw"),
            F.when(k % 6 == 0, base_date.cast("string"))
            .when(k % 6 == 1, F.date_format(base_date, "yyyy/MM/dd"))
            .when(k % 6 == 2, F.date_format(base_date, "dd-MM-yyyy"))
            .when(k % 6 == 3, F.lit("1985-06-15"))
            .when(k % 6 == 4, F.lit("2031-01-01"))
            .otherwise(F.lit("not-a-date"))
            .alias("onboard_raw"),
            F.lower("n_name").alias("city_raw"),
            F.col("n_name").alias("state_raw"),
        )
    )
    cleaned = dirty.select(
        F.col("k").alias("dist_src_key"),
        C.clean_upper(F.col("name_raw"), "UNKNOWN DISTRIBUTOR").alias("distributor_name"),
        C.substring_map(F.col("type_raw"), DIST_TYPE_MAP, "Local", passthrough="title").alias(
            "distributor_type"
        ),
        C.clean_title(F.col("city_raw"), "UNKNOWN").alias("city"),
        C.clean_title(F.col("state_raw"), "UNKNOWN").alias("state"),
        # Surfaced as timestamp_ntz: pandas/DuckDB render DATE as midnight
        # datetimes, so a DateType boundary column would hash-mismatch.
        C.lenient_date(F.col("onboard_raw"), max_date=AS_OF_DATE)
        .cast("timestamp_ntz")
        .alias("onboarding_date"),
        C.clean_flag(F.col("active_raw"), C.ACTIVE_TRUTHY, "Y").alias("active_flag"),
    )
    return D.dedup_keep_first(
        cleaned, keys=["distributor_name", "city", "state"], order=["dist_src_key"]
    )


CLEAN_DISTRIBUTOR_ORACLE = f"""
WITH dirty AS (
  SELECT s.s_suppkey AS k,
         CASE WHEN s.s_suppkey % 4 = 0 THEN NULL
              ELSE '  ' || s.s_name || '  ' END AS name_raw,
         (['NAT', 'PAN INDIA', 'multi state', 'district', ' regional ', 'City', NULL,
           'franchise  partner'])[s.s_suppkey % 8 + 1] AS type_raw,
         (['ACTIVE', 'A', '1', 'no', 'X', NULL, 'yes'])[s.s_suppkey % 7 + 1] AS active_raw,
         CASE WHEN s.s_suppkey % 6 = 0 THEN CAST(DATE '2015-01-01' + CAST(s.s_suppkey % 3000 AS INTEGER) AS VARCHAR)
              WHEN s.s_suppkey % 6 = 1 THEN strftime(DATE '2015-01-01' + CAST(s.s_suppkey % 3000 AS INTEGER), '%Y/%m/%d')
              WHEN s.s_suppkey % 6 = 2 THEN strftime(DATE '2015-01-01' + CAST(s.s_suppkey % 3000 AS INTEGER), '%d-%m-%Y')
              WHEN s.s_suppkey % 6 = 3 THEN '1985-06-15'
              WHEN s.s_suppkey % 6 = 4 THEN '2031-01-01'
              ELSE 'not-a-date' END AS onboard_raw,
         lower(n.n_name) AS city_raw,
         n.n_name AS state_raw
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
),
cleaned AS (
  SELECT k AS dist_src_key,
         CASE WHEN {_sql_blank('name_raw')} THEN 'UNKNOWN DISTRIBUTOR'
              ELSE upper(regexp_replace(trim(name_raw), '\\s+', ' ', 'g')) END AS distributor_name,
         CASE WHEN {_sql_blank('type_raw')} THEN 'Local'
              WHEN upper(trim(type_raw)) LIKE '%NATIONAL%' THEN 'National'
              WHEN upper(trim(type_raw)) LIKE '%NAT%' THEN 'National'
              WHEN upper(trim(type_raw)) LIKE '%PAN INDIA%' THEN 'National'
              WHEN upper(trim(type_raw)) LIKE '%REGIONAL%' THEN 'Regional'
              WHEN upper(trim(type_raw)) LIKE '%REG%' THEN 'Regional'
              WHEN upper(trim(type_raw)) LIKE '%MULTI STATE%' THEN 'Regional'
              WHEN upper(trim(type_raw)) LIKE '%LOCAL%' THEN 'Local'
              WHEN upper(trim(type_raw)) LIKE '%CITY%' THEN 'Local'
              WHEN upper(trim(type_raw)) LIKE '%DISTRICT%' THEN 'Local'
              ELSE {_TYPE_TITLE} END AS distributor_type,
         CASE WHEN {_sql_blank('city_raw')} THEN 'UNKNOWN'
              ELSE {_CITY_TITLE} END AS city,
         CASE WHEN {_sql_blank('state_raw')} THEN 'UNKNOWN'
              ELSE {_STATE_TITLE} END AS state,
         CASE WHEN COALESCE(try_strptime(trim(onboard_raw), '%Y-%m-%d'),
                            try_strptime(trim(onboard_raw), '%Y/%m/%d'),
                            try_strptime(trim(onboard_raw), '%d-%m-%Y'))
                   BETWEEN TIMESTAMP '1990-01-01' AND TIMESTAMP '{AS_OF_DATE} 00:00:00'
              THEN CAST(COALESCE(try_strptime(trim(onboard_raw), '%Y-%m-%d'),
                                 try_strptime(trim(onboard_raw), '%Y/%m/%d'),
                                 try_strptime(trim(onboard_raw), '%d-%m-%Y')) AS DATE)
              ELSE NULL END AS onboarding_date,
         CASE WHEN {_sql_blank('active_raw')} THEN 'Y'
              WHEN upper(trim(active_raw)) IN ('Y','YES','1','TRUE','ACTIVE','A') THEN 'Y'
              ELSE 'N' END AS active_flag
  FROM dirty
)
SELECT dist_src_key, distributor_name, distributor_type, city, state,
       onboarding_date, active_flag
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY distributor_name, city, state
                               ORDER BY dist_src_key) AS rn
  FROM cleaned
) WHERE rn = 1
"""


# ==========================================================================
# F11/§1.2 — header canonicalization + alias resolution + optional-column
# injection (reference: load_fact_sales_dw.py:98,178-210;
# load_dim_store_dw.py:140-152)
# ==========================================================================

FACT_ALIASES = {
    "QUANTITY_SOLD": ["QUANTITY_SOLD", "QUANTITY", "QTY"],
    "UNIT_PRICE": ["UNIT_PRICE", "SALES_UNIT_PRICE", "PRICE"],
    "GROSS_AMOUNT": ["GROSS_AMOUNT", "GROSS_SALES", "TOTAL_AMOUNT"],
    "ORDER_KEY": ["ORDER_KEY", "ORDERKEY", "ORDER_ID"],
    "LINE_NUMBER": ["LINE_NUMBER", "LINENUMBER", "LINE_NO"],
}


def alias_header_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        # Simulate a feed with messy headers: aliased names, stray padding,
        # mixed case (canonicalize_headers must fix these).
        F.col("l_orderkey").alias("  order_id "),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("Sales_Unit_Price"),
        F.col("l_tax").alias(" Total_Amount "),
        F.col("l_discount").alias("IRRELEVANT_EXTRA"),
    )
    resolved = C.resolve_aliases(
        li, FACT_ALIASES, optional={"PROMO_CODE": ["PROMO_CODE", "PROMO"]}
    )
    return resolved.select(
        F.col("ORDER_KEY").alias("order_key"),
        F.col("LINE_NUMBER").alias("line_number"),
        F.col("QUANTITY_SOLD").alias("quantity_sold"),
        F.col("UNIT_PRICE").alias("unit_price"),
        F.col("GROSS_AMOUNT").alias("gross_amount"),
        F.col("PROMO_CODE").alias("promo_code"),
    )


ALIAS_ORACLE = """
SELECT l_orderkey AS order_key,
       l_linenumber AS line_number,
       l_quantity AS quantity_sold,
       l_extendedprice AS unit_price,
       l_tax AS gross_amount,
       CAST(NULL AS VARCHAR) AS promo_code
FROM lineitem
"""


# ==========================================================================
# F9/F1/F13 — natural-key concatenation over normalized components
# (reference: scripts2/load_fact_sales_dw.py:299-313)
# ==========================================================================

def natural_key_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        C.natural_key(
            F.date_format("o_orderdate", "yyyyMMdd"),
            C.normalize_key(F.col("o_orderpriority")),
            C.normalize_key(F.col("o_orderstatus")),
            F.col("o_custkey").cast("string"),
        ).alias("natural_key"),
    )


NATURAL_KEY_ORACLE = """
SELECT o_orderkey AS order_key,
       concat_ws('_', strftime(o_orderdate, '%Y%m%d'),
                 upper(trim(COALESCE(o_orderpriority, ''))),
                 upper(trim(COALESCE(o_orderstatus, ''))),
                 CAST(o_custkey AS VARCHAR)) AS natural_key
FROM orders
"""


# ==========================================================================
# F22/F23/F27 — tiered discount + exact decimal money math + safe ratio
# (reference: scripts/fact_sales_daily.py:115-129,183-190,241-245)
# ==========================================================================

def tiered_discount_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    k = F.col("l_suppkey")
    store_class = F.element_at(
        F.array(
            F.lit("Modern Trade - Hypermarket"),
            F.lit("General Trade - Kirana"),
            F.lit("Cash & Carry - Wholesale"),
            F.lit("Convenience Store"),
            F.lit("Retail"),
        ),
        (k % 5 + 1).cast("int"),
    )
    is_chain = F.when(F.col("l_orderkey") % 2 == 0, F.lit("Y")).otherwise(F.lit("N"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    gross = F.round(qty * price, 2).cast("decimal(14,2)")
    rate = C.tiered_discount_rate(gross, store_class, is_chain).cast("decimal(4,2)")
    discount = F.round(gross * rate, 2).cast("decimal(14,2)")
    # Money stays decimal through the arithmetic (exactness) and surfaces
    # as double at the boundary — pandas/DuckDB render decimals as floats,
    # and 2dp/6dp values convert bit-identically in both engines.
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        store_class.alias("store_class"),
        is_chain.alias("is_chain"),
        gross.cast("double").alias("gross_amount"),
        rate.cast("double").alias("discount_rate"),
        discount.cast("double").alias("discount_amount"),
        (gross - discount).cast("decimal(14,2)").cast("double").alias("net_amount"),
        C.safe_ratio(discount, gross).cast("decimal(10,6)").cast("double").alias("discount_share"),
    )


TIERED_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         (['Modern Trade - Hypermarket', 'General Trade - Kirana',
           'Cash & Carry - Wholesale', 'Convenience Store', 'Retail'])[l_suppkey % 5 + 1]
           AS store_class,
         CASE WHEN l_orderkey % 2 = 0 THEN 'Y' ELSE 'N' END AS is_chain,
         CAST(round(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)), 2)
              AS DECIMAL(14,2)) AS gross_amount
  FROM lineitem
),
rated AS (
  SELECT *,
         CAST(least(
           (CASE WHEN store_class LIKE '%Wholesale%' OR store_class LIKE '%Cash & Carry%'
                 THEN 0.08 ELSE 0.0 END)
           + (CASE WHEN gross_amount >= 20000 THEN 0.15
                   WHEN gross_amount >= 10000 THEN 0.10
                   WHEN gross_amount >= 5000 THEN 0.07
                   WHEN gross_amount >= 2000 THEN 0.05
                   ELSE 0.02 END)
           + (CASE WHEN is_chain = 'Y' THEN 0.03 ELSE 0.0 END),
           0.20) AS DECIMAL(4,2)) AS discount_rate
  FROM base
)
SELECT l_orderkey AS order_key, l_linenumber AS line_number, store_class, is_chain,
       CAST(gross_amount AS DOUBLE) AS gross_amount,
       CAST(discount_rate AS DOUBLE) AS discount_rate,
       CAST(CAST(round(gross_amount * discount_rate, 2) AS DECIMAL(14,2)) AS DOUBLE)
         AS discount_amount,
       CAST(CAST(gross_amount - CAST(round(gross_amount * discount_rate, 2) AS DECIMAL(14,2))
            AS DECIMAL(14,2)) AS DOUBLE) AS net_amount,
       CASE WHEN gross_amount > 0
            THEN CAST(CAST(CAST(round(gross_amount * discount_rate, 2) AS DECIMAL(14,2))
                      / gross_amount AS DECIMAL(10,6)) AS DOUBLE) END AS discount_share
FROM rated
"""


# ==========================================================================
# F25 — numeric coercion with failure accounting (aggregate form)
# (reference: scripts/validate_table.py:158-197)
# ==========================================================================

def coercion_failure_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    price_str = F.col("o_totalprice").cast("decimal(14,2)").cast("string")
    raw = (
        F.when(k % 9 == 0, F.concat(F.lit("₹"), price_str))
        .when(k % 9 == 1, F.lit("N/A"))
        .when(k % 9 == 2, F.lit(None))
        .when(k % 9 == 3, F.lit("  "))
        .otherwise(price_str)
    )
    parsed = C.clean_numeric(raw, dtype="decimal(14,2)", min_value=None)
    return orders.select(raw.alias("raw"), parsed.alias("parsed")).agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count("parsed").alias("parsed_ok"),
        F.count(C.coercion_failures(F.col("raw"), F.col("parsed"))).alias("parse_failures"),
        F.count(F.when(C._is_blank(F.col("raw")), 1)).alias("blank_rows"),
    )


COERCION_ORACLE = """
WITH feed AS (
  SELECT CASE WHEN o_orderkey % 9 = 0 THEN '₹' || CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)
              WHEN o_orderkey % 9 = 1 THEN 'N/A'
              WHEN o_orderkey % 9 = 2 THEN NULL
              WHEN o_orderkey % 9 = 3 THEN '  '
              ELSE CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) END AS raw
  FROM orders
),
parsed AS (
  SELECT raw,
         try_cast(nullif(regexp_replace(trim(raw), '[₹$,\\s]', '', 'g'), '')
                  AS DECIMAL(14,2)) AS parsed
  FROM feed
)
SELECT COUNT(*) AS total_rows,
       COUNT(parsed) AS parsed_ok,
       COUNT(CASE WHEN NOT (raw IS NULL OR trim(raw) = '') AND parsed IS NULL THEN 1 END)
         AS parse_failures,
       COUNT(CASE WHEN raw IS NULL OR trim(raw) = '' THEN 1 END) AS blank_rows
FROM parsed
"""


# ==========================================================================
# Fuzzy brand resolution: the edit-distance rung the reference's exact ->
# case-insensitive -> Generic brand ladder (F34) lacks. Typos are planted
# deterministically (char deleted / first char swapped by key modulus);
# blocking on the last 2 chars (the brand number, untouched by either
# typo mode) keeps the candidate join an equi-join.
# ==========================================================================

def fuzzy_brand_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamic_etl_spark.ops.joins import fuzzy_blocked_match

    part = t(spark, sf_dir, "part")
    m = F.col("p_partkey") % 5
    b = F.col("p_brand")
    typo = (
        F.when(m == 0, F.concat(F.substring(b, 1, 2), F.substring(b, 4, 100)))
        .when(m == 1, F.concat(F.lit("P"), F.substring(b, 2, 100)))
        .otherwise(b)
    )
    dirty = part.select(typo.alias("raw_brand")).distinct()
    dim = part.select("p_brand")  # helper distincts the dim side itself
    return fuzzy_blocked_match(
        dirty,
        dim,
        dirty_col="raw_brand",
        dim_col="p_brand",
        block=lambda c: F.substring(c, -2, 2),
    )


FUZZY_BRAND_ORACLE = f"""
WITH dirty AS (
  SELECT DISTINCT
    CASE WHEN p_partkey % 5 = 0 THEN substr(p_brand, 1, 2) || substr(p_brand, 4)
         WHEN p_partkey % 5 = 1 THEN 'P' || substr(p_brand, 2)
         ELSE p_brand END AS raw_brand
  FROM part
),
dim AS (SELECT DISTINCT p_brand AS dim_val FROM part),
cand AS (
  SELECT d.raw_brand, m.dim_val,
         CAST(levenshtein(d.raw_brand, m.dim_val) AS BIGINT) AS dist
  FROM dirty d
  JOIN dim m ON right(d.raw_brand, 2) = right(m.dim_val, 2)
  WHERE levenshtein(d.raw_brand, m.dim_val) <= {FUZZY_MAX_DISTANCE}
)
SELECT raw_brand, dim_val AS match_value, dist AS match_distance
FROM (
  SELECT *, row_number() OVER (PARTITION BY raw_brand
                               ORDER BY dist, dim_val) AS rn
  FROM cand
)
WHERE rn = 1
"""


QUERIES: QueryRegistry = {
    "clean_store_feed": Query(
        clean_store_feed, CLEAN_STORE_ORACLE,
        "F1-F4/F31/F32/F35/P7/D2 store-feed standardization pipeline",
    ),
    "fuzzy_brand_match": Query(
        fuzzy_brand_match, FUZZY_BRAND_ORACLE,
        "blocked Levenshtein lookup: best in-block match per dirty brand",
    ),
    "clean_product_feed": Query(
        clean_product_feed, CLEAN_PRODUCT_ORACLE,
        "F3/F5/F7/F8/F26/F33/F34/P7/D1 product-feed standardization pipeline",
    ),
    "clean_distributor_feed": Query(
        clean_distributor_feed, CLEAN_DISTRIBUTOR_ORACLE,
        "F2/F19/F31/F32 distributor-feed standardization pipeline",
    ),
    "alias_header_resolution": Query(
        alias_header_resolution, ALIAS_ORACLE,
        "F11 header canonicalization + alias sets + optional-col injection",
    ),
    "natural_key_concat": Query(
        natural_key_concat, NATURAL_KEY_ORACLE, "F9/F1 natural-key concat"
    ),
    "tiered_discount_pricing": Query(
        tiered_discount_pricing, TIERED_ORACLE,
        "F22/F23/F27 tiered discount + exact decimal money math",
    ),
    "coercion_failure_profile": Query(
        coercion_failure_profile, COERCION_ORACLE,
        "F25 numeric coercion with failure accounting",
    ),
}
