"""Generator queries (SURVEY.md §2.11 G1-G3, G5) — oracle-backed: the
uniform mix in generate.py is plain 64-bit integer arithmetic (no
xxhash64), so every generated table has an exact DuckDB SQL twin built
from the same Python constants/seeds via the ``sql_*`` builders. The
oracles below regenerate stores/products/distributors/fact rows in pure
SQL and must hash-match the Spark output bit-for-bit.

tests/test_generate.py additionally enforces the validator gates, FK
resolution, money invariants, and partitioning-independence; a presence
test pins the every-class/every-category assumption the fact oracle's
static weight tables rely on.

Boundary types per repo convention: decimals surface as double, dates as
timestamp_ntz.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark import generate as G
from dynamic_etl_spark.registry.core import Query, QueryRegistry

_SEED = 42
_N_STORES, _N_PRODUCTS, _N_DISTS = 100, 300, 50
_FACT_ROWS, _FACT_DATE_ID = 1000, 20240615


def generator_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.generate_stores(spark, _N_STORES)


def generator_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.generate_products(spark, _N_PRODUCTS).withColumn(
        "unit_price", F.col("unit_price").cast("double")
    )


def generator_distributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.generate_distributors(spark, _N_DISTS).withColumn(
        "onboarding_date", F.col("onboarding_date").cast("timestamp_ntz")
    )


def generator_fact_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    stores = G.generate_stores(spark, _N_STORES)
    products = G.generate_products(spark, _N_PRODUCTS)
    dists = G.generate_distributors(spark, _N_DISTS)
    facts = G.generate_fact_sales(
        spark, stores, products, dists, date_id=_FACT_DATE_ID, rows=_FACT_ROWS
    )
    return facts.select(
        "sales_id",
        "date_id",
        "store_id",
        "product_id",
        "distributor_id",
        "quantity_sold",
        F.col("unit_price").cast("double").alias("unit_price"),
        F.col("gross_amount").cast("double").alias("gross_amount"),
        F.col("discount_amount").cast("double").alias("discount_amount"),
        F.col("net_amount").cast("double").alias("net_amount"),
    )


# ==========================================================================
# SQL twins. Each CTE mirrors its generate.py counterpart line-for-line;
# the seeds are seed+k offsets identical to the Spark code. '||' is used
# for concatenation because, like F.concat, it propagates NULL.
# ==========================================================================


def _sql_case(branch_col: str, branches: list[tuple[str, str]], else_sql: str | None = None) -> str:
    arms = " ".join(f"WHEN {branch_col} = '{v}' THEN {sql}" for v, sql in branches)
    tail = f" ELSE {else_sql}" if else_sql is not None else ""
    return f"CASE {arms}{tail} END"


def _stores_ctes(n: int, seed: int) -> str:
    u = G.sql_uniform
    ui = G.sql_uniform_int
    pick = G.sql_pick_from
    wc = G.sql_weighted_choice
    name_pick = pick(seed + 6, ("Supermarket", "Stores", "Mart", "Traders"))
    return f"""
gs0 AS (
  SELECT i,
         {wc(u(seed + 1), G.CLASS_OF_TRADE_WEIGHTS)} AS cot,
         {pick(seed + 2, G.STATES)} AS state,
         {u(seed + 4)} AS chain_roll,
         {pick(seed + 5, G.CHAINS)} AS chain
  FROM range(0, {n}) t(i)
),
gs1 AS (
  SELECT *,
         state || ' City ' || CAST({ui(seed + 3, 1, 9)} AS VARCHAR) AS city,
         CASE WHEN cot = 'Modern Trade - Hypermarket' THEN 'Y'
              WHEN cot = 'Modern Trade - Supermarket' AND chain_roll < 0.7 THEN 'Y'
              WHEN cot = 'Convenience Store' AND chain_roll < 0.3 THEN 'Y'
              ELSE 'N' END AS is_chain
  FROM gs0
),
gen_stores AS (
  SELECT i + 1 AS store_id,
         substr(CASE WHEN is_chain = 'Y' THEN chain || ' - ' || city
                     ELSE city || ' ' || {name_pick} END, 1, 50) AS store_name,
         'No ' || CAST({ui(seed + 9, 1, 999)} AS VARCHAR) || ', Main Road'
           AS store_address_lane_1,
         CASE WHEN {u(seed + 10)} < 0.75 THEN 'Near Landmark ' || city END
           AS store_address_lane_2,
         substr(city, 1, 25) AS store_city,
         CAST({ui(seed + 7, 1, 7)} AS VARCHAR)
           || lpad(CAST({ui(seed + 8, 0, 99999)} AS VARCHAR), 5, '0') AS store_zip,
         state AS store_state,
         cot AS store_class_of_trade,
         is_chain,
         substr(CASE WHEN is_chain = 'Y' THEN chain || ' - ' || city END, 1, 50)
           AS chain_name
  FROM gs1
)"""


def _sql_alpha_code(expr: str) -> str:
    # ops/clean._alpha_code: uppercase, strip non-alpha, first 3 chars
    return f"substr(regexp_replace(upper({expr}), '[^A-Z]', '', 'g'), 1, 3)"


def _products_ctes(n: int, seed: int) -> str:
    u = G.sql_uniform
    ui = G.sql_uniform_int
    ur = G.sql_uniform_range
    pick = G.sql_pick_from
    wc = G.sql_weighted_choice
    subcat = _sql_case(
        "cat", [(c, pick(seed + 12, subs)) for c, subs in G.SUBCATEGORIES.items()]
    )
    price = _sql_case(
        "cat", [(c, ur(seed + 14, lo, hi)) for c, (lo, hi) in G.PRICE_RANGES.items()]
    )
    return f"""
gp0 AS (
  SELECT i,
         {wc(u(seed + 11), G.CATEGORY_WEIGHTS)} AS cat
  FROM range(0, {n}) t(i)
),
gp1 AS (
  SELECT *,
         {subcat} AS subcat,
         'Brand' || CAST({ui(seed + 13, 1, 90)} AS VARCHAR) AS brand,
         {price} AS price,
         {pick(seed + 15, ("100g", "250g", "500g", "1kg", "200ml", "500ml", "1L", "XL"))}
           AS psize
  FROM gp0
),
gen_products AS (
  SELECT i + 1 AS product_id,
         brand || ' ' || subcat || ' ' || psize AS product_name,
         cat AS category,
         subcat AS sub_category,
         brand,
         CASE WHEN {u(seed + 16)} < 0.5
              THEN {pick(seed + 17, ("Classic", "Mint", "Lemon", "Rose", "Chocolate"))}
         END AS flavour,
         psize AS product_size,
         concat_ws('-', 'PRD', {_sql_alpha_code("brand")}, {_sql_alpha_code("subcat")},
                   lpad(CAST(i + 1 AS VARCHAR), 5, '0')) AS sku,
         {pick(seed + 18, ("LTR", "KG", "G", "ML", "PCS"))} AS uom,
         CAST(round(price, 2) AS DECIMAL(12,2)) AS unit_price,
         {wc(u(seed + 19), G.BUSINESS_STAGE_WEIGHTS)} AS business_stage
  FROM gp1
)"""


def _dists_ctes(n: int, seed: int) -> str:
    u = G.sql_uniform
    pick = G.sql_pick_from
    wc = G.sql_weighted_choice
    return f"""
gd0 AS (
  SELECT i,
         {wc(u(seed + 21), G.DIST_TYPE_WEIGHTS)} AS dtype,
         {pick(seed + 22, G.STATES)} AS state
  FROM range(0, {n}) t(i)
),
gen_dists AS (
  SELECT i + 1 AS distributor_id,
         substr(state || ' ' || dtype || ' Distributors ' || CAST(i % 97 AS VARCHAR), 1, 50)
           AS distributor_name,
         dtype AS distributor_type,
         state || ' City ' AS city,
         state,
         {G.sql_random_date(seed + 23, "2015-01-01")} AS onboarding_date,
         CASE WHEN {u(seed + 24)} < 0.85 THEN 'Y' ELSE 'N' END AS active_flag
  FROM gd0
)"""


STORES_ORACLE = f"WITH {_stores_ctes(_N_STORES, _SEED)} SELECT * FROM gen_stores"

PRODUCTS_ORACLE = (
    f"WITH {_products_ctes(_N_PRODUCTS, _SEED)} "
    "SELECT product_id, product_name, category, sub_category, brand, flavour, "
    "product_size, sku, uom, CAST(unit_price AS DOUBLE) AS unit_price, business_stage "
    "FROM gen_products"
)

DISTRIBUTORS_ORACLE = (
    f"WITH {_dists_ctes(_N_DISTS, _SEED)} "
    "SELECT distributor_id, distributor_name, distributor_type, city, state, "
    "CAST(onboarding_date AS TIMESTAMP) AS onboarding_date, active_flag "
    "FROM gen_dists"
)


def _fact_oracle() -> str:
    seed = _SEED
    u = G.sql_uniform
    ui = G.sql_uniform_int
    pick = G.sql_pick_from
    wc = G.sql_weighted_choice
    fid = "__fid"

    # class_weights / affinity lists mirror generate_fact_sales with every
    # class and category PRESENT in the generated dims (pinned by
    # tests/test_generate.py::test_all_weighted_groups_present — if a
    # future size/seed change empties a group, that test fails before this
    # oracle silently drifts).
    fallback_cats = tuple(sorted(c for c, _ in G.CATEGORY_WEIGHTS))
    affinity = _sql_case(
        "picked_class",
        [(cls, pick(seed + 32, cats, fid)) for cls, cats in G.CLASS_AFFINITY.items()],
        else_sql=pick(seed + 32, fallback_cats, fid),
    )
    base_qty = _sql_case(
        "category",
        [(c, ui(seed + 36, lo, hi, fid)) for c, (lo, hi) in G.CATEGORY_QTY.items()],
        else_sql=ui(seed + 36, 1, 5, fid),
    )
    return f"""
WITH {_stores_ctes(_N_STORES, seed)},
{_products_ctes(_N_PRODUCTS, seed)},
{_dists_ctes(_N_DISTS, seed)},
stores_i AS (
  SELECT store_id, store_class_of_trade, is_chain,
         ROW_NUMBER() OVER (PARTITION BY store_class_of_trade ORDER BY store_id) AS __sidx
  FROM gen_stores
),
class_counts AS (
  SELECT store_class_of_trade, MAX(__sidx) AS __scount FROM stores_i GROUP BY 1
),
products_i AS (
  SELECT product_id, category, unit_price,
         ROW_NUMBER() OVER (PARTITION BY category ORDER BY product_id) AS __pidx
  FROM gen_products
),
cat_counts AS (
  SELECT category, MAX(__pidx) AS __pcount FROM products_i GROUP BY 1
),
dists_i AS (
  SELECT distributor_id,
         ROW_NUMBER() OVER (ORDER BY distributor_id) AS __didx
  FROM gen_dists WHERE active_flag = 'Y'
),
fact_seeds AS (
  SELECT i AS {fid},
         {wc(u(seed + 31), G.STORE_VOLUME_WEIGHTS)} AS picked_class,
         {u(seed + 33)} AS __sroll,
         {u(seed + 34)} AS __proll,
         CAST(floor({u(seed + 35)} * (SELECT COUNT(*) FROM dists_i)) + 1 AS INT) AS __didx
  FROM range(0, {_FACT_ROWS}) t(i)
),
fact_cat AS (
  SELECT *, {affinity} AS category FROM fact_seeds
),
fact_idx AS (
  SELECT fc.*,
         CAST(floor(fc.__sroll * cc.__scount) + 1 AS INT) AS __sidx,
         CAST(floor(fc.__proll * pc.__pcount) + 1 AS INT) AS __pidx
  FROM fact_cat fc
  JOIN class_counts cc ON fc.picked_class = cc.store_class_of_trade
  JOIN cat_counts pc ON fc.category = pc.category
),
resolved AS (
  SELECT fx.{fid}, fx.category, si.store_class_of_trade, si.is_chain,
         si.store_id, pi.product_id, pi.unit_price, di.distributor_id
  FROM fact_idx fx
  JOIN stores_i si ON fx.picked_class = si.store_class_of_trade AND fx.__sidx = si.__sidx
  JOIN products_i pi ON fx.category = pi.category AND fx.__pidx = pi.__pidx
  JOIN dists_i di ON fx.__didx = di.__didx
),
qty AS (
  SELECT *,
         greatest(CAST(trunc(CAST(({base_qty}) *
           (CASE WHEN store_class_of_trade LIKE '%Wholesale%'
                   OR store_class_of_trade LIKE '%Cash & Carry%'
                 THEN {ui(seed + 37, 5, 20, fid)} ELSE 1 END)
           * 1.0 * 1.0 AS DOUBLE)) AS BIGINT), 1) AS quantity_sold,
         CAST(unit_price AS DECIMAL(10,2)) AS price
  FROM resolved
),
money AS (
  SELECT *,
         CAST(round(CAST(quantity_sold AS DECIMAL(12,2)) * price, 2) AS DECIMAL(12,2))
           AS gross_amount,
         CAST(least(
           (CASE WHEN store_class_of_trade LIKE '%Wholesale%'
                   OR store_class_of_trade LIKE '%Cash & Carry%'
                 THEN 0.08 ELSE 0.0 END)
           + (CASE WHEN CAST(round(CAST(quantity_sold AS DECIMAL(12,2)) * price, 2)
                        AS DECIMAL(12,2)) >= 20000 THEN 0.15
                   WHEN CAST(round(CAST(quantity_sold AS DECIMAL(12,2)) * price, 2)
                        AS DECIMAL(12,2)) >= 10000 THEN 0.10
                   WHEN CAST(round(CAST(quantity_sold AS DECIMAL(12,2)) * price, 2)
                        AS DECIMAL(12,2)) >= 5000 THEN 0.07
                   WHEN CAST(round(CAST(quantity_sold AS DECIMAL(12,2)) * price, 2)
                        AS DECIMAL(12,2)) >= 2000 THEN 0.05
                   ELSE 0.02 END)
           + (CASE WHEN is_chain = 'Y' THEN 0.03 ELSE 0.0 END),
           0.20) AS DECIMAL(4,2)) AS rate
  FROM qty
)
SELECT {fid} + 1 AS sales_id,
       CAST({_FACT_DATE_ID} AS INT) AS date_id,
       store_id,
       product_id,
       distributor_id,
       quantity_sold,
       CAST(price AS DOUBLE) AS unit_price,
       CAST(gross_amount AS DOUBLE) AS gross_amount,
       CAST(CAST(round(gross_amount * rate, 2) AS DECIMAL(10,2)) AS DOUBLE)
         AS discount_amount,
       CAST(CAST(gross_amount - CAST(round(gross_amount * rate, 2) AS DECIMAL(10,2))
            AS DECIMAL(12,2)) AS DOUBLE) AS net_amount
FROM money
"""


FACT_ORACLE = _fact_oracle()


QUERIES: QueryRegistry = {
    "generator_stores": Query(
        generator_stores, STORES_ORACLE, "G2 seeded store generator (SQL-twin oracle)"
    ),
    "generator_products": Query(
        generator_products, PRODUCTS_ORACLE, "G1 seeded product generator (SQL-twin oracle)"
    ),
    "generator_distributors": Query(
        generator_distributors,
        DISTRIBUTORS_ORACLE,
        "G3 seeded distributor generator (SQL-twin oracle)",
    ),
    "generator_fact_day": Query(
        generator_fact_day,
        FACT_ORACLE,
        "G5 1000-row fact day: weighted/affinity picks + tiered discount, "
        "F22/F23 money hash-checked vs the SQL-twin oracle",
    ),
}
