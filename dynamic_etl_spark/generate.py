"""Seeded synthetic-data generators (SURVEY.md §2.11 G1-G3, G5; §2.7
F21/F28-F30).

The reference generates rows in Python loops with ``random``
(scripts/dim_store_daily.py, dim_product_daily.py:975-1018,
fact_sales_daily.py:154-200). Here every generator is ``spark.range(n)``
plus column expressions, so fixture volume is a parameter, not a cost.

Determinism: randomness comes from ``uniform(seed, id)`` — an
affine-mod-prime + xorshift mix of the key column — NOT ``F.rand(seed)``,
whose stream depends on partitioning and therefore on cluster size.
Key-derived uniforms make the generated corpus bit-identical on 1 core or
1000, and (unlike xxhash64, which DuckDB lacks) the mix is plain 64-bit
integer arithmetic both engines evaluate identically, so every generator
has an exact DuckDB SQL twin (the ``sql_*`` builders below) and the
driver can hash-check generated tables like any other query.

Weighted choice (F28/F29) is the inverse-CDF when-chain. A pick that
depends on a group (sub-category and price per category, affinity
category per store class, quantity per category) is ONE draw indexing a
literal map of per-group arrays or bounds, not a when-chain with a copy
of the draw per group: same values, a fraction of the generated code,
and no join or job (the map is a literal). Store pick and product
affinity (F36) are two-stage: weighted class/category choice, then
uniform index within the group resolved by an equi-join — no
driver-side lists, no collect, scales to any dimension size.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.ops.clean import format_sku, tiered_discount_rate
from dynamic_etl_spark.session import local_df

# --------------------------------------------------------------------------
# Seeded primitives (F21, F28-F30)
# --------------------------------------------------------------------------

#: Mersenne prime 2^31-1 — field for the uniform mix. Every intermediate
#: product is < 2^62, so the arithmetic never overflows a long (no ANSI
#: surprises) and DuckDB's BIGINT evaluates it bit-identically.
_P = 2_147_483_647


def _mix_params(seed: int) -> tuple[int, int, int, int]:
    """Per-seed affine constants (Knuth/xxhash prime multipliers)."""
    a1 = (2_654_435_761 * (seed + 1)) % _P or 1
    b1 = (40_503 * (seed + 7)) % _P
    a2 = (2_246_822_519 * (seed + 3)) % _P or 1
    b2 = (3_266_489_917 * (seed + 11)) % _P
    return a1, b1, a2, b2


def _fold(*cols: Column) -> Column:
    """Fold key columns into one long in [0, P)."""
    k = F.pmod(cols[0].cast("long"), F.lit(_P))
    for c in cols[1:]:
        k = F.pmod(k * F.lit(1_000_003) + F.pmod(c.cast("long"), F.lit(_P)), F.lit(_P))
    return k


def uniform(seed: int, *cols: Column) -> Column:
    """Deterministic U[0,1) from a seed + key columns (partitioning-proof).

    Two affine-mod-P rounds with an xorshift between them (the xor breaks
    the affine composition, so draws from different seeds decorrelate);
    the final h/P division is one exact double op in both engines.
    ``sql_uniform`` is the bit-identical DuckDB twin — change them
    together (tests/test_generate.py pins cross-engine equality).
    """
    a1, b1, a2, b2 = _mix_params(seed)
    h1 = F.pmod(F.lit(a1) * _fold(*cols) + F.lit(b1), F.lit(_P))
    mixed = h1.bitwiseXOR(F.shiftright(h1, 15))
    h2 = F.pmod(F.lit(a2) * mixed + F.lit(b2), F.lit(_P))
    return h2 / float(_P)


def uniform_int(seed: int, lo: int | Column, hi: int | Column, *cols: Column) -> Column:
    """randint(lo, hi) twin — inclusive bounds (F30)."""
    return (F.floor(uniform(seed, *cols) * (hi - lo + 1)) + lo).cast("int")


def uniform_range(seed: int, lo: float | Column, hi: float | Column, *cols: Column) -> Column:
    """uniform(lo, hi) twin (F30)."""
    return uniform(seed, *cols) * (hi - lo) + lo


def weighted_choice(r: Column, options: Sequence[tuple[str, float]]) -> Column:
    """F28/F29 — inverse-CDF weighted pick from (value, weight) pairs."""
    total = float(sum(w for _, w in options))
    out = F.lit(options[-1][0])
    acc = 0.0
    branches = []
    for value, weight in options[:-1]:
        acc += weight / total
        branches.append((acc, value))
    for threshold, value in reversed(branches):
        out = F.when(r < threshold, F.lit(value)).otherwise(out)
    return out


#: Width of the window a random date falls in (the store onboarding
#: decade), shared with the SQL twin.
DATE_SPAN_DAYS = 3650


def random_date(seed: int, start: str, *cols: Column) -> Column:
    """F21 — random date within [start, start + DATE_SPAN_DAYS)."""
    return F.date_add(
        F.lit(start).cast("date"), uniform_int(seed, 0, DATE_SPAN_DAYS - 1, *cols)
    )


def pick_from(seed: int, values: Sequence[str], *cols: Column) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, uniform_int(seed, 1, len(values), *cols))


def _group_lookup(key: Column, table: Mapping[str, Sequence]) -> Column:
    """``table[key]`` as an array, from a literal map: NULL for a key the
    table lacks. A per-group draw passes it to ONE primitive call (the
    bounds of ``uniform_int``/``uniform_range``, the array a pick
    indexes), which gives every row the value a when-chain with one
    copy of the draw per group gave it."""
    return F.create_map(
        *[c for k, vs in table.items() for c in (F.lit(k), F.array(*map(F.lit, vs)))]
    )[key]


# --------------------------------------------------------------------------
# DuckDB SQL twins of the primitives above. Each mirrors its Spark
# counterpart's values operation-for-operation (same constants, same
# double ops) so generated tables hash-match across engines; they match
# values, not plan structure (the generators' per-group lookups are CASE
# chains in the SQL twins). ``expr`` is a SQL expression for the integer
# key column.
# --------------------------------------------------------------------------


def sql_uniform(seed: int, expr: str = "i") -> str:
    a1, b1, a2, b2 = _mix_params(seed)
    h1 = f"(({a1} * (({expr}) % {_P}) + {b1}) % {_P})"
    mixed = f"xor({h1}, {h1} >> 15)"
    return f"(CAST(({a2} * {mixed} + {b2}) % {_P} AS DOUBLE) / {_P})"


def sql_uniform_int(seed: int, lo: int, hi: int, expr: str = "i") -> str:
    return f"CAST(floor({sql_uniform(seed, expr)} * {hi - lo + 1}) + {lo} AS INT)"


def sql_uniform_range(seed: int, lo: float, hi: float) -> str:
    return f"({sql_uniform(seed)} * {hi - lo!r} + {lo!r})"


def sql_weighted_choice(u_expr: str, options: Sequence[tuple[str, float]]) -> str:
    """CASE twin of weighted_choice — thresholds computed by the SAME
    Python float accumulation, embedded at full precision."""
    total = float(sum(w for _, w in options))
    acc = 0.0
    branches = []
    for value, weight in options[:-1]:
        acc += weight / total
        branches.append(f"WHEN {u_expr} < {acc!r} THEN '{value}'")
    return "CASE " + " ".join(branches) + f" ELSE '{options[-1][0]}' END"


def sql_pick_from(seed: int, values: Sequence[str], expr: str = "i") -> str:
    lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"({lst})[{sql_uniform_int(seed, 1, len(values), expr)}]"


def sql_random_date(seed: int, start: str) -> str:
    return f"(DATE '{start}' + {sql_uniform_int(seed, 0, DATE_SPAN_DAYS - 1)})"


# --------------------------------------------------------------------------
# Reference business tables (weights from the generator scripts)
# --------------------------------------------------------------------------

CLASS_OF_TRADE_WEIGHTS = (
    ("Modern Trade - Hypermarket", 15.0),
    ("Modern Trade - Supermarket", 25.0),
    ("General Trade - Kirana", 40.0),
    ("Convenience Store", 10.0),
    ("Cash & Carry - Wholesale", 10.0),
)

#: mid-point of the reference's per-class daily-volume range
#: (fact_sales_daily.py:137-152)
STORE_VOLUME_WEIGHTS = (
    ("Modern Trade - Hypermarket", 11.5),
    ("Modern Trade - Supermarket", 7.5),
    ("General Trade - Kirana", 2.0),
    ("Convenience Store", 4.5),
    ("Cash & Carry - Wholesale", 3.0),
)

STATES = (
    "Maharashtra", "Karnataka", "Tamil Nadu", "Telangana", "Andhra Pradesh",
    "Gujarat", "Rajasthan", "West Bengal", "Uttar Pradesh", "Delhi",
    "Madhya Pradesh", "Punjab", "Haryana", "Kerala", "Odisha",
)

CHAINS = ("ValueMart", "CityBazaar", "FreshPoint", "MegaStore", "QuickPick")

CATEGORY_WEIGHTS = (
    ("Grocery", 0.40), ("Beverage", 0.20), ("Dairy", 0.15),
    ("Personal Care", 0.10), ("Home Care", 0.10), ("Baby Care", 0.05),
)

SUBCATEGORIES: dict[str, tuple[str, ...]] = {
    "Grocery": ("Rice", "Wheat Flour", "Edible Oil", "Pulses", "Spices", "Biscuits"),
    "Beverage": ("Soft Drink", "Juice", "Tea", "Coffee", "Energy Drink"),
    "Dairy": ("Milk", "Curd", "Cheese", "Butter", "Paneer"),
    "Personal Care": ("Shampoo", "Soap", "Toothpaste", "Face Wash", "Hair Oil"),
    "Home Care": ("Detergent", "Dishwash", "Floor Cleaner", "Toilet Cleaner"),
    "Baby Care": ("Baby Powder", "Baby Wipes", "Diapers", "Baby Soap"),
}


def _sku_code(value: str) -> str:
    """``ops.clean._alpha_code`` of a catalog value, evaluated here: a
    per-row Spark ``upper`` would initialise ICU case mapping in the JVM
    (about 2 s of CPU on first use) to recompute a fixed answer."""
    return re.sub("[^A-Z]", "", value.upper())[:3]


#: SKU code of every brand: brands are always ``Brand<n>``
_BRAND_CODE = _sku_code("Brand")

#: SKU code per sub-category
_SUBCATEGORY_CODES: dict[str, str] = {
    s: _sku_code(s) for subs in SUBCATEGORIES.values() for s in subs
}

#: price range per category (uniform within; F30)
PRICE_RANGES: dict[str, tuple[float, float]] = {
    "Grocery": (40.0, 600.0), "Beverage": (20.0, 150.0), "Dairy": (25.0, 400.0),
    "Personal Care": (50.0, 450.0), "Home Care": (60.0, 350.0), "Baby Care": (80.0, 900.0),
}

BUSINESS_STAGE_WEIGHTS = (
    ("ACTIVE", 75.0), ("PROMOTIONAL", 10.0), ("NEW_LAUNCH", 8.0),
    ("SEASONAL", 4.0), ("LOW_STOCK", 2.0), ("CLEARANCE", 1.0),
)

DIST_TYPE_WEIGHTS = (("National", 15.0), ("Regional", 30.0), ("Local", 55.0))

#: preferred product categories per store class (F36,
#: fact_sales_daily.py:99-113)
CLASS_AFFINITY: dict[str, tuple[str, ...]] = {
    "General Trade - Kirana": ("Grocery", "Beverage", "Dairy"),
    "Convenience Store": ("Beverage", "Grocery", "Personal Care"),
    "Modern Trade - Hypermarket": tuple(c for c, _ in CATEGORY_WEIGHTS),
    "Modern Trade - Supermarket": tuple(c for c, _ in CATEGORY_WEIGHTS),
    "Cash & Carry - Wholesale": ("Grocery", "Home Care", "Beverage"),
}

CATEGORY_QTY: dict[str, tuple[int, int]] = {
    "Grocery": (1, 5), "Beverage": (2, 12), "Dairy": (1, 6),
    "Personal Care": (1, 4), "Baby Care": (1, 3), "Home Care": (1, 4),
}


def _base(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    return spark.range(0, n, 1, partitions)


# --------------------------------------------------------------------------
# G2 — stores
# --------------------------------------------------------------------------

def generate_stores(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    i = F.col("id")
    # values referenced more than once are bound as columns first, so the
    # plan carries each CASE tree once instead of once per reference
    # (CollapseProject does not re-inline non-cheap expressions)
    df = _base(spark, n).select(
        "id",
        weighted_choice(uniform(seed + 1, i), CLASS_OF_TRADE_WEIGHTS).alias("store_class_of_trade"),
        pick_from(seed + 2, STATES, i).alias("store_state"),
    )
    cot, state = F.col("store_class_of_trade"), F.col("store_state")
    city = F.concat(state, F.lit(" City "), (uniform_int(seed + 3, 1, 9, i)).cast("string"))
    # chain rules (dim_store_daily): hypermarket always, supermarket 70%,
    # convenience 30%, kirana/wholesale never
    chain_roll = uniform(seed + 4, i)
    is_chain = (
        F.when(cot == "Modern Trade - Hypermarket", "Y")
        .when((cot == "Modern Trade - Supermarket") & (chain_roll < 0.7), "Y")
        .when((cot == "Convenience Store") & (chain_roll < 0.3), "Y")
        .otherwise("N")
    )
    df = df.select("id", cot, state, city.alias("__city"), is_chain.alias("is_chain"))
    city, is_chain = F.col("__city"), F.col("is_chain")
    chain = pick_from(seed + 5, CHAINS, i)
    df = df.withColumn(
        "__chain_name", F.when(is_chain == "Y", F.concat(chain, F.lit(" - "), city))
    )
    chain_name = F.col("__chain_name")
    name = F.when(is_chain == "Y", chain_name).otherwise(
        F.concat(city, F.lit(" "), pick_from(seed + 6, ("Supermarket", "Stores", "Mart", "Traders"), i))
    )
    zip_code = F.concat(
        uniform_int(seed + 7, 1, 7, i).cast("string"),
        F.lpad(uniform_int(seed + 8, 0, 99999, i).cast("string"), 5, "0"),
    )
    return df.select(
        (i + 1).alias("store_id"),
        F.substring(name, 1, 50).alias("store_name"),
        F.concat(F.lit("No "), uniform_int(seed + 9, 1, 999, i).cast("string"), F.lit(", Main Road"))
        .alias("store_address_lane_1"),
        F.when(uniform(seed + 10, i) < 0.75, F.concat(F.lit("Near Landmark "), city))
        .alias("store_address_lane_2"),
        F.substring(city, 1, 25).alias("store_city"),
        zip_code.alias("store_zip"),
        state,
        cot,
        is_chain,
        F.substring(chain_name, 1, 50).alias("chain_name"),
    )


# --------------------------------------------------------------------------
# G1 — products
# --------------------------------------------------------------------------

def generate_products(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    i = F.col("id")
    # values referenced more than once are bound as columns first, so the
    # plan carries each CASE tree once instead of once per reference
    # (CollapseProject does not re-inline non-cheap expressions)
    df = _base(spark, n).select(
        "id", weighted_choice(uniform(seed + 11, i), CATEGORY_WEIGHTS).alias("category")
    )
    cat = F.col("category")
    subs = _group_lookup(cat, SUBCATEGORIES)
    subcat = F.element_at(subs, uniform_int(seed + 12, 1, F.size(subs), i))
    brand = F.concat(F.lit("Brand"), (uniform_int(seed + 13, 1, 90, i)).cast("string"))
    size = pick_from(seed + 15, ("100g", "250g", "500g", "1kg", "200ml", "500ml", "1L", "XL"), i)
    df = df.select(
        "id", "category", subcat.alias("sub_category"), brand.alias("brand"),
        size.alias("product_size"),
    )
    subcat, brand, size = F.col("sub_category"), F.col("brand"), F.col("product_size")
    lo_hi = _group_lookup(cat, PRICE_RANGES)
    price = uniform_range(seed + 14, lo_hi[0], lo_hi[1], i)
    flavour = F.when(
        uniform(seed + 16, i) < 0.5,
        pick_from(seed + 17, ("Classic", "Mint", "Lemon", "Rose", "Chocolate"), i),
    )
    return df.select(
        (i + 1).alias("product_id"),
        F.concat(brand, F.lit(" "), subcat, F.lit(" "), size).alias("product_name"),
        cat,
        subcat,
        brand,
        flavour.alias("flavour"),
        size,
        format_sku(
            F.lit("PRD"),
            F.lit(_BRAND_CODE),
            F.create_map(*[F.lit(x) for kv in _SUBCATEGORY_CODES.items() for x in kv])[subcat],
            i + 1,
        ).alias("sku"),
        pick_from(seed + 18, ("LTR", "KG", "G", "ML", "PCS"), i).alias("uom"),
        F.round(price, 2).cast("decimal(12,2)").alias("unit_price"),
        weighted_choice(uniform(seed + 19, i), BUSINESS_STAGE_WEIGHTS).alias("business_stage"),
    )


# --------------------------------------------------------------------------
# G3 — distributors
# --------------------------------------------------------------------------

def generate_distributors(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    df = _base(spark, n)
    i = F.col("id")
    dtype = weighted_choice(uniform(seed + 21, i), DIST_TYPE_WEIGHTS)
    state = pick_from(seed + 22, STATES, i)
    return df.select(
        (i + 1).alias("distributor_id"),
        F.substring(
            F.concat(
                state, F.lit(" "), dtype, F.lit(" Distributors "), (i % 97).cast("string")
            ),
            1,
            50,
        ).alias("distributor_name"),
        dtype.alias("distributor_type"),
        F.concat(state, F.lit(" City ")).alias("city"),
        state.alias("state"),
        random_date(seed + 23, "2015-01-01", i).alias("onboarding_date"),
        F.when(uniform(seed + 24, i) < 0.85, "Y").otherwise(F.lit("N")).alias("active_flag"),
    )


# --------------------------------------------------------------------------
# G5 — fact rows (two-stage weighted pick + affinity, join-resolved)
# --------------------------------------------------------------------------

def generate_fact_sales(
    spark: SparkSession,
    stores: DataFrame,
    products: DataFrame,
    distributors: DataFrame,
    date_id: int,
    rows: int = 1000,
    seed: int = 42,
    start_sales_id: int = 0,
    is_weekend: bool = False,
    month: int = 6,
) -> DataFrame:
    """1000-rows/day fact generator (fact_sales_daily.py:154-200):
    volume-weighted store class pick -> uniform store within class;
    affinity-weighted category pick -> uniform product within category;
    uniform ACTIVE distributor; qty = base x bulk x weekend x seasonal;
    exact decimal money with the tiered discount (F22/F23).
    """
    i = F.col("id")
    facts = _base(spark, rows)

    # Picks are constrained to groups that actually EXIST in the supplied
    # dimensions — otherwise the resolution inner-joins silently drop rows
    # whose weighted class/category has no members (e.g. no Baby Care
    # products in a tiny catalog) and the 1000-row contract breaks.
    # ONE collect sizes every group and counts the active distributors;
    # it is bounded by the 5/6 configured groups (+1 row).
    active = distributors.filter(F.col("active_flag") == "Y")
    sizes = (
        stores.select(F.lit("store").alias("__dim"), F.col("store_class_of_trade").alias("__grp"))
        .unionByName(products.select(F.lit("product").alias("__dim"), F.col("category").alias("__grp")))
        .unionByName(active.select(F.lit("dist").alias("__dim"), F.lit(None).cast("string").alias("__grp")))
        .groupBy("__dim", "__grp")
        .agg(F.count(F.lit(1)).cast("int").alias("__n"))
        .collect()
    )
    class_sizes = {r["__grp"]: r["__n"] for r in sizes if r["__dim"] == "store"}
    cat_sizes = {r["__grp"]: r["__n"] for r in sizes if r["__dim"] == "product"}
    n_dists = sum(r["__n"] for r in sizes if r["__dim"] == "dist")
    present_classes = set(class_sizes)
    if not present_classes:
        raise ValueError("stores dimension is empty")
    class_weights = [
        (c, w) for c, w in STORE_VOLUME_WEIGHTS if c in present_classes
    ] or [(c, 2.0) for c in sorted(present_classes)]
    present_cats = set(cat_sizes)
    if not present_cats:
        raise ValueError("products dimension is empty")

    # group sizes become literal tables: their broadcasts resolve on the
    # driver, no aggregation job (the size of a group is the max of its
    # row_number index below)
    class_counts = local_df(
        spark, class_sizes.items(), {"store_class_of_trade": "STRING", "__scount": "INT"}
    )
    cat_counts = local_df(spark, cat_sizes.items(), {"category": "STRING", "__pcount": "INT"})

    s_idx = Window.partitionBy("store_class_of_trade").orderBy("store_id")
    stores_i = stores.select(
        "store_id", "store_class_of_trade", "is_chain",
        F.row_number().over(s_idx).alias("__sidx"),
    )

    p_idx = Window.partitionBy("category").orderBy("product_id")
    products_i = products.select(
        "product_id", "category", "unit_price",
        F.row_number().over(p_idx).alias("__pidx"),
    )

    d_idx = Window.orderBy("distributor_id")
    dists_i = active.select("distributor_id", F.row_number().over(d_idx).alias("__didx"))

    # the class pick is the affinity lookup's key: bind it once
    facts = facts.select(
        "id", weighted_choice(uniform(seed + 31, i), class_weights).alias("store_class_of_trade")
    )
    picked_class = F.col("store_class_of_trade")
    fallback_cats = tuple(sorted(present_cats))
    present_affinity = {
        cls: tuple(c for c in cats if c in present_cats) or fallback_cats
        for cls, cats in CLASS_AFFINITY.items()
    }
    affinity_cats = F.coalesce(
        _group_lookup(picked_class, present_affinity), F.array(*map(F.lit, fallback_cats))
    )
    affinity = F.element_at(affinity_cats, uniform_int(seed + 32, 1, F.size(affinity_cats), i))

    fact_seeds = facts.select(
        i.alias("__fid"),
        picked_class,
        affinity.alias("category"),
        uniform(seed + 33, i).alias("__sroll"),
        uniform(seed + 34, i).alias("__proll"),
        uniform_int(seed + 35, 1, max(n_dists, 1), i).alias("__didx"),
    )

    # class/category roll -> uniform index within the group (broadcast the
    # tiny count tables), then equi-join to the dimension rows
    fact_seeds = (
        fact_seeds.join(F.broadcast(class_counts), "store_class_of_trade")
        .withColumn("__sidx", (F.floor(F.col("__sroll") * F.col("__scount")) + 1).cast("int"))
        .join(F.broadcast(cat_counts), "category")
        .withColumn("__pidx", (F.floor(F.col("__proll") * F.col("__pcount")) + 1).cast("int"))
    )
    resolved = (
        fact_seeds.join(stores_i, ["store_class_of_trade", "__sidx"])
        .join(products_i, ["category", "__pidx"])
        .join(F.broadcast(dists_i), "__didx")
    )

    fid = F.col("__fid")
    lo_hi = F.coalesce(_group_lookup(F.col("category"), CATEGORY_QTY), F.array(F.lit(1), F.lit(5)))
    base_qty = uniform_int(seed + 36, lo_hi[0], lo_hi[1], fid)
    bulk = F.when(
        F.col("store_class_of_trade").contains("Wholesale")
        | F.col("store_class_of_trade").contains("Cash & Carry"),
        uniform_int(seed + 37, 5, 20, fid),
    ).otherwise(F.lit(1))
    weekend = F.lit(1.3) if is_weekend else F.lit(1.0)
    seasonal = (
        F.lit(1.45) if month in (10, 11, 12) else (F.lit(1.2) if month in (4, 5) else F.lit(1.0))
    )
    qty = F.greatest((base_qty * bulk * weekend * seasonal).cast("long"), F.lit(1))

    # qty, gross and discount each feed several outputs: bind each as a
    # column once (one Project level apiece) so the plan carries every
    # CASE tree once rather than inlined per reference
    priced = resolved.select(
        "__fid", "store_id", "product_id", "distributor_id",
        "store_class_of_trade", "is_chain",
        qty.alias("quantity_sold"),
        F.col("unit_price").cast("decimal(10,2)").alias("unit_price"),
    )
    qty, price = F.col("quantity_sold"), F.col("unit_price")
    gross = F.round(qty.cast("decimal(12,2)") * price, 2).cast("decimal(12,2)")
    priced = priced.withColumn("gross_amount", gross)
    gross = F.col("gross_amount")
    rate = tiered_discount_rate(
        gross, F.col("store_class_of_trade"), F.col("is_chain")
    ).cast("decimal(4,2)")
    priced = priced.withColumn("discount_amount", F.round(gross * rate, 2).cast("decimal(10,2)"))
    discount = F.col("discount_amount")

    return priced.select(
        (fid + 1 + start_sales_id).alias("sales_id"),
        F.lit(date_id).cast("int").alias("date_id"),
        "store_id",
        "product_id",
        "distributor_id",
        qty,
        price,
        gross,
        discount,
        (gross - discount).cast("decimal(12,2)").alias("net_amount"),
    )
