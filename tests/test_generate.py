"""Generators must produce reference-shaped tables that pass the DQ
validator's gates and the fact-money invariants — the round-4 criterion
from SURVEY.md §2.11."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark import generate as G
from dynamic_etl_spark.validate import ValidationSpec, validate


@pytest.fixture(scope="module")
def star(spark):
    stores = G.generate_stores(spark, 100).cache()
    products = G.generate_products(spark, 300).cache()
    dists = G.generate_distributors(spark, 50).cache()
    facts = G.generate_fact_sales(
        spark, stores, products, dists, date_id=20240615, rows=1000
    ).cache()
    return stores, products, dists, facts


def _assert_all_pass(report, allow_fail=()):
    failed = [
        (r["check_name"], r["column_name"])
        for r in report.collect()
        if r["status"] == "FAIL" and (r["check_name"], r["column_name"]) not in allow_fail
    ]
    assert not failed, f"validator FAILs: {failed}"


def test_stores_pass_validator(spark, star):
    stores, *_ = star
    spec = ValidationSpec(
        min_rows=100,
        mandatory_columns=("store_id", "store_name", "store_city", "store_state"),
        flag_columns=("is_chain",),
        pk_column="store_id",
    )
    _assert_all_pass(validate(spark, stores, spec))
    # chain CHECK constraint (oracledb.sql:11-20): Y => name, N => null
    bad = stores.filter(
        ((F.col("is_chain") == "Y") & F.col("chain_name").isNull())
        | ((F.col("is_chain") == "N") & F.col("chain_name").isNotNull())
    ).count()
    assert bad == 0


def test_products_pass_validator(spark, star):
    _, products, *_ = star
    spec = ValidationSpec(
        min_rows=300,
        mandatory_columns=("product_id", "product_name", "brand", "sku", "unit_price"),
        pk_column="product_id",
    )
    _assert_all_pass(validate(spark, products, spec))
    assert products.filter(F.col("unit_price") <= 0).count() == 0
    assert products.filter(~F.col("sku").rlike(r"^PRD-[A-Z]{0,3}-[A-Z]{0,3}-\d{5}$")).count() == 0
    # weighted category distribution is roughly honored (40% grocery)
    n_grocery = products.filter(F.col("category") == "Grocery").count()
    assert 0.25 <= n_grocery / 300 <= 0.55


def test_distributors_pass_validator(spark, star):
    _, _, dists, _ = star
    spec = ValidationSpec(
        min_rows=50,
        mandatory_columns=("distributor_id", "distributor_name"),
        flag_columns=("active_flag",),
        pk_column="distributor_id",
    )
    _assert_all_pass(validate(spark, dists, spec))
    # onboarding window (F21): 2015..2025
    out = dists.filter(
        (F.col("onboarding_date") < F.lit("2015-01-01"))
        | (F.col("onboarding_date") > F.lit("2025-01-01"))
    ).count()
    assert out == 0


def test_facts_money_invariants_and_fks(spark, star):
    stores, products, dists, facts = star
    assert facts.count() == 1000
    spec = ValidationSpec(min_rows=1000, pk_column="sales_id")
    _assert_all_pass(validate(spark, facts, spec))
    # FK resolution: every key joins
    for dim, key in ((stores, "store_id"), (products, "product_id"), (dists, "distributor_id")):
        misses = facts.join(dim, key, "left_anti").count()
        assert misses == 0, f"unresolved {key}"
    # money: net = gross - discount; qty >= 1; discount <= 20% + rounding
    viol = facts.filter(
        (F.col("net_amount") != F.col("gross_amount") - F.col("discount_amount"))
        | (F.col("quantity_sold") < 1)
        | (F.col("discount_amount") > F.col("gross_amount") * 0.20 + 0.01)
    ).count()
    assert viol == 0
    # only ACTIVE distributors get sales (fact_sales_daily.py:55-59)
    inactive = dists.filter(F.col("active_flag") == "N").select("distributor_id")
    assert facts.join(inactive, "distributor_id", "left_semi").count() == 0


def test_fact_generation_survives_sparse_dimensions(spark):
    # tiny catalog: some weighted classes/categories have no members —
    # the row-count contract must hold anyway (picks re-roll into
    # present groups instead of being dropped by the resolution joins)
    stores = G.generate_stores(spark, 5)
    products = G.generate_products(spark, 8)
    dists = G.generate_distributors(spark, 4)
    facts = G.generate_fact_sales(spark, stores, products, dists, date_id=20240601, rows=300)
    assert facts.count() == 300


def test_all_weighted_groups_present(spark, star):
    """The fact-generator oracle (registry/generators.py) embeds the FULL
    weight tables, which is only equivalent to generate_fact_sales'
    present-group filtering when every class/category actually occurs in
    the generated dims. Pin that so a size/seed change fails here, not as
    silent oracle drift."""
    stores, products, dists, _ = star
    classes = {r[0] for r in stores.select("store_class_of_trade").distinct().collect()}
    assert classes == {c for c, _ in G.STORE_VOLUME_WEIGHTS}
    cats = {r[0] for r in products.select("category").distinct().collect()}
    assert cats == {c for c, _ in G.CATEGORY_WEIGHTS}
    assert dists.filter(F.col("active_flag") == "Y").count() >= 1


def test_uniform_sql_twins_bit_identical(spark):
    """uniform/uniform_int/uniform_range/pick_from/weighted_choice and
    their sql_* twins must agree bit-for-bit across engines — this is the
    foundation of every generator oracle."""
    import duckdb

    from pyspark.sql import functions as F

    n = 500
    seeds = (0, 1, 43, 53, 66, 999)
    df = spark.range(0, n, 1, 3)
    cols = [G.uniform(s, F.col("id")).alias(f"u{s}") for s in seeds]
    cols += [
        G.uniform_int(7, 3, 17, F.col("id")).alias("ui"),
        G.uniform_range(9, 2.5, 7.75, F.col("id")).alias("ur"),
        G.pick_from(5, ("a", "b", "c", "d"), F.col("id")).alias("pk"),
        G.weighted_choice(
            G.uniform(11, F.col("id")), (("x", 1.0), ("y", 2.5), ("z", 0.5))
        ).alias("wc"),
    ]
    spark_rows = {r["id"]: r for r in df.select("id", *cols).collect()}

    sel = ", ".join(f"{G.sql_uniform(s, 'i')} AS u{s}" for s in seeds)
    sel += f", {G.sql_uniform_int(7, 3, 17)} AS ui"
    sel += f", {G.sql_uniform_range(9, 2.5, 7.75)} AS ur"
    sel += f", {G.sql_pick_from(5, ('a', 'b', 'c', 'd'))} AS pk"
    sel += (
        f", {G.sql_weighted_choice(G.sql_uniform(11, 'i'), (('x', 1.0), ('y', 2.5), ('z', 0.5)))}"
        " AS wc"
    )
    con = duckdb.connect()
    try:
        duck = con.execute(f"SELECT i, {sel} FROM range(0, {n}) t(i)").fetchall()
    finally:
        con.close()
    names = [f"u{s}" for s in seeds] + ["ui", "ur", "pk", "wc"]
    for row in duck:
        srow = spark_rows[row[0]]
        for j, name in enumerate(names, start=1):
            assert row[j] == srow[name], (row[0], name, row[j], srow[name])


def test_generation_is_partitioning_independent(spark):
    a = G.generate_products(spark, 50)
    b_df = G._base(spark, 50, partitions=1).select(F.col("id"))
    # regenerate with a different partition count — must be identical
    import dynamic_etl_spark.generate as gen

    orig = gen._base
    try:
        gen._base = lambda sp, n, partitions=8: sp.range(0, n, 1, 3)
        b = G.generate_products(spark, 50)
    finally:
        gen._base = orig
    assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))


# The per-group when-chains the generators carried before each group's
# draw became one lookup, rebuilt verbatim as the reference the lookups
# must equal — absent groups included, which the golden digests below
# never reach.


def _affinity_chain(seed, picked_class, present_cats, i):
    fallback = tuple(sorted(present_cats))
    affinity = G.pick_from(seed + 32, fallback, i)
    for cls, cats in G.CLASS_AFFINITY.items():
        present = tuple(c for c in cats if c in present_cats) or fallback
        affinity = F.when(picked_class == cls, G.pick_from(seed + 32, present, i)).otherwise(affinity)
    return affinity


def _base_qty_chain(seed, category, fid):
    base = F.lit(None).cast("int")
    for cat, (lo, hi) in G.CATEGORY_QTY.items():
        base = F.when(category == cat, G.uniform_int(seed + 36, lo, hi, fid)).otherwise(base)
    return F.coalesce(base, G.uniform_int(seed + 36, 1, 5, fid))


def test_product_lookups_equal_the_when_chains(spark):
    seed = 5
    products = G.generate_products(spark, 400, seed)
    i, cat = F.col("product_id") - 1, F.col("category")
    subcat = F.lit(None).cast("string")
    price = F.lit(None).cast("double")
    for c, subs in G.SUBCATEGORIES.items():
        subcat = F.when(cat == c, G.pick_from(seed + 12, subs, i)).otherwise(subcat)
    for c, (lo, hi) in G.PRICE_RANGES.items():
        price = F.when(cat == c, G.uniform_range(seed + 14, lo, hi, i)).otherwise(price)
    price = F.round(price, 2).cast("decimal(12,2)")
    differ = products.filter(
        ~F.col("sub_category").eqNullSafe(subcat) | ~F.col("unit_price").eqNullSafe(price)
    )
    assert differ.count() == 0


@pytest.mark.parametrize("store_classes", ["reference", "unknown"])
def test_fact_lookups_equal_the_when_chains(spark, store_classes):
    """Products without Beverage, Home Care or Baby Care, and with a
    category outside ``CATEGORY_QTY``: Cash & Carry has no present
    affinity category and picks from the fallback list, and a fallback
    pick of the unknown category draws its quantity from 1..5. Stores
    of a class outside ``CLASS_AFFINITY`` pick from the fallback list."""
    seed = 7
    stores = G.generate_stores(spark, 60, seed)
    if store_classes == "unknown":
        stores = stores.withColumn("store_class_of_trade", F.lit("Pharmacy"))
    products = (
        G.generate_products(spark, 300, seed)
        .filter(F.col("category").isin("Grocery", "Dairy", "Personal Care"))
        .withColumn(
            "category",
            F.when(F.col("category") == "Grocery", "Stationery").otherwise(F.col("category")),
        )
    )
    present = {"Stationery", "Dairy", "Personal Care"}
    facts = G.generate_fact_sales(
        spark, stores, products, G.generate_distributors(spark, 20, seed),
        date_id=20240603, rows=600, seed=seed, month=6,
    )
    fid, cls, cat = F.col("sales_id") - 1, F.col("store_class_of_trade"), F.col("category")
    rows = (
        facts.join(stores.select("store_id", "store_class_of_trade"), "store_id")
        .join(products.select("product_id", "category"), "product_id")
        .select(
            cls, cat,
            (cat == _affinity_chain(seed, cls, present, fid)).alias("affinity_equal"),
            # qty is base_qty wherever no bulk multiplier applies
            (F.col("quantity_sold") == _base_qty_chain(seed, cat, fid)).alias("qty_equal"),
        )
        .collect()
    )
    assert len(rows) == 600
    assert all(r["affinity_equal"] for r in rows)
    assert all(r["qty_equal"] for r in rows if "Wholesale" not in r["store_class_of_trade"])
    seen = {(r["store_class_of_trade"], r["category"]) for r in rows}
    if store_classes == "unknown":
        assert {c for _, c in seen} == present
    else:
        assert {c for c, _ in seen} == {c for c, _ in G.STORE_VOLUME_WEIGHTS}
        assert ("Cash & Carry - Wholesale", "Stationery") in seen


# Order-insensitive row digests of the generators' output, captured from
# the plain (un-rebound) expression trees: (schema, rows, sum over rows of
# xxhash64(to_json(row))). Any change to a generator's expressions must
# keep these bit-identical — to_json names every field, so a value moving
# between columns or a NULL appearing changes the digest too.
_GOLDEN_DIMS = {
    "stores": (
        "struct<store_id:bigint,store_name:string,store_address_lane_1:string,"
        "store_address_lane_2:string,store_city:string,store_zip:string,"
        "store_state:string,store_class_of_trade:string,is_chain:string,"
        "chain_name:string>",
        1000, 66520226396702727358,
    ),
    "products": (
        "struct<product_id:bigint,product_name:string,category:string,"
        "sub_category:string,brand:string,flavour:string,product_size:string,"
        "sku:string,uom:string,unit_price:decimal(12,2),business_stage:string>",
        1000, 59581175796097385593,
    ),
    "distributors": (
        "struct<distributor_id:bigint,distributor_name:string,"
        "distributor_type:string,city:string,state:string,"
        "onboarding_date:date,active_flag:string>",
        1000, -276459417450853876448,
    ),
}
_FACT_SCHEMA = (
    "struct<sales_id:bigint,date_id:int,store_id:bigint,product_id:bigint,"
    "distributor_id:bigint,quantity_sold:bigint,unit_price:decimal(10,2),"
    "gross_amount:decimal(12,2),discount_amount:decimal(10,2),"
    "net_amount:decimal(12,2)>"
)
_GOLDEN_FACTS = {
    # a plain March weekday, and a November weekend (every qty multiplier)
    (20240301, False, 3): -203383009963076920333,
    (20241109, True, 11): 82707040965054841518,
}


def _row_digest(df) -> tuple[str, int, int]:
    h = F.xxhash64(F.to_json(F.struct(*df.columns)))
    n, s = df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first()
    return df.schema.simpleString(), n, int(s)


@pytest.fixture(scope="module")
def golden_dims(spark):
    return {
        "stores": G.generate_stores(spark, 1000, 1),
        "products": G.generate_products(spark, 1000, 1),
        "distributors": G.generate_distributors(spark, 1000, 1),
    }


@pytest.mark.parametrize("name", sorted(_GOLDEN_DIMS))
def test_dimension_generators_match_golden_digest(golden_dims, name):
    assert _row_digest(golden_dims[name]) == _GOLDEN_DIMS[name]


@pytest.mark.parametrize("date_id,is_weekend,month", sorted(_GOLDEN_FACTS))
def test_fact_generator_matches_golden_digest(spark, golden_dims, date_id, is_weekend, month):
    facts = G.generate_fact_sales(
        spark, golden_dims["stores"], golden_dims["products"],
        golden_dims["distributors"], date_id=date_id, rows=20_000, seed=1,
        start_sales_id=7, is_weekend=is_weekend, month=month,
    )
    expected = (_FACT_SCHEMA, 20_000, _GOLDEN_FACTS[(date_id, is_weekend, month)])
    assert _row_digest(facts) == expected
