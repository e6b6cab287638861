"""Validator edge cases the registry query can't show: missing columns,
unsafe identifiers, empty-table freshness."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamic_etl_spark.validate import ValidationSpec, safe_identifier, validate


def _report_dict(report):
    return {(r["check_name"], r["column_name"]): r["status"] for r in report.collect()}


def test_missing_mandatory_and_pk_columns_fail(spark):
    df = spark.createDataFrame([(1, "Y")], ["a", "flag"])
    spec = ValidationSpec(
        min_rows=1,
        mandatory_columns=("a", "missing_col"),
        flag_columns=("flag",),
        pk_column="also_missing",
    )
    statuses = _report_dict(validate(spark, df, spec))
    assert statuses[("mandatory_column", "a")] == "PASS"
    assert statuses[("mandatory_column", "missing_col")] == "FAIL"
    assert statuses[("pk_unique", "also_missing")] == "FAIL"
    assert statuses[("flag_domain", "flag")] == "PASS"


def test_min_rows_and_freshness_fail_on_empty(spark):
    df = spark.createDataFrame([], "k long, d timestamp")
    spec = ValidationSpec(min_rows=1, freshness=("d", F.lit("2024-01-01").cast("timestamp")))
    statuses = _report_dict(validate(spark, df, spec))
    assert statuses[("min_rows", None)] == "FAIL"
    assert statuses[("freshness", "d")] == "FAIL"


def test_identifier_safety():
    assert safe_identifier("fact_sales_dw")
    assert safe_identifier("COL$1#x")
    assert not safe_identifier("bad name")
    assert not safe_identifier("drop;table")
    assert not safe_identifier("")
    assert not safe_identifier("x" * 129)


def test_cross_column_conditional_rule(spark):
    """Reference oracledb.sql:11-20: is_chain='Y' => chain_name NOT NULL,
    is_chain='N' => chain_name NULL. Both directions, both branches, and
    the missing-column degrade path."""
    from dynamic_etl_spark.validate import CrossColumnRule

    df = spark.createDataFrame(
        [
            ("Y", "MegaMart"),   # ok
            ("Y", None),         # violates required
            ("N", None),         # ok
            ("N", "Rogue"),      # violates forbidden
            (None, "Orphan"),    # NULL when-side: neither rule fires
        ],
        ["is_chain", "chain_name"],
    )
    rules = (
        CrossColumnRule(
            "chain_name_required",
            when=F.col("is_chain") == "Y",
            then=F.col("chain_name").isNotNull(),
            columns=("is_chain", "chain_name"),
        ),
        CrossColumnRule(
            "chain_name_forbidden",
            when=F.col("is_chain") == "N",
            then=F.col("chain_name").isNull(),
            columns=("is_chain", "chain_name"),
        ),
        CrossColumnRule(
            "needs_missing_col",
            when=F.col("is_chain") == "Y",
            then=F.col("nope").isNotNull(),
            columns=("is_chain", "nope"),
        ),
    )
    report = validate(spark, df, ValidationSpec(min_rows=1, cross_column=rules))
    rows = {r["column_name"]: r for r in report.collect() if r["check_name"] == "cross_column"}
    assert rows["chain_name_required"]["status"] == "FAIL"
    assert rows["chain_name_required"]["observed"] == 1
    assert rows["chain_name_forbidden"]["status"] == "FAIL"
    assert rows["chain_name_forbidden"]["observed"] == 1
    assert rows["needs_missing_col"]["status"] == "FAIL"
    assert rows["needs_missing_col"]["observed"] is None
    # rule columns feed the V9 identifier gate
    idents = {r["column_name"] for r in report.collect() if r["check_name"] == "identifier_safe"}
    assert {"is_chain", "chain_name", "nope"} <= idents
    # clean feed passes
    clean = spark.createDataFrame([("Y", "MegaMart"), ("N", None)], ["is_chain", "chain_name"])
    ok = validate(spark, clean, ValidationSpec(min_rows=1, cross_column=rules[:2]))
    assert all(
        r["status"] == "PASS" for r in ok.collect() if r["check_name"] == "cross_column"
    )


def test_ks_drift_one_sided_type_reports_maximal_drift(spark, tmp_path):
    """A type present on only ONE side of the Jan-15 cut (brand-new or
    vanished) has disjoint supports — KS statistic 1.0 by definition.
    Before the ADVICE r6 guard, na or nb was 0, double/0 was NULL on
    both engines, and a NULL never trips a gate: the drift gate was
    blind exactly in the maximal-drift case. Both twins must now say
    1.0, identically."""
    import duckdb

    from dynamic_etl_spark.registry.validation import (
        KS_DRIFT_ORACLE,
        events_ks_drift,
    )

    rows = (
        # 'vanished': only before the cut
        [("vanished", f"2024-01-0{1 + i % 9}T00:00:00", float(i)) for i in range(20)]
        # 'brand_new': only after the cut
        + [("brand_new", f"2024-02-0{1 + i % 9}T00:00:00", float(i)) for i in range(20)]
        # 'steady': both sides, identical distribution -> small statistic
        + [("steady", f"2024-01-0{1 + i % 9}T00:00:00", float(i % 5)) for i in range(20)]
        + [("steady", f"2024-02-0{1 + i % 9}T00:00:00", float(i % 5)) for i in range(20)]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(t_, __import__("datetime").datetime.fromisoformat(ts), v) for t_, ts, v in rows],
        "event_type string, ts timestamp_ntz, value double",
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got = {
        r["event_type"]: (r["n_before"], r["n_after"], r["ks_statistic"])
        for r in events_ks_drift(spark, sf_dir).collect()
    }
    assert got["vanished"] == (20, 0, 1.0)
    assert got["brand_new"] == (0, 20, 1.0)
    assert got["steady"][2] == 0.0

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')"
        )
        oracle = {
            r[0]: (r[1], r[2], r[3]) for r in con.execute(KS_DRIFT_ORACLE).fetchall()
        }
    finally:
        con.close()
    assert oracle == got


def test_ks_maintenance_counts_null_ts_like_the_one_shot(spark, tmp_path):
    """r7 self-review (confirmed by execution): _three_slice's three ts
    filters all evaluate NULL for a NULL timestamp, silently dropping
    the row from every slice while the one-shot gate (and the shared
    DuckDB oracle, which never filters on ts) counts it on the 'after'
    side. The maintained summary must equal the one-shot on a corpus
    containing a NULL-ts row."""
    import datetime

    from dynamic_etl_spark.registry.validation import (
        events_ks_drift_binned,
        ks_drift_maintenance,
    )

    rows = (
        [("a", datetime.datetime(2024, 1, 2), 1.0)]
        + [("a", datetime.datetime(2024, 2, 2), 6.0)]
        + [("a", None, 11.0)]  # the late row that arrives without a ts
        + [("b", datetime.datetime(2024, 1, 12), float(i)) for i in range(5)]
        + [("b", datetime.datetime(2024, 1, 22), float(i + 3)) for i in range(5)]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    one_shot = sorted(map(tuple, events_ks_drift_binned(spark, sf_dir).collect()))
    maintained = sorted(map(tuple, ks_drift_maintenance(spark, sf_dir).collect()))
    assert maintained == one_shot
    # the NULL-ts row is really in there: type 'a' counts 2 after-rows
    a = [r for r in one_shot if r[0] == "a"][0]
    assert (a[1], a[2]) == (1, 2)


def test_ks_autogrid_resolves_scales_the_fixed_grid_cannot(spark, tmp_path):
    """The discriminating case for the range-adaptive grid: values live
    in [1e-6, 5e-5], where the fixed KS_BIN_WIDTH=5.0 grid collapses the
    whole domain into ONE bucket (KS statistic 0 — drift invisible)
    while the autogrid's per-type min/max spreads them over up to 64
    bins and sees the planted location shift."""
    import datetime

    from dynamic_etl_spark.registry.validation import (
        events_ks_drift_autogrid,
        events_ks_drift_binned,
    )

    # OVERLAPPING uniform samples (r7 review: a disjoint pair has true
    # KS exactly 1.0, which even a CDF-mangling bug can reproduce):
    # before on [1e-6, 2.09e-5], after on [1e-5, 2.99e-5] — 90 of 200
    # before-points sit below the after-support, so the true KS is 0.45
    rows = [
        ("micro", datetime.datetime(2024, 1, 2), 1e-6 + i * 1e-7) for i in range(200)
    ] + [
        ("micro", datetime.datetime(2024, 2, 2), 1e-5 + i * 1e-7) for i in range(200)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    fixed = events_ks_drift_binned(spark, sf_dir).collect()[0]
    auto = events_ks_drift_autogrid(spark, sf_dir).collect()[0]
    assert fixed["n_bins"] == 1 and fixed["ks_statistic"] == 0.0  # blind
    assert auto["n_bins"] > 30
    # true KS = 0.45; each bin holds ~4.5 of 200 points per side, so the
    # grid's discretization error is bounded by ~one bin's CDF mass
    assert abs(auto["ks_statistic"] - 0.45) <= 0.05, auto["ks_statistic"]


def test_ks_variants_exclude_nan_identically(spark, tmp_path):
    """r7 review (confirmed by execution): Spark floor(NaN) is long 0
    while DuckDB floor(NaN) is NaN (least/CAST route it to the TOP
    bucket or an error), so a NaN value bucketing differently per engine
    would hash-diverge — and one NaN reaching MAX poisons the autogrid's
    hi to NaN for the whole type. All KS shapes therefore exclude NaN
    with NULL in their shared row universe; totals must not count it."""
    import datetime

    from dynamic_etl_spark.registry.validation import (
        events_ks_drift,
        events_ks_drift_autogrid,
        events_ks_drift_binned,
        ks_drift_maintenance,
    )

    rows = (
        [("t", datetime.datetime(2024, 1, 2), float(i)) for i in range(10)]
        + [("t", datetime.datetime(2024, 2, 2), float(i + 3)) for i in range(10)]
        + [("t", datetime.datetime(2024, 1, 5), float("nan"))]
        + [("t", datetime.datetime(2024, 2, 5), float("nan"))]
        + [("t", None, None)]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    for fn in (
        events_ks_drift,
        events_ks_drift_binned,
        events_ks_drift_autogrid,
        ks_drift_maintenance,
    ):
        row = fn(spark, sf_dir).collect()[0]
        assert (row["n_before"], row["n_after"]) == (10, 10), fn.__name__
        assert 0.0 < row["ks_statistic"] < 1.0, fn.__name__


def test_ks_autogrid_excludes_infinities(spark, tmp_path):
    """ADVICE r7 #1: an Infinity reaching the autogrid's MAX makes
    hi=inf, so width=inf collapses every finite value to bucket 0 (drift
    invisible) and the v==hi row computes floor(inf/inf)=floor(NaN) —
    Spark casts that to 0 while DuckDB's least() routes it to the top
    bucket: engine-divergent. The autogrid row universe therefore
    excludes +/-inf alongside NaN; finite rows must still resolve."""
    import datetime

    from dynamic_etl_spark.registry.validation import events_ks_drift_autogrid

    rows = (
        [("t", datetime.datetime(2024, 1, 2), float(i)) for i in range(10)]
        + [("t", datetime.datetime(2024, 2, 2), float(i + 3)) for i in range(10)]
        + [("t", datetime.datetime(2024, 1, 5), float("inf"))]
        + [("t", datetime.datetime(2024, 2, 5), float("-inf"))]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    row = events_ks_drift_autogrid(spark, sf_dir).collect()[0]
    # inf rows out of the totals; the finite domain still spreads over
    # multiple buckets (hi poisoned to inf would collapse it to one)
    assert (row["n_before"], row["n_after"]) == (10, 10)
    assert row["n_bins"] > 1
    assert 0.0 < row["ks_statistic"] < 1.0


def _pk_row(spark, rows):
    df = spark.createDataFrame(rows, "k long, v string")
    report = validate(spark, df, ValidationSpec(min_rows=0, pk_column="k"))
    [row] = [r for r in report.collect() if r["check_name"] == "pk_unique"]
    return row["status"], row["observed"], row["threshold"]


def test_pk_unique_observed_counts_every_member_of_duplicated_groups(spark):
    """V6 keep=False semantics: ``observed`` is the number of ROWS in
    duplicated key groups (not the number of groups, not the surplus).
    A NULL key is a key like any other: two NULLs are a duplicated
    group, a lone NULL is not; an empty table has no duplicates."""
    # groups 1 (x2) and 2 (x3) are duplicated, 3 is unique -> 5 members
    assert _pk_row(spark, [(1, "a"), (1, "b"), (2, "c"), (2, "d"), (2, "e"), (3, "f")]) == (
        "FAIL", 5, 0,
    )
    # a duplicated NULL-key group counts its members too
    assert _pk_row(spark, [(None, "a"), (None, "b"), (1, "c")]) == ("FAIL", 2, 0)
    # a single NULL key is not a duplicate
    assert _pk_row(spark, [(None, "a"), (1, "b"), (2, "c")]) == ("PASS", 0, 0)
    # NULL group and value groups together
    assert _pk_row(spark, [(None, "a"), (None, "b"), (None, "c"), (4, "d"), (4, "e")]) == (
        "FAIL", 5, 0,
    )
    assert _pk_row(spark, []) == ("PASS", 0, 0)
