"""Unit coverage for operator paths no registry query exercises directly:
salted joins, merges, sketches and cleaners."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark.catalog import load_table
from dynamic_etl_spark.ops import agg
from dynamic_etl_spark.ops.skew import salted_join
from tests.conftest import SF_SMALL


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_SMALL, "lineitem").limit(100)
    dim = load_table(spark, SF_SMALL, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    fact = li.select("l_orderkey", F.col("l_suppkey").alias("s_suppkey"))
    out = salted_join(fact, dim, on=["s_suppkey"])
    plain = fact.join(dim, "s_suppkey")
    assert 0 < plain.count() < 100
    assert out.exceptAll(plain.select(*out.columns)).count() == 0
    assert plain.select(*out.columns).exceptAll(out).count() == 0


def test_dedup_hot_key_stress(spark):
    """VERDICT r2 #8 — hot-key stress for the dedup layer: one key holds
    50% of a 400k-row feed. The max_by formulation must (a) agree exactly
    with the window formulation, (b) run two-phase so the hot key is
    partially combined map-side instead of colocating on one reducer (a
    window partition can't be split, by AQE or anything else), and
    (c) finish within a generous wall bound."""
    import time

    from dynamic_etl_spark.ops import dedup as D

    n = 400_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(10_000)) + 1)
        .cast("long")
        .alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") % 97).alias("v"),
    )
    expected_keys = df.select("k").distinct().count()

    start = time.perf_counter()
    agg = D.dedup_keep_last_agg(df, ["k"], ["seq"])
    assert agg.count() == expected_keys
    assert time.perf_counter() - start < 60

    win = D.dedup_keep_last(df, ["k"], ["seq"])
    assert agg.exceptAll(win).count() == 0 and win.exceptAll(agg).count() == 0

    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partial + final phases of the extremum aggregate
    assert plan.count("SortAggregate") >= 2 or plan.count("HashAggregate") >= 2


def test_scd1_bulk_insert_guard(spark, monkeypatch):
    """VERDICT r2 'what's wrong' #1: an all-INSERT bulk merge must not
    silently funnel the table through the contiguous window's single
    partition — it raises (guard), armed here at 100 rows."""
    from dynamic_etl_spark.ops import keys
    from dynamic_etl_spark.ops.merge import scd1_merge

    existing = spark.createDataFrame([(10, "k0", 1.0)], ["sk", "nk", "v"])
    bulk = spark.range(0, 200).select(
        F.concat(F.lit("new"), F.col("id")).alias("nk"), F.lit(2.0).alias("v")
    )
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # The guard rides inside the numbering expression (no eager pre-count
    # job) gated on the FULL-FRAME partition count, so it fires whenever
    # the single-partition window executes — an action that prunes the
    # key column away also prunes the window (no funnel, nothing to
    # guard). Evaluate the key to trip it.
    monkeypatch.setattr(keys, "CONTIGUOUS_GUARD_ROWS", 100)
    guarded = scd1_merge(existing, bulk, ["nk"], "sk", tolerance_cols=["v"])
    with pytest.raises(SparkRuntimeException, match="single partition"):
        guarded.agg(F.max("sk")).collect()
    # prefix-consuming actions must ALSO raise (review r3: a row_number
    # gate is skipped by limit/first even though the oversized sort ran)
    with pytest.raises(SparkRuntimeException, match="single partition"):
        guarded.select("sk").limit(3).collect()


def test_scd1_merge_into_bootstrap_guard_and_batch_collapse(spark, tmp_path):
    """The one SCD-1 table load (DW fact load, streaming merge sink): an
    absent table bootstraps to exactly what a merge against an empty
    table commits; a duplicated natural key is refused without an order
    column and collapsed to its latest row with one; a load after a crash
    inside the swap merges into the surviving backup; a table column the
    caller did not declare is refused, table untouched."""
    from dynamic_etl_spark.io import read_table
    from dynamic_etl_spark.ops.merge import scd1_merge, scd1_merge_into

    def rows(path):
        return sorted(tuple(r) for r in read_table(spark, path).collect())

    cols = dict(natural_key=["nk"], surrogate_col="sk", exact_cols=["q"],
                tolerance_cols=["v"])
    table = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [("k3", 3, 30.0), ("k1", 1, 10.0), ("k2", 2, 20.0)], "nk string, q long, v double"
    )
    assert scd1_merge_into(table, batch, **cols) == 3
    empty = spark.createDataFrame([], "sk long, nk string, q long, v double")
    via_merge = scd1_merge(empty, batch, **cols).drop("operation")
    assert read_table(spark, table).schema == via_merge.schema
    assert rows(table) == sorted(tuple(r) for r in via_merge.collect())
    assert rows(table) == [(1, "k1", 1, 10.0), (2, "k2", 2, 20.0), (3, "k3", 3, 30.0)]

    changes = spark.createDataFrame(
        [("k1", 1, 11.0, 1), ("k1", 1, 12.0, 2), ("k9", 9, 90.0, 1)],
        "nk string, q long, v double, seq int",
    )
    with pytest.raises(ValueError, match="duplicate natural keys"):
        scd1_merge_into(table, changes, **cols)
    assert len(rows(table)) == 3
    assert scd1_merge_into(table, changes, batch_order_col="seq", **cols) == 4
    assert read_table(spark, table).columns == ["sk", "nk", "q", "v"]
    assert rows(table) == [
        (1, "k1", 1, 12.0), (2, "k2", 2, 20.0), (3, "k3", 3, 30.0), (4, "k9", 9, 90.0),
    ]
    # a crash between the swap's two renames leaves only the backup
    os.rename(table, table + ".old")
    one = spark.createDataFrame([("k2", 2, 25.0)], "nk string, q long, v double")
    assert scd1_merge_into(table, one, **cols) == 4
    assert rows(table)[1] == (2, "k2", 2, 25.0)

    guarded = str(tmp_path / "guarded")
    spark.createDataFrame(
        [(1, "k1", 1, 1.0, "keep me")], "sk long, nk string, q long, v double, note string"
    ).write.parquet(guarded)
    with pytest.raises(ValueError, match="destroy"):
        scd1_merge_into(guarded, batch, **cols)
    assert rows(guarded) == [(1, "k1", 1, 1.0, "keep me")]


def test_mini_dim_upsert_ignores_nulls_and_is_idempotent(spark):
    from dynamic_etl_spark.ops.merge import upsert_mini_dim

    dim = spark.createDataFrame([(1, "Alpha")], ["k", "name"])
    values = spark.createDataFrame(
        [("Alpha",), ("Beta",), (None,), ("Beta",)], ["name"]
    )
    out1 = upsert_mini_dim(dim, values, "k", "name")
    rows = {r["name"]: r["k"] for r in out1.collect()}
    assert rows == {"Alpha": 1, "Beta": 2}  # no NULL key minted
    # idempotent: re-upserting the same values changes nothing
    out2 = upsert_mini_dim(out1, values, "k", "name")
    assert {r["name"]: r["k"] for r in out2.collect()} == rows


def test_date_key_values(spark):
    from dynamic_etl_spark.ops.dates import date_key

    df = spark.createDataFrame([("2024-02-29",), ("1999-12-31",), ("2000-01-01",)], ["d"])
    keys = [r["k"] for r in df.select(date_key(F.col("d").cast("date")).alias("k")).collect()]
    assert keys == [20240229, 19991231, 20000101]


def test_percentile_exact_interpolation_and_approx_bound(spark):
    """pct_exact follows PERCENTILE_CONT interpolation (oracle-matched in
    events_value_percentiles); Spark's percentile_approx (the 100 TB
    sketch path SCALE.md names) lands within rank error ~1/accuracy of
    the exact answer."""
    from dynamic_etl_spark.ops import agg as A

    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    row = df.agg(
        A.pct_exact("v", 0.5, "m"),
        A.pct_exact("v", 0.9, "p90"),
        F.percentile_approx("v", 0.5, 10_000).alias("am"),
        F.percentile_approx("v", 0.9, 10_000).alias("ap90"),
    ).collect()[0]
    assert row["m"] == 50.0 and row["p90"] == 90.0
    assert abs(row["am"] - 50.0) <= 1.0
    assert abs(row["ap90"] - 90.0) <= 1.0
    # 4 values: p50 interpolates halfway between the 2nd and 3rd
    df2 = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (10.0,)], "v double")
    assert df2.agg(A.pct_exact("v", 0.5, "m")).collect()[0]["m"] == 2.5


def test_scd2_merge_hand_example(spark):
    """All five SCD-2 operations on a 4-key fixture: history pass-through,
    keep (unchanged + missing-from-feed), close+revise on change, insert
    for a new key; new surrogates continue above the global high-water
    mark in natural-key order."""
    from dynamic_etl_spark.ops.merge import scd2_merge

    existing = spark.createDataFrame(
        [
            # closed-out history for key 1 (sk 90 is also the hwm)
            (90, 1, "alice", 10.0, "2015-01-01 00:00:00", "2020-01-01 00:00:00", "N"),
            (1, 1, "alice", 20.0, "2020-01-01 00:00:00", "2100-01-01 00:00:00", "Y"),
            (2, 2, "bob", 30.0, "2020-01-01 00:00:00", "2100-01-01 00:00:00", "Y"),
            (3, 3, "carol", 40.0, "2020-01-01 00:00:00", "2100-01-01 00:00:00", "Y"),
        ],
        "sk long, k long, name string, bal double, "
        "valid_from string, valid_to string, is_current string",
    ).withColumns(
        {
            "valid_from": F.col("valid_from").cast("timestamp_ntz"),
            "valid_to": F.col("valid_to").cast("timestamp_ntz"),
        }
    )
    incoming = spark.createDataFrame(
        [
            (1, "alice", 20.005),   # within tolerance -> KEEP
            (2, "bob", 31.0),       # beyond tolerance -> CLOSE + REVISE
            (9, "zoe", 5.0),        # new key -> INSERT
            # key 3 missing -> KEEP (no delete detection)
        ],
        "k long, name string, bal double",
    )
    out = scd2_merge(
        existing,
        incoming,
        natural_key=["k"],
        surrogate_col="sk",
        effective_date="2024-06-01 00:00:00",
        exact_cols=["name"],
        tolerance_cols=["bal"],
    )
    rows = {(r["sk"], r["operation"]): r for r in out.collect()}
    assert len(rows) == 6
    assert (90, "HISTORY") in rows
    assert (1, "KEEP") in rows and rows[(1, "KEEP")]["bal"] == 20.0
    assert (3, "KEEP") in rows
    closed = rows[(2, "CLOSE")]
    assert closed["is_current"] == "N"
    assert str(closed["valid_to"]).startswith("2024-06-01")
    # inserts numbered hwm(90)+1.. in key order: key 2 revision, then key 9
    revised = rows[(91, "REVISE")]
    assert revised["k"] == 2 and revised["bal"] == 31.0
    assert revised["is_current"] == "Y"
    assert str(revised["valid_from"]).startswith("2024-06-01")
    inserted = rows[(92, "INSERT")]
    assert inserted["k"] == 9 and inserted["name"] == "zoe"


def test_approx_distinct_within_rsd_of_exact(spark):
    """The HLL++ profile must land within ~3x the configured rsd (0.01) of
    the exact distinct counts — the bound that justifies replacing exact
    COUNT(DISTINCT) at 100 TB."""
    from dynamic_etl_spark.registry import all_queries
    from tests.conftest import SF_MEDIUM

    reg = all_queries()
    approx = reg["approx_distinct_profile"].fn(spark, SF_MEDIUM).collect()[0]
    from dynamic_etl_spark.catalog import load_table

    li = load_table(spark, SF_MEDIUM, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    ).collect()[0]
    for col in ("n_orders", "n_parts", "n_suppliers"):
        rel_err = abs(approx[col] - exact[col]) / exact[col]
        assert rel_err <= 0.03, f"{col}: {approx[col]} vs {exact[col]} ({rel_err:.3%})"


def test_fuzzy_blocked_match_resolves_typos(spark):
    from dynamic_etl_spark.ops.joins import fuzzy_blocked_match

    dim = spark.createDataFrame(
        [("Brand#11",), ("Brand#25",), ("Other#11",)], "name string"
    )
    dirty = spark.createDataFrame(
        [("Brnd#11",), ("Prand#25",), ("Brand#11",), ("Zzzzz#99",)], "raw string"
    )
    out = {
        r["raw"]: (r["match_value"], r["match_distance"])
        for r in fuzzy_blocked_match(
            dirty, dim, dirty_col="raw", dim_col="name",
            block=lambda c: F.substring(c, -2, 2),
        ).collect()
    }
    assert out["Brnd#11"] == ("Brand#11", 1)
    assert out["Prand#25"] == ("Brand#25", 1)
    assert out["Brand#11"] == ("Brand#11", 0)
    assert "Zzzzz#99" not in out  # no in-block candidate within distance


def test_key_skew_profile_ties_and_nulls(spark):
    """top_key is deterministic under max ties (lexicographic min of the
    string form) and a null key counts as a key, like a shuffle treats it."""
    from dynamic_etl_spark.ops.agg import key_skew_profile

    rows = [(k,) for k in [10, 10, 10, 9, 9, 9, 2, None]]
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_profile(df, "k").collect()[0]
    assert out["n_rows"] == 8
    assert out["n_keys"] == 4  # 10, 9, 2, null
    assert out["max_rows_per_key"] == 3
    assert out["min_rows_per_key"] == 1
    # 10 and 9 tie at 3 rows; "10" < "9" lexicographically
    assert out["top_key"] == "10"
    assert out["avg_rows_per_key"] == 2.0
    assert out["skew_ratio"] == 1.5


def test_key_skew_profile_null_group_never_wins_top_key(spark):
    """When the null-key group TIES for the max, top_key is the smallest
    non-null key (SQL MIN skips nulls); when the null group holds the max
    ALONE, top_key is NULL — exactly what the oracle's MIN-over-varchar of
    max-attaining keys yields (review r4 finding)."""
    from dynamic_etl_spark.ops.agg import key_skew_profile

    rows = [(k,) for k in [None, None, None, 7, 7, 7, 3]]
    out = key_skew_profile(spark.createDataFrame(rows, "k long"), "k").collect()[0]
    assert out["n_keys"] == 3
    assert out["max_rows_per_key"] == 3
    assert out["top_key"] == "7"

    rows = [(k,) for k in [None, None, None, None, 7, 7, 7, 3]]
    out = key_skew_profile(spark.createDataFrame(rows, "k long"), "k").collect()[0]
    assert out["max_rows_per_key"] == 4
    assert out["top_key"] is None


def test_distinct_sketch_state_merge_tolerance(spark):
    """Maintained HLL distinct state: slice-and-merge estimates land
    within the sketch's error bound of the exact distinct counts."""
    from dynamic_etl_spark.catalog import load_table
    from dynamic_etl_spark.ops.agg import (
        build_distinct_sketch_state,
        finalize_distinct_sketch_state,
        merge_distinct_sketch_state,
    )

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    half1 = ev.filter(F.col("user_id") % 2 == 0)
    half2 = ev.filter(F.col("user_id") % 2 == 1)
    merged = merge_distinct_sketch_state(
        build_distinct_sketch_state(half1, ["event_type"], "user_id"),
        build_distinct_sketch_state(half2, ["event_type"], "user_id"),
    )
    est = {
        r["event_type"]: r["approx_distinct"]
        for r in finalize_distinct_sketch_state(merged).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)


def test_url_extract_domain_and_scrub_hand_examples(spark):
    """URL gate ground truth: domain resolution strips scheme + www and
    lowercases; the generated scrub regex removes blocked URLs only when
    they stand as URLs (scheme/www-prefixed), leaves benign URLs and
    lookalike hosts (notads..., subdomains) alone — consistent with the
    exact-match counting side, which skips those too."""
    from dynamic_etl_spark.ops.text import (
        extract_urls,
        scrub_blocked_urls,
        url_domain,
    )

    blocklist = ("ads.tracker.example", "spam-mart.example")
    rows = [
        (1, "x http://Ads.Tracker.example/p?q=1 y https://good.site.org/a z"),
        (2, "bare www.spam-mart.example/deal here"),
        (3, "prefixed http://notads.tracker.example/p stays"),
        (4, "sub http://evil.ads.tracker.example/p stays"),
        (5, "double http://www.ads.tracker.example/p goes"),
        (6, "no urls at all"),
        # ADVICE r8: hosts that merely START with a blocked domain must
        # neither count nor scrub — suffix lookalike and explicit port
        (7, "suffix http://ads.tracker.example.evil.com/p stays"),
        (8, "port http://ads.tracker.example:8080/p stays"),
        # blocked URL at end-of-text exercises the (?:\s|$) terminator
        (9, "trailing http://ads.tracker.example/x"),
        # bare double-www does NOT count (url_domain strips one www.)
        # so it must not scrub either
        (10, "deep www.www.ads.tracker.example/p stays"),
        # ADVICE r9 documented corner: leading non-whitespace
        # punctuation — counted (URL_PATTERN matches from the scheme)
        # but NOT scrubbed (leading boundary is ^|\s only; see
        # blocked_url_pattern's docstring for why widening is wrong)
        (11, "paren (http://ads.tracker.example/x counted-not-scrubbed"),
        # the counterexample that rejects the widened boundary: the
        # greedy [^\s]+ tail merges the chain into ONE counted URL
        # with host good.site (not blocked) — a ','-admitting scrub
        # class would scrub text the counts say is clean
        (12, "chain http://good.site/x,http://ads.tracker.example/y kept"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    doms = {
        r["id"]: sorted(r["d"])
        for r in df.select(
            "id",
            F.transform(extract_urls(F.col("text")), url_domain).alias("d"),
        ).collect()
    }
    assert doms[1] == ["ads.tracker.example", "good.site.org"]
    assert doms[2] == ["spam-mart.example"]
    assert doms[3] == ["notads.tracker.example"]
    assert doms[4] == ["evil.ads.tracker.example"]
    assert doms[5] == ["ads.tracker.example"]
    assert doms[6] == []
    assert doms[7] == ["ads.tracker.example.evil.com"]  # suffix lookalike
    assert doms[8] == ["ads.tracker.example:8080"]  # port stays in host
    assert doms[9] == ["ads.tracker.example"]
    assert doms[10] == ["www.ads.tracker.example"]  # one www. stripped
    assert doms[11] == ["ads.tracker.example"]  # counted despite '(' glue
    assert doms[12] == ["good.site"]  # greedy tail: ONE url, not blocked
    cleaned = {
        r["id"]: r["c"]
        for r in df.select(
            "id", scrub_blocked_urls(F.col("text"), blocklist).alias("c")
        ).collect()
    }
    assert cleaned[1] == "x y https://good.site.org/a z"
    assert cleaned[2] == "bare here"
    assert cleaned[3] == rows[2][1]  # lookalike host untouched
    assert cleaned[4] == rows[3][1]  # subdomain untouched (exact-match list)
    assert cleaned[5] == "double goes"
    assert cleaned[6] == rows[5][1]
    assert cleaned[7] == rows[6][1]  # suffix lookalike untouched
    assert cleaned[8] == rows[7][1]  # ported host untouched
    assert cleaned[9] == "trailing"  # end-of-text URL scrubbed
    assert cleaned[10] == rows[9][1]  # bare double-www untouched
    assert cleaned[11] == rows[10][1]  # documented corner: left in place
    assert cleaned[12] == rows[11][1]  # chain untouched (host=good.site)


def test_hll_md5_state_accuracy_merge_and_idempotence(spark, monkeypatch):
    """The md5-register HLL (the oracle-checkable variant): (a) in the
    raw-estimate regime (n >> 2.5m) the uncorrected estimate lands
    within ~3x the theoretical standard error of exact; (b) the MAX
    merge tree equals the one-shot build register-for-register (the
    lossless-maintenance claim the oracle proves cross-engine); (c)
    re-merging a duplicate slice changes nothing (idempotence — the
    property addition-based sketches like CM do NOT have)."""
    from dynamic_etl_spark.ops.agg import (
        build_hll_md5_state,
        finalize_hll_md5_state,
        merge_hll_md5_state,
    )

    n, p = 60_000, 8  # m=256 -> n/m ~ 234, deep in the raw regime
    monkeypatch.setattr(agg, "HLL_P", p)
    df = spark.range(n).select(F.col("id").alias("v"))
    one_shot = build_hll_md5_state(df, [], "v")
    est = finalize_hll_md5_state(one_shot).collect()[0]["raw_estimate"]
    se = 1.04 / (1 << (p // 2))  # ~6.5% at m=256
    assert abs(est - n) <= 3 * se * n, est

    halves = [df.filter(F.col("v") % 2 == i) for i in (0, 1)]
    states = [build_hll_md5_state(h, [], "v") for h in halves]
    merged = merge_hll_md5_state(states[0], states[1])
    regs = lambda s: {(r["bucket"], r["max_rho"]) for r in s.collect()}
    assert regs(merged) == regs(one_shot)
    assert regs(merge_hll_md5_state(merged, states[0])) == regs(one_shot)


def test_hll_md5_precision_rides_in_the_state(spark, monkeypatch):
    """ADVICE r8: a state finalized (or merged) at a different HLL_P than
    it was built with (one persisted before HLL_P changed) must refuse loudly, not mis-pad the empty buckets
    into a plausible-looking estimate. The precision column also keeps
    mixed-p registers apart in merge so finalize catches the mix."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from dynamic_etl_spark.ops.agg import (
        build_hll_md5_state,
        finalize_hll_md5_state,
        merge_hll_md5_state,
    )

    df = spark.range(1000).select(F.col("id").alias("v"))
    monkeypatch.setattr(agg, "HLL_P", 8)
    s8 = build_hll_md5_state(df, [], "v")
    assert "hll_p" in s8.columns
    # wrong finalize precision -> evaluation-time raise_error
    monkeypatch.setattr(agg, "HLL_P", 10)
    with _pytest.raises((PySparkException, Py4JJavaError)) as exc:
        finalize_hll_md5_state(s8).collect()
    assert "finalize_hll_md5_state" in str(exc.value)
    # mixed-p merge: registers stay apart, finalize refuses the mix
    s10 = build_hll_md5_state(df, [], "v")
    mixed = merge_hll_md5_state(s8, s10)
    with _pytest.raises((PySparkException, Py4JJavaError)):
        finalize_hll_md5_state(mixed).collect()
    # a pre-contract state (no hll_p column) is refused at plan time
    monkeypatch.setattr(agg, "HLL_P", 8)
    legacy = s8.drop("hll_p")
    with _pytest.raises(ValueError, match="hll_p"):
        finalize_hll_md5_state(legacy)
    with _pytest.raises(ValueError, match="hll_p"):
        merge_hll_md5_state(legacy, s8)
    # the happy path is unchanged by the guard
    est = finalize_hll_md5_state(s8).collect()[0]["raw_estimate"]
    assert abs(est - 1000) <= 0.3 * 1000


def test_resample_linear_hand_example(spark):
    """Grid on an observation takes the exact value; interior points
    interpolate; leading-edge points (before the first obs) are null;
    equal-ts observations resolve by the tiebreak (last one carries)."""
    from dynamic_etl_spark.ops.timeseries import resample_linear

    rows = [
        (1, "2024-01-01 00:30:00", 10.0, 1),
        (1, "2024-01-01 02:00:00", 40.0, 2),   # exact grid hit
        (1, "2024-01-01 02:00:00", 44.0, 3),   # tie: higher id wins carry
        (1, "2024-01-01 03:30:00", 80.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "k int, ts string, v double, id int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        str(r["grid_ts"]): r["v"]
        for r in resample_linear(df, ["k"], "ts", "v", tiebreak_col="id").collect()
    }
    # grid: 01:00, 02:00, 03:00 (span 00:30..03:30)
    assert out["2024-01-01 01:00:00"] == 10.0 + (40.0 - 10.0) * (30 / 90)
    assert out["2024-01-01 02:00:00"] == 44.0  # exact hit, tiebreak carries id=3
    assert out["2024-01-01 03:00:00"] == 44.0 + (80.0 - 44.0) * (60 / 90)

    # leading edge: first obs at 00:30 means a 00:00 grid point would be
    # null — shift the span to force one
    rows2 = [(1, "2024-01-01 00:30:00", 10.0, 1), (1, "2024-01-01 01:30:00", 20.0, 2)]
    df2 = spark.createDataFrame(
        rows2, "k int, ts string, v double, id int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out2 = resample_linear(df2, ["k"], "ts", "v", tiebreak_col="id").collect()
    assert len(out2) == 1 and out2[0]["v"] == 10.0 + 10.0 * (30 / 60)


def test_chunk_documents_edges(spark, monkeypatch):
    from dynamic_etl_spark.ops import text
    from dynamic_etl_spark.ops.text import chunk_documents

    monkeypatch.setattr(text, "CHUNK_TOKENS", 3)
    monkeypatch.setattr(text, "CHUNK_STRIDE", 2)
    rows = [
        (1, "a b c d e f g"),  # 7 tokens
        (2, "x y"),            # shorter than one chunk
        (3, "   "),            # zero tokens -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text")
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"]) for r in out.collect()}
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(1, 1)] == ("c d e", 3)
    assert got[(1, 2)] == ("e f g", 3)
    assert got[(1, 3)] == ("g", 1)  # short tail kept
    assert got[(2, 0)] == ("x y", 2)
    assert all(k[0] != 3 for k in got)


def test_strip_markup_escaped_entities_not_double_decoded(spark):
    """'&amp;lt;' is the VISIBLE text '&lt;' — decoding &amp; first would
    double-decode it to '<' (review r4 finding); decoded '&lt;' must also
    not be re-stripped as a tag."""
    from dynamic_etl_spark.ops.text import strip_markup

    rows = [
        (1, "a &amp;lt;b&amp;gt; c"),
        (2, "x &lt;i&gt; y"),
        (3, "<p>t &amp; u &#169; v</p>"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r["c"] for r in df.select("id", strip_markup(F.col("text")).alias("c")).collect()}
    assert got[1] == "a &lt;b&gt; c"
    assert got[2] == "x <i> y"
    assert got[3] == "t & u v"


def test_encoding_repair_ground_truth_and_idempotence(spark):
    """The repair chain must (a) invert the cp1252 mis-decode it models:
    for every pair-table char, repair(mojibake(x)) == normalized(x) —
    checked against Python's encode/decode as independent ground truth,
    not the table itself; (b) be idempotent: repair(repair(x)) ==
    repair(x) for artifact-dense text (no repaired output re-matches an
    artifact); (c) leave clean ASCII untouched."""
    from dynamic_etl_spark.ops.text import (
        _SMART_PUNCT,
        _mojibake,
        repair_encoding,
    )

    dirty = (
        "caf" + _mojibake("é") + " says " + _mojibake("“") + "h"
        + _mojibake("’") + "s" + _mojibake("…") + " – tail" + chr(0xA0) + "x"
    )
    rows = [
        (1, dirty),
        (2, "plain ascii, untouched."),
        # ground truth per accent char, independent of the pair table:
        # the artifact is re-derived here via encode/decode
        *[(10 + i, _mojibake(ch)) for i, ch in enumerate("éèäöüñçáóúà")],
        *[
            (30 + i, _mojibake(ch))
            for i, ch in enumerate(k for k in _SMART_PUNCT if k != "”")
        ],
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    once = {
        r["id"]: r["r"]
        for r in df.select("id", repair_encoding(F.col("text")).alias("r")).collect()
    }
    assert once[1] == 'café says "h\'s... - tail x'
    assert once[2] == "plain ascii, untouched."
    for i, ch in enumerate("éèäöüñçáóúà"):
        assert once[10 + i] == ch, (ch, once[10 + i])
    for i, ch in enumerate(k for k in _SMART_PUNCT if k != "”"):
        assert once[30 + i] == _SMART_PUNCT[ch], (ch, once[30 + i])
    # idempotence: a second pass changes nothing
    twice = {
        r["id"]: r["r2"]
        for r in df.select(
            "id", repair_encoding(repair_encoding(F.col("text"))).alias("r2")
        ).collect()
    }
    assert twice == once


def test_resample_linear_span_without_grid_point_and_null_values(spark):
    """(review r4) A key whose span contains no grid point yields zero
    rows (not a sequence-bounds crash), and null-valued observations are
    ignored entirely — they neither anchor exact hits nor interpolate."""
    from dynamic_etl_spark.ops.timeseries import resample_linear

    rows = [
        (1, "2024-01-01 00:10:00", 5.0, 1),
        (1, "2024-01-01 00:20:00", 7.0, 2),  # span 10..20 min: no hour mark
        (2, "2024-01-01 00:30:00", 10.0, 3),
        (2, "2024-01-01 01:00:00", None, 4),  # null obs at the grid point
        (2, "2024-01-01 01:30:00", 30.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "k int, ts string, v double, id int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = resample_linear(df, ["k"], "ts", "v", tiebreak_col="id").collect()
    got = {(r["k"], str(r["grid_ts"])): r["v"] for r in out}
    assert all(k != 1 for k, _ in got)  # key 1: no grid point, no crash
    # key 2's 01:00 point interpolates across the null obs: 10 -> 30
    assert got[(2, "2024-01-01 01:00:00")] == 10.0 + 20.0 * (30 / 60)
    assert len(got) == 1


def test_heavy_hitter_state_guarantees(spark, monkeypatch):
    """Misra-Gries mergeable summaries (ops/agg): counters never
    overestimate, every item with true count > N/(k+1) survives any
    merge tree, and the summary never exceeds k rows per key."""
    from collections import Counter

    from dynamic_etl_spark.ops.agg import (
        build_heavy_hitter_state,
        finalize_heavy_hitter_state,
        merge_heavy_hitter_state,
    )

    # skewed stream: item 0 dominates, 1 and 2 frequent, long uniform tail
    rows = []
    for i in range(600):
        g = "a" if i % 2 == 0 else "b"
        if i % 3 == 0:
            item = 0
        elif i % 5 == 0:
            item = 1
        elif i % 7 == 0:
            item = 2
        else:
            item = 100 + (i % 37)
        rows.append((g, item, i))
    df = spark.createDataFrame(rows, "grp string, item long, seq long")
    k = 4
    monkeypatch.setattr(agg, "MG_K", k)

    truth = {g: Counter() for g in ("a", "b")}
    for g, item, _ in rows:
        truth[g][item] += 1

    # three arbitrary slices -> build + fold (the maintenance shape)
    parts = [
        df.filter(F.col("seq") % 3 == r).select("grp", "item") for r in range(3)
    ]
    states = [build_heavy_hitter_state(p, ["grp"], "item") for p in parts]
    merged = merge_heavy_hitter_state(
        merge_heavy_hitter_state(states[0], states[1]), states[2]
    )
    out = finalize_heavy_hitter_state(merged).collect()

    per_key = Counter(r["grp"] for r in out)
    assert all(c <= k for c in per_key.values())
    for r in out:
        assert r["count_lower_bound"] <= truth[r["grp"]][r["item"]]
    for g, cnt in truth.items():
        n = sum(cnt.values())
        got_items = {r["item"] for r in out if r["grp"] == g}
        for item, c in cnt.items():
            if c > n / (k + 1):
                assert item in got_items, (g, item, c, n)

    # one-shot build == fold of slices is NOT required by MG (summaries
    # lose different information), but both must satisfy the guarantee;
    # the registry oracle separately pins the fold bit-for-bit.
    one_shot = finalize_heavy_hitter_state(
        build_heavy_hitter_state(df, ["grp"], "item")
    ).collect()
    for r in one_shot:
        assert r["count_lower_bound"] <= truth[r["grp"]][r["item"]]


def test_reservoir_state_merge_invariant(spark, monkeypatch):
    """Per-key uniform reservoir: any slicing folds to the SAME sample as
    the one-shot build (bottom-n of a deterministic priority), and the
    summary never exceeds n rows per key."""
    from collections import Counter

    from dynamic_etl_spark.ops import sample
    from dynamic_etl_spark.ops.sample import (
        build_reservoir_state,
        finalize_reservoir_state,
        merge_reservoir_state,
    )

    df = spark.range(500).select(
        (F.col("id") % 3).cast("string").alias("grp"), F.col("id").alias("rid")
    )
    n = 7
    monkeypatch.setattr(sample, "RESERVOIR_N", n)
    one_shot = finalize_reservoir_state(build_reservoir_state(df, ["grp"], "rid"))
    # two different slicings, both folded pairwise
    for mod, parts in ((2, 2), (5, 5)):
        states = [
            build_reservoir_state(df.filter(F.col("rid") % mod == r), ["grp"], "rid")
            for r in range(parts)
        ]
        acc = states[0]
        for s in states[1:]:
            acc = merge_reservoir_state(acc, s)
        folded = finalize_reservoir_state(acc)
        a = {(r["grp"], r["item"]) for r in folded.collect()}
        b = {(r["grp"], r["item"]) for r in one_shot.collect()}
        assert a == b
    per_key = Counter(r["grp"] for r in one_shot.collect())
    assert all(c == n for c in per_key.values())


def test_zorder_key_matches_python_interleave(spark):
    """Morton key == the textbook bit interleave, and sorting by it
    yields the quadrant order (0,0),(1,0),(0,1),(1,1) on a 2x2 grid."""
    from dynamic_etl_spark.ops.layout import zorder_key

    def ref_z(xs, bits=8):
        out = 0
        for b in range(bits):
            for i, v in enumerate(xs):
                out |= ((v >> b) & 1) << (b * len(xs) + i)
        return out

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")]).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == ref_z([x, y]), (x, y)
    quad = sorted([(0, 0), (1, 0), (0, 1), (1, 1)], key=lambda p: got[p])
    assert quad == [(0, 0), (1, 0), (0, 1), (1, 1)]


def test_normalize_to_grid_bounds_and_clamp(spark, monkeypatch):
    from dynamic_etl_spark.ops import layout
    from dynamic_etl_spark.ops.layout import normalize_to_grid

    monkeypatch.setattr(layout, "ZORDER_BITS", 8)
    df = spark.createDataFrame([(-5,), (0,), (50,), (100,), (140,)], "v long")
    got = [
        r["g"]
        for r in df.select(
            normalize_to_grid(F.col("v"), 100).alias("g")
        ).collect()
    ]
    assert got[0] == 0 and got[1] == 0          # clamped low edge
    assert got[3] == 255 and got[4] == 255      # clamped high edge
    assert got[2] == (50 * 255) // 100          # exact integer quotient


def test_quantile_hist_state_error_bound_and_merge(spark, monkeypatch):
    """Histogram-quantile state: any slicing folds to the identical
    merged histogram (integer sums), and every estimate sits within one
    bin width of the exact interpolated percentile."""
    from dynamic_etl_spark.ops.agg import (
        build_quantile_hist_state,
        finalize_quantile_hist_state,
        merge_quantile_hist_state,
        pct_exact,
    )

    lo, hi, nb = 0.0, 100.0, 50
    monkeypatch.setattr(agg, "QUANTILES", (0.5, 0.9))
    width = (hi - lo) / nb
    df = spark.range(2000).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        # deterministic skewed values in [0, 100), plus out-of-range rows
        F.when(F.col("id") % 97 == 0, F.lit(250.0))
        .otherwise((F.pow(F.col("id") % 100, 2) / 99.0))
        .alias("value"),
    )
    one_shot = build_quantile_hist_state(df, ["grp"], "value", lo, hi, nb)
    parts = [
        build_quantile_hist_state(
            df.filter(F.col("id") % 3 == r), ["grp"], "value", lo, hi, nb
        )
        for r in range(3)
    ]
    folded = merge_quantile_hist_state(
        merge_quantile_hist_state(parts[0], parts[1]), parts[2]
    )
    a = {(r["grp"], r["state_bin"]): r["state_n"] for r in folded.collect()}
    b = {(r["grp"], r["state_bin"]): r["state_n"] for r in one_shot.collect()}
    assert a == b  # histograms merge losslessly

    got = {
        (r["grp"], r["q"]): r["quantile_est"]
        for r in finalize_quantile_hist_state(folded, lo, hi, nb).collect()
    }
    exact = {
        (r["grp"], q): r[f"p{int(q*100)}"]
        for r in df.groupBy("grp")
        .agg(
            pct_exact("value", 0.5, "p50"), pct_exact("value", 0.9, "p90")
        )
        .collect()
        for q in (0.5, 0.9)
    }
    for k, est in got.items():
        assert abs(est - exact[k]) <= width, (k, est, exact[k])


def test_count_min_merge_equals_oneshot_and_overestimates(spark, monkeypatch):
    """CM state is an exact monoid: any slice split folds to the
    one-shot sketch bit-for-bit, and every item's estimate is >= its
    true count (the CM guarantee — an underestimate anywhere means a
    broken bucket hash or a dropped counter)."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate, merge_cm_state

    monkeypatch.setattr(agg, "CM_WIDTH", 16)
    items = spark.range(3000).select((F.col("id") % 97).alias("item"))
    oneshot = build_cm_state(items, [], "item")
    parts = [
        build_cm_state(items.filter(F.col("item") % 3 == r), [], "item")
        for r in range(3)
    ]
    merged = merge_cm_state(merge_cm_state(parts[0], parts[1]), parts[2])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, oneshot.collect())
    )

    probes = items.select("item").distinct()
    est = {
        r["item"]: r["cm_estimate"]
        for r in cm_estimate(merged, probes, "item").collect()
    }
    exact = {
        r["item"]: r["n"]
        for r in items.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    assert all(est[i] >= exact[i] for i in exact), "CM underestimated"
    # width 16 << 97 items: collisions must actually occur for the
    # property to be non-vacuous
    assert any(est[i] > exact[i] for i in exact)


def test_count_min_keyed_estimate_and_unseen_probe(spark, monkeypatch):
    """Keyed state holds one grid per key group: each (key, item)
    answers from ITS grid (cross-group counts never pool), a keyed
    probe missing the key columns is refused, and an unseen probe
    answers 0 rather than NULL or a dropped row."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate

    rows = spark.range(600).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 7).alias("item")
    )
    monkeypatch.setattr(agg, "CM_WIDTH", 64)
    keyed = build_cm_state(rows, ["g"], "item")
    with pytest.raises(ValueError, match="needs probe columns"):
        cm_estimate(keyed, rows.select("item").distinct(), "item")

    probes = rows.select("g", "item").distinct()
    est = {
        (r["g"], r["item"]): r["cm_estimate"]
        for r in cm_estimate(keyed, probes, "item").collect()
    }
    exact = {
        (r["g"], r["item"]): r["n"]
        for r in rows.groupBy("g", "item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    # width 64 >> 7 items per group: no collisions, so per-group
    # estimates are EXACT — pooled cross-group grids would inflate them
    assert est == exact

    # an unseen probe whose buckets hold no counters answers 0, not NULL
    # and not a dropped row (width 256 >> 7 items: some bucket is empty)
    monkeypatch.setattr(agg, "CM_WIDTH", 256)
    state = build_cm_state(rows, [], "item")
    unseen = spark.range(1).select(F.lit(999983).alias("item"))
    out = cm_estimate(state, unseen, "item").collect()
    assert len(out) == 1 and out[0]["cm_estimate"] >= 0


def test_count_min_estimate_refuses_mixed_width_merge(spark, monkeypatch):
    """Grids hashed at different widths must never answer probes as one
    sketch — the mismatch would read wrong buckets and can UNDERestimate
    (the failure CM promises away). merge keeps the grids apart by
    state_width; estimate refuses the combined state loudly."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate, merge_cm_state

    items = spark.range(200).select((F.col("id") % 13).alias("item"))
    monkeypatch.setattr(agg, "CM_WIDTH", 16)
    narrow = build_cm_state(items, [], "item")
    monkeypatch.setattr(agg, "CM_WIDTH", 32)
    mixed = merge_cm_state(narrow, build_cm_state(items, [], "item"))
    with pytest.raises(ValueError, match="mixed-width"):
        cm_estimate(mixed, items.select("item").distinct(), "item")


def test_count_min_keyed_estimate_null_key_group(spark, monkeypatch):
    """groupBy keeps NULL key groups, so the keyed probe join must be
    null-safe — a null-unsafe join would answer 0 for a group the state
    DID count, an underestimate."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate

    rows = spark.createDataFrame(
        [(None, 1)] * 10 + [("a", 1)] * 3, "g string, item long"
    )
    monkeypatch.setattr(agg, "CM_WIDTH", 64)
    state = build_cm_state(rows, ["g"], "item")
    probes = rows.select("g", "item").distinct()
    est = {
        (r["g"], r["item"]): r["cm_estimate"]
        for r in cm_estimate(state, probes, "item").collect()
    }
    assert est == {(None, 1): 10, ("a", 1): 3}


def test_count_min_mass_conservation_adversarial(spark, monkeypatch):
    """For ANY input multiset — constant streams, negatives, strings,
    near-Long.MAX values — every depth row of the grid holds exactly n
    total mass (the explode writes each item into every row once), and
    every probe estimate >= its exact count. A broken bucket hash or a
    dropped counter breaks one of the two."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate

    cases = [
        spark.range(500).select(F.lit(7).alias("item")),
        spark.range(300).select((-(F.col("id") % 11) - 1).alias("item")),
        spark.range(400).select(
            F.concat(F.lit("u"), (F.col("id") % 13).cast("string")).alias("item")
        ),
        spark.range(200).select(
            (F.lit(9_223_372_036_854_775_000) - (F.col("id") % 5)).alias("item")
        ),
    ]
    monkeypatch.setattr(agg, "CM_WIDTH", 8)
    for df in cases:
        n = df.count()
        state = build_cm_state(df, [], "item")
        per_depth = {
            r["state_depth"]: r["m"]
            for r in state.groupBy("state_depth")
            .agg(F.sum("state_cnt").alias("m"))
            .collect()
        }
        assert per_depth == {d: n for d in range(4)}, per_depth
        exact = {
            r["item"]: r["n"]
            for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        est = {
            r["item"]: r["cm_estimate"]
            for r in cm_estimate(state, df.distinct(), "item").collect()
        }
        assert all(est[i] >= exact[i] for i in exact)


def test_count_min_empty_state_raises_named_error(spark, monkeypatch):
    """cm_estimate over an EMPTY state (every slice filtered to zero
    rows) must name the real cause — collect_set over no rows is [],
    which used to fail the mixed-width check with a misleading
    'mixed-width state []' message (ADVICE r6)."""
    from dynamic_etl_spark.ops.agg import build_cm_state, cm_estimate

    items = spark.range(100).select((F.col("id") % 7).alias("item"))
    monkeypatch.setattr(agg, "CM_WIDTH", 16)
    empty_state = build_cm_state(items.filter(F.lit(False)), [], "item")
    probes = items.select("item").distinct()
    with pytest.raises(ValueError, match="empty state"):
        cm_estimate(empty_state, probes, "item")


def test_canonical_url_hand_examples(spark):
    """Canonical-URL ground truth: scheme/host case folding, www +
    default-port stripping, fragment drop, tracking-param removal,
    query sort, trailing-slash strip — and the non-cases (path case
    preserved, :8080 kept, ref-in-value kept, root slash kept)."""
    from dynamic_etl_spark.ops.text import canonical_url

    cases = [
        ("https://www.Site.Example/Products/7?utm_source=m&b=2&a=1",
         "https://site.example/Products/7?a=1&b=2"),
        ("HTTPS://site.example:443/Products/7/?a=1&b=2",
         "https://site.example/Products/7?a=1&b=2"),
        ("www.site.example/Products/7?b=2&a=1#frag",
         "https://site.example/Products/7?a=1&b=2"),
        ("http://site.example:80/x", "http://site.example/x"),
        # the default-port strip is scheme-paired (ADVICE r11 #1):
        # :443 on http / :80 on https are DIFFERENT fetch targets
        ("http://site.example:443/x", "http://site.example:443/x"),
        ("https://site.example:80/x", "https://site.example:80/x"),
        # protocol-relative authority parses as host, not path
        # (ADVICE r11 #2); scheme defaults to https
        ("//www.Site.example/P?b=2&a=1", "https://site.example/P?a=1&b=2"),
        # userinfo@ is dropped (to the LAST @) so the www/port folds
        # see the real host
        ("https://user:pw@www.Site.example:443/x", "https://site.example/x"),
        ("https://a@b@site.example/x", "https://site.example/x"),
        # non-default port survives; path case survives
        ("https://site.example:8080/CaseSensitive/Path",
         "https://site.example:8080/CaseSensitive/Path"),
        # bare host -> root path
        ("https://site.example", "https://site.example/"),
        # root slash is NOT stripped (the (.)/$ guard)
        ("https://site.example/", "https://site.example/"),
        # 'ref' only drops as a whole param name; prefix/value matches stay
        ("https://site.example/p?refresh=1&x=ref", 
         "https://site.example/p?refresh=1&x=ref"),
        ("https://site.example/p?ref=footer&gclid=1&fbclid=2",
         "https://site.example/p"),
        # empty params vanish; sorting is bytewise
        ("https://site.example/p?b=2&&a=10&a=2",
         "https://site.example/p?a=10&a=2&b=2"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, u string")
    from pyspark.sql import functions as F
    got = {r.i: r.c for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)
