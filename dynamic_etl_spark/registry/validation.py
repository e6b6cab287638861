"""Validator queries (SURVEY.md §2.10 V1-V9).

One dirty feed derived deterministically from orders runs through the full
DataFrameValidator; the report (check, column, status, observed, threshold)
is hash-compared against a DuckDB twin that recomputes every gate with
plain SQL. Mixed PASS/FAIL statuses prove both branches of each gate.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.registry.core import Query, QueryRegistry, t
from dynamic_etl_spark.validate import CrossColumnRule, ValidationSpec, validate


def _dirty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(14,2)").cast("string")
    return orders.select(
        # duplicate PK group: every k%1000==7 collapses onto key 1
        F.when(k % 1000 == 7, F.lit(1)).otherwise(k).alias("order_key"),
        F.when(k % 17 == 0, F.lit(None)).otherwise(F.col("o_custkey")).alias("cust_key"),
        F.when(k % 13 == 0, F.lit("abc"))
        .when(k % 13 == 1, F.concat(F.lit("Rs. "), dec))
        .when(k % 13 == 2, F.concat(F.lit("₹"), dec))
        .otherwise(dec)
        .alias("price_str"),
        F.when(k % 11 == 0, F.lit("X"))
        .when(k % 11 == 1, F.lit(None))
        .when(k % 2 == 0, F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("status_flag"),
        # conditional-domain pair (reference oracledb.sql:11-20): chains
        # must carry a chain_name, independents must not. Planted
        # violations: k%7==0 is a chain WITHOUT a name, k%7==3 an
        # independent WITH one.
        F.when(k % 7 < 3, F.lit("Y")).otherwise(F.lit("N")).alias("is_chain"),
        F.when(k % 7 == 0, F.lit(None))
        .when(k % 7 < 3, F.concat(F.lit("Chain-"), (k % 5).cast("string")))
        .when(k % 7 == 3, F.lit("Rogue"))
        .otherwise(F.lit(None))
        .alias("chain_name"),
        F.col("o_orderdate"),
    )


def validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = _dirty_orders(spark, sf_dir)
    # Freshness expectation = the corpus's own MAX date (the reference
    # compares against the DAG execution date; the high-water-mark keeps
    # this deterministic at every scale factor) — A3 feeding V7.
    fresh_val = t(spark, sf_dir, "orders").agg(F.max("o_orderdate")).collect()[0][0]
    spec = ValidationSpec(
        min_rows=1000,
        mandatory_columns=("order_key", "cust_key"),
        numeric_columns=("price_str",),
        flag_columns=("status_flag",),
        pk_column="order_key",
        freshness=("o_orderdate", F.lit(fresh_val)),
        cross_column=(
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
        ),
    )
    return validate(spark, feed, spec)


VALIDATION_ORACLE = """
WITH feed AS (
  SELECT CASE WHEN o_orderkey % 1000 = 7 THEN 1 ELSE o_orderkey END AS order_key,
         CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_custkey END AS cust_key,
         CASE WHEN o_orderkey % 13 = 0 THEN 'abc'
              WHEN o_orderkey % 13 = 1 THEN 'Rs. ' || CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)
              WHEN o_orderkey % 13 = 2 THEN '₹' || CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)
              ELSE CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) END AS price_str,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X'
              WHEN o_orderkey % 11 = 1 THEN NULL
              WHEN o_orderkey % 2 = 0 THEN 'Y' ELSE 'N' END AS status_flag,
         CASE WHEN o_orderkey % 7 < 3 THEN 'Y' ELSE 'N' END AS is_chain,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              WHEN o_orderkey % 7 < 3 THEN 'Chain-' || CAST(o_orderkey % 5 AS VARCHAR)
              WHEN o_orderkey % 7 = 3 THEN 'Rogue'
              ELSE NULL END AS chain_name,
         o_orderdate
  FROM orders
),
stats AS (
  SELECT COUNT(*) AS n,
         COUNT(CASE WHEN order_key IS NULL THEN 1 END) AS null_order_key,
         COUNT(CASE WHEN cust_key IS NULL THEN 1 END) AS null_cust_key,
         COUNT(CASE WHEN NOT (price_str IS NULL OR trim(price_str) = '')
                     AND try_cast(nullif(trim(replace(replace(replace(replace(replace(
                           trim(price_str), ',', ''), '₹', ''), '$', ''), 'Rs.', ''), 'Rs', '')), '')
                         AS DOUBLE) IS NULL THEN 1 END) AS bad_price,
         COUNT(CASE WHEN status_flag IS NULL
                     OR upper(trim(status_flag)) NOT IN ('Y', 'N') THEN 1 END) AS bad_flag,
         COUNT(CASE WHEN is_chain = 'Y' AND NOT COALESCE(chain_name IS NOT NULL, FALSE)
                    THEN 1 END) AS cc_required,
         COUNT(CASE WHEN is_chain = 'N' AND NOT COALESCE(chain_name IS NULL, FALSE)
                    THEN 1 END) AS cc_forbidden,
         COUNT(CASE WHEN o_orderdate = (SELECT MAX(o_orderdate) FROM orders) THEN 1 END)
           AS fresh
  FROM feed
),
dups AS (
  SELECT COALESCE(SUM(c), 0) AS dup_members
  FROM (SELECT COUNT(*) AS c FROM feed GROUP BY order_key HAVING COUNT(*) > 1)
)
SELECT 'min_rows' AS check_name, CAST(NULL AS VARCHAR) AS column_name,
       CASE WHEN n >= 1000 THEN 'PASS' ELSE 'FAIL' END AS status,
       n AS observed, CAST(1000 AS BIGINT) AS threshold FROM stats
UNION ALL SELECT 'mandatory_column', 'order_key', 'PASS', NULL, NULL
UNION ALL SELECT 'mandatory_nulls', 'order_key',
       CASE WHEN null_order_key = 0 THEN 'PASS' ELSE 'FAIL' END, null_order_key, 0 FROM stats
UNION ALL SELECT 'mandatory_column', 'cust_key', 'PASS', NULL, NULL
UNION ALL SELECT 'mandatory_nulls', 'cust_key',
       CASE WHEN null_cust_key = 0 THEN 'PASS' ELSE 'FAIL' END, null_cust_key, 0 FROM stats
UNION ALL SELECT 'numeric_parse', 'price_str',
       CASE WHEN bad_price = 0 THEN 'PASS' ELSE 'FAIL' END, bad_price, 0 FROM stats
UNION ALL SELECT 'flag_domain', 'status_flag',
       CASE WHEN bad_flag = 0 THEN 'PASS' ELSE 'FAIL' END, bad_flag, 0 FROM stats
UNION ALL SELECT 'cross_column', 'chain_name_required',
       CASE WHEN cc_required = 0 THEN 'PASS' ELSE 'FAIL' END, cc_required, 0 FROM stats
UNION ALL SELECT 'cross_column', 'chain_name_forbidden',
       CASE WHEN cc_forbidden = 0 THEN 'PASS' ELSE 'FAIL' END, cc_forbidden, 0 FROM stats
UNION ALL SELECT 'pk_unique', 'order_key',
       CASE WHEN dup_members = 0 THEN 'PASS' ELSE 'FAIL' END, dup_members, 0 FROM dups
UNION ALL SELECT 'freshness', 'o_orderdate',
       CASE WHEN fresh >= 1 THEN 'PASS' ELSE 'FAIL' END, fresh, 1 FROM stats
UNION ALL SELECT 'identifier_safe', 'order_key', 'PASS', NULL, NULL
UNION ALL SELECT 'identifier_safe', 'cust_key', 'PASS', NULL, NULL
UNION ALL SELECT 'identifier_safe', 'price_str', 'PASS', NULL, NULL
UNION ALL SELECT 'identifier_safe', 'status_flag', 'PASS', NULL, NULL
UNION ALL SELECT 'identifier_safe', 'is_chain', 'PASS', NULL, NULL
UNION ALL SELECT 'identifier_safe', 'chain_name', 'PASS', NULL, NULL
"""


# --------------------------------------------------------------------------
# IQR (Tukey-fence) outlier gate: per-group quartiles -> [q1-1.5·IQR,
# q3+1.5·IQR] bounds -> flag counts. Two-phase plan: the bounds table is
# group-cardinality-sized (broadcast back), the corpus scans once more to
# classify — the robust-statistics twin of the min/max numeric profile.
# Fence arithmetic is written identically on both sides so IEEE doubles
# agree; an event exactly ON a fence is inside it (strict < / >).
# --------------------------------------------------------------------------

def value_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("__q1"),
        F.percentile("value", F.lit(0.75)).alias("__q3"),
    )
    iqr = F.col("__q3") - F.col("__q1")
    b = q.select(
        "event_type",
        (F.col("__q1") - 1.5 * iqr).alias("__lo"),
        (F.col("__q3") + 1.5 * iqr).alias("__hi"),
    )
    out_flag = (F.col("value") < F.col("__lo")) | (F.col("value") > F.col("__hi"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(out_flag, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.min("__lo"), 6).alias("lo_bound"),
            F.round(F.min("__hi"), 6).alias("hi_bound"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n"), 6).alias("outlier_frac"),
            "lo_bound",
            "hi_bound",
        )
    )


OUTLIER_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
b AS (
  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT e.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS outlier_frac,
       round(min(lo), 6) AS lo_bound,
       round(min(hi), 6) AS hi_bound
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
"""


def value_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly gate — the breakdown-point-0.5 sibling
    of the IQR fence (value_outlier_gate): flag |x - median| >
    3 * 1.4826 * MAD (the normal-consistency constant). Two broadcast-
    back phases, both group-cardinality-sized: per-key median, then the
    median absolute deviation over the deviations, then one classify
    scan. All fence arithmetic is the identical IEEE chain on both
    engines (constant folding of 3.0*1.4826 agrees); a value exactly ON
    the fence is inside it (strict >)."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "__ad", F.abs(F.col("value") - F.col("__med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__ad", F.lit(0.5)).alias("__mad"),
        F.min("__med").alias("__med_carry"),
    )
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "__hit", F.col("__ad") > F.lit(3.0) * F.lit(1.4826) * F.col("__mad")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("long").alias("n_anomalies"),
            F.round(F.min("__med_carry"), 6).alias("median_value"),
            F.round(F.min("__mad"), 6).alias("mad_value"),
        )
        .select(
            "event_type",
            "n",
            "n_anomalies",
            F.round(F.col("n_anomalies") / F.col("n"), 6).alias("anomaly_frac"),
            "median_value",
            "mad_value",
        )
    )


MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad, min(med) AS med_carry
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       round(CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS anomaly_frac,
       round(min(m.med_carry), 6) AS median_value,
       round(min(m.mad), 6) AS mad_value
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics over events.user_id
    (ops/agg.key_skew_profile): the pre-flight number for choosing
    between plain hash partitioning, salting, and AQE skew-split."""
    from dynamic_etl_spark.ops.agg import key_skew_profile

    return key_skew_profile(t(spark, sf_dir, "events"), "user_id")


KEY_SKEW_ORACLE = """
WITH counts AS (
  SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
         MAX(c) AS max_rows_per_key, MIN(c) AS min_rows_per_key
  FROM counts
),
top AS (
  SELECT MIN(CAST(k AS VARCHAR)) AS top_key
  FROM counts WHERE c = (SELECT MAX(c) FROM counts)
)
SELECT n_rows, n_keys, max_rows_per_key, min_rows_per_key,
       CAST(n_rows AS DOUBLE) / n_keys AS avg_rows_per_key,
       CAST(max_rows_per_key * n_keys AS DOUBLE) / n_rows AS skew_ratio,
       top_key
FROM s, top
"""


def events_type_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-period distribution drift of event_type
    (ops/agg.category_drift_profile): base = first two weeks of January,
    current = the rest of the month. A synthetic shift makes the drift
    non-trivial: 'click' events in the current window with value < 1
    are relabeled 'tap' — a category absent from base (chi2 NULL)."""
    from dynamic_etl_spark.ops.agg import category_drift_profile

    ev = t(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    base = ev.filter(F.col("ts") < split)
    current = ev.filter(F.col("ts") >= split).withColumn(
        "event_type",
        F.when(
            (F.col("event_type") == "click") & (F.col("value") < 1.0), "tap"
        ).otherwise(F.col("event_type")),
    )
    return category_drift_profile(base, current, "event_type").orderBy("category")


DRIFT_ORACLE = """
WITH cur AS (
  SELECT CASE WHEN event_type = 'click' AND value < 1.0 THEN 'tap'
              ELSE event_type END AS event_type
  FROM events WHERE ts >= TIMESTAMP '2024-01-15'
),
a AS (
  SELECT event_type AS category, COUNT(*) AS n_base
  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY event_type
),
b AS (
  SELECT event_type AS category, COUNT(*) AS n_current FROM cur GROUP BY event_type
),
j AS (
  SELECT COALESCE(a.category, b.category) AS category,
         COALESCE(n_base, 0) AS n_base,
         COALESCE(n_current, 0) AS n_current
  FROM a FULL OUTER JOIN b ON a.category = b.category
),
w AS (
  SELECT category, n_base, n_current,
         CAST(SUM(n_base) OVER () AS BIGINT) AS tot_a,
         CAST(SUM(n_current) OVER () AS BIGINT) AS tot_b
  FROM j
)
SELECT category, n_base, n_current,
       CAST(n_base AS DOUBLE) / tot_a AS rate_base,
       CAST(n_current AS DOUBLE) / tot_b AS rate_current,
       CAST(n_current AS DOUBLE) / tot_b - CAST(n_base AS DOUBLE) / tot_a
         AS rate_delta,
       CASE WHEN n_base > 0 THEN round(
         (CAST(n_current AS DOUBLE) - CAST(n_base AS DOUBLE) / tot_a * CAST(tot_b AS DOUBLE))
         * (CAST(n_current AS DOUBLE) - CAST(n_base AS DOUBLE) / tot_a * CAST(tot_b AS DOUBLE))
         / (CAST(n_base AS DOUBLE) / tot_a * CAST(tot_b AS DOUBLE)), 10)
       END AS chi2_term
FROM w
ORDER BY category
"""


#: Fixed-grid bin width for the KS scale path: floor(value / width) is
#: one IEEE divide + floor, bit-identical on both engines (the QI-risk
#: balance-band precedent), and bounds the per-type sort frame at
#: (domain range / width) buckets regardless of row count or distinct
#: values. One shared constant drives BOTH engine twins.
KS_BIN_WIDTH = 5.0


def _ks_side_counts(events: DataFrame, key) -> DataFrame:
    """Per-(event_type, CDF step key) side counts for the two-sample KS
    fold: ca/cb = rows before/after the Jan-15 cut. ``key`` is the step
    expression — the raw double value (exact) or its fixed-grid bucket
    (binned scale path). Takes the events frame directly so stress tests
    can feed synthesized million-row corpora without a file hop."""
    # NaN is excluded with NULL: it has no place on a CDF, and the two
    # engines disagree on where a NaN bucket lands (Spark floor(NaN) is
    # long 0; DuckDB floor(NaN) is NaN, which least()/CAST route to the
    # TOP bucket or an error — r7 review, confirmed by execution). One
    # shared filter so every KS shape has the same row universe.
    v = F.col("value").cast("double")
    ev = events.filter(F.col("value").isNotNull() & ~F.isnan(v))
    split = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    # when/otherwise, NOT a bare boolean cast: a NULL ts must land in
    # the 'after' side on BOTH engines (the oracle's CASE does; a cast
    # of NULL < split would silently drop the row from both sums)
    side_a = F.when(F.col("ts") < split, 1).otherwise(0)
    return ev.groupBy("event_type", key.alias("v")).agg(
        F.sum(side_a).alias("ca"),
        F.sum(1 - side_a).alias("cb"),
    )


def _ks_fold(per_value: DataFrame, with_bins: bool) -> DataFrame:
    """Shared KS tail: cumulative CDF steps per type, the max |F_a - F_b|,
    and the one-sided guard — exact and binned differ ONLY in the step
    key their side counts grouped on, so the fold is single-sourced."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wk = Window.partitionBy("event_type")
    stepped = per_value.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wk).alias("na"),
        F.sum("cb").over(wk).alias("nb"),
    )
    # one-sided guard: a type present on only ONE side of the cut has
    # na or nb = 0, double/0 is NULL on both engines, and a NULL never
    # trips a gate — i.e. the maximal-drift case (a brand-new or
    # vanished event type) would be exactly the blind spot. Disjoint
    # supports have KS statistic 1.0 by definition; say so explicitly.
    d = F.when(
        (F.col("na") == 0) | (F.col("nb") == 0), F.lit(1.0)
    ).otherwise(
        F.abs(
            F.col("cum_a").cast("double") / F.col("na").cast("double")
            - F.col("cum_b").cast("double") / F.col("nb").cast("double")
        )
    )
    aggs = [
        F.max("na").alias("n_before"),
        F.max("nb").alias("n_after"),
        F.round(F.max(d), 6).alias("ks_statistic"),
    ]
    if with_bins:
        aggs.append(F.count(F.lit(1)).alias("n_bins"))
    return stepped.groupBy("event_type").agg(*aggs)


def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate per event type: the max
    |F_before(x) - F_after(x)| over the empirical CDFs of `value` on
    either side of the Jan-15 cut — the canonical NUMERIC-distribution
    drift statistic, complementing events_type_drift_profile's
    chi-square over categories. Everything is exact integer cumulatives
    with ONE double division per side per step, so the statistic is
    engine-identical (no libm, no binning choices to tune).

    Plan: one groupBy collapses to per-(type, value) side counts —
    windows then run over DISTINCT values only (the CDF steps nowhere
    else), so the keyed sort frame is distinct-value-bounded, not
    row-bounded. At a continuous 100 TB value domain that bound is the
    row count itself — call :func:`events_ks_drift_binned`, whose sort
    frame is grid-bounded; this exact form doubles as its oracle on
    validator-scale slices."""
    return _ks_fold(
        _ks_side_counts(t(spark, sf_dir, "events"), F.col("value").cast("double")),
        with_bins=False,
    ).orderBy("event_type")


def events_ks_drift_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-grid scale path of :func:`events_ks_drift` (VERDICT r6 #2):
    values collapse to ``floor(value / KS_BIN_WIDTH)`` buckets BEFORE the
    CDF windows, so the per-type sort frame holds at most (domain range /
    bin width) rows — independent of row count AND of distinct-value
    cardinality, the bound the exact form cannot give on a continuous
    100 TB domain. The statistic is the EXACT KS of the discretized
    distributions: it underestimates the continuous KS by at most the
    largest single-bin CDF mass (resolution = the grid), which is the
    knob a drift-gate operator tunes, and it can never false-positive.
    ``n_bins`` rides along so a gate can see its own resolution.

    Parity: the bucket is one IEEE divide + floor, bit-identical on both
    engines (the quasi_identifier_risk balance-band precedent), and the
    fold downstream of the grouping is single-sourced with the exact
    twin — the grid, not a second implementation, is the only
    difference. The exact form IS this query's oracle at validator
    scale: at bin width -> 0 the two coincide (pinned in
    tests/test_validate.py)."""
    bucket = F.floor(F.col("value").cast("double") / F.lit(KS_BIN_WIDTH)).cast("long")
    return _ks_fold(
        _ks_side_counts(t(spark, sf_dir, "events"), bucket),
        with_bins=True,
    ).orderBy("event_type")


#: Auto-grid bin count: the KS sort frame is capped at this many rows per
#: type, and the discretization error at ~1/KS_AUTOGRID_BINS of CDF mass.
KS_AUTOGRID_BINS = 64


def sql_ks_fold(with_bins: bool) -> str:
    """Shared SQL tail of the KS family (the DuckDB twin of
    :func:`_ks_fold`): given an upstream CTE ``per_value(event_type, v,
    ca, cb)``, build the cumulative CDF steps and the final max-|F_a-F_b|
    fold with the one-sided guard — single-sourced so the exact, fixed-
    grid, and autogrid oracles track one definition (r7 review: three
    hand-expanded copies had crept in)."""
    bins = ',\n       CAST(COUNT(*) AS BIGINT) AS n_bins' if with_bins else ""
    return f"""stepped AS (
  SELECT event_type,
         SUM(ca) OVER (PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM per_value
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_before,
       CAST(MAX(nb) AS BIGINT) AS n_after,
       round(MAX(CASE WHEN na = 0 OR nb = 0 THEN 1.0
                 ELSE abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
                          - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))
                 END), 6)
         AS ks_statistic{bins}
FROM stepped
GROUP BY event_type
ORDER BY event_type"""




def events_ks_drift_autogrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-adaptive twin of :func:`events_ks_drift_binned` for domains
    whose SCALE is unknown up front (where a fixed KS_BIN_WIDTH is a
    guess that can land at 1 bucket or a billion): per event type, one
    exact min/max aggregate fixes the observed range, and the grid is
    KS_AUTOGRID_BINS uniform buckets across it — the per-type sort frame
    is capped at exactly n_bins rows REGARDLESS of the value domain, and
    no operator knob needs domain knowledge. Everything stays
    engine-identical exact arithmetic: the bucket is ONE subtract, ONE
    divide, ONE floor on doubles (mirrored verbatim in SQL), clamped to
    the last bin at v == hi; a degenerate single-value range maps to
    bucket 0. One-sided types report KS = 1.0 like the siblings.

    Plan: min/max agg (type-cardinality rows) broadcast back, then the
    shared binned fold. Skew caveat vs the fixed grid: a heavy-tailed
    domain concentrates mass in few buckets (resolution degrades where
    the data bunches) — the trade for never needing the width guess;
    both variants share the fold, pick per domain."""
    v = F.col("value").cast("double")
    # NaN AND +/-Infinity excluded HERE, not just in the shared side
    # counts: one NaN reaching MAX poisons hi (and hence every bucket) to
    # NaN, and one Infinity makes hi=inf, so width=inf collapses every
    # finite value to bucket 0 while the v==hi row computes
    # floor(inf/inf)=floor(NaN) — which Spark casts to 0 but DuckDB's
    # least() routes to the top bucket: engine-divergent (ADVICE r7 #1).
    # Range predicates double as the isfinite Spark lacks (NaN compares
    # false anyway; the isnan guard keeps the intent explicit).
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & ~F.isnan(v)
        & (v > float("-inf"))
        & (v < float("inf"))
    )
    ranges = ev.groupBy("event_type").agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(KS_AUTOGRID_BINS))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("__lo")) / width),
            F.lit(KS_AUTOGRID_BINS - 1),
        )
    ).cast("long")
    binned = ev.join(F.broadcast(ranges), "event_type")
    return _ks_fold(
        _ks_side_counts(binned, bucket),
        with_bins=True,
    ).orderBy("event_type")


KS_AUTOGRID_ORACLE = f"""
WITH ev AS (
  SELECT event_type, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))
),
ranges AS (
  SELECT event_type, MIN(v) AS lo, MAX(v) AS hi FROM ev GROUP BY event_type
),
per_value AS (
  SELECT ev.event_type,
         CAST(CASE WHEN hi = lo THEN 0
              ELSE least(floor((v - lo) / ((hi - lo) / {float(KS_AUTOGRID_BINS)})),
                         {KS_AUTOGRID_BINS - 1})
              END AS BIGINT) AS v,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS cb
  FROM ev JOIN ranges USING (event_type)
  GROUP BY 1, 2
),
{sql_ks_fold(with_bins=True)}
"""


def merge_ks_bin_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold two binned-KS side-count states: elementwise integer
    addition per (event_type, bucket) — an exact monoid like the rollup
    state, so merge tree == one-shot bit-for-bit and the drift gate can
    be MAINTAINED across slices/batches instead of rescanning history.
    State-sized shuffle, never history."""
    return (
        state.unionByName(delta)
        .groupBy("event_type", "v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )


def ks_drift_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained two-sample KS drift gate: the binned side counts
    (per-(type, bucket) integer ca/cb) are an exact monoid, so three
    date slices summarize independently and fold losslessly via
    :func:`merge_ks_bin_state` — the drift gate joins the
    maintained-summary suite (rollup / MG / CM / KLL / reservoir /
    quantile-hist) instead of rescanning history per check. Finalizing
    the merged state IS :func:`events_ks_drift_binned`'s fold, so the
    two queries share one oracle and hash equality proves the
    maintenance lossless. State size: (types x occupied buckets) rows —
    grid-bounded like the binned gate itself."""
    from dynamic_etl_spark.registry.events import _three_slice

    ev = t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value").cast("double") / F.lit(KS_BIN_WIDTH)).cast(
        "long"
    )
    merged = _three_slice(
        ev,
        lambda df: _ks_side_counts(df, bucket),
        merge_ks_bin_state,
    )
    return _ks_fold(merged, with_bins=True).orderBy("event_type")


#: Every FK edge in the TPC-H-ish schema: (name, child table, child key,
#: parent table, parent key(s)). One definition drives BOTH engine
#: sides. Keys are TUPLES (r8, VERDICT r7 #6): the reference's fact
#: MERGE keys on a multi-part natural key
#: (/root/reference/scripts2/load_fact_sales_dw.py:390-416), so the
#: audit must cover composite edges too — the last edge checks the
#: implied part-supplier pairing (child pairs dirtied, parent = the
#: clean distinct pairs of the same table, the partsupp dim this
#: schema implies but does not materialize).
_FK_EDGES = (
    ("orders->customer", "orders", ("o_custkey",), "customer", ("c_custkey",)),
    ("lineitem->orders", "lineitem", ("l_orderkey",), "orders", ("o_orderkey",)),
    ("lineitem->part", "lineitem", ("l_partkey",), "part", ("p_partkey",)),
    ("lineitem->supplier", "lineitem", ("l_suppkey",), "supplier", ("s_suppkey",)),
    ("customer->nation", "customer", ("c_nationkey",), "nation", ("n_nationkey",)),
    ("supplier->nation", "supplier", ("s_nationkey",), "nation", ("n_nationkey",)),
    ("nation->region", "nation", ("n_regionkey",), "region", ("r_regionkey",)),
    (
        "lineitem->partsupp(implied)",
        "lineitem",
        ("l_partkey", "l_suppkey"),
        "lineitem",
        ("l_partkey", "l_suppkey"),
    ),
)


def _fk_keys(j: int, cks: tuple) -> list[str]:
    """Column names of edge ``j``'s dirtied child key parts."""
    return [f"__e{j}k{i}" for i in range(len(cks))]


def _fk_flag_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The one edge check both FK queries share: per CHILD table, one
    scan carrying every edge's dirtied key parts (``__e{j}k{i}``) and a
    hit flag per edge (``__e{j}hit``: the key tuple exists in the
    parent). The flag is a correlated EXISTS, which plans as an
    ExistenceJoin: it never fans out, so the parent needs no DISTINCT
    (and no shuffle); a NULL key part never matches, so NULL plants
    count as orphans."""
    by_child: dict[str, list[int]] = {}
    for j, (_, child, _, _, _) in enumerate(_FK_EDGES):
        by_child.setdefault(child, []).append(j)
    frames = {}
    for child, edges in by_child.items():
        c = t(spark, sf_dir, child).select(*[
            _fk_dirty(ck).alias(k)
            for j in edges
            for ck, k in zip(_FK_EDGES[j][2], _fk_keys(j, _FK_EDGES[j][2]))
        ]).alias("__child")
        hits = []
        for j in edges:
            _, _, cks, parent, pks = _FK_EDGES[j]
            cond = reduce(operator.and_, [
                F.col(pk) == F.col(f"__child.{k}").outer()
                for pk, k in zip(pks, _fk_keys(j, cks))
            ])
            hits.append(
                t(spark, sf_dir, parent).where(cond).exists().alias(f"__e{j}hit")
            )
        frames[child] = c.select("*", *hits)
    return frames


def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide referential-integrity audit: one row per FK edge
    with child rows, orphan rows (child key matching no parent — NULL
    keys count as orphans: an unresolvable reference either way), and
    the orphan ratio. The whole-schema sibling of P8's single-edge
    drop_unresolved_keys: run nightly, a nonzero row pinpoints WHICH
    relationship a bad load broke before any consumer join silently
    drops rows.

    Plan: one scan per CHILD table (:func:`_fk_flag_frames`), each edge
    flagged by an ExistenceJoin against its parent's key columns —
    dimension-sized parents broadcast (Catalyst picks it from stats),
    with no DISTINCT shuffle since an existence join cannot fan out; the
    fact-to-fact edges shuffle on their join key only when the parent
    outgrows the broadcast threshold, exactly as the consumer joins
    would, which is the point: the audit costs what one run of the join
    it protects costs. The five flag frames union into ONE global
    aggregate (one exchange) whose per-edge counts ``inline`` into the
    edge rows. A flag is NULL on other child tables' rows, so
    ``count(flag)`` is the edge's child rows.

    The clean fixture has zero orphans everywhere, which would leave
    the orphan branch hash-unexercised — so child keys are planted
    dirty per the key-modulo convention (key % 97 == 0 flips NEGATIVE —
    every key domain is non-negative at any scale factor, so the plant
    can never silently re-enter the parent domain the way a fixed
    +offset would at sf >= 1; % 101 == 1 goes NULL, counted as an
    orphan: an unresolvable reference either way), and every edge
    reports a nonzero mixed PASS/FAIL row like validation_report.

    Composite edges (r8): every key PART gets the dirty rule
    independently, the existence check equates all parts (a NULL part
    never matches — unresolvable either way) against the clean key
    tuples. Worst-offender attribution lives in the sibling
    :func:`fk_orphan_attribution`."""
    flags = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        _fk_flag_frames(spark, sf_dir).values(),
    )
    counts = []
    for j in range(len(_FK_EDGES)):
        hit = F.col(f"__e{j}hit")
        counts += [
            F.count(hit).alias(f"__n{j}"),
            F.count(F.when(~hit, 1)).alias(f"__o{j}"),
        ]
    report = flags.agg(*counts).select(
        F.inline(F.array(*[
            F.struct(
                F.lit(name).alias("relationship"),
                F.col(f"__n{j}").alias("child_rows"),
                F.col(f"__o{j}").alias("orphan_rows"),
            )
            for j, (name, *_) in enumerate(_FK_EDGES)
        ]))
    )
    return report.select(
        "relationship",
        "child_rows",
        "orphan_rows",
        F.round(
            F.col("orphan_rows").cast("double") / F.col("child_rows").cast("double"),
            6,
        ).alias("orphan_ratio"),
    ).orderBy("relationship")


def _fk_dirty(ck: str):
    """The shared key-modulo dirty plant, applied per key part."""
    k = F.col(ck)
    return (
        F.when(k % 97 == 0, -(k + 1))
        .when(k % 101 == 1, F.lit(None))
        .otherwise(k)
    )


def fk_orphan_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-offender sample for the FK audit (VERDICT r7 #6): the top-5
    orphan KEY VALUES per edge by orphan count — the row an operator
    acts on ('which supplier id is flooding the load with unresolvable
    references'). Key tuples render as '|'-joined strings with NULL
    parts as '∅', so the NULL-plant bucket surfaces as its own (usually
    dominant) offender. Orphans come from the same per-child flag frames
    as :func:`fk_integrity_report`, so the parents need no DISTINCT.
    Rank is total-ordered (count DESC, key ASC) and
    LIMITED to 5 per edge — bounded output regardless of corpus size.
    Scale shape: the top-5 cut is orderBy+limit, which compiles to
    TakeOrderedAndProject (each partition keeps its own top-5, the
    driver merges 5 x partitions rows) — a global rank window here
    would single-partition-sort every distinct orphan key instead
    (measured: Spark does NOT push WindowGroupLimit into an
    unpartitioned window); the row_number that labels the final rank
    runs AFTER the limit, over at most 5 rows per edge."""
    frames = _fk_flag_frames(spark, sf_dir)
    per_edge = []
    for j, (name, child, cks, _, _) in enumerate(_FK_EDGES):
        orphan_key = F.concat_ws(
            "|",
            *[F.coalesce(F.col(k).cast("string"), F.lit("∅")) for k in _fk_keys(j, cks)],
        )
        top5 = (
            frames[child]
            .filter(~F.col(f"__e{j}hit"))
            .groupBy(orphan_key.alias("orphan_key"))
            .agg(F.count(F.lit(1)).alias("orphan_count"))
            .orderBy(F.col("orphan_count").desc(), F.col("orphan_key"))
            .limit(5)
        )
        w = Window.orderBy(F.col("orphan_count").desc(), F.col("orphan_key"))
        per_edge.append(
            top5.withColumn("rnk", F.row_number().over(w)).select(
                F.lit(name).alias("relationship"),
                "orphan_key",
                "orphan_count",
                "rnk",
            )
        )
    report = per_edge[0]
    for e in per_edge[1:]:
        report = report.unionByName(e)
    return report.orderBy("relationship", "rnk")


def _sql_fk_dirty(ck: str) -> str:
    return (
        f"CASE WHEN {ck} % 97 = 0 THEN -({ck} + 1)"
        f" WHEN {ck} % 101 = 1 THEN NULL ELSE {ck} END"
    )


def _fk_join_sql(child: str, cks: tuple, parent: str, pks: tuple) -> str:
    """Shared FROM/LEFT JOIN clause: dirtied child key parts vs the
    distinct clean parent tuples, equated part-by-part."""
    c_sel = ", ".join(
        f"{_sql_fk_dirty(ck)} AS __c{i}" for i, ck in enumerate(cks)
    )
    p_sel = ", ".join(f"{pk} AS __k{i}" for i, pk in enumerate(pks))
    on = " AND ".join(f"c.__c{i} = p.__k{i}" for i in range(len(cks)))
    return (
        f"FROM (SELECT {c_sel} FROM {child}) c\n"
        f"  LEFT JOIN (SELECT DISTINCT {p_sel} FROM {parent}) p ON {on}"
    )


def _fk_edge_sql(name: str, child: str, cks: tuple, parent: str, pks: tuple) -> str:
    return f"""
  SELECT '{name}' AS relationship,
         count(*) AS child_rows,
         CAST(SUM(CASE WHEN p.__k0 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS orphan_rows
  {_fk_join_sql(child, cks, parent, pks)}"""


FK_INTEGRITY_ORACLE = (
    "WITH edges AS ("
    + "\n  UNION ALL".join(_fk_edge_sql(*e) for e in _FK_EDGES)
    + """
)
SELECT relationship, child_rows, orphan_rows,
       round(CAST(orphan_rows AS DOUBLE) / CAST(child_rows AS DOUBLE), 6)
         AS orphan_ratio
FROM edges
ORDER BY relationship
"""
)


def _fk_attr_edge_sql(
    name: str, child: str, cks: tuple, parent: str, pks: tuple
) -> str:
    key = " || '|' || ".join(
        f"COALESCE(CAST(c.__c{i} AS VARCHAR), '∅')" for i in range(len(cks))
    )
    return f"""
  SELECT '{name}' AS relationship, orphan_key, orphan_count,
         CAST(ROW_NUMBER() OVER (ORDER BY orphan_count DESC, orphan_key)
              AS INT) AS rnk
  FROM (
    SELECT {key} AS orphan_key, count(*) AS orphan_count
    {_fk_join_sql(child, cks, parent, pks)}
    WHERE p.__k0 IS NULL
    GROUP BY 1
  ) QUALIFY rnk <= 5"""


FK_ATTRIBUTION_ORACLE = (
    "WITH ranked AS ("
    + "\n  UNION ALL".join(_fk_attr_edge_sql(*e) for e in _FK_EDGES)
    + """
)
SELECT relationship, orphan_key, CAST(orphan_count AS BIGINT) AS orphan_count, rnk
FROM ranked
ORDER BY relationship, rnk
"""
)


KS_DRIFT_ORACLE = f"""
WITH per_value AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS cb
  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
  GROUP BY event_type, CAST(value AS DOUBLE)
),
{sql_ks_fold(with_bins=False)}
"""


KS_DRIFT_BINNED_ORACLE = f"""
WITH per_value AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) / {KS_BIN_WIDTH}) AS BIGINT) AS v,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS cb
  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
  GROUP BY event_type, CAST(floor(CAST(value AS DOUBLE) / {KS_BIN_WIDTH}) AS BIGINT)
),
{sql_ks_fold(with_bins=True)}
"""


def quasi_identifier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity re-identification risk over customer quasi-identifiers
    (nation, market segment, account-balance band): for k in {2, 5, 10},
    how many equivalence classes — and how many ROWS — sit in classes
    smaller than k. The privacy-side sibling of pii_detect_redact:
    redaction hides direct identifiers; this gate measures whether the
    remaining attribute combination still singles people out (Sweeney
    2002). Plan: one groupBy builds the class-size table (bounded by the
    QI domain product, not the row count), a 3-element explode fans the
    thresholds WITHOUT a join, and one final agg folds the profile —
    two exchanges total, each over class-cardinality-sized input.

    Parity notes: the balance band is floor(c_acctbal / 1000.0) — one
    IEEE division then floor, bit-identical both engines (CAST of a
    double to BIGINT would ROUND in DuckDB but TRUNCATE in Spark, so the
    band never casts a non-integral double). Ratio divides LAST from
    exact integer counts."""
    cust = t(spark, sf_dir, "customer")
    classes = (
        cust.groupBy(
            F.col("c_nationkey").alias("nation_key"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    fanned = classes.select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k_threshold"),
        "class_size",
    )
    at_risk = F.col("class_size") < F.col("k_threshold")
    return (
        fanned.groupBy("k_threshold")
        .agg(
            F.sum(F.when(at_risk, 1).otherwise(0)).alias("n_classes_at_risk"),
            F.sum(F.when(at_risk, F.col("class_size")).otherwise(0)).alias(
                "n_rows_at_risk"
            ),
            F.sum("class_size").alias("n_rows_total"),
        )
        .select(
            "k_threshold",
            "n_classes_at_risk",
            "n_rows_at_risk",
            "n_rows_total",
            F.round(
                F.col("n_rows_at_risk").cast("double")
                / F.col("n_rows_total").cast("double"),
                6,
            ).alias("at_risk_row_ratio"),
        )
        .orderBy("k_threshold")
    )


QI_RISK_ORACLE = """
WITH classes AS (
  SELECT c_nationkey AS nation_key, c_mktsegment AS segment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         count(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
),
fanned AS (
  SELECT k.k_threshold, c.class_size
  FROM classes c CROSS JOIN (VALUES (2), (5), (10)) k(k_threshold)
)
SELECT k_threshold,
       CAST(SUM(CASE WHEN class_size < k_threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_at_risk,
       CAST(SUM(CASE WHEN class_size < k_threshold THEN class_size ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(SUM(class_size) AS BIGINT) AS n_rows_total,
       round(CAST(SUM(CASE WHEN class_size < k_threshold THEN class_size ELSE 0 END) AS DOUBLE)
             / CAST(SUM(class_size) AS DOUBLE), 6) AS at_risk_row_ratio
FROM fanned
GROUP BY k_threshold
ORDER BY k_threshold
"""


QUERIES: QueryRegistry = {
    "validation_report": Query(
        validation_report, VALIDATION_ORACLE,
        "V1-V7/V9 full DQ report over a dirty feed (mixed PASS/FAIL)",
    ),
    "value_outlier_gate": Query(
        value_outlier_gate, OUTLIER_ORACLE,
        "IQR/Tukey-fence outlier counts per group (robust numeric profile)",
    ),
    "value_anomaly_mad": Query(
        value_anomaly_mad, MAD_ORACLE,
        "median/MAD robust anomaly gate (3*1.4826*MAD fence, breakdown 0.5)",
    ),
    "events_key_skew_profile": Query(
        events_key_skew_profile, KEY_SKEW_ORACLE,
        "shuffle-key skew diagnostics: rows/keys, max/min/avg per key, "
        "skew ratio, deterministic top key",
    ),
    "events_type_drift_profile": Query(
        events_type_drift_profile, DRIFT_ORACLE,
        "snapshot distribution drift: per-category rates, deltas, "
        "chi-square terms from exact counts (no libm)",
    ),
    "quasi_identifier_risk": Query(
        quasi_identifier_risk, QI_RISK_ORACLE,
        "k-anonymity risk profile over customer quasi-identifiers: "
        "classes/rows in equivalence classes smaller than k in {2,5,10}",
    ),
    "events_ks_drift": Query(
        events_ks_drift, KS_DRIFT_ORACLE,
        "two-sample Kolmogorov-Smirnov numeric-drift gate per event type "
        "(exact integer CDF steps, distinct-value-bounded windows)",
    ),
    "events_ks_drift_binned": Query(
        events_ks_drift_binned, KS_DRIFT_BINNED_ORACLE,
        "fixed-grid scale path of the KS drift gate: values pre-binned to "
        "floor(value/width) so the per-type sort frame is grid-bounded, "
        "not distinct-value-bounded (VERDICT r6 #2)",
    ),
    "events_ks_drift_autogrid": Query(
        events_ks_drift_autogrid, KS_AUTOGRID_ORACLE,
        "range-adaptive KS drift: per-type exact min/max fixes the grid, "
        "so the sort frame caps at KS_AUTOGRID_BINS rows with NO domain "
        "knowledge needed (the unknown-scale twin of the fixed grid)",
    ),
    "ks_drift_maintenance": Query(
        ks_drift_maintenance, KS_DRIFT_BINNED_ORACLE,
        "maintained KS drift: binned side counts are an exact monoid, so "
        "date slices fold losslessly and finalize to the one-shot binned "
        "gate (shared oracle proves the maintenance lossless)",
    ),
    "fk_integrity_report": Query(
        fk_integrity_report, FK_INTEGRITY_ORACLE,
        "warehouse-wide referential-integrity audit: child/orphan rows "
        "and orphan ratio per FK edge of the schema, incl. a composite "
        "(part, supplier) natural-key edge",
    ),
    "fk_orphan_attribution": Query(
        fk_orphan_attribution, FK_ATTRIBUTION_ORACLE,
        "FK audit worst offenders: top-5 orphan key values per edge "
        "(NULL parts bucketed), total-ordered rank, bounded output",
    ),
}
