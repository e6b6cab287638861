"""Aggregation operators (SURVEY.md §2.4, A1-A11).

Exact-arithmetic discipline: money/measure sums go through DecimalType so
results are order-independent and bit-identical across engines (Spark's
double summation order varies with partitioning; decimal addition is
exact). Helpers return Columns so callers compose them in one ``agg`` pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Decimal(25,6) holds any double-ish measure in the corpus with exact
# addition headroom at 100 TB row counts (sum precision grows to 35,6).
MEASURE_DECIMAL = "decimal(25,6)"

#: The maintained summaries' sizes, which the registry's DuckDB twins
#: read too: HLL precision (m = 2^HLL_P registers per key), Misra-Gries
#: counters kept per key, and Count-Min counters per hash row.
HLL_P, MG_K, CM_WIDTH = 10, 8, 32
#: The quantiles the histogram and KLL summaries report.
QUANTILES = (0.5, 0.9, 0.99)


def as_double(c: Column) -> Column:
    """Decimal -> double, portably.

    DuckDB (the oracle) converts decimals to double as
    unscaled_int128/10^scale in doubles, which is only exact while the
    unscaled value fits in 2^53. Reducing to scale 4 first (lossless — the
    corpus carries at most 4 real decimal places: 2dp money x 2dp rates)
    keeps both engines bit-identical with ~400x value headroom at sf0.01.
    """
    return c.cast("decimal(38,4)").cast("double")


def dsum(col, alias: str | None = None) -> Column:
    """Order-independent exact sum of a double measure, surfaced as double."""
    col = F.col(col) if isinstance(col, str) else col
    c = as_double(F.sum(col.cast(MEASURE_DECIMAL)))
    return c.alias(alias) if alias else c


def davg(col, alias: str | None = None) -> Column:
    """Exact-sum / count as one IEEE double division — deterministic and
    engine-portable, unlike a streaming double average."""
    col = F.col(col) if isinstance(col, str) else col
    c = as_double(F.sum(col.cast(MEASURE_DECIMAL))) / F.count(col)
    return c.alias(alias) if alias else c


def high_water_mark(df: DataFrame, key: str) -> int:
    """A1 — NVL(MAX(id),0) surrogate-key high-water-mark (reference:
    scripts/fact_sales_daily.py:16-17 et al)."""
    row = df.agg(F.coalesce(F.max(key), F.lit(0)).alias("hwm")).collect()[0]
    return int(row["hwm"])


def count_if(cond: Column, alias: str) -> Column:
    """A4 — SUM(CASE WHEN flag='Y' THEN 1 ELSE 0 END) conditional count
    (reference: scripts/dim_date_daily.py:221-228)."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)


def null_counts(df: DataFrame) -> DataFrame:
    """A8 — per-column NULL counts in ONE scan (the reference issues one
    SELECT COUNT(*) per column — scripts/validate_table.py:288-298)."""
    return df.select(
        [F.count(F.when(F.col(c).isNull(), 1)).cast("long").alias(c) for c in df.columns]
    )


def numeric_profile(df: DataFrame, col: str) -> DataFrame:
    """A6 — MIN/MAX/AVG/COUNT(*)/COUNT(col) profile
    (reference: scripts/validate_table.py:403-408)."""
    return df.agg(
        F.min(col).alias("min_value"),
        F.max(col).alias("max_value"),
        davg(col, "avg_value"),
        F.count(F.lit(1)).alias("row_count"),
        F.count(col).alias("non_null_count"),
    )


def pct_exact(col, p: float, alias: str) -> Column:
    """Exact interpolated percentile (SQL PERCENTILE_CONT semantics:
    sort, index (n-1)*p, linear interpolation — identical to DuckDB's
    quantile_cont, so oracle-checkable at 6dp). Exact percentiles
    materialize each group's values; at 100 TB use Spark's
    ``percentile_approx`` (mergeable sketch, bounded memory) and keep this
    for the small-group profiles the reference's validators run."""
    col = F.col(col) if isinstance(col, str) else col
    return F.round(F.percentile(col, F.lit(float(p))), 6).alias(alias)


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A7/D3 — GROUP BY pk HAVING COUNT(*) > 1
    (reference: scripts/validate_table.py:309-317)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Shuffle-key skew diagnostics: one row summarizing how unevenly the
    rows of ``df`` distribute over ``key`` — the number every partition
    strategy decision starts from (SCALE.md: "skewed keys hurt"; a
    skew_ratio of 50 on a join key means AQE skew-split or salting, near
    1 means plain hash partitioning is fine).

    Columns: ``n_rows``/``n_keys`` (null keys count as a key, the way a
    shuffle treats them), ``max_rows_per_key``/``min_rows_per_key``,
    ``avg_rows_per_key`` (IEEE quotient of two exact ints — bit-identical
    on any engine), ``skew_ratio`` = max/avg computed as the exact
    integer product max*n_keys divided by n_rows (one IEEE division, no
    compounding), and ``top_key`` — the lexicographically smallest key
    (string form — the profile schema is key-type-agnostic) among those
    attaining the max: deterministic under ties where ``max_by`` is not.

    Scale: per-key counts are one partial-agg shuffle; everything else is
    ONE aggregation over the |keys|-row counts frame — the top key rides
    as a ``min(struct(-count, key))`` so no second pass, no join, no
    driver collect, no sort of the full key space.
    """
    counts = df.groupBy(F.col(key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    return counts.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_rows_per_key"),
        F.min("__c").alias("min_rows_per_key"),
        # null keys count toward the distribution but never win top_key
        # (SQL MIN-over-varchar semantics — the oracle twin skips nulls)
        F.min(
            F.when(
                F.col("__k").isNotNull(),
                F.struct(
                    (-F.col("__c")).alias("nc"), F.col("__k").cast("string").alias("k")
                ),
            )
        ).alias("__top"),
    ).select(
        "n_rows",
        "n_keys",
        "max_rows_per_key",
        "min_rows_per_key",
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("avg_rows_per_key"),
        (
            (F.col("max_rows_per_key") * F.col("n_keys")).cast("double")
            / F.col("n_rows")
        ).alias("skew_ratio"),
        # __top ranks only non-null keys; if the best of them falls short
        # of the global max, the null group holds it alone -> NULL (the
        # oracle's MIN-over-varchar of max-attaining keys is NULL then too)
        F.when(
            -F.col("__top.nc") == F.col("max_rows_per_key"), F.col("__top.k")
        ).alias("top_key"),
    )


def build_agg_state(df: DataFrame, keys: Sequence[str], value: str) -> DataFrame:
    """Mergeable per-key aggregate STATE: (n, exact-decimal sum, min, max)
    of ``value`` per key group — the commutative-monoid form that lets a
    100 TB rollup be MAINTAINED instead of recomputed: aggregate each
    incremental batch alone (map-side partials, delta-sized shuffle),
    then fold the delta into the stored state with
    :func:`merge_agg_state`. History is never rescanned.

    The sum stays a ``decimal(25,6)`` IN the state (not a double): exact
    and order-free, so any merge tree — per-batch, per-partition, or
    re-sharded — yields bit-identical state, and merge-then-finalize
    equals aggregate-over-everything exactly (the registry query's
    oracle PROVES this: Spark runs the two-phase maintenance, DuckDB the
    one-shot aggregate, and the hashes must match). ``value`` must obey
    the repo's ≤4dp-exact rule (SCALE.md parity traps)."""
    return df.groupBy(*keys).agg(
        F.count(value).alias("state_n"),
        F.sum(F.col(value).cast(MEASURE_DECIMAL)).alias("state_sum"),
        F.min(value).alias("state_min"),
        F.max(value).alias("state_max"),
    )


def merge_agg_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta state into the stored state: union + one re-aggregate
    over the per-key monoid columns. Both inputs are |keys|-sized, so
    this shuffle is dimension-scale regardless of fact history size."""
    return (
        state.unionByName(delta)
        .groupBy(*[c for c in state.columns if not c.startswith("state_")])
        .agg(
            F.sum("state_n").alias("state_n"),
            F.sum("state_sum").cast(MEASURE_DECIMAL).alias("state_sum"),
            F.min("state_min").alias("state_min"),
            F.max("state_max").alias("state_max"),
        )
    )


def finalize_agg_state(state: DataFrame) -> DataFrame:
    """Query-boundary projection of the state: exact sums surface as
    double (repo convention), avg as one IEEE division of the exact sum
    by the exact count."""
    keys = [c for c in state.columns if not c.startswith("state_")]
    return state.select(
        *keys,
        F.col("state_n").alias("n_rows"),
        as_double(F.col("state_sum")).alias("sum_value"),
        (as_double(F.col("state_sum")) / F.col("state_n")).alias("avg_value"),
        F.col("state_min").alias("min_value"),
        F.col("state_max").alias("max_value"),
    )


def category_drift_profile(
    base: DataFrame, current: DataFrame, col: str
) -> DataFrame:
    """Distribution drift between two snapshots of a categorical column
    (train-vs-serve, yesterday-vs-today): per category, the base/current
    counts and rates, the rate delta, and the Pearson chi-square term
    ``(observed - expected)^2 / expected`` with expected = base rate x
    current total. Categories absent from one side surface with count 0
    (full-outer union, the drift you most need to see); the chi-square
    term is NULL where the base rate is 0 (no expectation to test).

    Parity discipline: everything derives from exact integer counts by
    single IEEE operations (mul/div/sub are bit-identical across
    engines); the only rounding is the final 10dp on the chi-square term
    (repo re-round rule) — no libm (log/exp) anywhere, unlike PSI/KL
    formulations, which are engine-specific at the bit level.

    Scale: one partial-agg shuffle per side over |categories| groups,
    then a categories-sized outer join — fact rows are scanned once each.
    """
    a = base.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_base")
    )
    b = current.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_current")
    )
    joined = (
        a.join(b, "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_current", F.lit(0)).alias("n_current"),
        )
    )
    # unpartitioned window over the CATEGORY-sized frame (bounded by the
    # column's cardinality, not the fact tables — the adjudicated
    # bounded-window pattern, same as the mini-dim upserts)
    w = Window.partitionBy()
    tot_a = F.sum("n_base").over(w)
    tot_b = F.sum("n_current").over(w)
    rate_a = F.col("n_base").cast("double") / tot_a
    rate_b = F.col("n_current").cast("double") / tot_b
    expected = rate_a * tot_b.cast("double")
    return joined.select(
        "category",
        "n_base",
        "n_current",
        rate_a.alias("rate_base"),
        rate_b.alias("rate_current"),
        (rate_b - rate_a).alias("rate_delta"),
        F.when(
            F.col("n_base") > 0,
            F.round(
                (F.col("n_current").cast("double") - expected)
                * (F.col("n_current").cast("double") - expected)
                / expected,
                10,
            ),
        ).alias("chi2_term"),
    )


def build_distinct_sketch_state(
    df: DataFrame, keys: Sequence[str], value: str
) -> DataFrame:
    """Mergeable DISTINCT-count state: a Datasketches HLL sketch per key
    group — the approximate sibling of :func:`build_agg_state` for the
    one aggregate a (count, sum, min, max) monoid cannot maintain.
    Exact per-batch distincts do not merge (|A ∪ B| != |A| + |B|);
    sketches do, so a 100 TB distinct-users rollup is maintained batch
    by batch with O(2^lg_k)-byte state per key and never a history
    rescan. Standard error ~1.04/sqrt(2^lg_k) (~1.6% at the default).
    Sketch bytes are engine-specific: rows-only territory, tolerance
    pytest instead of a DuckDB oracle."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value), F.lit(12)).alias("state_sketch")
    )


def merge_distinct_sketch_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta sketch state into the stored state: union + one
    re-aggregate of sketch unions. Key-count-sized shuffle."""
    keys = [c for c in state.columns if c != "state_sketch"]
    return (
        state.unionByName(delta)
        .groupBy(*keys)
        .agg(F.hll_union_agg(F.col("state_sketch")).alias("state_sketch"))
    )


def finalize_distinct_sketch_state(state: DataFrame) -> DataFrame:
    """Estimate per key: (keys..., approx_distinct)."""
    keys = [c for c in state.columns if c != "state_sketch"]
    return state.select(
        *keys,
        F.hll_sketch_estimate(F.col("state_sketch")).alias("approx_distinct"),
    )


#: md5-HLL register width: rho ranges 1..33 (32 hash bits + the all-zero
#: word), so 2^(33-rho) fits comfortably in BIGINT and the register SUM
#: stays < m * 2^33 = 2^43 — small enough that its double cast is EXACT,
#: which is what makes the final estimate a single deterministic IEEE
#: division instead of an order-dependent float fold.
_HLL_MD5_RMAX = 33


def hll_md5_register(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) of one value in the md5-slice HLL (Flajolet et al.
    2007 §3, the registers; ops/agg.cm_bucket's hash convention): md5
    chars 1-8 pick the bucket, chars 9-16 give the 32-bit word whose
    leading-zero count is rho — ``33 - bitlength`` via ``length(bin(x))``
    (both engines render bin() unpadded), 33 for the all-zero word.
    Unlike the DataSketches state behind build_distinct_sketch_state,
    every piece is an integer both engines derive identically, so the
    sketch STATE — not just a tolerance band — is oracle-checkable."""
    h = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")  # % m at build
    r = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = F.when(r == 0, F.lit(_HLL_MD5_RMAX)).otherwise(
        F.lit(_HLL_MD5_RMAX) - F.length(F.bin(r))
    )
    return bucket, rho


def build_hll_md5_state(df: DataFrame, keys: Sequence[str], value: str) -> DataFrame:
    """Mergeable md5-HLL distinct-count state: one (bucket, max_rho) row
    per non-empty register per key group — the oracle-checkable sibling
    of :func:`build_distinct_sketch_state`. State is <= 2^HLL_P rows per key
    (fixed regardless of data volume), merges by MAX (associative,
    commutative, idempotent — re-delivered batches cannot inflate it),
    and builds with ONE hash-shuffle whose map-side partial MAX reduces
    each partition to <= 2^HLL_P rows per key before the exchange. NULLs are
    skipped (groupBy drops the null bucket row), matching
    approx_count_distinct / DuckDB approx semantics."""
    m = 1 << HLL_P
    bucket, rho = hll_md5_register(F.col(value))
    return (
        df.filter(F.col(value).isNotNull())
        .select(*keys, (bucket % m).alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("max_rho"))
        # The precision rides IN the state (ADVICE r8): finalize/merge
        # validate it, so a state persisted at another HLL_P cannot
        # silently mis-pad the empty buckets and embed the wrong
        # alpha_m*m^2 constant.
        .withColumn("hll_p", F.lit(HLL_P).cast("int"))
    )


def merge_hll_md5_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta into the stored state: union + MAX per register.
    Key-count-bounded shuffle, same contract as the sketch-bytes twin.

    Both sides must carry the ``hll_p`` precision column
    (:func:`build_hll_md5_state` stamps it) — a state built before that
    contract is refused loudly, the band_hash dtype guard pattern
    (ops/lsh.incremental_near_dup_merge). ``hll_p`` participates in the
    grouping keys, so registers from states built at DIFFERENT p never
    cross-merge; :func:`finalize_hll_md5_state` then refuses the mixed
    state instead of estimating from it."""
    for side, df in (("state", state), ("delta", delta)):
        if "hll_p" not in df.columns:
            raise ValueError(
                f"merge_hll_md5_state: {side} has no hll_p column — it was "
                "built before the precision-in-state contract; rebuild it "
                "with build_hll_md5_state"
            )
    keys = [c for c in state.columns if c != "max_rho"]
    return (
        state.unionByName(delta)
        .groupBy(*keys)
        .agg(F.max("max_rho").alias("max_rho"))
    )


def finalize_hll_md5_state(state: DataFrame) -> DataFrame:
    """(keys..., buckets_used, sum_inv_scaled, raw_estimate): the raw
    HLL estimate alpha_m * m^2 / sum(2^-M_j) evaluated the deterministic
    way — registers sum as the INTEGER sum_inv_scaled = sum over all m
    buckets of 2^(RMAX - M_j) (empty buckets contribute 2^RMAX), then
    ONE double division of two exactly-representable values (numerator:
    the alpha_m*m^2*2^RMAX constant computed once in Python and embedded
    as the same literal on both engine sides; denominator: the < 2^43
    integer cast losslessly to double). No pow/ln anywhere, so the
    estimate is bit-identical at any parallelism AND across engines.

    Deliberately UNCORRECTED (documented contract): below n ~ 2.5*m the
    standard linear-counting correction needs ln(), which is libm
    territory — consumers in that regime have buckets_used (= m - V) in
    the surface to apply their own correction; the registers, not the
    headline number, are the maintained product.

    ``HLL_P`` is cross-checked against the ``hll_p`` the state carries
    (ADVICE r8): a state built at a different precision — or a mix of
    precisions surviving a hand-rolled merge — raises at evaluation
    instead of mis-padding the (m - V) empty buckets and embedding the
    wrong alpha_m*m^2 constant into a plausible-looking estimate."""
    if "hll_p" not in state.columns:
        raise ValueError(
            "finalize_hll_md5_state: state has no hll_p column — it was "
            "built before the precision-in-state contract; rebuild it "
            "with build_hll_md5_state"
        )
    m = 1 << HLL_P
    keys = [c for c in state.columns if c not in ("bucket", "max_rho", "hll_p")]
    # 2^(RMAX - rho) by 1-based array lookup — Spark's shiftleft only
    # takes literal shift amounts, and pow() is banned (libm)
    inv = F.element_at(
        F.array(*[F.lit(1 << (_HLL_MD5_RMAX - r)) for r in range(1, _HLL_MD5_RMAX + 1)]),
        F.col("max_rho").cast("int"),
    )
    per_key = state.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("buckets_used"),
        F.sum(inv).alias("__sum_used"),
        F.min("hll_p").alias("__p_lo"),
        F.max("hll_p").alias("__p_hi"),
    )
    checked_sum = F.when(
        (F.col("__p_lo") != HLL_P) | (F.col("__p_hi") != HLL_P),
        F.raise_error(
            F.format_string(
                "finalize_hll_md5_state: state built at p in [%s, %s] "
                f"but finalized at p={HLL_P}",
                F.col("__p_lo"),
                F.col("__p_hi"),
            )
        ).cast("long"),
    ).otherwise(F.col("__sum_used"))
    full_sum = (
        checked_sum
        + (F.lit(m) - F.col("buckets_used")) * F.lit(1 << _HLL_MD5_RMAX)
    ).cast("long")
    return per_key.select(
        *keys,
        "buckets_used",
        full_sum.alias("sum_inv_scaled"),
        (F.lit(hll_md5_scale_const()) / full_sum.cast("double")).alias(
            "raw_estimate"
        ),
    )


def hll_md5_scale_const() -> float:
    """alpha_m * m^2 * 2^RMAX as ONE Python double, embedded verbatim on
    both engine sides (repr() round-trips exactly; DuckDB's literal
    parser is correctly-rounded, so both engines hold the identical
    bits). alpha_m per Flajolet et al. 2007 Fig. 3 (m >= 128)."""
    m = 1 << HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << _HLL_MD5_RMAX)


def _mg_salts(counters: DataFrame) -> int:
    """Salt-group count for the two-phase compress, derived from the
    session's shuffle width (VERDICT r5 #4): a hot key's distinct-item
    set splits into ~n_salts sorted groups, so matching the cluster's
    parallelism keeps each group's sort at distinct/n_salts rows while
    phase 2's frame stays bounded at (k+1)*n_salts. Clamped so a tiny
    local session still splits a hot key and a huge one does not bloat
    the phase-2 frame."""
    try:
        width = int(counters.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        width = 32
    return max(8, min(width, 256))


def _mg_compress(
    counters: DataFrame,
    keys: Sequence[str],
    k: int,
    two_phase: bool = False,
) -> DataFrame:
    """Misra-Gries compression: subtract the (k+1)-th largest counter
    value per key group from every counter and drop the non-positive —
    at most ``k`` strictly-positive counters survive. The offset is the
    (k+1)-th value of the count MULTISET, so it is tie-permutation-
    robust: any total order over equal counts picks the same offset,
    which is what makes the whole summary engine-exact.

    ``two_phase=True`` is the skew-safe shape for UNBOUNDED inputs
    (bit-identical to the one-window form, so the oracles are
    untouched): a hot key with millions of distinct items must never be
    sorted in one task, so phase 1 ranks within ``(keys, salt)`` groups
    — salt is a Spark-side hash of the item, invisible to the result —
    and keeps each group's top-(k+1). That candidate union provably
    contains (a) the global top-(k+1) rows under the same total order,
    hence the offset, and (b) every survivor: cnt > offset implies
    global rank <= k, and in-group rank <= global rank. Phase 2 then
    runs the original keyed window over a frame bounded at
    (k+1)*n_salts rows per key. Both windows use the identical
    (cnt DESC, item ASC) total order, so the first k+1 global ranks
    agree with the unsalted ranking exactly. Build compressions (raw
    distinct-item counts, unbounded per key) opt in; merge
    compressions run over unions of already-k-bounded summaries, where
    the extra exchange would buy nothing."""
    order = [F.desc("state_cnt"), F.asc("state_item")]
    cand = counters
    if two_phase:
        n_salts = _mg_salts(counters)
        wg = Window.partitionBy(*keys, "__salt").orderBy(*order)
        cand = (
            counters.withColumn(
                "__salt",
                F.pmod(F.xxhash64(F.col("state_item").cast("string")), F.lit(n_salts)),
            )
            .withColumn("__gr", F.row_number().over(wg))
            .filter(F.col("__gr") <= k + 1)
            .drop("__salt", "__gr")
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    wk = Window.partitionBy(*keys)
    # the offset rides a SECOND window over the same partitioning — one
    # exchange serves both, no self-join (the keyed-window analogue of
    # the broadcast-back pattern)
    ranked = cand.withColumn("__rn", F.row_number().over(w))
    off = F.coalesce(
        F.max(F.when(F.col("__rn") == k + 1, F.col("state_cnt"))).over(wk),
        F.lit(0),
    )
    return (
        ranked.select(
            *keys,
            "state_item",
            (F.col("state_cnt") - off).alias("state_cnt"),
        )
        .filter(F.col("state_cnt") > 0)
    )


def build_heavy_hitter_state(df: DataFrame, keys: Sequence[str], item: str) -> DataFrame:
    """Mergeable HEAVY-HITTER state: a Misra-Gries summary of at most
    ``MG_K`` (item, counter) rows per key group — the frequent-items
    sibling of :func:`build_agg_state` (exact monoid) and
    :func:`build_distinct_sketch_state` (HLL). Exact per-batch top items
    do not merge (a globally-frequent item can be locally unremarkable
    in every batch); MG summaries do (Agarwal et al., "Mergeable
    Summaries", PODS'12): counters for matching items ADD, then one
    compression re-bounds the summary to ``MG_K`` rows.

    Counters are LOWER bounds on true frequency; the classic guarantee
    survives any merge tree: an item with true count > N/(MG_K+1) (N =
    total rows ingested for that key) is always present. Deterministic
    at any parallelism — build is an exact groupBy count, compression's
    offset is tie-robust (see :func:`_mg_compress`) — so unlike the HLL
    sketch this state IS oracle-checkable.

    100 TB shape: build shuffles once on (keys, item) with map-side
    partials; the initial compression is the salted two-phase form (see
    :func:`_mg_compress`), so a hot key's million-item distinct set is
    ranked in shuffle-width-many bounded salt groups (derived by
    :func:`_mg_salts`), never one task; state thereafter is O(|keys| * MG_K) rows, and every merge moves
    only summaries, never history."""
    counts = df.groupBy(*keys, F.col(item).alias("state_item")).agg(
        F.count(F.lit(1)).alias("state_cnt")
    )
    return _mg_compress(counts, keys, MG_K, two_phase=True)


def merge_heavy_hitter_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta summary into the stored summary: union, add counters
    for matching items, re-compress to ``MG_K`` rows. Summary-sized
    shuffle."""
    keys = [c for c in state.columns if c not in ("state_item", "state_cnt")]
    summed = (
        state.unionByName(delta)
        .groupBy(*keys, "state_item")
        .agg(F.sum("state_cnt").alias("state_cnt"))
    )
    return _mg_compress(summed, keys, MG_K)


def finalize_heavy_hitter_state(state: DataFrame, item_alias: str = "item") -> DataFrame:
    """Query-boundary projection: (keys..., item, count_lower_bound)."""
    keys = [c for c in state.columns if c not in ("state_item", "state_cnt")]
    return state.select(
        *keys,
        F.col("state_item").alias(item_alias),
        F.col("state_cnt").alias("count_lower_bound"),
    )


def build_quantile_hist_state(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Mergeable QUANTILE state: a fixed-grid count histogram per key —
    the maintained-percentile member of the summary suite (monoid / HLL
    / Misra-Gries / reservoir). Exact per-key quantiles need the sorted
    history; integer bin counts merge by plain addition, so a 100 TB
    latency/price P99 is maintained batch-by-batch at O(n_bins) state
    per key with a fixed ±bin_width error bound.

    Bins: ``floor((v - lo) / width)`` with underflow at -1 and overflow
    at ``n_bins`` (both kept — mass is never silently dropped). NULL
    values are filtered out explicitly: letting them fall through the
    when-chain would mint a NULL state_bin whose window placement
    diverges between engines (Spark windows sort NULLS FIRST, DuckDB
    NULLS LAST — see SCALE.md parity traps). All counts are exact
    integers and the bin map is one IEEE subtract/divide/floor identical
    on both engines, so unlike a t-digest this state IS
    oracle-checkable.
    """
    df = df.filter(F.col(value).isNotNull())
    width = (hi - lo) / n_bins
    b = F.floor((F.col(value) - F.lit(lo)) / F.lit(width))
    bin_col = (
        F.when(F.col(value) < lo, F.lit(-1))
        .when(F.col(value) >= hi, F.lit(n_bins))
        .otherwise(F.least(b, F.lit(n_bins - 1)))
        .cast("long")
    )
    return df.groupBy(*keys, bin_col.alias("state_bin")).agg(
        F.count(F.lit(1)).alias("state_n")
    )


def merge_quantile_hist_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold histogram states: union + per-bin integer sum. Bin-count-
    sized shuffle; lossless by construction."""
    keys = [c for c in state.columns if c not in ("state_bin", "state_n")]
    return (
        state.unionByName(delta)
        .groupBy(*keys, "state_bin")
        .agg(F.sum("state_n").alias("state_n"))
    )


def finalize_quantile_hist_state(
    state: DataFrame, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Quantile estimates from the merged histogram: for each q of
    ``QUANTILES``, the
    first bin whose cumulative count reaches ``ceil(q * total)``,
    linearly interpolated inside the bin. Underflow/overflow bins clamp
    to ``lo``/``hi``. One keyed sort window shared by every q; output
    (keys..., q, quantile_est) rounded 6dp."""
    keys = [c for c in state.columns if c not in ("state_bin", "state_n")]
    width = (hi - lo) / n_bins
    w = (
        Window.partitionBy(*keys)
        .orderBy("state_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wk = Window.partitionBy(*keys)
    cum = (
        state.select(
            *keys,
            "state_bin",
            "state_n",
            F.sum("state_n").over(w).alias("__cum"),
            F.sum("state_n").over(wk).alias("__tot"),
        )
        .withColumn("__prev", F.col("__cum") - F.col("state_n"))
        # every q rides the SAME windowed pass via a literal-array
        # explode — no per-q branch recomputing the sort, no union
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in QUANTILES])))
    )
    t = F.greatest(F.ceil(F.col("q") * F.col("__tot")), F.lit(1))
    est = (
        F.when(F.col("state_bin") == -1, F.lit(lo))
        .when(F.col("state_bin") == n_bins, F.lit(hi))
        .otherwise(
            F.lit(lo)
            + F.col("state_bin") * F.lit(width)
            + (t - F.col("__prev")).cast("double")
            / F.col("state_n").cast("double")
            * F.lit(width)
        )
    )
    return cum.filter((F.col("__cum") >= t) & (F.col("__prev") < t)).select(
        *keys,
        "q",
        F.round(est, 6).alias("quantile_est"),
    )


def cm_bucket(item: Column, depth_idx: int, width: int) -> Column:
    """Count-Min row hash: 8 hex chars of md5 sliced at depth offset —
    the one hash family BOTH engines evaluate identically (Spark
    ``conv(substr(md5,..),16,10)`` == DuckDB ``('0x'||substr)::BIGINT``,
    the winnowing/exact-dedup md5 precedent), so unlike the HLL sketch
    the CM state itself is oracle-checkable. One md5 per item yields
    four independent 32-bit slices — depth <= 4 costs a single hash."""
    if not 0 <= depth_idx < 4:
        raise ValueError("cm_bucket: md5 yields 4 independent 32-bit slices")
    hex8 = F.substring(F.md5(item.cast("string")), 1 + 8 * depth_idx, 8)
    return F.conv(hex8, 16, 10).cast("long") % width


def build_cm_state(df: DataFrame, keys: Sequence[str], item: str) -> DataFrame:
    """Mergeable Count-Min frequency state (Cormode-Muthukrishnan 2005):
    per key group, 4 hash rows of ``CM_WIDTH`` counters; an item's
    estimated count is the MIN over its rows, always >= the true count
    (overestimate-only, never under). The point-frequency member of the
    maintained-summary suite: Misra-Gries answers "who is heavy", CM
    answers "how often is THIS key" for ANY key in 4 lookups over
    O(4*CM_WIDTH) state — no item list retained at all. State rows:
    (keys..., state_depth, state_bucket, state_cnt); merging is
    elementwise integer addition (an exact monoid, like the rollup
    state), so merge-tree == one-shot bit-for-bit and the whole
    maintenance path is oracle-checkable. Error: overestimate <=
    2n/CM_WIDTH with prob >= 1 - 2^-4 (the md5-slice hash family yields 4
    independent 32-bit rows per item, :func:`cm_bucket`). One explode
    (4 rows/event) + one partial-aggregated groupBy.

    ``state_width`` rides along as a constant column: a probe against a
    grid persisted at a DIFFERENT width reads the wrong buckets and can
    UNDERestimate — the one failure CM must never have — so
    :func:`cm_estimate` derives width/depth from the state instead of
    trusting caller defaults (and a mixed-width merge becomes visible
    as two width groups instead of a silently summed wrong grid)."""
    buckets = F.array(*[cm_bucket(F.col(item), d, CM_WIDTH) for d in range(4)])
    return (
        df.select(*keys, F.posexplode(buckets).alias("state_depth", "state_bucket"))
        .groupBy(*keys, "state_depth", "state_bucket")
        .agg(F.count(F.lit(1)).alias("state_cnt"))
        .withColumn("state_width", F.lit(CM_WIDTH))
    )


_CM_STATE_COLS = ("state_depth", "state_bucket", "state_cnt", "state_width")


def merge_cm_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta CM state into the stored state: elementwise counter
    addition, grouped by ``state_width`` so grids hashed at different
    widths never sum into one wrong grid (a mismatch surfaces as two
    width groups, which :func:`cm_estimate` then refuses loudly).
    State-sized shuffle, never history."""
    keys = [c for c in state.columns if c not in _CM_STATE_COLS]
    return (
        state.unionByName(delta)
        .groupBy(*keys, "state_width", "state_depth", "state_bucket")
        .agg(F.sum("state_cnt").alias("state_cnt"))
        # merge(build(x)) must be column-order-stable with build(x):
        # downstream state writes and one-shot comparisons see ONE schema
        .select(*state.columns)
    )


def cm_estimate(state: DataFrame, probes: DataFrame, item: str) -> DataFrame:
    """Point-frequency estimates for a probe set: min over each probe's
    depth buckets. Width and depth are DERIVED from the state (one
    bounded collect over the grid-sized state) — probing with mismatched
    parameters reads the wrong buckets and can UNDERestimate, the one
    failure CM must never have, so there are no caller-supplied defaults
    to get wrong; a state holding multiple widths (a mixed-width merge)
    raises. LEFT join + coalesce(0): a probe whose bucket holds no
    counter has estimate 0 from that row (an inner join would silently
    drop never-seen probes instead of answering 0).

    KEYED states (build_cm_state with keys) hold one independent grid
    per key group; probes must then carry the same key columns and each
    (key, item) answers from ITS group's grid — a probe on a key group
    the state never saw answers 0, like any never-seen item. Keys join
    NULL-SAFE: groupBy keeps NULL key groups, so a null-unsafe join
    would answer 0 for a group the state DID count — an underestimate.
    Probe-sized work; the KEYLESS state is O(depth*width) and carries an
    explicit broadcast hint, while a keyed state is group-cardinality-
    scaled, so its join strategy is left to AQE's runtime stats
    (SCALE.md broadcast rule: a hardcoded hint that fits at sf0.1 OOMs
    at 100 TB)."""
    keys = [c for c in state.columns if c not in _CM_STATE_COLS]
    missing = [k for k in keys if k not in probes.columns]
    if missing:
        raise ValueError(
            f"cm_estimate: keyed state needs probe columns {missing}"
        )
    meta = state.agg(
        F.collect_set("state_width").alias("ws"),
        (F.max("state_depth") + 1).alias("depth"),
    ).collect()[0]
    if not meta["ws"]:
        # collect_set over zero rows is [], which would otherwise fail the
        # len==1 check below with a misleading "mixed-width" message; an
        # empty state is a caller bug (nothing was ever counted), not a
        # width mismatch, so name it.
        raise ValueError("cm_estimate: empty state (no counters built/merged)")
    if len(meta["ws"]) != 1:
        raise ValueError(f"cm_estimate: mixed-width state {sorted(meta['ws'])}")
    width, depth = int(meta["ws"][0]), int(meta["depth"])
    buckets = F.array(*[cm_bucket(F.col(item), d, width) for d in range(4)])
    fanned = probes.select(
        *keys, F.col(item), F.posexplode(buckets).alias("state_depth", "state_bucket")
    )
    grid = state.drop("state_width")
    if not keys:
        joined = fanned.join(
            F.broadcast(grid), on=["state_depth", "state_bucket"], how="left"
        )
    else:
        renamed = grid
        for k in keys:
            renamed = renamed.withColumnRenamed(k, f"__s_{k}")
        cond = (fanned["state_depth"] == renamed["state_depth"]) & (
            fanned["state_bucket"] == renamed["state_bucket"]
        )
        for k in keys:
            cond = cond & fanned[k].eqNullSafe(renamed[f"__s_{k}"])
        joined = fanned.join(renamed, cond, "left").select(
            *[fanned[c] for c in (*keys, item)], renamed["state_cnt"]
        )
    return joined.groupBy(*keys, item).agg(
        F.min(F.coalesce(F.col("state_cnt"), F.lit(0))).alias("cm_estimate")
    )
