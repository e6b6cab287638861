"""Deterministic sampling operators (beyond-reference LLM-data layer).

Training-corpus curation constantly needs "keep X% of stratum S" — e.g.
downsample boilerplate-heavy sources, upweight rare languages. Spark's
``df.sample``/``sampleBy`` draw from a partition-seeded RNG, so results
change with partitioning and resurrect the nondeterminism this repo bans
(see SCALE.md "no F.rand"). Both operators here decide membership from a
pure function of the ROW (a hash-derived uniform), so the same row makes
the same decision at any parallelism, on any cluster, in any round.

Scale shape: membership is a codegen filter — no shuffle, no state, and
Parquet row-group pruning still applies upstream. The fraction lookup is
a literal CASE chain (strata maps are config-sized), never a join.

The reference has no sampling operator (its generators draw from seeded
Python ``random``, scripts/generate_stores.py:71-99); this generalizes
that determinism to distributed filters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Large prime modulus for the affine uniform: big enough that the
#: lattice step 1/M is invisible at any practical sampling fraction.
_AFFINE_M = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
#: Knuth's multiplicative-hash constant (2^32 / phi).
_AFFINE_A = 2_654_435_761

#: Keep rate per language and for every other language; the registry's
#: DuckDB twin builds its CASE from the same map.
LANG_FRACTIONS = {"en": 0.5, "es": 0.25, "de": 0.1}
OTHER_LANG_FRACTION = 0.75
#: Salt of the train/validation/test coin, shared by the group-holdout
#: split, the row-hash split it is audited against and their SQL twins.
SPLIT_SALT = 73
#: Shard count and salt of the training-shard assignment and its SQL twin.
N_SHARDS, SHARD_SALT = 16, 13
#: Rows a per-key reservoir keeps.
RESERVOIR_N = 5


def uniform_hash(*cols: Column | str, salt: int = 0) -> Column:
    """xxhash64-derived uniform in [0, 1) — the production-grade mixer.

    Engine-specific (xxhash64 exists only in Spark), so queries that need
    a DuckDB oracle use :func:`uniform_affine` instead; the operator
    contract is just "a deterministic [0,1) column".
    """
    h = F.xxhash64(*cols, F.lit(salt))
    return (F.pmod(h, F.lit(_AFFINE_M)).cast("double") / F.lit(float(_AFFINE_M)))


def uniform_affine(key: Column | str, salt: int = 0) -> Column:
    """Multiplicative-hash uniform in [0, 1), exactly reproducible in ANSI
    SQL (see :func:`sql_uniform_affine`): ``((key % M) * A + salt) % M / M``
    over BIGINT arithmetic. The pre-reduction ``key % M`` keeps the product
    below 2^62, so the arithmetic never overflows for any BIGINT key.

    Weaker mixing than xxhash64 (affine in key) — fine for sampling
    decisions, not for bucketing adversarial keys.
    """
    k = F.pmod(F.col(key) if isinstance(key, str) else key, F.lit(_AFFINE_M))
    return (
        F.pmod(k * F.lit(_AFFINE_A) + F.lit(salt), F.lit(_AFFINE_M)).cast("double")
        / F.lit(float(_AFFINE_M))
    )


def sql_uniform_affine(key_sql: str, salt: int = 0) -> str:
    """DuckDB twin of :func:`uniform_affine` (same BIGINT lattice)."""
    m, a = _AFFINE_M, _AFFINE_A
    return (
        f"(CAST((((({key_sql}) % {m} + {m}) % {m}) * {a} + {salt}) % {m} AS DOUBLE)"
        f" / {m}.0)"
    )


def per_key_top_n(
    df: DataFrame,
    *,
    keys: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Quota cap: keep each key group's top-``n`` rows under ``order_by``.

    The corpus-curation use is per-source/per-domain quotas — cap how much
    any one domain contributes to a training mix, keeping its "best" docs
    under a caller-supplied TOTAL order (repo determinism rule: the order
    must break ties, e.g. ``[quality DESC, doc_id]``). ``rank_col`` keeps
    the 1-based rank in the output (long, matching SQL ROW_NUMBER).

    Scale shape: one shuffle on ``keys``; Spark evaluates row_number with
    a rank-limit pushdown (WindowGroupLimit) so each partition retains
    only ``n`` candidates per key before the final sort. A group never
    needs to fit in memory beyond its top-``n``; quota keys with millions
    of rows are fine. The filter-then-drop formulation keeps the plan an
    ordinary window + filter Catalyst already optimizes.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    rn = F.row_number().over(w).cast("long")
    col = rank_col if rank_col is not None else "__rn"
    if col in df.columns:
        raise ValueError(f"rank column {col!r} already exists in the input")
    out = df.withColumn(col, rn).filter(F.col(col) <= n)
    return out if rank_col is not None else out.drop("__rn")


def per_key_quota_sample(
    df: DataFrame,
    *,
    keys: Sequence[str],
    quota: Column,
    uniform: Column,
    tiebreak: Sequence[str],
    rank_col: str | None = None,
) -> DataFrame:
    """Exact per-stratum sample sizes (training-mix rebalancing): keep the
    ``quota`` lowest rows per key under a deterministic pseudo-random rank.

    Ranking by a hash-derived ``uniform`` (plus ``tiebreak`` for a total
    order) is an exact-count stratified draw — the way a corpus mix hits
    "12 docs from every even source, 5 from every odd one" precisely,
    where probabilistic filtering only hits it in expectation.
    ``quota`` is a per-row Column (typically a CASE over the key), so
    different strata get different counts in one pass.

    Scale: one shuffle on ``keys``. A column-valued quota defeats the
    WindowGroupLimit rank pushdown (that optimization needs a literal
    bound), so each group is fully sorted — fine for quota keys up to
    millions of rows; for a single literal quota use
    :func:`per_key_top_n`, which keeps the pushdown.
    """
    w = Window.partitionBy(*keys).orderBy(uniform, *[F.col(c) for c in tiebreak])
    rn = F.row_number().over(w).cast("long")
    col = rank_col if rank_col is not None else "__rn"
    if col in df.columns:
        raise ValueError(f"rank column {col!r} already exists in the input")
    out = df.withColumn(col, rn).filter(F.col(col) <= quota)
    return out if rank_col is not None else out.drop("__rn")


def hash_split(
    df: DataFrame,
    uniform: Column,
    splits: Sequence[tuple[str, float]],
) -> DataFrame:
    """Deterministic train/validation/test assignment: label each row by
    where its hash-uniform falls in the cumulative split fractions.

    ``splits`` is ordered (name, fraction) pairs summing to 1.0 (the last
    split absorbs rounding residue). A pure row-local codegen expression —
    no shuffle, no state, stable under repartitioning, and reproducible
    in SQL when ``uniform`` is :func:`uniform_affine`. Cumulative bounds
    are re-rounded to 10dp so short-decimal fractions produce the exact
    decimal literals a SQL oracle twin writes (0.9 + 0.05 in raw doubles
    is 0.9500000000000001, one ulp off the literal 0.95 — enough to flip
    a uniform landing in the gap and break bit-exact parity).
    """
    fracs = [f for _, f in splits]
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {sum(fracs)}")
    expr = F.lit(splits[-1][0])
    cum = 0.0
    bounds = []
    for name, frac in splits[:-1]:
        cum = round(cum + frac, 10)
        bounds.append((name, cum))
    for name, bound in reversed(bounds):
        expr = F.when(uniform < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, lang_col: str, uniform: Column) -> DataFrame:
    """Keep each row with probability ``LANG_FRACTIONS[its language]``,
    decided by comparing the caller-supplied deterministic ``uniform``
    column to the language's fraction. Rows in languages absent from
    ``LANG_FRACTIONS`` keep with ``OTHER_LANG_FRACTION``.

    The lookup compiles to a literal CASE chain — strata maps are
    config-sized by definition; a data-sized map should be a broadcast
    join instead.
    """
    frac = F.lit(float(OTHER_LANG_FRACTION))
    for lang, fraction in reversed(list(LANG_FRACTIONS.items())):
        frac = F.when(F.col(lang_col) == F.lit(lang), F.lit(float(fraction))).otherwise(frac)
    return df.filter(uniform < frac)


def leakage_safe_split(df: DataFrame, splits: Sequence[tuple[str, float]]) -> DataFrame:
    """Group-holdout train/validation/test split: every EXACT-DUPLICATE
    group (md5 content fingerprint, the engine's whole-doc dedup key)
    receives ONE split assignment, hashed from the group's canonical
    min-id rather than the row's own id — so a document duplicated
    across the corpus can never land in train AND eval. This is the
    contamination path a split-before-dedup pipeline reintroduces no
    matter how good the later dedup is: row-hash splitting puts the two
    copies of a duplicate on independent coins, and the eval copy then
    scores memorization, not generalization (the measurement artifact
    Lee et al. 2022 §6 quantify on duplicated eval sets).

    Adds ``group_id`` (canonical min id over the fingerprint group),
    ``group_size``, and ``split``. One shuffle, on the fingerprint;
    the assignment itself is the row-local codegen CASE of
    :func:`hash_split` over ``uniform_affine(group_id)``, so it stays
    reproducible in SQL and stable under any partitioning. Skew is
    bounded by the largest duplicate group — a corpus-quality fact the
    ``group_size`` output surfaces directly.
    """
    from dynamic_etl_spark.ops.text import fingerprint_md5

    w = Window.partitionBy("__fp")
    grouped = (
        df.withColumn("__fp", fingerprint_md5(F.col("text")))
        .withColumn("group_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .drop("__fp")
    )
    return hash_split(grouped, uniform_affine(F.col("group_id"), SPLIT_SALT), splits)


def assign_shard(key: Column | str) -> Column:
    """Deterministic shard id in [0, N_SHARDS): ``floor(U(key) * n)`` over
    the SQL-reproducible affine uniform. Row-local codegen — no shuffle,
    stable under any partitioning, and a training job can recompute the
    same assignment from the key alone (no stored mapping to ship).
    SQL twin: ``sql_assign_shard``."""
    return F.floor(uniform_affine(key, SHARD_SALT) * N_SHARDS).cast("int")


def sql_assign_shard(key_sql: str) -> str:
    """DuckDB twin of :func:`assign_shard`."""
    return f"CAST(floor({sql_uniform_affine(key_sql, SHARD_SALT)} * {N_SHARDS}) AS INT)"


def weighted_sample_without_replacement(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: Sequence[str] = (),
    salt: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group — the
    Efraimidis-Spirakis A-ES scheme (Inf. Process. Lett. 97(5), 2006):
    every row draws u = hash-uniform(id) and ranks by ``u^(1/w)``; the
    top-k ranks are a weighted sample without replacement, exactly
    (inclusion follows sequential weighted draws). The standard tool for
    quality-weighted corpus subsampling where high-weight docs should be
    LIKELY, not guaranteed, and no doc can repeat.

    One pass, no iteration: the rank is row-local codegen off the
    xxhash64 uniform (deterministic per (id, salt) at any parallelism —
    vary ``salt`` for fresh draws). With groups, the top-k reuses
    :func:`per_key_top_n` (the WindowGroupLimit quota-cap shape — each
    partition pre-prunes to k per key before the shuffle); WITHOUT
    groups that pushdown does not fire on the unpartitioned window (the
    repo's measured vocab_build lesson), so the global case runs as a
    distributed sort-LIMIT (TakeOrdered) instead. Rows with weight
    <= 0, null, or NaN never sample (NaN compares GREATER than any
    number in Spark — unfiltered it would win every draw). pow() is
    libm (engine-specific at the bit level), so this is rows-only
    territory: distribution + determinism are pytest-checked, not
    DuckDB-hashed.
    """
    groups = list(group_cols)
    wcol = F.col(weight_col).cast("double")
    u = uniform_hash(id_col, salt=salt)
    eligible = df.filter((wcol > 0) & ~F.isnan(wcol)).withColumn(
        "__aes_key", F.pow(u, F.lit(1.0) / wcol)
    )
    order = [F.desc("__aes_key"), F.col(id_col)]
    if groups:
        return per_key_top_n(eligible, keys=groups, order_by=order, n=k).drop(
            "__aes_key"
        )
    return eligible.orderBy(*order).limit(k).drop("__aes_key")


def build_reservoir_state(df: DataFrame, keys: Sequence[str], item: str) -> DataFrame:
    """Mergeable per-key uniform RESERVOIR: the ``RESERVOIR_N`` rows with the
    smallest deterministic priority per key group, priority =
    ``uniform_affine(item)`` with the item id as tie-break (``item``
    must uniquely identify a row, e.g. an event id). The fourth
    mergeable summary next to the exact monoid (build_agg_state), HLL
    (distinct sketch), and Misra-Gries (heavy hitters): a bounded
    uniform sample per key, maintained batch-by-batch without history
    rescans.

    Because the priority is a pure function of the item id, keeping the
    bottom-n order statistics is MERGE-INVARIANT: any merge tree over
    any slicing — and the one-shot build over everything — select the
    identical sample (bottom-n of a union == bottom-n of the per-slice
    bottom-n's). The registry oracle proves exactly that: Spark folds
    three date slices, DuckDB ranks one-shot, hashes must match.

    State: (keys..., state_item, state_pri), ≤ n rows per key.
    100 TB shape: one shuffle on the keys with a per-key sort; merges
    move only ≤ 2n rows per key.
    """
    pri = uniform_affine(F.col(item))
    base = df.select(
        *keys, F.col(item).alias("state_item"), pri.alias("state_pri")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.asc("state_pri"), F.asc("state_item")
    )
    return (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= RESERVOIR_N)
        .drop("__rn")
    )


def merge_reservoir_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta reservoir into the stored reservoir: union and keep
    the bottom-n priorities per key again. Summary-sized shuffle."""
    keys = [c for c in state.columns if c not in ("state_item", "state_pri")]
    w = Window.partitionBy(*keys).orderBy(
        F.asc("state_pri"), F.asc("state_item")
    )
    return (
        state.unionByName(delta)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= RESERVOIR_N)
        .drop("__rn")
    )


def finalize_reservoir_state(state: DataFrame, item_alias: str = "item") -> DataFrame:
    """Query-boundary projection: (keys..., item, priority rounded 10dp
    per the repo fraction-bound rule)."""
    keys = [c for c in state.columns if c not in ("state_item", "state_pri")]
    return state.select(
        *keys,
        F.col("state_item").alias(item_alias),
        F.round(F.col("state_pri"), 10).alias("priority"),
    )
