"""Mergeable KLL-style rank sketch: maintained quantiles with NO a-priori
value range (VERDICT r4 #2 — the fixed-grid quantile histogram in
ops/agg.py needs lo/hi/n_bins up front; real telemetry doesn't offer
them).

The sketch is the compactor hierarchy of Karnin-Lang-Liberty (KLL,
FOCS'16) with the equal-capacity levels of Manku-Rajagopalan-Lindsay
(SIGMOD'98): level ``l`` holds at most ``k`` values, each standing for
``2^l`` original rows. When a level overflows, its sorted content is
compacted — every other value of an even-sized region is promoted to
the next level (doubling its weight) and the rest are discarded; an
odd-sized level retains its minimum in place first, so implied weight
is conserved exactly through every compaction. One compaction at level ``l``
perturbs any rank by at most ``2^(l-1)``, and level ``l`` can compact at
most ``n/(k*2^l)`` times, so total rank error is at most
``n*H/(2k)`` with ``H ~ log2(n/k)`` levels — i.e. relative rank error
``eps <= H/(2k)``, with state bounded at ``k*H`` rows per key, for ANY
value distribution and no configured range.

Determinism/parity placement (the HLL-sketch precedent in this summary
suite): the compaction coin — which of the two interleaved halves gets
promoted — is a crc32 of the compacted content, so the sketch is a pure
function of the merge tree (bit-stable re-run to re-run, no RNG state).
Like every quantile sketch, the exact content IS merge-tree-dependent;
the rank-error bound above is what every tree shares (KLL Thm 1 is
proved per-compaction, not per-schedule). Hence rows-only registry
territory — the bound, merge associativity, and streaming maintenance
are pytest-ground-truthed against exact percentiles instead of a DuckDB
hash (tests/test_kll.py).

100 TB shape: build streams Arrow batches through a per-partition
pre-sketch (mapInPandas — bounded memory regardless of key skew: state
is k*H rows per key seen in the partition), then folds the
partition-count-many fragments per key in one applyInPandas whose input
is sketch-sized, never history-sized. Merges move only summaries. The
build/merge/finalize idiom matches the monoid/HLL/Misra-Gries/reservoir/
histogram quartet in ops/agg.py and ops/sample.py, so
streaming/sink.run_streaming_summary maintains it batch-by-batch with
the same exactly-once versioned-commit protocol.

Reference parity note: the reference engine has no rank sketch at all —
its percentile needs (scripts2/load_fact_sales_dw.py aggregate passes)
are exact sorts; this operator is part of the beyond-reference
large-corpus telemetry layer.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_spark.ops.agg import QUANTILES

DEFAULT_K = 512

_STATE_COLS = ("state_level", "state_value")


def _coin(arr: np.ndarray) -> int:
    """Deterministic compaction coin: parity of a crc32 over the sorted
    level content. Pseudo-random across compactions (so errors cancel
    like KLL's random coin in practice) yet a pure function of the data
    — no RNG state to carry in the sketch. ``+ 0.0`` turns -0.0 into
    0.0: the sort ranks the two zeros equal, so their order (and bytes)
    would otherwise depend on arrival order."""
    return zlib.crc32((arr + 0.0).tobytes()) & 1


def _compress(levels: dict[int, np.ndarray], k: int) -> dict[int, np.ndarray]:
    """Compact every overflowing level bottom-up until all levels hold
    <= k values. Operates on (and returns) dense float64 arrays; the
    result depends only on the per-level value MULTISETS (content is
    sorted before compaction), not on arrival order."""
    lvl = 0
    while True:
        arr = levels.get(lvl)
        if arr is not None and len(arr) > k:
            srt = np.sort(arr)
            # odd-sized level: retain the minimum at this level so mass
            # is conserved exactly — promoting alternate items of an ODD
            # region would create (ceil*2 = n+1) or destroy (floor*2 =
            # n-1) one unit of implied weight. The retained item keeps
            # its own weight, so it adds no rank error; only the even
            # region is compacted (KLL FOCS'16 §2 compacts even counts).
            keep = len(srt) % 2
            promoted = srt[keep:][_coin(srt) :: 2]
            levels[lvl] = srt[:keep]
            up = levels.get(lvl + 1)
            levels[lvl + 1] = (
                promoted if up is None or len(up) == 0 else np.concatenate([up, promoted])
            )
        lvl += 1
        if lvl > max(levels, default=0):
            break
    return {l: a for l, a in levels.items() if len(a)}


def _fold(frames: Iterator[tuple[np.ndarray, np.ndarray]], k: int) -> dict[int, np.ndarray]:
    """Bucket (level, value) fragment rows by level, then compress once.
    Because _compress sorts each level, the fold is invariant to
    fragment order — the merge of sketches is a function of the union
    multiset of their compactor contents."""
    levels: dict[int, list[np.ndarray]] = {}
    for lv, vals in frames:
        for l in np.unique(lv):
            levels.setdefault(int(l), []).append(vals[lv == l])
    dense = {l: np.concatenate(parts) for l, parts in levels.items()}
    # canonicalize at the boundary (NOT inside _compress's hot loop): an
    # uncompacted level keeps fragment-concatenation order, so two folds
    # of the same fragment multiset would be multiset-equal but not
    # byte-equal without this sort (tests/test_kll.py pins byte
    # equality, incl. a shuffled-fold stress). Note the scope: the fold
    # of a FIXED fragment multiset is byte-stable; a partition BUILD's
    # fragment content still depends on batch chunking, like any
    # streaming sketch.
    return {l: np.sort(a) for l, a in _compress(dense, k).items()}


def _emit(levels: dict[int, np.ndarray]) -> tuple[list[int], list[float]]:
    """Rows from a level dict, canonically ordered (level asc, value asc
    within level) — every externally visible state emission passes
    through here, so emitted fragments/states are byte-stable for a
    given level-content multiset."""
    out_l: list[int] = []
    out_v: list[float] = []
    for l in sorted(levels):
        out_l.extend([l] * len(levels[l]))
        out_v.extend(float(v) for v in np.sort(levels[l]))
    return out_l, out_v


def _state_schema(df: DataFrame, keys: Sequence[str]) -> T.StructType:
    fields = [df.schema[k_] for k_ in keys]
    fields.append(T.StructField("state_level", T.IntegerType(), False))
    fields.append(T.StructField("state_value", T.DoubleType(), False))
    return T.StructType(fields)


#: Pre-sketch key-state flush threshold: a partition holding more than
#: this many concurrent per-key sketches emits them as fragments and
#: resets (the per-key fold merges fragments regardless), bounding
#: mapInPandas memory under high key cardinality the way partial
#: aggregation spills.
MAX_KEYS_IN_FLIGHT = 50_000


def build_kll_state(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
) -> DataFrame:
    """Mergeable RANK-SKETCH state: a KLL compactor hierarchy per key
    group — the unknown-range quantile member of the maintained-summary
    suite (monoid / HLL / Misra-Gries / reservoir / fixed-grid
    histogram). State: (keys..., state_level, state_value) with implied
    weight ``2^state_level``, <= ``k * ceil(log2(n/k) + 1)`` rows per
    key. NULL values are filtered (SCALE.md null-ordering parity trap).

    Two-stage plan: (1) mapInPandas pre-sketches each partition in
    streaming Arrow batches — memory stays at sketch size even when one
    key holds the whole partition; (2) one applyInPandas folds the
    per-partition fragments per key over sketch-sized input. One
    shuffle, on the keys, moving only fragments."""
    keys = list(keys)
    schema = _state_schema(df, keys)
    src = df.filter(F.col(value).isNotNull()).select(
        *keys, F.col(value).cast("double").alias("__v")
    )

    def presketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, dict[int, np.ndarray]] = {}

        def drain():
            for kt, levels in sketches.items():
                lv, vv = _emit(_compress(levels, DEFAULT_K))
                if lv:
                    out = {c: [kt[i]] * len(lv) for i, c in enumerate(keys)}
                    out["state_level"] = lv
                    out["state_value"] = vv
                    yield pd.DataFrame(out)
            sketches.clear()

        for pdf in batches:
            vals = pdf["__v"].to_numpy(dtype=np.float64)
            key_frame = pdf[keys]
            # group batch rows by key tuple, extend level 0, compress
            grouped = key_frame.groupby(keys, sort=False, dropna=False).indices
            for kt, idx in grouped.items():
                kt = kt if isinstance(kt, tuple) else (kt,)
                levels = sketches.setdefault(kt, {})
                zero = levels.get(0)
                chunk = vals[idx]
                levels[0] = (
                    chunk if zero is None or len(zero) == 0 else np.concatenate([zero, chunk])
                )
                if len(levels[0]) > DEFAULT_K:
                    sketches[kt] = _compress(levels, DEFAULT_K)
            # high-cardinality guard: emit fragments and reset rather than
            # hold every key's sketch for the whole partition (the keyed
            # fold merges fragments either way; only fragment COUNT grows)
            if len(sketches) > MAX_KEYS_IN_FLIGHT:
                yield from drain()
        yield from drain()

    fragments = src.mapInPandas(presketch, schema)
    return _fold_per_key(fragments, keys, DEFAULT_K, schema)


def _fold_per_key(
    fragments: DataFrame, keys: list[str], k: int, schema: T.StructType
) -> DataFrame:
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        levels = _fold(
            iter(
                [
                    (
                        pdf["state_level"].to_numpy(dtype=np.int64),
                        pdf["state_value"].to_numpy(dtype=np.float64),
                    )
                ]
            ),
            k,
        )
        lv, vv = _emit(levels)
        out = {c: [pdf[c].iloc[0]] * len(lv) for c in keys}
        out["state_level"] = lv
        out["state_value"] = vv
        return pd.DataFrame(out)

    return fragments.groupBy(*keys).applyInPandas(fold, schema)


def merge_kll_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta sketch into the stored sketch: union the compactor
    rows, re-compress per key. Sketch-sized shuffle, never history."""
    keys = [c for c in state.columns if c not in _STATE_COLS]
    unioned = state.unionByName(delta)
    return _fold_per_key(unioned, keys, DEFAULT_K, unioned.schema)


def finalize_kll_state(state: DataFrame) -> DataFrame:
    """Quantile estimates from the weighted compactor contents — pure
    codegen, no Python: weight = 2^level, one keyed cumulative-sum
    window over the (value, level) total order, then for each q of
    ``QUANTILES`` the
    first value whose cumulative weight reaches ``ceil(q * W)``. The
    per-key frame is sketch-bounded (k * n_levels rows), so the window
    is safe at any key skew. Output (keys..., q, quantile_est)."""
    keys = [c for c in state.columns if c not in _STATE_COLS]
    # Tie-invariance (ADVICE r5, deliberate exception to the total-order
    # window rule): duplicate (state_value, state_level) compactor rows
    # are bit-identical, so no deterministic tiebreak column can exist —
    # but none is needed. The selection below is
    # min(state_value WHERE cum >= target); a run of equal state_value
    # rows qualifies iff its LAST row does, and the run-end cumulative
    # weight is invariant under any intra-run permutation (only the
    # order of equal values permutes, and weight sums commute). Hence
    # the quantile estimate is identical for every tie order — verified
    # by tests/test_kll.py::test_finalize_tie_invariance.
    w = (
        Window.partitionBy(*keys)
        .orderBy("state_value", "state_level")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wk = Window.partitionBy(*keys)
    weighted = state.withColumn(
        "__w", F.pow(F.lit(2.0), F.col("state_level")).cast("long")
    )
    cum = weighted.select(
        *keys,
        "state_value",
        F.sum("__w").over(w).alias("__cum"),
        F.sum("__w").over(wk).alias("__tot"),
    )
    # every q picks from the SAME cumulative frame in one conditional
    # aggregation, then stacks wide->long — one plan subtree total (a
    # per-q filter/union would replicate the whole build/merge subtree
    # per quantile and triple the exchange count)
    aggs = [
        F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.lit(float(q)) * F.col("__tot")),
                F.col("state_value"),
            )
        ).alias(f"__q{i}")
        for i, q in enumerate(QUANTILES)
    ]
    wide = cum.groupBy(*keys).agg(*aggs)
    stack = ", ".join(
        f"CAST({float(q)} AS DOUBLE), __q{i}" for i, q in enumerate(QUANTILES)
    )
    return wide.select(
        *keys,
        F.expr(f"stack({len(QUANTILES)}, {stack}) AS (q, quantile_est)"),
    ).select(
        *keys,
        "q",
        # + 0.0 collapses IEEE -0.0 (a near-zero-negative quantile
        # rounding to zero from below) — SCALE.md signed-zero parity trap
        (F.round("quantile_est", 6) + 0.0).alias("quantile_est"),
    )


def kll_state_bound(n: int, k: int = DEFAULT_K) -> int:
    """Maximum state rows per key after compressing n values."""
    h = max(int(np.ceil(np.log2(max(n, k) / k))) + 1, 1)
    return k * (h + 1)


def kll_rank_error_bound(n: int, k: int = DEFAULT_K, n_merges: int = 0) -> float:
    """Deterministic worst-case RELATIVE rank error. Build: each
    compaction at level l perturbs any rank by <= 2^(l-1) absolute;
    level l compacts <= n/(k*2^l) times, so the build sums to
    sum_l n/(k*2^l) * 2^(l-1) / n = H/(2k). Each merge event adds at
    most one extra compaction per level, the worst (top-level) one
    costing 2^(H-1)/n <= 1/(2k) relative — another H/(2k) per merge.
    Total: (1 + n_merges) * H/(2k), plus the 1/n rank granularity of
    the empirical quantile itself (the returned value's rank lands in
    [q, q + 1/n) even with zero compactions). Conservative: the crc32
    coins cancel like KLL's random coin in practice, so observed error
    runs well below this (see tests/test_kll.py)."""
    h = max(int(np.ceil(np.log2(max(n, k) / k))) + 1, 1)
    return (1 + n_merges) * h / (2.0 * k) + 1.0 / max(n, 1)
