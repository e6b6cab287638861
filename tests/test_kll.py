"""KLL rank sketch ground truth (ops/kll.py): rank-error bound vs exact
percentiles at sf0.001 AND sf0.01, merge-tree invariance of the bound,
exact associativity of the fold, state-size bound, determinism, and
streaming maintenance via run_streaming_summary."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dynamic_etl_spark.catalog import load_table
from dynamic_etl_spark.ops import kll
from dynamic_etl_spark.ops.agg import QUANTILES as QS
from dynamic_etl_spark.ops.kll import (
    DEFAULT_K,
    _compress,
    _fold,
    build_kll_state,
    finalize_kll_state,
    kll_rank_error_bound,
    kll_state_bound,
    merge_kll_state,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"

# Repo-local scratch (the environment forbids writes outside /root/repo).
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "kll")


@pytest.fixture()
def scratch():
    import shutil

    shutil.rmtree(_SCRATCH, ignore_errors=True)
    os.makedirs(_SCRATCH)
    yield _SCRATCH
    shutil.rmtree(_SCRATCH, ignore_errors=True)


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value"), "ts"
    )


def _true_ranks(pdf):
    return {k_: np.sort(g["value"].to_numpy()) for k_, g in pdf.groupby("event_type")}


def _worst_rank_err(rows, sorted_vals):
    worst = 0.0
    for r in rows:
        vals = sorted_vals[r["event_type"]]
        # a duplicated value occupies a rank INTERVAL; error = distance
        # from q to that interval (zero when q falls inside it)
        lo = np.searchsorted(vals, r["quantile_est"], side="left") / len(vals)
        hi = np.searchsorted(vals, r["quantile_est"], side="right") / len(vals)
        q = r["q"]
        worst = max(worst, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    return worst


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_rank_error_within_bound_one_shot_and_merged(spark, sf_dir):
    """The verdict's done-criterion: estimate rank error vs the exact
    distribution stays under kll_rank_error_bound for the one-shot build
    AND for the 3-slice merge tree, at both scale factors."""
    ev = _events(spark, sf_dir)
    pdf = ev.select("event_type", "value").toPandas()
    sorted_vals = _true_ranks(pdf)
    n_max = max(len(v) for v in sorted_vals.values())

    one_shot = finalize_kll_state(build_kll_state(ev, ["event_type"], "value")).collect()
    assert len(one_shot) == len(sorted_vals) * len(QS)
    err = _worst_rank_err(one_shot, sorted_vals)
    bound = kll_rank_error_bound(n_max, DEFAULT_K)
    assert err <= bound, f"one-shot rank error {err:.5f} > bound {bound:.5f}"

    cut1 = F.lit("2024-01-11 00:00:00").cast("timestamp_ntz")
    cut2 = F.lit("2024-01-21 00:00:00").cast("timestamp_ntz")
    s1 = build_kll_state(ev.filter(F.col("ts") < cut1), ["event_type"], "value")
    s2 = build_kll_state(
        ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)), ["event_type"], "value"
    )
    s3 = build_kll_state(ev.filter(F.col("ts") >= cut2), ["event_type"], "value")
    merged = merge_kll_state(merge_kll_state(s1, s2), s3)
    merged_rows = finalize_kll_state(merged).collect()
    err_m = _worst_rank_err(merged_rows, sorted_vals)
    bound_m = kll_rank_error_bound(n_max, DEFAULT_K, n_merges=2)
    assert err_m <= bound_m, f"merged rank error {err_m:.5f} > bound {bound_m:.5f}"

    # state stays sketch-sized
    n_state = merged.groupBy("event_type").count().agg(F.max("count")).collect()[0][0]
    assert n_state <= kll_state_bound(n_max, DEFAULT_K)


def test_merge_tree_shapes_all_within_bound(spark):
    """Merge-invariance in the sense a sketch can promise it: every merge
    tree — left fold, right fold, balanced — lands inside the same
    rank-error bound (KLL's guarantee is per-compaction, so it is
    tree-shape-independent)."""
    ev = _events(spark, SF_MID)
    pdf = ev.select("event_type", "value").toPandas()
    sorted_vals = _true_ranks(pdf)
    n_max = max(len(v) for v in sorted_vals.values())

    day = F.dayofmonth(F.col("ts"))
    slices = [
        build_kll_state(ev.filter(day % 4 == i), ["event_type"], "value")
        for i in range(4)
    ]
    trees = {
        "left": merge_kll_state(
            merge_kll_state(merge_kll_state(slices[0], slices[1]), slices[2]), slices[3]
        ),
        "balanced": merge_kll_state(
            merge_kll_state(slices[0], slices[1]), merge_kll_state(slices[2], slices[3])
        ),
        "right": merge_kll_state(
            slices[0], merge_kll_state(slices[1], merge_kll_state(slices[2], slices[3]))
        ),
    }
    bound = kll_rank_error_bound(n_max, DEFAULT_K, n_merges=3)
    for shape, state in trees.items():
        err = _worst_rank_err(finalize_kll_state(state).collect(), sorted_vals)
        assert err <= bound, f"{shape} tree rank error {err:.5f} > bound {bound:.5f}"


def test_fold_is_exactly_associative_on_fragments():
    """Below the Spark layer the fold itself is content-deterministic:
    folding the same fragment multiset in any order yields the
    BYTE-IDENTICAL compactor hierarchy — _fold canonical-sorts every
    level, so the assertion is raw array equality, deliberately NOT
    multiset equality (an uncompacted level would otherwise keep
    fragment-concatenation order; r6 stress caught exactly that).
    Swept over 50 random fragment shuffles, sizes, and k values."""
    rng = np.random.RandomState(3)
    for trial in range(50):
        k = int(rng.randint(8, 128))
        n_frag = int(rng.randint(1, 6))
        frags = []
        for _ in range(n_frag):
            n = int(rng.randint(0, 2000))
            levels = _compress({0: rng.lognormal(2, 1, n)}, k) if n else {}
            lv = (
                np.concatenate(
                    [np.full(len(a), l, dtype=np.int64) for l, a in levels.items()]
                )
                if levels
                else np.array([], dtype=np.int64)
            )
            vv = (
                np.concatenate([a for a in levels.values()])
                if levels
                else np.array([], dtype=np.float64)
            )
            frags.append((lv, vv))
        a = _fold(iter(frags), k)
        perm = list(range(n_frag))
        rng.shuffle(perm)
        b = _fold(iter([frags[i] for i in perm]), k)
        assert sorted(a) == sorted(b), (trial, k)
        for l in a:
            assert np.array_equal(a[l], b[l]), (trial, k, l)


def test_exact_below_k_and_deterministic_rerun(spark):
    """With n < k no compaction ever fires: the sketch returns the exact
    empirical quantile. Re-running the full build twice is bit-stable
    (crc32 coins, no RNG)."""
    ev = _events(spark, SF_SMALL)
    r1 = finalize_kll_state(build_kll_state(ev, ["event_type"], "value"))
    r2 = finalize_kll_state(build_kll_state(ev, ["event_type"], "value"))
    rows1 = sorted(map(tuple, r1.collect()))
    rows2 = sorted(map(tuple, r2.collect()))
    assert rows1 == rows2
    # sf0.001 has ~200 rows per type < DEFAULT_K: estimates == exact
    # empirical quantile (smallest value with rank >= ceil(q*n))
    pdf = ev.select("event_type", "value").toPandas()
    for et, g in pdf.groupby("event_type"):
        vals = np.sort(g["value"].to_numpy())
        for q in QS:
            exact = vals[int(np.ceil(q * len(vals))) - 1]
            got = [r for r in rows1 if r[0] == et and r[1] == q][0][2]
            assert got == round(float(exact), 6)


def test_finalize_tie_invariance(spark):
    """finalize_kll_state's cumulative window orders by (state_value,
    state_level), which is NOT unique when bit-identical compactor rows
    repeat (ADVICE r5). The selection is provably tie-invariant (a run
    of equal values qualifies iff its run-end cumulative weight does,
    and run-end sums commute) — pin that by finalizing the same state
    multiset, duplicates included, under shuffled row orders and
    adversarial partitionings."""
    rows = []
    for key in ("a", "b"):
        # duplicate (value, level) pairs on purpose, at several levels
        rows += [(key, 0, 1.0)] * 3 + [(key, 1, 1.0)] * 2
        rows += [(key, 0, 2.5)] * 2 + [(key, 2, 2.5)]
        rows += [(key, 1, 7.0)] * 4 + [(key, 0, 9.0)]
    schema = "k string, state_level int, state_value double"
    base = None
    for perm in (rows, list(reversed(rows)), rows[::2] + rows[1::2]):
        for nparts in (1, 7):
            state = spark.createDataFrame(perm, schema).repartition(nparts)
            got = sorted(map(tuple, finalize_kll_state(state).collect()))
            if base is None:
                base = got
            assert got == base
    # and the selected estimates are the weighted empirical quantiles
    import collections

    weights = collections.Counter()
    for _, lvl, val in rows[: len(rows) // 2]:  # key "a"
        weights[val] += 2**lvl
    total = sum(weights.values())
    for q in QS:
        target = int(np.ceil(q * total))
        cum = 0
        for val in sorted(weights):
            cum += weights[val]
            if cum >= target:
                expected = val
                break
        got = [r for r in base if r[0] == "a" and r[1] == q][0][2]
        assert got == round(expected, 6)


def test_streaming_summary_maintains_rank_sketch(spark, scratch, monkeypatch):
    """run_streaming_summary with the KLL builders: after three
    micro-batches the maintained estimates sit inside the merge-tree
    bound vs the exact percentiles of everything ingested."""
    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    src = os.path.join(scratch, "src")
    state = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)
    all_rows = []
    k = 128
    monkeypatch.setattr(kll, "DEFAULT_K", k)
    for part in range(3):
        rows = [
            (str(part % 2), float(((i * 7919 + part * 104729) % 100000)) / 7.0)
            for i in range(2000)
        ]
        all_rows += rows
        spark.createDataFrame(rows, "grp string, value double").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_streaming_summary(
            file_stream(spark, src, "grp string, value double"),
            state,
            ckpt,
            build=lambda b: build_kll_state(b, ["grp"], "value"),
            merge=merge_kll_state,
        )
    maintained = finalize_kll_state(read_versioned(spark, state)).collect()
    by_grp = {}
    for g, v in all_rows:
        by_grp.setdefault(g, []).append(v)
    sorted_vals = {g: np.sort(np.array(v)) for g, v in by_grp.items()}
    worst = 0.0
    for r in maintained:
        vals = sorted_vals[r["grp"]]
        lo = np.searchsorted(vals, r["quantile_est"], side="left") / len(vals)
        hi = np.searchsorted(vals, r["quantile_est"], side="right") / len(vals)
        q = r["q"]
        worst = max(worst, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    bound = kll_rank_error_bound(max(len(v) for v in sorted_vals.values()), k, n_merges=2)
    assert worst <= bound, f"maintained rank error {worst:.5f} > bound {bound:.5f}"


def test_kll_empty_and_all_null_inputs(spark, monkeypatch):
    """An empty or all-NULL build yields an empty state; merging an
    empty delta is the identity; finalize of empty is empty — the edges
    a streaming micro-batch hits routinely."""
    monkeypatch.setattr(kll, "DEFAULT_K", 64)
    empty = spark.createDataFrame([], "grp string, value double")
    s_empty = build_kll_state(empty, ["grp"], "value")
    assert s_empty.count() == 0
    assert finalize_kll_state(s_empty).count() == 0

    nulls = spark.createDataFrame([("a", None), ("b", None)], "grp string, value double")
    assert build_kll_state(nulls, ["grp"], "value").count() == 0

    real = build_kll_state(
        spark.createDataFrame([("a", float(i)) for i in range(50)], "grp string, value double"),
        ["grp"], "value",
    )
    merged = merge_kll_state(real, s_empty)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, real.collect()))


def test_kll_single_value_and_single_row(spark, monkeypatch):
    """Degenerate distributions: one row, and one value repeated past
    the compaction threshold — every quantile must return that value."""
    monkeypatch.setattr(kll, "DEFAULT_K", 8)
    one = build_kll_state(
        spark.createDataFrame([("a", 7.5)], "grp string, value double"), ["grp"], "value"
    )
    rows = finalize_kll_state(one).collect()
    assert [(r["q"], r["quantile_est"]) for r in sorted(rows, key=lambda r: r["q"])] == [
        (0.5, 7.5), (0.9, 7.5), (0.99, 7.5)
    ]
    const = build_kll_state(
        spark.createDataFrame([("a", 3.25)] * 500, "grp string, value double"),
        ["grp"], "value",
    )
    for r in finalize_kll_state(const).collect():
        assert r["quantile_est"] == 3.25


def test_presketch_key_flush_preserves_correctness(spark, monkeypatch):
    """The high-cardinality guard (fragments emitted mid-partition when
    too many keys are in flight) must not change semantics: with the
    flush threshold forced to 3 over 40 keys, every key's estimates
    still sit inside the rank-error bound and the state-size bound
    holds per key."""
    rows = [(f"k{i % 40:02d}", float((i * 37) % 1000)) for i in range(8000)]
    df = spark.createDataFrame(rows, "grp string, value double").repartition(4)
    k = 64
    monkeypatch.setattr(kll, "DEFAULT_K", k)
    monkeypatch.setattr(kll, "MAX_KEYS_IN_FLIGHT", 3)
    state = build_kll_state(df, ["grp"], "value")
    per_key_rows = {r["grp"]: r["count"] for r in state.groupBy("grp").count().collect()}
    assert set(per_key_rows) == {f"k{i:02d}" for i in range(40)}
    n_per = 8000 // 40
    assert max(per_key_rows.values()) <= kll_state_bound(n_per, k)
    fin = finalize_kll_state(state).collect()
    by_grp = {}
    for g, v in rows:
        by_grp.setdefault(g, []).append(v)
    sorted_vals = {g: np.sort(np.array(v)) for g, v in by_grp.items()}
    worst = 0.0
    for r in fin:
        vals = sorted_vals[r["grp"]]
        lo = np.searchsorted(vals, r["quantile_est"], side="left") / len(vals)
        hi = np.searchsorted(vals, r["quantile_est"], side="right") / len(vals)
        q = r["q"]
        worst = max(worst, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    # flushes act like extra merges; allow the per-partition merge budget
    assert worst <= kll_rank_error_bound(n_per, k, n_merges=8), worst
