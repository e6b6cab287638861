"""Property-based ground truth for the pure-Python sketch cores
(hypothesis): the invariants the distributed operators inherit must hold
for ARBITRARY inputs, not just the fixtures — adversarial shapes
(constant streams, sorted streams, heavy ties, tiny/huge values) are
exactly where compaction logic breaks silently."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dynamic_etl_spark.ops.kll import (
    _compress,
    _fold,
    kll_rank_error_bound,
    kll_state_bound,
)

K = 32

values = st.lists(
    st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=3000,
)


def _sketch(data: np.ndarray, k: int = K) -> dict[int, np.ndarray]:
    levels: dict[int, np.ndarray] = {}
    for chunk in np.array_split(data, max(len(data) // k, 1)):
        z = levels.get(0)
        levels[0] = chunk if z is None or not len(z) else np.concatenate([z, chunk])
        if len(levels[0]) > k:
            levels = _compress(levels, k)
    return _compress(levels, k)


def _weighted_total(levels) -> float:
    return sum(len(a) * 2.0**l for l, a in levels.items())


def _rank_err(levels, data: np.ndarray) -> float:
    items = np.concatenate([a for a in levels.values()])
    wts = np.concatenate([np.full(len(a), 2.0**l) for l, a in levels.items()])
    order = np.argsort(items, kind="stable")
    items, wts = items[order], wts[order]
    cum = np.cumsum(wts)
    srt = np.sort(data)
    worst = 0.0
    for q in (0.1, 0.5, 0.9):
        pos = min(int(np.searchsorted(cum, np.ceil(q * cum[-1]))), len(items) - 1)
        # a duplicated value occupies a rank INTERVAL; the error is the
        # distance from q to that interval (zero when q falls inside it)
        lo = np.searchsorted(srt, items[pos], side="left") / len(srt)
        hi = np.searchsorted(srt, items[pos], side="right") / len(srt)
        worst = max(worst, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    return worst


@settings(max_examples=60, deadline=None)
@given(values)
def test_kll_weight_state_and_error_invariants(xs):
    """For any input: (1) total implied weight == n (no mass created or
    destroyed — compaction promotes half at double weight); (2) state
    rows within the analytic bound; (3) rank error within the analytic
    bound; (4) re-sketching the same data is bit-identical (crc coins,
    no RNG)."""
    data = np.array(xs, dtype=np.float64)
    s1 = _sketch(data)
    assert _weighted_total(s1) == len(data)
    assert sum(len(a) for a in s1.values()) <= kll_state_bound(len(data), K)
    assert _rank_err(s1, data) <= kll_rank_error_bound(len(data), K)
    s2 = _sketch(data)
    assert sorted(s1) == sorted(s2)
    for lvl in s1:
        assert np.array_equal(s1[lvl], s2[lvl])


@settings(max_examples=40, deadline=None)
@given(values, values)
def test_kll_merge_preserves_weight_and_bound(xs, ys):
    """Folding two sketches: weight adds exactly, the merged state obeys
    the size bound, and rank error vs the concatenated data stays within
    the 1-merge analytic bound."""
    a, b = np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64)
    sa, sb = _sketch(a), _sketch(b)

    def rows(s):
        lv = np.concatenate([np.full(len(v), l, dtype=np.int64) for l, v in s.items()])
        vv = np.concatenate([v for v in s.values()])
        return lv, vv

    merged = _fold(iter([rows(sa), rows(sb)]), K)
    n = len(a) + len(b)
    assert _weighted_total(merged) == n
    assert sum(len(v) for v in merged.values()) <= kll_state_bound(n, K)
    assert _rank_err(merged, np.concatenate([a, b])) <= kll_rank_error_bound(n, K, n_merges=1)


@settings(max_examples=40, deadline=None)
@given(values)
# a level holding 0.0 and -0.0: their sorted order follows arrival order
@example(xs=[0.0] * 27 + [1.0, 0.0, -0.0, 0.0, 0.0, 0.0])
def test_kll_fold_order_invariant(xs):
    """_fold of the same fragment multiset in any order is bit-identical
    (the content-determinism claim the Spark fold relies on)."""
    data = np.array(xs, dtype=np.float64)
    frags = []
    for chunk in np.array_split(data, min(4, len(data))):
        if not len(chunk):
            continue
        s = _compress({0: chunk}, K)
        lv = np.concatenate([np.full(len(v), l, dtype=np.int64) for l, v in s.items()])
        vv = np.concatenate([v for v in s.values()])
        frags.append((lv, vv))
    f1 = _fold(iter(frags), K)
    f2 = _fold(iter(list(reversed(frags))), K)
    assert sorted(f1) == sorted(f2)
    for lvl in f1:
        assert np.array_equal(np.sort(f1[lvl]), np.sort(f2[lvl]))


# ---------------------------------------------------------------------------
# Misra-Gries: the PODS'12 mergeable-summary guarantees, via the same
# pure reference logic the Spark _mg_compress implements
# ---------------------------------------------------------------------------

items_strat = st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=2000)


def _mg_reference(counts: dict, k: int) -> dict:
    """Reference MG compression: subtract the (k+1)-th largest count,
    drop non-positive — mirrors ops/agg._mg_compress exactly."""
    if len(counts) <= k:
        return dict(counts)
    off = sorted(counts.values(), reverse=True)[k]
    return {i: c - off for i, c in counts.items() if c - off > 0}


@settings(max_examples=60, deadline=None)
@given(items_strat, st.integers(min_value=1, max_value=8))
def test_mg_guarantees(xs, k):
    """(1) at most k survivors; (2) survivors' counters never
    overestimate; (3) any item with true count > n/(k+1) survives."""
    from collections import Counter

    true = Counter(xs)
    mg = _mg_reference(true, k)
    n = len(xs)
    assert len(mg) <= k
    for item, c in mg.items():
        assert c <= true[item]
    for item, c in true.items():
        if c > n / (k + 1):
            assert item in mg, f"heavy item {item} ({c}/{n}) evicted at k={k}"


@settings(max_examples=40, deadline=None)
@given(items_strat, items_strat, st.integers(min_value=1, max_value=8))
def test_mg_merge_guarantee_survives(xs, ys, k):
    """Merging two MG summaries (add counters, re-compress) keeps the
    combined-stream guarantee: count > (nx+ny)/(k+1) is always present
    (Agarwal et al., Mergeable Summaries)."""
    from collections import Counter

    a = _mg_reference(Counter(xs), k)
    b = _mg_reference(Counter(ys), k)
    summed = Counter(a)
    summed.update(b)
    merged = _mg_reference(summed, k)
    true = Counter(xs) + Counter(ys)
    n = len(xs) + len(ys)
    assert len(merged) <= k
    for item, c in true.items():
        if c > n / (k + 1):
            assert item in merged, f"heavy item {item} ({c}/{n}) lost in merge at k={k}"


# ---------------------------------------------------------------------------
# BPE core properties: merge_word / bpe_segment invariants for arbitrary
# symbol streams and merge tables
# ---------------------------------------------------------------------------

sym = st.text(alphabet="abc", min_size=1, max_size=2)
word_strat = st.text(alphabet="abcde", min_size=0, max_size=24)


@settings(max_examples=80, deadline=None)
@given(st.lists(sym, min_size=0, max_size=30), sym, sym)
def test_merge_word_conserves_content(symbols, left, right):
    """merge_word: (1) concatenation of symbols is unchanged (merging
    never creates or destroys characters); (2) no adjacent (left, right)
    pair survives EXCEPT inside freshly merged tokens; (3) idempotent
    when no pair exists."""
    from dynamic_etl_spark.ops.bpe import merge_word

    out = merge_word(symbols, left, right)
    assert "".join(out) == "".join(symbols)
    for a, b in zip(out, out[1:]):
        # greedy leftmost: a surviving adjacent pair can only happen when
        # the left symbol was itself just merged (e.g. aa+a in 'aaaa')
        if (a, b) == (left, right):
            assert a == left + right or b == left + right
    if all((a, b) != (left, right) for a, b in zip(symbols, symbols[1:])):
        assert out == symbols


@settings(max_examples=60, deadline=None)
@given(word_strat)
def test_bpe_segment_reconstructs_word(word):
    """Segmentation with ANY merge table must reconstruct word + eow on
    concatenation and terminate."""
    from dynamic_etl_spark.ops.bpe import bpe_segment

    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("d", "e"): 2, ("c", "d"): 3}
    seg = bpe_segment(word, ranks)
    assert "".join(seg) == word + "</w>"
