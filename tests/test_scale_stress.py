"""Scale-stress for the dedup/ANN tier (VERDICT r3 #3).

The sf0.1 fixtures hold 500 documents / 2,000 vectors in one partition —
enough to hash-check semantics, far too small to exercise the banded-LSH
shuffle shapes under real fan-out. These tests synthesize seeded
million-row corpora IN-SESSION (pure codegen expressions off
``spark.range`` — no files, reproducible at any parallelism, same
xxhash64-uniform discipline as generate.py) and assert the three claims
SCALE.md makes about this tier:

1. exact results at scale — every planted near-dup pair is found, zero
   false positives survive verification;
2. candidate volume stays near-linear in corpus size (the banded-LSH
   guarantee; a quadratic candidate explosion doubles the ratio);
3. the work fans out — the signature/banding stages spread across the
   shuffle partitioning instead of collapsing to one task — and total
   wall time stays inside a bound that a single-task collapse or an
   O(n^2) join would blow through (bounds are ~4x the measured local[8]
   times, so they flag order-of-magnitude regressions, not jitter).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import agg, ann, lsh
from dynamic_etl_spark.ops.ann import cosine_near_dup_pairs, srp_banded_rows
from dynamic_etl_spark.ops.graph import connected_components
from dynamic_etl_spark.ops.lsh import minhash_banded_rows, minhash_near_dup_pairs

pytestmark = pytest.mark.slow  # fast-tier skip (FULL_SUITE=1 runs it) — VERDICT r13 #7: the
# default `pytest tests/` run must finish inside the driver budget; this
# file is long-tail wall time (streaming/stress/e2e composites), fully
# covered by the round-start FULL_SUITE run.


DOCS_N = 1_000_000
VECS_N = 100_000
DUP_EVERY = 500  # ids with id % DUP_EVERY in {0,1} form an identical-text pair
VEC_DUP_EVERY = 100


@pytest.fixture(scope="module", autouse=True)
def wide_shuffle(spark):
    """Run this module at 64 shuffle partitions (the driver brief's
    fan-out floor); restore the suite's setting afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _docs(spark, n: int):
    """n documents of 10 hash-derived words over a 50k vocabulary, split
    across 64 partitions. Ids k*DUP_EVERY and k*DUP_EVERY+1 share a text
    seed -> exactly n/DUP_EVERY planted identical pairs (Jaccard 1.0);
    all other texts are hash-random and share no shingles in practice."""
    seed = F.when(
        (F.col("id") % DUP_EVERY) < 2, F.col("id") - F.col("id") % 2
    ).otherwise(F.col("id"))
    toks = [
        F.concat(F.lit("w"), F.pmod(F.xxhash64(seed, F.lit(p)), F.lit(50_000)).cast("string"))
        for p in range(10)
    ]
    return (
        spark.range(n)
        .repartition(64)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text"))
    )


def _vecs(spark, n: int, dim: int = 16):
    """n hash-random 16-dim embeddings; ids k*VEC_DUP_EVERY and +1 share a
    seed -> n/VEC_DUP_EVERY planted identical pairs (cosine 1.0)."""
    seed = F.when(
        (F.col("id") % VEC_DUP_EVERY) < 2, F.col("id") - F.col("id") % 2
    ).otherwise(F.col("id"))
    comps = [
        (F.pmod(F.xxhash64(seed, F.lit(j)), F.lit(2001)) - 1000) / 1000.0 for j in range(dim)
    ]
    return spark.range(n).repartition(64).select(F.col("id").alias("vec_id"), F.array(*comps).alias("emb"))


def _planted_pair_violations(df, id_a: str, id_b: str, every: int):
    """Rows that are NOT a planted (k*every, k*every+1) pair."""
    return df.filter(
        (F.col(id_a) % every != 0) | (F.col(id_b) != F.col(id_a) + 1)
    ).count()


def test_minhash_near_dup_million_docs(spark, monkeypatch):
    """1M docs through the full MinHash pipeline: exact recall of all
    2,000 planted pairs, near-linear candidates, bounded wall time."""
    start = time.perf_counter()
    # threshold 0.0 keeps every LSH candidate in the output, so one run
    # yields BOTH the candidate volume and (filtered >= 0.5) the verified set
    monkeypatch.setattr(lsh, "JACCARD_THRESHOLD", 0.0)
    out = minhash_near_dup_pairs(_docs(spark, DOCS_N), "doc_id", "text").persist()
    candidates = out.count()
    elapsed = time.perf_counter() - start

    true_pairs = out.filter(F.col("jaccard_sim") >= 0.5)
    assert true_pairs.count() == DOCS_N // DUP_EVERY  # 2,000 — total recall
    assert _planted_pair_violations(true_pairs, "id_a", "id_b", DUP_EVERY) == 0
    # banded candidates track the duplicate set, not corpus^2 (measured
    # ~2,155 for 1M docs: 2,000 planted + ~8% band-collision noise)
    assert candidates < 3 * (DOCS_N // DUP_EVERY)
    out.unpersist()
    assert elapsed < 120, f"1M-doc minhash took {elapsed:.0f}s (measured ~25s)"

    # near-linearity across a 2x scale-up: quadratic candidate growth
    # would push the ratio toward 4
    half = minhash_near_dup_pairs(_docs(spark, DOCS_N // 2), "doc_id", "text").count()
    assert candidates <= 3 * half, f"candidates {candidates} vs {half} at half scale"


def test_minhash_banding_fans_out(spark):
    """The signature/banding stage must spread over the shuffle
    partitioning — a collapse to one task serializes the whole corpus
    through one core (the failure SCALE.md guards against). AQE
    rightly coalesces the 64 shuffle partitions by BYTES (observed: 9
    partitions for 200k docs, the full 64 for the 1M-row stages above),
    so the invariant is "at least every core busy", byte-scaled upward —
    not a fixed partition count."""
    cores = spark.sparkContext.defaultParallelism
    banded = minhash_banded_rows(_docs(spark, 200_000), "doc_id", "text")
    spread = banded.select(F.spark_partition_id().alias("p")).distinct().count()
    assert spread >= cores, f"banded signature stage ran in only {spread} partitions"


def test_cosine_near_dup_hundred_k_vectors(spark, monkeypatch):
    """100k embeddings through SRP-banded near-dup: exact recall of all
    1,000 planted pairs at wide bands (32-bit band hashes keep buckets
    unsaturated at this corpus size), bounded wall time."""
    monkeypatch.setattr(ann, "NEAR_DUP_COSINE", 0.99)
    start = time.perf_counter()
    pairs = cosine_near_dup_pairs(
        _vecs(spark, VECS_N), "vec_id", "emb", bits=64, bands=2
    ).persist()
    n = pairs.count()
    elapsed = time.perf_counter() - start

    assert n == VECS_N // VEC_DUP_EVERY  # 1,000
    assert _planted_pair_violations(pairs, "id_a", "id_b", VEC_DUP_EVERY) == 0
    pairs.unpersist()
    assert elapsed < 40, f"100k-vector near-dup took {elapsed:.0f}s (measured ~4s)"

    half = cosine_near_dup_pairs(
        _vecs(spark, VECS_N // 2), "vec_id", "emb", bits=64, bands=2
    ).count()
    assert n <= 3 * half


def test_srp_banding_fans_out(spark):
    cores = spark.sparkContext.defaultParallelism
    banded = srp_banded_rows(_vecs(spark, 50_000), "vec_id", "emb", bits=64, bands=2)
    spread = banded.select(F.spark_partition_id().alias("p")).distinct().count()
    assert spread >= cores, f"SRP signature stage ran in only {spread} partitions"


def test_connected_components_million_vertices(spark):
    """1M vertices in 250k chain components of 4: exact min-labels, all
    vertices present, bounded wall time (pointer jumping converges in
    O(log diameter) rounds; a broken convergence check would spin to
    max_iter and blow the bound)."""
    start = time.perf_counter()
    edges = (
        spark.range(DOCS_N)
        .repartition(64)
        .filter(F.col("id") % 4 != 3)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    cc = connected_components(edges).persist()
    assert cc.count() == DOCS_N
    assert cc.select("component").distinct().count() == DOCS_N // 4
    bad = cc.filter(F.col("component") != F.col("v") - F.pmod(F.col("v"), F.lit(4))).count()
    assert bad == 0
    spread = cc.select(F.spark_partition_id().alias("p")).distinct().count()
    cc.unpersist()
    elapsed = time.perf_counter() - start
    assert spread >= 32, f"component labels ran in only {spread} partitions"
    assert elapsed < 120, f"1M-vertex components took {elapsed:.0f}s (measured ~18s)"


def test_knn_join_hundred_k_recall_and_linearity(spark):
    """Corpus x corpus kNN join at 100k vectors (VERDICT r4 #3): recall
    >= 0.9 vs brute force on a 200-query sample, candidate volume
    near-linear when n_cells scales with the corpus (constant
    n*n_probe/n_cells candidates per row), bounded wall time."""
    import numpy as np

    from dynamic_etl_spark.ops.ann import build_ivf_index, cosine_topk, knn_join

    k = 10
    corpus = _vecs(spark, VECS_N)
    start = time.perf_counter()
    idx = build_ivf_index(corpus, "vec_id", "emb", n_cells=128)
    out = knn_join(
        corpus, "vec_id", "emb", k=k, n_cells=128, n_probe=16, index=idx
    ).persist()
    n_out = out.count()
    elapsed = time.perf_counter() - start
    assert n_out == VECS_N * k

    # recall vs brute force on a deterministic 200-query sample
    sample_ids = [int(i) * (VECS_N // 200) + 7 for i in range(200)]
    queries = corpus.filter(F.col("vec_id").isin(sample_ids))
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, "vec_id", "emb", k=k).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in out.filter(F.col("query_id").isin(sample_ids)).collect()
    }
    out.unpersist()
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"knn_join recall {recall:.3f} < 0.9"
    assert elapsed < 240, f"100k knn_join took {elapsed:.0f}s"

    # near-linearity: candidate volume = sum over cells of
    # probes_in_cell * members_in_cell, computed from the index itself.
    # With n_cells ∝ n at fixed n_probe the per-row candidate count
    # n*n_probe/n_cells is constant, so total candidates scale ~2x for
    # a 2x corpus — quadratic growth would push the ratio toward 4.
    def candidate_volume(n, n_cells):
        c = _vecs(spark, n)
        ix = build_ivf_index(c, "vec_id", "emb", n_cells=n_cells)
        members = ix.assigned.groupBy("__cell").count()
        # every vector probes n_probe cells; probes-per-cell ~ uniform
        # enough that members^T members bounds it — measure exactly via
        # the probe fraction: total = sum(members_c * probes_c) where
        # probes roughly redistribute n*n_probe over cells by size
        sizes = np.array([r["count"] for r in members.collect()], dtype=np.float64)
        return float((sizes / sizes.sum() * n * 16 * sizes).sum())

    full = candidate_volume(VECS_N, 128)
    half = candidate_volume(VECS_N // 2, 64)
    assert full <= 3 * half, f"candidate volume {full:.0f} vs {half:.0f} at half scale"


def _clustered_vecs(spark, n: int, dim: int = 16):
    """Adversarial cell-skew fixture (VERDICT r5 #6): 80% of vectors sit
    in a tight ball around one direction (hash-noise +-0.05 per
    component), 20% are uniform — so one k-means cell's neighborhood
    swallows most of the corpus."""
    is_hot = (F.col("id") % 10) < 8
    ball = [
        F.lit(1.0 if j == 0 else 0.0)
        + (F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(2001)) - 1000) / 20000.0
        for j in range(dim)
    ]
    uniform = [
        (F.pmod(F.xxhash64(F.col("id"), F.lit(j + 100)), F.lit(2001)) - 1000) / 1000.0
        for j in range(dim)
    ]
    comps = [F.when(is_hot, ball[j]).otherwise(uniform[j]) for j in range(dim)]
    return (
        spark.range(n)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), F.array(*comps).alias("emb"))
    )


def test_knn_join_adversarial_cell_skew(spark, monkeypatch):
    """The documented failure mode must be LOUD, not silent: when one
    cell overflows ``MAX_CELL_ROWS`` the join raises with actionable
    guidance; with the guard admitting the skewed cell, recall still
    holds vs brute force."""
    from dynamic_etl_spark.ops.ann import build_ivf_index, cosine_topk, knn_join

    n, k = 20_000, 5
    corpus = _clustered_vecs(spark, n)
    idx = build_ivf_index(corpus, "vec_id", "emb", n_cells=8)
    sizes = sorted(
        r["count"] for r in idx.assigned.groupBy("__cell").count().collect()
    )
    # the skew is real: the largest cell concentrates well beyond the
    # balanced n/n_cells share (deterministic fixture, stable outcome)
    assert sizes[-1] > 1.5 * n / 8, f"cell sizes {sizes} — skew did not materialize"

    # (a) guard fires loudly when the hot cell exceeds the cap
    monkeypatch.setattr(ann, "MAX_CELL_ROWS", sizes[-1] - 1)
    with pytest.raises(Exception, match="raise n_cells"):
        knn_join(corpus, "vec_id", "emb", k=k, n_probe=4, index=idx).collect()

    # (b) admitted, the skewed layout still answers correctly: recall
    # vs brute force on a deterministic 100-query sample (hot + uniform)
    monkeypatch.setattr(ann, "MAX_CELL_ROWS", n)
    out = knn_join(corpus, "vec_id", "emb", k=k, n_probe=4, index=idx).persist()
    assert out.count() == n * k
    sample_ids = [i * (n // 100) + 3 for i in range(100)]
    queries = corpus.filter(F.col("vec_id").isin(sample_ids))
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, "vec_id", "emb", k=k).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in out.filter(F.col("query_id").isin(sample_ids)).collect()
    }
    out.unpersist()
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"skewed-corpus recall {recall:.3f} < 0.9"


def test_heavy_hitter_hot_key_salt_bound(spark):
    """VERDICT r5 #4: ONE deliberately hot key carrying ~1M distinct
    items through the two-phase MG compress at the session-derived salt
    count (``_mg_salts``). Asserts (a) the
    hot key's ranking splits into bounded salt groups — the largest
    phase-1 sort is ~distinct/n_salts rows, never the full set; (b)
    phase 2's frame is bounded at (k+1)*n_salts candidate rows; (c) the
    salted result is bit-identical to the one-window form."""
    from dynamic_etl_spark.ops.agg import _mg_compress, _mg_salts, build_heavy_hitter_state

    n, k = 1_000_000, agg.MG_K
    # one key: ~1M singleton items + 10 planted heavies (20k hits each)
    base = spark.range(n).select(
        F.lit("hot").alias("g"), (F.col("id") + 1000).alias("item")
    )
    # heavy item i appears (i+1)*10000 times — DISTINCT counts, so the
    # k+1 boundary is not a tie wall and exactly k survivors remain
    expr = F.lit(9)
    lo = 0
    for i in range(9):
        hi = lo + (i + 1) * 10_000
        expr = F.when((F.col("id") >= lo) & (F.col("id") < hi), i).otherwise(expr)
        lo = hi
    heavies = spark.range(550_000).select(
        F.lit("hot").alias("g"), expr.cast("long").alias("item")
    )
    df = base.unionByName(heavies)

    got = build_heavy_hitter_state(df, ["g"], "item")
    counts = df.groupBy("g", F.col("item").alias("state_item")).agg(
        F.count(F.lit(1)).alias("state_cnt")
    )
    n_salts = _mg_salts(counts)
    one_phase = _mg_compress(counts, ["g"], k, two_phase=False)
    got_rows = sorted(map(tuple, got.collect()))
    ref_rows = sorted(map(tuple, one_phase.collect()))
    assert got_rows == ref_rows
    # the 10 planted heavies dwarf the singleton offset: top-k survive
    assert len(got_rows) == k
    assert {r[1] for r in got_rows} <= set(range(10))

    # (a) phase-1 salt groups are bounded: replicate the internal salt
    # and measure the largest (key, salt) group the window would sort
    distinct_items = counts.count()
    group_sizes = (
        counts.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("state_item").cast("string")), F.lit(n_salts)),
        )
        .groupBy("g", "__salt")
        .count()
    )
    max_group = group_sizes.agg(F.max("count")).collect()[0][0]
    assert max_group <= 2 * distinct_items / n_salts, (
        f"hot-key salt group of {max_group} rows vs {distinct_items} distinct "
        f"items at {n_salts} salts — the skew split is not splitting"
    )
    # (b) phase 2 sorts at most (k+1)*n_salts candidates per key
    assert max_group < distinct_items  # phase 1 never sees the full set
    cand_bound = (k + 1) * n_salts
    n_keys = 1
    # candidates = per-group top-(k+1) survivors, measured exactly
    from pyspark.sql import Window as W

    wg = W.partitionBy("g", "__salt").orderBy(
        F.desc("state_cnt"), F.asc("state_item")
    )
    n_cand = (
        counts.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("state_item").cast("string")), F.lit(n_salts)),
        )
        .withColumn("__gr", F.row_number().over(wg))
        .filter(F.col("__gr") <= k + 1)
        .count()
    )
    assert n_cand <= cand_bound * n_keys

    # the derived default tracks the session's shuffle width, clamped
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _mg_salts(counts) == max(8, min(width, 256))


def test_prefix_sum_million_partition_compaction(spark):
    """The compaction planner's prefix sum at 1M partition-stat rows
    (a 100 TB table at hourly granularity holds fewer): the cumulative
    total is EXACT at the far end, every non-final output file lands
    within one partition's rows of the target (the start-offset
    assignment guarantee), and the physical plan contains no
    single-partition exchange — the two-level scan is the point; a
    global ORDER BY window would funnel all 1M rows through one task."""
    from dynamic_etl_spark.ops.pack import prefix_sum

    n, target, max_v = 1_000_000, 5_000, 20
    parts = spark.range(n).select(
        F.col("id").alias("k"),
        (((F.xxhash64("id") % max_v) + max_v) % max_v + 1).alias("v"),
    )
    cum = prefix_sum(parts, "k", "v", "c")
    files = (
        cum.select(F.expr(f"(c - v) div {target}").alias("f"), "v")
        .groupBy("f")
        .agg(F.sum("v").alias("rows"))
    )
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan

    total = parts.agg(F.sum("v")).collect()[0][0]
    assert cum.agg(F.max("c")).collect()[0][0] == total

    sizes = {r["f"]: r["rows"] for r in files.collect()}
    last = max(sizes)
    assert sum(sizes.values()) == total
    for f, nr in sizes.items():
        if f != last:
            assert abs(nr - target) < max_v, (f, nr)


def test_ks_drift_binned_grid_bounds_the_sort_frame(spark):
    """VERDICT r6 #2: the exact KS gate's per-type window sorts every
    DISTINCT value of a type — at a continuous 100 TB domain that is the
    scale-killer. The binned path's sort frame must be GRID-bounded: 1M
    rows, ~1M distinct values on ONE event type, 64-way — the frame the
    CDF window sees holds at most range/width buckets, and the binned
    statistic still detects the planted location shift to within the
    grid's resolution."""
    from dynamic_etl_spark.registry.validation import (
        KS_BIN_WIDTH,
        _ks_fold,
        _ks_side_counts,
    )

    n = 1_000_000
    # before the cut: value = id/1000 in [0, 1000); after: shifted +100.
    # Every value is distinct (ids are), so the exact path's sort frame
    # would be ~n rows for this single type.
    before = spark.range(n // 2).select(
        F.lit("hot").alias("event_type"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
        (F.col("id") / 500.0).alias("value"),
    )
    after = spark.range(n // 2).select(
        F.lit("hot").alias("event_type"),
        F.lit("2024-02-01 00:00:00").cast("timestamp_ntz").alias("ts"),
        (F.col("id") / 500.0 + 100.0).alias("value"),
    )
    ev = before.unionByName(after).repartition(64)

    bucket = F.floor(F.col("value").cast("double") / F.lit(KS_BIN_WIDTH)).cast("long")
    per_bucket = _ks_side_counts(ev, bucket)
    # the frame entering the CDF window: grid-bounded, NOT distinct-value-
    # bounded — domain [0, 1100) at width 5.0 is at most 221 buckets
    assert per_bucket.count() <= 221

    row = _ks_fold(per_bucket, with_bins=True).collect()[0]
    assert row["n_bins"] <= 221
    assert row["n_before"] == row["n_after"] == n // 2
    # true KS of a +100 shift on a 1000-wide uniform is 0.1; the grid
    # underestimates by at most one bin's CDF mass (5/1000 per side)
    assert abs(row["ks_statistic"] - 0.1) <= 0.011, row["ks_statistic"]


def test_ks_drift_binned_coincides_with_exact_at_fine_grid(spark, tmp_path, monkeypatch):
    """At a bin width finer than the data's value resolution every value
    owns its own bucket, so the binned statistic must EQUAL the exact
    one bit-for-bit — the exact form is the binned form's oracle, and
    this pins that the grid is the only difference between the twins."""
    from dynamic_etl_spark.registry import validation as V
    from dynamic_etl_spark.registry.validation import (
        events_ks_drift,
        events_ks_drift_binned,
    )

    sf_dir = "/root/testdata/sf0.001"
    exact = {
        r["event_type"]: (r["n_before"], r["n_after"], r["ks_statistic"])
        for r in events_ks_drift(spark, sf_dir).collect()
    }
    # fixture values are 2dp; width 0.005 separates every distinct value
    monkeypatch.setattr(V, "KS_BIN_WIDTH", 0.005)
    binned = {
        r["event_type"]: (r["n_before"], r["n_after"], r["ks_statistic"])
        for r in events_ks_drift_binned(spark, sf_dir).collect()
    }
    assert exact == binned


def test_leakage_safe_split_giant_dup_group(spark, monkeypatch):
    """VERDICT r6 #7: one fingerprint group holding ~10% of a 1M-row
    corpus. The fingerprint window must stay GROUP-bounded (the giant
    group reports its own size and one canonical min id — no global
    sort is involved), the whole group must land in exactly ONE split,
    and the hash-split fractions on the remaining mass must stay within
    tolerance — a giant group shifts totals, never the per-group coin."""
    from dynamic_etl_spark.ops import sample
    from dynamic_etl_spark.ops.sample import leakage_safe_split

    n, dup_n = 1_000_000, 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < dup_n, F.lit("the same boilerplate document"))
        .otherwise(
            F.concat(F.lit("unique "), F.xxhash64("id").cast("string"))
        )
        .alias("text"),
    ).repartition(64)

    monkeypatch.setattr(sample, "SPLIT_SALT", 3)
    out = leakage_safe_split(docs, [("train", 0.9), ("val", 0.05), ("test", 0.05)])
    giant = out.filter(F.col("doc_id") < dup_n)
    g = giant.groupBy("group_id", "group_size", "split").count().collect()
    # the whole group: ONE (canonical-min-id, size, split) triple
    assert len(g) == 1
    assert (g[0]["group_id"], g[0]["group_size"], g[0]["count"]) == (0, dup_n, dup_n)

    rest = dict(
        (r["split"], r["count"])
        for r in out.filter(F.col("doc_id") >= dup_n).groupBy("split").count().collect()
    )
    remaining = n - dup_n
    for name, frac in (("train", 0.9), ("val", 0.05), ("test", 0.05)):
        got = rest.get(name, 0) / remaining
        assert abs(got - frac) < 0.005, (name, got)


def test_benchmark_span_scrub_million_docs_broadcast_shape(spark):
    """The scrub's 100 TB claim: the benchmark gram set broadcasts (the
    corpus NEVER shuffles to meet it) and work stays linear in corpus
    gram mass. 1M hash-random 10-word docs vs a 200-doc benchmark, with
    every 500th doc splicing a benchmark 5-gram run mid-document: all
    planted docs — and in practice only they — lose exactly one >= 5
    token span, and the job finishes inside the linear-work bound."""
    from dynamic_etl_spark.ops.spans import contaminated_span_stats

    n = 1_000_000
    toks = [
        F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64("id", F.lit(p)), F.lit(500_000)).cast("string"),
        )
        for p in range(10)
    ]
    # benchmark doc j = 12 words from a DISJOINT hash stream
    bench = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("b"),
                    F.pmod(F.xxhash64("id", F.lit(900 + p)), F.lit(50_000)).cast("string"),
                )
                for p in range(12)
            ],
        ).alias("text"),
    )
    # cycle through ALL 200 bench docs: planted ids are multiples of 500,
    # so id % 200 would only ever hit bench docs {0, 100} (gcd(500,200) =
    # 100 — r7 review); floor(id/500) % 200 visits every one
    bench_frag = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("b"),
                F.pmod(
                    F.xxhash64(F.floor(F.col("id") / 500) % 200, F.lit(900 + p)),
                    F.lit(50_000),
                ).cast("string"),
            )
            for p in range(6)
        ],
    )
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 500 == 0,
            F.concat_ws(
                " ", *toks[:5], bench_frag, *toks[5:]
            ),
        )
        .otherwise(F.concat_ws(" ", *toks))
        .alias("text"),
    ).repartition(64)

    start = time.time()
    out = contaminated_span_stats(corpus, bench)
    # PRIMARY check (ADVICE r7 #3): the plan shape itself — the benchmark
    # gram set must arrive as the build side of a broadcast LEFT SEMI
    # join, i.e. the corpus never shuffles to meet the benchmark. The
    # wall bound below stays as a generous secondary backstop only,
    # because timings flake on a loaded machine while the plan cannot.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi, BuildRight" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "LeftSemi" not in line, line  # gram join fell off broadcast
    # ONE aggregation pass over a planted flag: a second action would
    # recompute the whole 1M-doc pipeline inside the wall bound
    planted = F.col("doc_id") % 500 == 0
    agg = out.agg(
        F.sum(planted.cast("int")).alias("n"),
        F.sum((planted & (F.col("n_dup_spans") >= 1)).cast("int")).alias("hit"),
        F.min(F.when(planted, F.col("n_dup_tokens"))).alias("min_cut"),
        F.sum((~planted & (F.col("n_dup_spans") > 0)).cast("int")).alias("clean_hits"),
    ).collect()[0]
    elapsed = time.time() - start
    assert agg["n"] == n // 500 and agg["hit"] == agg["n"]
    assert agg["min_cut"] >= 6  # at least the spliced 6-word run
    # hash-random 'w' words can collide into a bench gram only by a
    # 5-in-a-row accident across disjoint vocabularies: none expected
    assert agg["clean_hits"] == 0
    # secondary, deliberately generous: a plan regression is caught above;
    # this only trips on a pathological (non-linear) blowup
    assert elapsed < 480, f"span scrub stress took {elapsed:.0f}s"


def test_incremental_semantic_admission_fifty_k_store(spark, monkeypatch):
    """Incremental SEMANTIC admission at a 50k-vector store x 25k-vector
    batch (r9): every planted store copy is rejected with its exact
    source named, every fresh vector admits, the store delta covers
    exactly the admitted set, and the probe stage fans out. Candidates
    exist ONLY within probed cells (cell-cogrouped BLAS), so this also
    exercises the recall claim the fixture-sized oracle rides on —
    identical vectors cannot be separated by the fit."""
    import numpy as np

    from dynamic_etl_spark.ops.ann import (
        _probe_cells,
        fit_semantic_centers,
        incremental_semantic_merge,
        semantic_store_rows,
    )

    STORE_N, BATCH_N, COPY_EVERY, DIM = 50_000, 25_000, 50, 16

    def emb(seed_col):
        return F.array(
            *[
                (F.pmod(F.xxhash64(seed_col, F.lit(j)), F.lit(2001)) - 1000) / 1000.0
                for j in range(DIM)
            ]
        )

    store_docs = (
        spark.range(STORE_N)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), emb(F.col("id")).alias("emb"))
    )
    # batch ids live at +1M; every COPY_EVERY-th copies store vector 2*i
    # (identical coordinates -> cosine exactly 1.0), the rest are fresh
    seed = F.when(F.col("id") % COPY_EVERY == 0, F.col("id") * 2).otherwise(
        F.col("id") + 1_000_000
    )
    batch_docs = (
        spark.range(BATCH_N)
        .repartition(64)
        .select((F.col("id") + 1_000_000).alias("vec_id"), emb(seed).alias("emb"))
    )

    start = time.perf_counter()
    centers = fit_semantic_centers(store_docs, "vec_id", "emb", n_cells=32)
    store = semantic_store_rows(store_docs, "vec_id", "emb", centers).localCheckpoint()
    monkeypatch.setattr(ann, "SEMDEDUP_THRESHOLD", 0.99)
    monkeypatch.setattr(ann, "SEMDEDUP_CELLS", 32)
    monkeypatch.setattr(ann, "SEMDEDUP_PROBE", 4)
    out = incremental_semantic_merge(
        store_docs, batch_docs, "vec_id", "emb",
        centers=centers, existing_assigned=store,
    )
    pairs = out["dup_pairs"]
    n_pairs = pairs.count()
    n_accepted = out["accepted"].count()
    n_delta = out["new_assigned"].count()
    elapsed = time.perf_counter() - start

    n_planted = BATCH_N // COPY_EVERY  # 500
    assert n_pairs == n_planted, n_pairs
    # every pair is (1M + 50k', matched = 2*(id_new - 1M)), scope existing
    bad = pairs.filter(
        (F.col("scope") != "existing")
        | ((F.col("id_new") - 1_000_000) % COPY_EVERY != 0)
        | (F.col("id_matched") != (F.col("id_new") - 1_000_000) * 2)
        | (F.col("cosine_sim") != 1.0)
    ).count()
    assert bad == 0
    assert n_accepted == BATCH_N - n_planted
    assert n_delta == n_accepted

    # the distributed probe stage fans out across the partitioning
    cores = spark.sparkContext.defaultParallelism
    spread = (
        _probe_cells(batch_docs, "vec_id", "emb", centers, 4)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert spread >= cores, f"probe stage ran in only {spread} partitions"
    assert elapsed < 240, f"50k-store semantic admission took {elapsed:.0f}s"


def test_knn_cross_side_hundred_k_recall(spark):
    """The r11 cross-side kNN mode (knn_join(queries=) — margin
    alignment's bucketed candidate source) at 100k corpus vectors with a
    disjoint 2k-query side: exactly k rows per query, recall >= 0.9 vs
    the brute cross-side top-k on a 200-query sample, and the same
    near-linear candidate structure as the self-join (the probe pass is
    query-sized, the cogroup stays keyed on cells)."""
    import time as _t

    from dynamic_etl_spark.ops.ann import build_ivf_index, cosine_topk, knn_join

    k = 10
    corpus = _vecs(spark, VECS_N)
    # disjoint id space (the margin-alignment contract): queries are
    # fresh vectors with ids >= 10^9
    queries = _vecs(spark, 2_000).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"), "emb"
    )
    start = _t.perf_counter()
    idx = build_ivf_index(corpus, "vec_id", "emb", n_cells=128)
    out = knn_join(
        corpus, "vec_id", "emb", k=k, n_cells=128, n_probe=16,
        index=idx, queries=queries,
    ).persist()
    n_out = out.count()
    elapsed = _t.perf_counter() - start
    assert n_out == 2_000 * k

    sample_ids = [1_000_000_000 + i * 10 + 3 for i in range(200)]
    qs = queries.filter(F.col("vec_id").isin(sample_ids))
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, qs, "vec_id", "emb", k=k).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in out.filter(F.col("query_id").isin(sample_ids)).collect()
    }
    out.unpersist()
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"cross-side knn recall {recall:.3f} < 0.9"
    assert elapsed < 240, f"100k cross-side knn took {elapsed:.0f}s"
