"""Sampling (ops/sample.py) and prefix-sum/packing (ops/pack.py):
determinism across partitionings, ground truth vs Python, edge cases."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import pack, sample
from dynamic_etl_spark.ops.pack import prefix_sum, sequence_pack
from dynamic_etl_spark.ops.sample import (
    stratified_sample,
    uniform_affine,
    uniform_hash,
)


# ---------------------------------------------------------------- sampling

def test_uniforms_in_unit_interval_and_partition_invariant(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    for uni in (uniform_affine("k", salt=3), uniform_hash(F.col("k"), salt=3)):
        got1 = {
            r["k"]: r["u"]
            for r in df.repartition(1).select("k", uni.alias("u")).collect()
        }
        got7 = {
            r["k"]: r["u"]
            for r in df.repartition(7).select("k", uni.alias("u")).collect()
        }
        assert got1 == got7
        assert all(0.0 <= u < 1.0 for u in got1.values())
        # not constant / degenerate
        assert len({round(u, 3) for u in got1.values()}) > 100


def test_stratified_sample_fractions_and_default(spark, monkeypatch):
    monkeypatch.setattr(sample, "LANG_FRACTIONS", {"en": 0.5, "es": 0.1, "de": 0.0})
    monkeypatch.setattr(sample, "OTHER_LANG_FRACTION", 1.0)
    rows = [(i, ["en", "es", "de"][i % 3] if i % 10 else "fr") for i in range(9000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_sample(df, "lang", uniform_affine("doc_id", salt=11))
    kept = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    n_en = sum(1 for _, lang in rows if lang == "en")
    n_es = sum(1 for _, lang in rows if lang == "es")
    n_fr = sum(1 for _, lang in rows if lang == "fr")
    assert abs(by_lang["en"] / n_en - 0.5) < 0.05
    assert abs(by_lang["es"] / n_es - 0.1) < 0.05
    assert "de" not in by_lang  # fraction 0 drops the stratum entirely
    assert by_lang["fr"] == n_fr  # default 1.0 keeps unlisted strata


def test_stratified_sample_is_row_stable(spark, monkeypatch):
    monkeypatch.setattr(sample, "LANG_FRACTIONS", {"en": 0.3, "es": 0.7})
    # the same row makes the same decision regardless of partitioning
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "es") for i in range(2000)], ["doc_id", "lang"]
    )
    pick = lambda d: {
        r["doc_id"]
        for r in stratified_sample(
            d, "lang", uniform_affine("doc_id", salt=5)
        ).collect()
    }
    assert pick(df.repartition(1)) == pick(df.repartition(13))


# ------------------------------------------------------------- prefix sums

@pytest.mark.parametrize("num_buckets", [1, 7, 64])
def test_prefix_sum_matches_python(spark, monkeypatch, num_buckets):
    rng = random.Random(42)
    ids = rng.sample(range(100000), 600)  # sparse, unordered ids
    rows = [(i, rng.randrange(0, 50)) for i in ids]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(8)
    monkeypatch.setattr(pack, "PREFIX_SUM_BUCKETS", num_buckets)
    out = {r["k"]: r["c"] for r in prefix_sum(df, "k", "v", "c").collect()}
    running = 0
    for k, v in sorted(rows):
        running += v
        assert out[k] == running


def test_prefix_sum_empty(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    empty = spark.createDataFrame([], schema)
    assert prefix_sum(empty, "k", "v").count() == 0


def test_sequence_pack_hand_example(spark, monkeypatch):
    # budget 10; docs: 4, 9, 0, 8, 3 tokens in id order
    monkeypatch.setattr(pack, "SEQ_TOKENS", 10)
    rows = [(1, 4), (2, 9), (3, 0), (4, 8), (5, 3)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"]).repartition(3)
    got = {
        r["doc_id"]: (
            r["global_offset"],
            r["seq_id"],
            r["seq_offset"],
            r["spans_boundary"],
        )
        for r in sequence_pack(df, "doc_id", "n_tokens").collect()
    }
    assert got[1] == (0, 0, 0, False)
    assert got[2] == (4, 0, 4, True)  # tokens 4..12 cross seq 0 -> 1
    assert got[3] == (13, 1, 3, False)  # empty doc pins to its offset
    assert got[4] == (13, 1, 3, True)  # tokens 13..20
    assert got[5] == (21, 2, 1, False)


def test_hash_split_fractions_and_stability(spark):
    from dynamic_etl_spark.ops.sample import hash_split, uniform_affine

    df = spark.range(20_000).select(F.col("id"))
    u = uniform_affine("id", salt=7)
    out = hash_split(df, u, [("train", 0.9), ("val", 0.05), ("test", 0.05)])
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.9) < 0.01
    assert abs(counts["val"] / 20_000 - 0.05) < 0.005
    # row-stable: same assignment at different parallelism
    again = {
        r["id"]: r["split"]
        for r in hash_split(df.repartition(17), u, [("train", 0.9), ("val", 0.05), ("test", 0.05)]).collect()
    }
    first = {r["id"]: r["split"] for r in out.collect()}
    assert first == again
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, u, [("a", 0.5), ("b", 0.4)])


def test_per_key_quota_sample_exact_counts_and_determinism(spark):
    from dynamic_etl_spark.ops.sample import per_key_quota_sample, uniform_affine

    df = spark.range(1000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("doc")
    )
    quota = F.when(F.col("k") % 2 == 0, F.lit(7)).otherwise(F.lit(3))
    out = per_key_quota_sample(
        df, keys=["k"], quota=quota,
        uniform=uniform_affine("doc", salt=3), tiebreak=["doc"], rank_col="r",
    )
    counts = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {k: (7 if k % 2 == 0 else 3) for k in range(10)}
    # deterministic membership at different parallelism
    out2 = per_key_quota_sample(
        df.repartition(13), keys=["k"], quota=quota,
        uniform=uniform_affine("doc", salt=3), tiebreak=["doc"],
    )
    assert {r["doc"] for r in out.collect()} == {r["doc"] for r in out2.collect()}


def test_assign_shard_is_partitioning_independent(spark, monkeypatch):
    """Every row gets a shard id in [0, N_SHARDS), the shards split the
    rows, and a 7-way repartition moves no row: a loader recomputing
    shards from keys must agree with any earlier assignment."""
    from dynamic_etl_spark.ops.sample import assign_shard

    monkeypatch.setattr(sample, "N_SHARDS", 8)
    df = spark.range(0, 1000).selectExpr("id AS doc_id")
    pairs = {
        (r.doc_id, r.shard)
        for r in df.withColumn("shard", assign_shard("doc_id")).collect()
    }
    assert len(pairs) == 1000
    assert {s for _, s in pairs} == set(range(8))
    again = {
        (r.doc_id, r.shard)
        for r in df.repartition(7).withColumn("shard", assign_shard("doc_id")).collect()
    }
    assert again == pairs


def test_weighted_sample_without_replacement_aes(spark):
    """A-ES: per-group k respected, no duplicates, deterministic per
    salt, non-positive weights excluded, and inclusion frequencies track
    weights (500 independent single-draw groups: an item with 60% of the
    group weight must win far more often than a 10% item)."""
    from dynamic_etl_spark.ops.sample import weighted_sample_without_replacement

    # 500 groups ("trials"), each with items a..e of weights 6,1,1,1,1
    items = [("a", 6.0), ("b", 1.0), ("c", 1.0), ("d", 1.0), ("e", 1.0)]
    rows = [
        (g * 10 + i, g, name, w)
        for g in range(500)
        for i, (name, w) in enumerate(items)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, name string, w double")
    out = weighted_sample_without_replacement(
        df, "id", "w", k=1, group_cols=("grp",), salt=3
    )
    picks = out.groupBy("name").count().collect()
    freq = {r["name"]: r["count"] for r in picks}
    assert sum(freq.values()) == 500  # exactly one per group
    # expected: a wins 60% of trials (±5 sigma of binomial noise)
    assert 240 <= freq.get("a", 0) <= 360, freq
    for other in "bcde":
        assert freq.get(other, 0) < 110, freq

    # determinism per salt; different salt -> different draw
    again = weighted_sample_without_replacement(
        df, "id", "w", k=1, group_cols=("grp",), salt=3
    )
    assert {r["id"] for r in out.collect()} == {r["id"] for r in again.collect()}
    other_salt = weighted_sample_without_replacement(
        df, "id", "w", k=1, group_cols=("grp",), salt=4
    )
    assert {r["id"] for r in out.collect()} != {r["id"] for r in other_salt.collect()}

    # k > group size yields the whole group, once each; zero/negative
    # weights never appear
    small = spark.createDataFrame(
        [(1, "x", 2.0), (2, "x", 1.0), (3, "x", 0.0), (4, "x", -1.0),
         (5, "x", float("nan"))],
        "id long, grp string, w double",
    )
    got = weighted_sample_without_replacement(small, "id", "w", k=10).collect()
    # NaN compares greater than any number in Spark: unfiltered, the
    # NaN-weight row would WIN every draw (review r4 pass 2)
    assert sorted(r["id"] for r in got) == [1, 2]
    top1 = weighted_sample_without_replacement(small, "id", "w", k=1).collect()
    assert len(top1) == 1 and top1[0]["id"] in (1, 2)


def test_leakage_safe_split_group_invariant(spark, monkeypatch):
    """Every exact-duplicate group lands in exactly one split; the split
    decision is the canonical min-id's coin, so re-keyed noisy copies of
    a document always follow their group — never an independent flip."""
    from dynamic_etl_spark.ops.sample import leakage_safe_split

    rows = [(i, f"unique doc number {i} body {'x' * (i % 7)}") for i in range(40)]
    # three dup groups: ids 100/101/102 share text A (with case/space
    # noise the fingerprint normalizer kills), 200/201 share text B
    rows += [
        (100, "shared alpha body one"),
        (101, "  SHARED   ALPHA  BODY ONE "),
        (102, "shared alpha body one"),
        (200, "shared beta body two"),
        (201, "Shared Beta Body Two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(sample, "SPLIT_SALT", 7)
    out = leakage_safe_split(df, [("train", 0.8), ("validation", 0.1), ("test", 0.1)])
    pdf = out.toPandas()
    assert (pdf.groupby("group_id")["split"].nunique() == 1).all()
    a = pdf[pdf.doc_id.isin([100, 101, 102])]
    assert set(a.group_id) == {100} and set(a.group_size) == {3}
    assert len(set(a.split)) == 1
    b = pdf[pdf.doc_id.isin([200, 201])]
    assert set(b.group_id) == {200} and set(b.group_size) == {2}
    # singleton groups: group_id is the row's own id
    singles = pdf[pdf.doc_id < 40]
    assert (singles.group_id == singles.doc_id).all()
    assert (singles.group_size == 1).all()
