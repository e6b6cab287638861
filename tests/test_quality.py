"""Unit tests for the document-quality layer (ops/quality.py) and the
funnel operator: crafted fixtures with hand-computed truths. The sf0.01
oracle parity for the registry twins lives in test_oracle_parity.py."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import quality as Q
from dynamic_etl_spark.registry.events import funnel_conversion


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_ngram_stats_counts_duplicates(spark):
    # "a b a b a": 2-grams = [a b, b a, a b, b a] -> total 4, distinct 2, top 2
    df = _docs(spark, ["a b a b a"])
    row = Q.multi_ngram_stats(df).collect()[0]
    assert (row.total_2grams, row.distinct_2grams, row.top_2gram_count) == (4, 2, 2)


def test_ngram_stats_short_doc_zeros(spark):
    # 1 token < n=2: the WHEN guard must yield an empty array (unguarded
    # sequence(1, 0) would run DESCENDING and fabricate grams)
    df = _docs(spark, ["solo"])
    row = Q.multi_ngram_stats(df).collect()[0]
    assert (row.total_2grams, row.distinct_2grams, row.top_2gram_count) == (0, 0, 0)


def test_repetition_profile_gates(spark):
    loop = "spam ham " * 40          # 80 tokens, one 2-gram dominates
    clean = " ".join(f"tokn{i:03d}" for i in range(60))  # 60 distinct 8-char tokens
    rows = {
        r.doc_id: r for r in Q.repetition_profile(_docs(spark, [loop, clean])).collect()
    }
    assert rows[0].gate_word_count and not rows[0].gate_top_2gram
    assert rows[0].dup_3gram_frac > Q.GATE_MAX_DUP_3GRAM_FRAC
    assert not rows[0].passes_gopher
    # "spam ham spam ham ...": 79 2-grams, 40x "spam ham" -> 40/79
    assert rows[0].top_2gram_frac == round(40 / 79, 6)
    assert rows[1].passes_gopher
    assert rows[1].mean_word_len == 7.0 and rows[1].dup_3gram_frac == 0.0


def test_tfidf_topk_hand_computed(spark):
    df = _docs(spark, ["apple apple banana", "banana cherry", "cherry cherry date"])
    out = {
        (r.doc_id, r.rank): r for r in Q.tfidf_topk(df).collect()
    }
    # doc 0: apple tf=2 df=1, banana tf=1 df=2
    idf = lambda d: math.log(4.0 / (d + 1.0)) + 1.0  # noqa: E731
    assert out[(0, 1)].term == "apple"
    assert out[(0, 1)].tfidf == round(2 * idf(1), 6)
    assert out[(0, 2)].term == "banana"
    assert out[(0, 2)].tfidf == round(1 * idf(2), 6)
    # doc 2: cherry tf=2 beats date tf=1 (same df=1 would tie on term asc)
    assert out[(2, 1)].term == "cherry" and out[(2, 2)].term == "date"


def test_tfidf_rank_tiebreak_is_term_order(spark):
    # both terms tf=1, df=1 -> identical score; rank must break by term asc
    out = Q.tfidf_topk(_docs(spark, ["zeta alpha"])).collect()
    ranked = sorted((r.rank, r.term) for r in out)
    assert ranked == [(1, "alpha"), (2, "zeta")]


def _ev(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=f"2024-01-01 00:0{s}:00", event_type=e) for u, s, e in rows]
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")


def test_funnel_orders_stages_strictly(spark):
    rows = [
        # user 1: full funnel in order
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        # user 2: click BEFORE first view -> not clicked_after_view
        (2, 1, "click"), (2, 2, "view"),
        # user 3: purchase before click -> viewed+clicked but no funnel purchase
        (3, 1, "view"), (3, 2, "purchase"), (3, 3, "click"),
        # user 4: never viewed
        (4, 1, "signup"),
    ]
    got = funnel_conversion(_ev(spark, rows)).collect()[0]
    assert got.n_users == 4
    assert got.n_viewed == 3
    assert got.n_clicked_after_view == 2          # users 1 and 3
    assert got.n_purchased_after_funnel == 1      # user 1 only
    assert got.view_to_click_rate == round(2 / 3, 6)
    assert got.click_to_purchase_rate == 0.5


def test_bigram_novelty_hand_computed(spark):
    # corpus: "a b c", "a b d", "x y" -> model counts: "a b":2, "b c":1,
    # "b d":1, "x y":1. familiar (count>=2) instances: each doc's "a b".
    df = _docs(spark, ["a b c", "a b d", "x y", "solo"])
    rows = {r.doc_id: r for r in Q.bigram_novelty_profile(df).collect()}
    assert (rows[0].n_bigrams, rows[0].n_familiar) == (2, 1)
    assert (rows[1].n_bigrams, rows[1].n_familiar) == (2, 1)
    assert (rows[2].n_bigrams, rows[2].n_familiar) == (1, 0)
    assert rows[2].novelty_ratio == 1.0
    assert (rows[3].n_bigrams, rows[3].n_familiar, rows[3].novelty_ratio) == (0, 0, 0.0)
    assert rows[0].novelty_ratio == 0.5


def test_bigram_perplexity_matches_numpy_bruteforce(spark):
    """Rows-only registry query: recompute add-1 bigram perplexity with a
    plain Python/numpy model over the real sf0.001 documents and compare
    within float tolerance (log2 is libm-specific; the Spark plan rounds
    each log-prob at 12dp before the exact decimal sum, so agreement is
    ~1e-9, far tighter than the 1e-6 asserted here)."""
    import math
    from collections import Counter

    from dynamic_etl_spark.catalog import load_table
    from dynamic_etl_spark.ops.text import tokens as _  # noqa: F401

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    got = {r.doc_id: r for r in Q.bigram_perplexity_profile(docs).collect()}

    corpus = {r.doc_id: r.text.lower().split() for r in docs.collect()}
    grams = Counter()
    ctx = Counter()
    vocab = set()
    for toks in corpus.values():
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            grams[(a, b)] += 1
            ctx[a] += 1
    v = len(vocab)
    checked = 0
    for doc_id, toks in corpus.items():
        pairs = list(zip(toks, toks[1:]))
        r = got[doc_id]
        assert r.n_bigrams == len(pairs)
        if not pairs:
            assert (r.cross_entropy, r.perplexity) == (0.0, 1.0)
            continue
        h = -sum(
            math.log2((grams[p] + 1.0) / (ctx[p[0]] + 1.0 * v)) for p in pairs
        ) / len(pairs)
        assert abs(r.cross_entropy - h) < 1e-6, doc_id
        assert abs(r.perplexity - 2.0**h) < 1e-4 * 2.0**h, doc_id
        checked += 1
    assert checked > 100  # the fixture corpus genuinely exercises the model


def test_dsir_matches_python_bruteforce(spark):
    """DSIR ground truth on a hand corpus: replay the hashed uni+bigram
    log-ratio estimator in plain Python (hashlib md5 == the Spark/SQL
    bucket convention; each ln quantized at 12dp before the sum) and pin
    weights, feature counts, and the deterministic top-N selection."""
    import hashlib
    import math

    from dynamic_etl_spark.ops.quality import dsir_bucket_ratios, dsir_log_weights
    from pyspark.sql import functions as F

    rows = [
        (0, "alpha beta alpha", "en"),
        (1, "beta gamma", "en"),
        (2, "delta delta epsilon zeta", "fr"),
        (3, "alpha beta", "fr"),
        (4, "", "fr"),          # zero features: weight 0, still a row
        (5, "solo", "en"),      # one token: unigram only, no bigram
    ]
    B, S, TOP = 32, 1.0, 3
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ratios = dsir_bucket_ratios(df, target=F.col("lang") == "en", n_buckets=B)
    got = {
        r.doc_id: r
        for r in dsir_log_weights(df, ratios, top_n=TOP).collect()
    }

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    feats = {}
    for doc_id, text, lang in rows:
        toks = [w for w in text.lower().split() if w]
        fs = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        feats[doc_id] = (fs, lang == "en")
    ct, cr = {}, {}
    for fs, is_t in feats.values():
        for f in fs:
            (ct if is_t else cr)[bucket(f)] = (ct if is_t else cr).get(bucket(f), 0) + 1
    T, R = sum(ct.values()), sum(cr.values())
    from decimal import Decimal
    def lr(b: int) -> Decimal:
        lt = round(math.log((ct.get(b, 0) + S) / (T + S * B)), 12)
        lraw = round(math.log((cr.get(b, 0) + S) / (R + S * B)), 12)
        return Decimal(repr(lt)) - Decimal(repr(lraw))
    weights = {
        d: sum((lr(bucket(f)) for f in fs), Decimal(0)) for d, (fs, _) in feats.items()
    }
    order = sorted(weights, key=lambda d: (-weights[d], d))
    selected = set(order[:TOP])
    assert set(got) == set(weights)
    for d, w in weights.items():
        assert got[d].n_features == len(feats[d][0]), d
        assert abs(got[d].log_weight - float(round(w, 6))) < 1e-9, d
        assert got[d].selected == (d in selected), d
    # the en docs must outrank the fr docs: the estimator worked
    assert all(got[d].log_weight > 0 for d, (_, t) in feats.items() if t and feats[d][0])


def test_dsir_bucket_ratio_table_is_complete_and_bounded(spark):
    """The fit emits exactly n_buckets rows (absent buckets carry the
    pure-smoothing ratio), so the scoring join never drops a feature."""
    from dynamic_etl_spark.ops.quality import dsir_bucket_ratios
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "one tiny doc", "en"), (1, "another", "fr")],
        "doc_id long, text string, lang string",
    )
    ratios = dsir_bucket_ratios(df, target=F.col("lang") == "en", n_buckets=64)
    rows = ratios.collect()
    assert len(rows) == 64
    assert {r.bucket for r in rows} == set(range(64))
    assert all(r.log_ratio is not None for r in rows)


def test_dsir_gate_thresholds_on_the_exact_decimal(spark):
    """dsir_gate (VERDICT r11 #4): passes agrees with dsir_log_weights'
    ranking (same frozen table, same scoring spine), the threshold is
    the exact decimal sum (a doc whose 6dp display rounds ONTO the
    threshold but whose exact weight sits below it must fail), and a
    zero-feature doc weighs exactly 0 — passing iff 0 >= threshold."""
    import pytest

    from dynamic_etl_spark.ops.quality import (
        dsir_bucket_ratios,
        dsir_gate,
        dsir_log_weights,
    )

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma alpha beta", "t"),
            (1, "one two three one two", "r"),
            (2, "alpha two gamma", "t"),
            (3, "", "r"),  # zero features
        ],
        "doc_id long, text string, side string",
    )
    ratios = dsir_bucket_ratios(df, target=F.col("side") == "t", n_buckets=32)
    gate = {
        r.doc_id: (r.n_features, r.log_weight, r.passes)
        for r in dsir_gate(df, ratios, min_log_weight="0").collect()
    }
    scores = {
        r.doc_id: r.log_weight for r in dsir_log_weights(df, ratios).collect()
    }
    # same scoring spine: identical surfaced weights
    assert {d: g[1] for d, g in gate.items()} == scores
    # threshold semantics against the exact decimal
    for d, (_, lw, p) in gate.items():
        if lw > 0:
            assert p, (d, lw)
        elif lw < 0:
            assert not p, (d, lw)
    # zero-feature doc: weight exactly 0, passes at threshold 0,
    # fails any positive threshold (1e-11 = the accumulated scale's ulp)
    assert gate[3] == (0, 0.0, True)
    strict = {
        r.doc_id: r.passes
        for r in dsir_gate(df, ratios, min_log_weight="0.00000000001").collect()
    }
    assert strict[3] is False
    # a threshold finer than the accumulated decimal scale would
    # silently quantize to a different cut — refused instead
    with pytest.raises(ValueError, match="decimal places"):
        dsir_gate(df, ratios, min_log_weight="0.000000000001")


def test_dsir_resample_favors_target_like_docs(spark):
    """The stochastic DSIR selection (A-ES over exp(log w)): (a)
    deterministic per salt at any parallelism; (b) exactly k rows; (c)
    across salts, the weighted sample overlaps the deterministic top-N
    far beyond the uniform-sampling expectation (weights genuinely
    drive inclusion)."""
    from dynamic_etl_spark.ops.quality import dsir_bucket_ratios, dsir_log_weights
    from dynamic_etl_spark.ops.sample import weighted_sample_without_replacement
    from dynamic_etl_spark.catalog import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text", "lang")
    ratios = dsir_bucket_ratios(docs, target=F.col("lang") == "en", n_buckets=128)
    scored = dsir_log_weights(docs, ratios).withColumn(
        "weight", F.exp(F.col("log_weight"))
    ).localCheckpoint()
    K = 150
    top = {
        r.doc_id
        for r in scored.orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(K).collect()
    }
    n_docs = scored.count()
    overlaps = []
    for salt in (11, 12, 13):
        s1 = weighted_sample_without_replacement(scored, "doc_id", "weight", k=K, salt=salt)
        ids = [r.doc_id for r in s1.select("doc_id").collect()]
        assert len(ids) == K and len(set(ids)) == K
        # repartitioned rerun must sample the identical set
        ids2 = {
            r.doc_id
            for r in weighted_sample_without_replacement(
                scored.repartition(7), "doc_id", "weight", k=K, salt=salt
            ).select("doc_id").collect()
        }
        assert set(ids) == ids2
        overlaps.append(len(set(ids) & top))
    # uniform sampling would overlap ~K^2/n (~45 of 150 at sf0.001);
    # weight-driven draws measured 85-94 here (the word-soup fixture's
    # en/other vocabularies overlap heavily, so log-weight spread is
    # modest) — pin at 1.5x uniform, comfortably outside chance and
    # well below the measured band
    assert min(overlaps) > 1.5 * K * K / n_docs, overlaps
