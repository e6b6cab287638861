"""The r10/r11 beyond-reference retrieval additions — BM25, JL
projection, greedy + pooled MMR, the hashed linear classifier gate,
margin-criterion alignment (brute + bucketed IVF), winnowing overlap
pair mining, and reciprocal-rank fusion: brute-force ground truth and
plan/contract pins for each."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from dynamic_etl_spark.ops import ann as ANN
from dynamic_etl_spark.ops import retrieval as R
from tests.conftest import SF_SMALL

# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

_DOCS = [
    (0, "spark shuffles data across the cluster"),
    (1, "hash join beats sort merge join on small tables"),
    (2, "the quick brown fox"),
    (3, "join the cluster and shuffle data"),
    (4, "hash hash hash join"),
    (5, ""),  # zero tokens: must never be ranked
    (6, "sort merge join for big tables"),
]
_QUERIES = [
    (10, "hash join"),
    (11, "data cluster"),
    (12, "zeppelin"),  # fully out-of-vocabulary: no result rows
]


def _brute_bm25(docs, queries, k1=1.2, b=0.75, top_k=5):
    """Plain-Python replay of the documented semantics (Robertson &
    Zaragoza 2009): Lucene idf, distinct query terms, 12dp-quantized
    per-term contributions summed exactly (Fraction-free: the quantized
    values are exact decimals in float64 range)."""
    tok = {d: t.lower().split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(ts) for ts in tok.values()) / n
    tf = {}
    for d, ts in tok.items():
        for w in ts:
            tf[(d, w)] = tf.get((d, w), 0) + 1
    out = {}
    for qid, qtext in queries:
        terms = sorted(set(qtext.lower().split()))
        dfreq = {t: sum(1 for d in tok if (d, t) in tf) for t in terms}
        scores = {}
        for d, ts in tok.items():
            s, hits = 0.0, 0
            for t in terms:
                f = tf.get((d, t))
                if not f or dfreq[t] == 0:
                    continue
                idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
                tff = (f * (k1 + 1.0)) / (
                    f + k1 * (1.0 - b + b * (len(ts) / avgdl))
                )
                s += round(idf * tff, 12)
                hits += 1
            if hits:
                scores[d] = (s, hits)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:top_k]
        out[qid] = [
            (rank + 1, d, hits, round(s, 6))
            for rank, (d, (s, hits)) in enumerate(ranked)
        ]
    return out


def test_bm25_matches_bruteforce(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id int, text string")
    queries = spark.createDataFrame(_QUERIES, "query_id int, query_text string")
    got = {}
    for r in R.bm25_topk(docs, queries, top_k=5).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, r.n_hit_terms, r.bm25)
        )
    for qid in got:
        got[qid].sort()
    want = {qid: rows for qid, rows in _brute_bm25(_DOCS, _QUERIES).items() if rows}
    # ranks/ids/hits exact; scores approx — JVM ln and CPython's libm may
    # differ in the last ulp (the knn BLAS-tie lesson: never demand
    # bit-equality across math libraries), and the fixture's scores are
    # separated far beyond 1e-9 so ranking cannot flip
    assert {q: [(r, d, h) for r, d, h, _ in rows] for q, rows in got.items()} == {
        q: [(r, d, h) for r, d, h, _ in rows] for q, rows in want.items()
    }
    for qid, rows in want.items():
        for (_, _, _, gs), (_, _, _, ws) in zip(got[qid], rows):
            assert gs == pytest.approx(ws, abs=1e-9)
    # contract pins the brute force replays implicitly, asserted loudly:
    assert 12 not in got, "fully-OOV query must produce no rows"
    assert all(5 not in {d for _, d, _, _ in rows} for rows in got.values()), (
        "zero-token doc must never rank"
    )


def test_bm25_rank_is_total_ordered_on_ties(spark):
    # two identical docs tie bit-for-bit on every query; the lower id
    # must take the lower rank (the _rank/window convention)
    docs = spark.createDataFrame(
        [(7, "alpha beta"), (3, "alpha beta"), (9, "alpha gamma")],
        "doc_id int, text string",
    )
    queries = spark.createDataFrame([(1, "alpha beta")], "query_id int, query_text string")
    rows = sorted(
        (r.rank, r.doc_id) for r in R.bm25_topk(docs, queries, top_k=3).collect()
    )
    assert rows == [(1, 3), (2, 7), (3, 9)]


def test_bm25_empty_corpus_raises(spark):
    docs = spark.createDataFrame([], "doc_id int, text string")
    queries = spark.createDataFrame([(1, "x")], "query_id int, query_text string")
    with pytest.raises(ValueError, match="empty corpus"):
        R.bm25_topk(docs, queries)


def test_bm25_corpus_shuffles_once(spark):
    """The corpus-sized explode+agg (tf) must appear in the plan exactly
    once: doc length is a projection and df is a window over the pruned
    slice, so no subtree recomputes the corpus tokenization (higher-order
    lambdas defeat exchange reuse — the r10 lesson)."""
    from dynamic_etl_spark.catalog import load_table
    from dynamic_etl_spark.plan import physical_plan

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    queries = spark.createDataFrame([(1, "hash join")], "query_id int, query_text string")
    plan = physical_plan(R.bm25_topk(docs, queries))
    # exactly one CORPUS-side explode feeds tf; the other Generates are
    # the query mini-dim's (qterms appears twice: vocabulary prune +
    # query attach — both broadcast-sized). A second corpus Generate
    # would mean the corpus tokenizes twice into shuffles (dl's
    # token_count runs inside a projection, not a Generate).
    gen_lines = [l for l in plan.splitlines() if "Generate explode" in l]
    corpus_gens = [l for l in gen_lines if "query_text" not in l]
    assert len(corpus_gens) == 1, gen_lines


# ---------------------------------------------------------------------------
# JL projection
# ---------------------------------------------------------------------------


def _jl_sign(seed: int, j_out: int, j_in: int) -> int:
    h = int(hashlib.md5(f"jl:{seed}:{j_out}:{j_in}".encode()).hexdigest()[:8], 16) % 6
    return 1 if h == 0 else (-1 if h == 1 else 0)


def test_jl_projection_matches_numpy(spark):
    rng = np.random.RandomState(7)
    d_in, d_out, n = 24, 8, 40
    vecs = rng.randn(n, d_in).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.out_dim): r.component
        for r in ANN.jl_projection_rows(df, "vec_id", "embedding", d_out=d_out, seed=3).collect()
    }
    M = np.array(
        [[_jl_sign(3, j, i) for j in range(d_out)] for i in range(d_in)],
        dtype=np.float64,
    )
    want = vecs.astype(np.float64) @ M * math.sqrt(3.0 / d_out)
    assert len(got) == n * d_out
    for (vid, j), comp in got.items():
        assert comp == pytest.approx(want[vid, j], abs=5e-7)


def test_jl_projection_preserves_distances(spark):
    """The JL guarantee the op exists for: near-duplicate pairs stay
    near and far pairs stay far after projection — the property the
    ANN/dedup consumers rely on. (A Pearson-r check on random gaussians
    is the WRONG pin: random high-dim points are near-equidistant, so
    even a perfect projection shows weak correlation across their tiny
    distance spread.) Planted structure instead: 20 base vectors, each
    with a 1%-noise near-copy — projected near-pair distances must
    stay orders of magnitude under every projected cross-pair distance,
    and the distance-ratio distribution must center on 1 (Achlioptas
    2003 E[ratio] = 1)."""
    rng = np.random.RandomState(11)
    d_in, d_out = 64, 16
    base = rng.randn(20, d_in)
    rows, near_pairs = [], []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.randn(d_in)]))
        near_pairs.append((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    orig = {vid: np.array(v, dtype=np.float64) for vid, v in rows}
    proj = {}
    for r in ANN.jl_projection_rows(df, "vec_id", "embedding", d_out=d_out, seed=0).collect():
        proj.setdefault(r.vec_id, [0.0] * d_out)[r.out_dim] = r.component

    def d2(store, u, v):
        a, b = np.asarray(store[u]), np.asarray(store[v])
        return float(np.sum((a - b) ** 2))

    near_proj = [d2(proj, u, v) for u, v in near_pairs]
    cross_proj = [
        d2(proj, 2 * i, 2 * j) for i in range(20) for j in range(i + 1, 20)
    ]
    assert max(near_proj) < 0.1 * min(cross_proj)
    # E[proj distance / orig distance] = 1 on the well-separated pairs
    ratios = [
        d2(proj, 2 * i, 2 * j) / d2(orig, 2 * i, 2 * j)
        for i in range(20)
        for j in range(i + 1, 20)
    ]
    assert 0.7 < float(np.mean(ratios)) < 1.3


def test_jl_projection_drops_null_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    out = ANN.jl_projection_rows(df, "vec_id", "embedding", d_out=4, seed=0).collect()
    assert {r.vec_id for r in out} == {1}
    assert len(out) == 4


# ---------------------------------------------------------------------------
# MMR selection
# ---------------------------------------------------------------------------


def _brute_mmr(vecs: dict, anchor_id, k: int, lam: float):
    """Plain-Python greedy MMR replay (cosines via numpy, scores raw)."""

    def cos(a, b):
        a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    cand = {
        i: v
        for i, v in vecs.items()
        if i != anchor_id and float(np.linalg.norm(v)) > 0.0
    }
    rel = {i: cos(v, vecs[anchor_id]) for i, v in cand.items()}
    selected, out = [], []
    while cand and len(out) < k:
        best = None
        for i in sorted(cand):
            ms = max((cos(cand[i], vecs[s]) for s in selected), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * ms
            if best is None or score > best[1]:
                best = (i, score)
        i, score = best
        out.append((len(out) + 1, i, round(score, 6)))
        selected.append(i)
        del cand[i]
    return out


def test_mmr_matches_bruteforce(spark):
    rng = np.random.RandomState(5)
    vecs = {i: rng.randn(16) for i in range(30)}
    vecs[7] = np.zeros(16)  # zero-norm: must be excluded
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r.rank, r.vec_id, r.mmr_score)
        for r in R.mmr_select(df, anchor_id=0, k=8)
        .orderBy("rank")
        .collect()
    ]
    want = _brute_mmr(vecs, 0, 8, 0.5)
    assert [(rk, i) for rk, i, _ in got] == [(rk, i) for rk, i, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-6)
    assert all(i != 7 for _, i, _ in got)


def test_mmr_prefers_diversity_over_raw_relevance(spark):
    """Five near-copies of the anchor direction vs three orthogonal-ish
    directions: pure relevance would rank the five copies 1-5; MMR with
    lam=0.5 must pull in the diverse directions after the first copy."""
    rng = np.random.RandomState(3)
    anchor = np.array([1.0] + [0.0] * 15)
    rows = [(0, anchor)]
    for i in range(1, 6):  # near-dups of the anchor
        rows.append((i, anchor + 0.01 * rng.randn(16)))
    rows.append((10, np.eye(16)[1]))
    rows.append((11, np.eye(16)[2]))
    rows.append((12, np.eye(16)[3]))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    picked = [
        r.vec_id
        for r in R.mmr_select(df, anchor_id=0, k=4).orderBy("rank").collect()
    ]
    # first pick is the most relevant near-dup; the next three must NOT
    # all be near-dups (redundancy is penalized at cosine ~1.0)
    assert picked[0] in {1, 2, 3, 4, 5}
    assert {10, 11, 12} & set(picked[1:]), picked


def test_mmr_missing_or_zero_anchor_raises(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not in corpus"):
        R.mmr_select(df, anchor_id=99, k=2)
    with pytest.raises(ValueError, match="zero norm"):
        R.mmr_select(df, anchor_id=2, k=2)


def test_mmr_pool_refuses_over_budget_vector_width(spark):
    """VERDICT r11 #3: the pooled mode's row cap alone ignores vector
    width — pool_size x dim x 8 B is what actually lands on the driver.
    A (pool_size, dim) product over MMR_POOL_BUDGET_BYTES must refuse
    with actionable sizing, before any collect."""
    dim = 4096  # 8192 rows x 4096 dims x 8 B = 256 MiB > the 128 MiB budget
    df = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [0.5] * dim)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="driver budget"):
        R.mmr_select(df, anchor_id=0, k=1, pool_size=8192)
    # within budget at the same width: a small pool still runs
    out = R.mmr_select(df, anchor_id=0, k=1, pool_size=16).collect()
    assert [r.vec_id for r in out] == [1]


def test_mmr_exhausts_small_candidate_sets(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = R.mmr_select(df, anchor_id=0, k=10).collect()
    assert sorted(r.vec_id for r in out) == [1, 2]
    assert sorted(r.rank for r in out) == [1, 2]


# ---------------------------------------------------------------------------
# Hashed linear classifier gate (ops/quality — tested here with the other
# r10 scoring additions)
# ---------------------------------------------------------------------------


def test_hashed_linear_score_hand_example(spark, monkeypatch):
    from dynamic_etl_spark.ops import quality
    from dynamic_etl_spark.ops.quality import hashed_linear_score

    monkeypatch.setattr(quality, "LOGIT_THRESHOLD", 0.05)
    docs = spark.createDataFrame(
        [(1, "foo bar foo"), (2, "baz"), (3, "")], "doc_id int, text string"
    )
    n_buckets = 8

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    wmap = {bucket("foo"): 0.25, bucket("bar"): -0.5, bucket("baz"): 0.1}
    weights = spark.createDataFrame(
        [(b, w) for b, w in wmap.items()], "bucket int, weight double"
    )
    out = {
        r.doc_id: (r.n_tokens, r.logit, r.passes)
        for r in hashed_linear_score(docs, weights, n_buckets=n_buckets).collect()
    }
    # doc 1: 2*0.25 - 0.5 = 0.0 — below the 0.05 threshold
    # (bucket collisions would change the arithmetic; foo/bar/baz land
    # in distinct md5 buckets at n_buckets=8 — asserted so a tokenizer
    # or hash change fails loudly here, not in the arithmetic)
    assert len({bucket(t) for t in ("foo", "bar", "baz")}) == 3
    assert out[1] == (3, pytest.approx(0.0), False)
    assert out[2] == (1, pytest.approx(0.1), True)
    assert out[3] == (0, pytest.approx(0.0), False)  # zero-token: logit 0


def test_hashed_linear_score_unweighted_buckets_count_zero(spark):
    from dynamic_etl_spark.ops.quality import hashed_linear_score

    docs = spark.createDataFrame([(1, "zz zz")], "doc_id int, text string")
    weights = spark.createDataFrame([], "bucket int, weight double")
    row = hashed_linear_score(docs, weights, n_buckets=4).collect()[0]
    assert (row.n_tokens, row.logit, row.passes) == (2, 0.0, True)


# ---------------------------------------------------------------------------
# Margin-criterion alignment
# ---------------------------------------------------------------------------


def test_margin_alignment_prefers_sparse_neighborhoods(spark):
    """The property raw cosine lacks (Artetxe & Schwenk 2019): a target
    inside a dense neighborhood (a hub) must lose to a lower-cosine but
    isolated target. Hand geometry, k=2: src x has cos 0.8 to hub y1
    (whose neighborhood mean is 0.7) and cos 0.75 to isolated y2
    (mean 0.375) -> margin 1.085 vs 1.304: y2 wins."""
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(1, [0.8, 0.6, 0.0]), (3, [0.75, 0.0, 0.6614378277661477])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.src_id: (r.tgt_id, r.cosine_sim, r.margin)
        for r in ANN.margin_alignment(
            src, tgt, "vec_id", "embedding", k=2, margin_threshold=1.05
        ).collect()
    }
    # x=0: raw cosine prefers y1 (0.8 > 0.75) but margin picks y2
    assert out[0][0] == 3
    assert out[0][1] == pytest.approx(0.75, abs=1e-6)
    assert out[0][2] == pytest.approx(0.75 / ((0.775 + 0.375) / 2), abs=1e-6)
    # src 2's genuine best is the hub, margin 0.6/((0.3+0.7)/2) = 1.2
    assert out[2][0] == 1
    assert out[2][2] == pytest.approx(1.2, abs=1e-6)


def test_margin_alignment_threshold_drops_weak_sources(spark):
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (4, [0.0, 0.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.src_id for r in ANN.margin_alignment(
        src, tgt, "vec_id", "embedding", k=2, margin_threshold=1.05
    ).collect()}
    # src 4's cosines are {0, 0}: margin 0 (or denominator-dropped) —
    # never emitted; src 0's exact match passes
    assert out == {0}


# ---------------------------------------------------------------------------
# Winnowing overlap pair mining
# ---------------------------------------------------------------------------


def test_winnow_overlap_pairs_detects_copied_run_and_caps_boilerplate(spark):
    from dynamic_etl_spark.ops.text import winnow_overlap_pairs

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    copied = "stolen passage kilo lima mike november oscar papa"
    footer = "shared footer words one two three four five"
    docs = spark.createDataFrame(
        [
            (1, base + " " + copied),
            (2, "zulu yankee xray whiskey victor uniform " + copied),
            (3, "tango sierra romeo quebec " + footer),
            (4, "oscar2 november2 mike2 lima2 " + footer),
            (5, "kilo2 juliet2 india2 hotel2 " + footer),
        ],
        "doc_id int, text string",
    )
    # no cap: the copied run (8 words > w+k-1=6) must pair docs 1-2, and
    # the footer (8 words) must pair docs 3/4/5
    out = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in out
    assert {(3, 4), (3, 5), (4, 5)} <= out
    # df cap at 2: footer fingerprints live in 3 docs -> dropped; the
    # copied-run pair (df=2) survives
    capped = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(docs, min_shared=1, max_df=2).collect()
    }
    assert (1, 2) in capped
    assert not ({(3, 4), (3, 5), (4, 5)} & capped)


def test_winnow_overlap_containment_uses_uncapped_totals(spark):
    from dynamic_etl_spark.ops.text import winnow_fp_rows, winnow_overlap_pairs

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"), (2, "aa bb cc dd ee ff gg hh")],
        "doc_id int, text string",
    )
    totals = {
        r.doc_id: r.n
        for r in winnow_fp_rows(docs)
        .groupBy("doc_id").agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    }
    row = winnow_overlap_pairs(docs, min_shared=1).collect()[0]
    # identical docs: every fingerprint shared, containment exactly 1.0
    assert row.shared_fps == totals[1] == totals[2]
    assert row.containment_a == 1.0 and row.containment_b == 1.0


# ---------------------------------------------------------------------------
# r11: pooled MMR, IVF margin alignment, reciprocal-rank fusion
# ---------------------------------------------------------------------------


def test_mmr_pooled_equals_exact_loop_on_fixture(spark):
    """VERDICT r10 #3 done-condition: at lam = 0.5 the rel-top-192 pool
    reproduces the exact greedy loop on the fixture corpus (the measured
    equality frontier is 160 across all three SFs; 192 carries margin).
    The pooled oracle replays pooled SEMANTICS, so this pin is what ties
    the pooled query back to the exact one."""
    from dynamic_etl_spark.registry.retrieval import (
        embedding_mmr_select,
        embedding_mmr_select_pooled,
    )

    exact = embedding_mmr_select(spark, SF_SMALL).collect()
    pooled = embedding_mmr_select_pooled(spark, SF_SMALL).collect()
    assert exact == pooled


def test_mmr_pool_cap_is_enforced(spark):
    corpus = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="mini-dim cap"):
        R.mmr_select(corpus, anchor_id=0, k=2, pool_size=R.MMR_POOL_CAP + 1)


def test_mmr_pooled_small_pool_still_valid_selection(spark):
    """A pool smaller than the equality frontier is a documented
    approximation: the result must still be a valid greedy-MMR run over
    the pool (first pick = global rel argmax, which always survives any
    rel-pruned pool)."""
    from dynamic_etl_spark.registry.retrieval import MMR_ANCHOR_ID

    from dynamic_etl_spark.catalog import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    exact = R.mmr_select(emb, anchor_id=MMR_ANCHOR_ID, k=3).collect()
    pooled = R.mmr_select(
        emb, anchor_id=MMR_ANCHOR_ID, k=3, pool_size=32
    ).collect()
    assert pooled[0] == exact[0]
    assert len(pooled) == 3


def test_margin_alignment_ivf_recall_and_plan(spark):
    """VERDICT r10 #2 done-condition: the bucketed candidate path mines
    (nearly) the brute-force pair set WITHOUT any broadcast NLJ in its
    plan (measured pair recall 1.00 at sf0.001 / 0.97 at sf0.01 with 8
    cells probed 6-deep)."""
    from dynamic_etl_spark.registry.retrieval import (
        embedding_margin_alignment,
        embedding_margin_alignment_ivf,
    )

    brute = {
        (r.src_id, r.tgt_id) for r in embedding_margin_alignment(spark, SF_SMALL).collect()
    }
    ivf_df = embedding_margin_alignment_ivf(spark, SF_SMALL)
    plan = ivf_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    ivf = {(r.src_id, r.tgt_id) for r in ivf_df.collect()}
    assert brute, "fixture must mine at least one pair"
    assert len(brute & ivf) / len(brute) >= 0.95


def test_rrf_fusion_hand_example(spark):
    """Pin the fusion arithmetic against hand-computed ranks: items in
    both lists sum both reciprocal terms, single-list items keep one,
    ties break by id ascending, and top_k truncates per query."""
    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2), (1, 102, 3)],
        "query_id int, doc_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(1, 101, 1), (1, 103, 2), (1, 100, 3)],
        "query_id int, doc_id long, rank int",
    )
    rows = R.rrf_fuse(
        [lex, dense], names=["lex_rank", "dense_rank"], k0=60, top_k=3
    ).collect()
    got = {r.doc_id: (r.rank, r.lex_rank, r.dense_rank, r.rrf_score) for r in rows}
    # hand-computed: 101 -> 1/62 + 1/61, 100 -> 1/61 + 1/63, 102/103 one term
    s101 = 1.0 / 62 + 1.0 / 61
    s100 = 1.0 / 61 + 1.0 / 63
    assert got[101] == (1, 2, 1, s101)
    assert got[100] == (2, 1, 3, s100)
    # 102 (1/63) vs 103 (1/62): 103 scores higher; top_k=3 keeps 103 only
    assert got[103] == (3, None, 2, 1.0 / 62)
    assert 102 not in got


def test_rrf_tie_breaks_by_id(spark):
    a = spark.createDataFrame([(1, 7, 1), (1, 3, 2)], "query_id int, doc_id long, rank int")
    b = spark.createDataFrame([(1, 3, 1), (1, 7, 2)], "query_id int, doc_id long, rank int")
    rows = R.rrf_fuse([a, b], k0=60, top_k=2).collect()
    # both docs score 1/61 + 1/62 exactly: the lower id must rank first
    assert [r.doc_id for r in rows] == [3, 7]
    assert rows[0].rrf_score == rows[1].rrf_score


def test_rrf_requires_two_rankings(spark):
    df = spark.createDataFrame([(1, 1, 1)], "query_id int, doc_id long, rank int")
    with pytest.raises(ValueError, match="at least two"):
        R.rrf_fuse([df])
    with pytest.raises(ValueError, match="names"):
        R.rrf_fuse([df, df], names=["only_one"])
