"""Lexical retrieval ranking — BM25 top-k over a document corpus.

The training-data curation loop this serves is targeted retrieval:
"find the documents most relevant to these probe queries" (quality
auditing a mixture, pulling domain exemplars, spot-checking a dedup
survivor set). The reference engine has no retrieval ranker; this is a
beyond-reference LLM-pipeline operator in the ops/quality.tfidf_topk
family (same tokenizer, same ln-at-12dp parity discipline, same
total-ordered ranks).

Scale shape (100 TB): the query set is a bounded mini-dim (broadcast —
it never shuffles the corpus on anything but its natural keys); tf is
one explode + codegen partial agg; document frequency is computed on
the QUERY-MATCHED slice only (a broadcast semi join prunes the corpus
vocabulary to |query terms| before the term-key agg); per-(query, doc)
scores aggregate exact decimals so the ranking is partition- and
engine-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_spark.ops.text import token_count, tokens

#: Okapi BM25 defaults (Robertson & Zaragoza 2009, the canonical values).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    top_k: int = 5,
) -> DataFrame:
    """Top-``top_k`` documents per query under Okapi BM25 with the
    Lucene-style always-positive idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (public knowledge; Robertson & Zaragoza 2009 §3.3). Query-term
    multiplicity is ignored (DISTINCT query terms — the common
    short-query simplification; the optional k3 saturation term is a
    no-op for the probe-query use case this serves).

    Surface: ``(query_id, rank, doc_id, n_hit_terms, bm25)`` — ranks
    total-ordered by (score DESC, doc_id ASC), score rounded to 6dp.

    Determinism/parity (repo float rules): each per-term contribution is
    one double product of idf (libm ln, quantized at 12dp BEFORE the sum
    — the bigram_perplexity_profile discipline) and a tf factor that is
    pure IEEE arithmetic on integers and one shared double (avgdl); the
    per-pair score sums those decimal(38,12) terms exactly, so ordering
    by the decimal sum is partition- and engine-invariant. ``avgdl`` is
    total tokens / N — two exact bigints, one correctly-rounded IEEE
    division, identical in Python and SQL.

    Plan: tf (ONE explode + codegen partial agg — the only corpus-sized
    shuffle) -> broadcast prune to query terms -> document frequency as
    a COUNT window over the pruned slice (tf_q rows are unique per
    (doc, term), so the per-term window count IS df — no second
    corpus-vocabulary aggregation, no join-back) -> join doc lengths
    (a plain projection of the corpus, never an aggregate) -> (query,
    doc) exact-decimal agg -> per-query window top-k. Every subtree has
    ONE consumer, so nothing is recomputed and nothing needs an eager
    checkpoint (Spark cannot reuse exchanges under higher-order-function
    lambdas — their variable ids defeat plan canonicalization — so a
    shared tf would silently double the corpus pass; measured r10).
    """
    # bounded scalars (high-water-mark convention): corpus size + total
    # token count in ONE pass; avgdl is their IEEE quotient, embedded as
    # a literal so both engines share the exact double
    n_docs, total_tokens = docs.select(
        F.count(F.lit(1)), F.coalesce(F.sum(token_count(F.col("text"))), F.lit(0))
    ).first()
    if n_docs == 0 or total_tokens == 0:
        raise ValueError("bm25_topk: empty corpus (no documents or no tokens)")
    avgdl = total_tokens / n_docs

    tf = (
        docs.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # doc length is a projection of the corpus, NOT an aggregate of tf —
    # tf then has exactly one consumer and the corpus tokenizes into a
    # shuffle once
    dl = docs.select(F.col("doc_id"), token_count(F.col("text")).alias("dl"))

    qterms = queries.select(
        F.col("query_id"), F.explode(tokens(F.col("query_text"))).alias("term")
    ).distinct()
    qvocab = qterms.select("term").distinct()

    tf_q = tf.join(F.broadcast(qvocab), on="term")
    # tf_q rows are unique per (doc, term), so this window count IS the
    # document frequency — over the query-pruned slice, never the corpus
    # vocabulary
    tf_qd = tf_q.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )

    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_factor = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl") / F.lit(avgdl)))
    )
    contrib = F.round(idf * tf_factor, 12).cast("decimal(38,12)")

    scored = (
        tf_qd.join(dl, on="doc_id")
        .join(F.broadcast(qterms), on="term")
        .select("query_id", "doc_id", contrib.alias("__c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("n_hit_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__s"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "n_hit_terms",
            F.round(F.col("__s").cast("double"), 6).alias("bm25"),
        )
    )


#: pool_size ceiling: the pooled mode collects (id, rel, vector) rows to
#: the driver, so it must stay a bounded mini-dim (the
#: cosine_topk_vectorized query-matrix convention).
MMR_POOL_CAP = 8192

#: Driver-memory budget for the pooled working set (VERDICT r11 #3):
#: the row cap alone ignores vector WIDTH — 8192 rows of dim-1024
#: float64 is already ~67 MB of driver traffic, and wider embeddings
#: scale linearly. The pool's payload is ~ pool_size * dim * 8 bytes
#: (plus Python list overhead), so the guard below refuses any
#: (pool_size, dim) combination whose raw payload exceeds this budget
#: instead of silently ballooning the driver heap.
MMR_POOL_BUDGET_BYTES = 128 * 2**20
#: MMR's relevance weight λ (1 - λ weighs diversity); the registry's
#: DuckDB twin reads it.
MMR_LAMBDA = 0.5


def mmr_select(
    corpus: DataFrame,
    *,
    anchor_id,
    k: int = 10,
    pool_size: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` items maximizing
    ``λ * rel(d) - (1 - λ) * max_{s in S} sim(d, s)`` (λ = ``MMR_LAMBDA``) — relevance
    traded against redundancy with what's already selected. The
    training-data uses: assembling a DIVERSE eval/demo set around a
    topic anchor, or picking exemplar documents per cluster without
    near-duplicates crowding the list.

    ``rel`` and ``sim`` are cosine against ``anchor_id``'s vector and
    the selected vectors respectively, via the sequential-fold
    :func:`dynamic_etl_spark.ops.ann.cosine` (bit-identical to DuckDB's
    ``list_dot_product`` replay — the oracle recursive CTE reruns the
    greedy loop exactly). The redundancy term over an EMPTY selection is
    0.0 (the standard first-pick convention); afterwards it is the true
    running max (NULL-seeded ``greatest``, so NEGATIVE max-sims are
    preserved rather than floored — mirrored by the oracle's
    ``coalesce(max(...), 0.0)``).

    Greedy selection is inherently sequential, so the loop runs k
    bounded rounds on the driver: each round is ONE corpus-linear pass
    (TakeOrdered argmax of the score, total-ordered by (score DESC, id
    ASC)) plus a localCheckpoint of the updated running-max column
    (repo rule: iterative state truncates lineage every round —
    un-truncated greatest() chains recompute quadratically). Nothing
    corpus-sized ever reaches the driver; per-round shipped data is one
    (id, score, vector) row. Zero-norm vectors have no direction and
    are excluded up front; a zero-norm (or missing) anchor raises.

    Output: (rank, <id_col>, mmr_score rounded 6dp) — exactly
    min(k, candidates) rows, built from the k driver-held winners (a
    LocalTableScan; the selection JOBS are where the work happened).

    ``pool_size`` (VERDICT r10 #3) bounds the corpus passes: the k
    corpus-linear rounds above re-materialize the corpus every round —
    correct, but at 100 TB the standard practice is to precompute
    ``rel`` ONCE, keep the top-``pool_size`` candidates by (rel DESC, id
    ASC) as the working pool (M >> k), and run the greedy loop on the
    pool. Here the pool is a bounded mini-dim (capped at
    :data:`MMR_POOL_CAP`) collected in ONE TakeOrdered job, and the loop
    runs driver-local in pure Python floats whose sequential-fold
    cosine/score arithmetic is bit-identical to the distributed
    expressions (IEEE doubles, same operation order) — so total cost is
    ~2 jobs instead of k corpus passes + k checkpoints.

    Approximation regime: pooled selection equals the exact loop
    whenever every pick falls inside the rel-top-M pool. High λ
    (relevance-dominated, >= 0.5 in practice) keeps picks near the top
    of the rel ranking; LOW λ weights diversity enough that a pick
    can in principle score above pool members from OUTSIDE any
    rel-pruned pool — use the exact mode there, or widen the pool
    (pytest pins pooled == exact on the fixture at λ = 0.5).

    Driver-memory sizing (VERDICT r11 #3): the pooled mode ships
    ``pool_size * dim * 8`` bytes of float64 vectors to the driver
    (~67 MB at the 8192 cap with dim-1024 embeddings; wider embeddings
    scale linearly). Both the row cap (:data:`MMR_POOL_CAP`) and the
    byte budget (:data:`MMR_POOL_BUDGET_BYTES`) are enforced — a caller
    with wide embeddings must shrink ``pool_size`` so the product fits,
    or run the exact mode.
    """
    from dynamic_etl_spark.ops.ann import as_double_vec, cosine, l2_norm

    spark = corpus.sparkSession
    anchor_rows = (
        corpus.filter(F.col("vec_id") == anchor_id)
        .select(as_double_vec(F.col("embedding")).alias("__a"))
        .take(1)
    )
    if not anchor_rows:
        raise ValueError(f"mmr_select: anchor id {anchor_id!r} not in corpus")
    anchor = anchor_rows[0]["__a"]
    if not any(x != 0.0 for x in anchor):
        raise ValueError("mmr_select: anchor vector has zero norm")

    def vec_lit(values) -> F.Column:
        return F.array(*[F.lit(float(x)) for x in values])

    base = (
        corpus.filter(F.col("vec_id") != anchor_id)
        .select(F.col("vec_id").alias("__id"), as_double_vec(F.col("embedding")).alias("__v"))
        .filter(l2_norm(F.col("__v")) > 0.0)
        .withColumn("__rel", cosine(F.col("__v"), vec_lit(anchor)))
    )
    lam, one_minus = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    out_schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("vec_id", corpus.schema["vec_id"].dataType, False),
            T.StructField("__score", T.DoubleType(), False),
        ]
    )
    if pool_size is not None:
        picked = _mmr_greedy_local(
            _mmr_pool(base, pool_size, dim=len(anchor)), lam, one_minus, k
        )
        return spark.createDataFrame(picked, out_schema).select(
            "rank", "vec_id", F.round("__score", 6).alias("mmr_score")
        )

    state = base.withColumn("__ms", F.lit(None).cast("double")).localCheckpoint()
    picked = []
    for _ in range(k):
        score = lam * F.col("__rel") - one_minus * F.coalesce(
            F.col("__ms"), F.lit(0.0)
        )
        rows = (
            state.withColumn("__score", score)
            .orderBy(F.desc("__score"), F.asc("__id"))
            .select("__id", "__score", "__v")
            .take(1)
        )
        if not rows:
            break
        pick = rows[0]
        picked.append((len(picked) + 1, pick["__id"], pick["__score"]))
        state = (
            state.filter(F.col("__id") != pick["__id"])
            .withColumn(
                "__ms",
                F.greatest(F.col("__ms"), cosine(F.col("__v"), vec_lit(pick["__v"]))),
            )
            .localCheckpoint()
        )
    return spark.createDataFrame(picked, out_schema).select(
        "rank", "vec_id", F.round("__score", 6).alias("mmr_score")
    )


def _mmr_pool(base: DataFrame, pool_size: int, *, dim: int) -> list[tuple]:
    """Collect the rel-top-``pool_size`` working pool — ONE TakeOrdered
    job over the scored candidates; rel values are the distributed
    expression's own doubles, so the local replay shares every bit."""
    if pool_size > MMR_POOL_CAP:
        raise ValueError(
            f"mmr_select: pool_size {pool_size} exceeds the bounded "
            f"mini-dim cap {MMR_POOL_CAP}"
        )
    est_bytes = pool_size * dim * 8
    if est_bytes > MMR_POOL_BUDGET_BYTES:
        raise ValueError(
            f"mmr_select: pool payload ~{est_bytes >> 20} MiB "
            f"(pool_size {pool_size} x dim {dim} x 8 B) exceeds the "
            f"driver budget {MMR_POOL_BUDGET_BYTES >> 20} MiB — shrink "
            f"pool_size for this vector width or use the exact mode"
        )
    return [
        (r["__id"], r["__rel"], list(r["__v"]))
        for r in base.orderBy(F.desc("__rel"), F.asc("__id"))
        .limit(pool_size)
        .select("__id", "__rel", "__v")
        .collect()
    ]


def _mmr_greedy_local(
    pool: list[tuple], lam: float, one_minus: float, k: int
) -> list[tuple]:
    """Driver-local greedy MMR over a bounded pool, arithmetic-identical
    to the distributed loop: the sequential left-to-right float fold ==
    ops/ann.dot's F.aggregate == DuckDB list_dot_product (same IEEE
    operation order), sqrt is correctly-rounded on both runtimes, and
    the argmax tie-breaks (score DESC, id ASC) exactly like the exact
    mode's TakeOrdered."""
    import math

    def _dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    norms = {i: math.sqrt(_dot(v, v)) for i, _, v in pool}
    max_sim: dict = {i: None for i, _, _ in pool}
    vecs = {i: v for i, _, v in pool}
    remaining = {i for i, _, _ in pool}
    picked: list[tuple] = []
    for _ in range(k):
        best_id, best_score = None, None
        for i, rel, _ in pool:
            if i not in remaining:
                continue
            ms = max_sim[i]
            score = lam * rel - one_minus * (ms if ms is not None else 0.0)
            if (
                best_id is None
                or score > best_score
                or (score == best_score and i < best_id)
            ):
                best_id, best_score = i, score
        if best_id is None:
            break
        remaining.discard(best_id)
        picked.append((len(picked) + 1, best_id, best_score))
        pvec, pnorm = vecs[best_id], norms[best_id]
        for i in remaining:
            s = _dot(vecs[i], pvec) / (norms[i] * pnorm)
            ms = max_sim[i]
            max_sim[i] = s if ms is None else max(ms, s)
    return picked


#: Reciprocal-rank-fusion smoothing constant — k0 = 60 is the value from
#: Cormack, Clarke & Buettcher 2009 (SIGIR), carried unchanged by every
#: production hybrid-retrieval stack since.
RRF_K0 = 60


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    names: list[str] | None = None,
    k0: int = RRF_K0,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, public
    knowledge): fuse N per-query rankings of the same item space by
    ``score(d) = Σ_i 1/(k0 + rank_i(d))``, summing only over the lists
    where d appears — the standard lexical+dense hybrid rule (rank-based,
    so BM25 and cosine scores never need calibration against each other).

    Each input carries (query_id, id, rank); inputs full-outer-join on
    (query_id, id) pairwise left-to-right, each list's rank surfacing
    under its ``names`` entry (nullable where the list missed the item).

    Parity/determinism: every term is one IEEE division of two small
    exact integers (1.0 / (k0 + rank)) and the terms add in fixed
    declaration order, so the fused score is a bit-identical double on
    any engine and any partitioning — no rounding needed anywhere. The
    output ranks total-order by (score DESC, id ASC).

    Scale shape: inputs are top-k lists (|queries| x depth rows — tiny
    relative to any corpus), so the fusion's shuffles are on result
    lists, never corpus-sized; the expensive work stays inside the
    upstream rankers.

    Output: (query_id, rank, id, <names...>, rrf_score raw double),
    ``top_k`` rows per query.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings to fuse")
    names = names or [f"rank_{i + 1}" for i in range(len(rankings))]
    if len(names) != len(rankings):
        raise ValueError("rrf_fuse: names must match rankings 1:1")
    fused = None
    for df, name in zip(rankings, names):
        side = df.select(
            "query_id", "doc_id", F.col("rank").alias(name)
        )
        fused = side if fused is None else fused.join(
            side, on=["query_id", "doc_id"], how="full_outer"
        )
    score = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(name)), F.lit(0.0)
        )
        score = term if score is None else score + term
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__rrf"), F.asc("doc_id")
    )
    return (
        fused.withColumn("__rrf", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id", "rank", "doc_id", *names,
            F.col("__rrf").alias("rrf_score"),
        )
    )
