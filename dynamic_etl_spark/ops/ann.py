"""Similarity search over embedding columns (driver brief: ANN for LLM
data pipelines).

Two tiers:
- ``cosine_topk`` — exact brute force. The QUERY side must be small (it is
  broadcast); the corpus side streams through one narrow projection. This
  is the correctness baseline and the right tool when |queries| is tiny.
- ``lsh_ann_topk`` — the scale path: random-hyperplane (sign) signatures,
  banded like MinHash-LSH, candidates only where a signature band
  collides. No corpus×corpus or corpus×queries cross join; the candidate
  join shuffles on band hash. Hyperplanes are pseudo-random ±1 vectors
  derived from xxhash64(seed, bit, dim) parities — deterministic across
  runs and cluster sizes, no stored model.

All arithmetic is double (embeddings arrive float32; casting first keeps
both engines' sums bit-comparable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fan-out guard ONLY on the brute-force path: per-row interpreted cosine x
# |queries| dwarfs the extra exchange. The signature/matmul paths were
# measured NET-NEGATIVE with it on a small corpus (the added stage's
# schedule+compile exceeds the win; at real scale inputs are well-split
# and the guard is a no-op either way).
from dynamic_etl_spark.session import ensure_fanout_parallelism

#: The per-cell BLAS passes score this many rows against a cell at a
#: time: peak memory is O(BLOCK_ROWS * cell_size), never cell_size².
BLOCK_ROWS = 1024
#: A cell past this many rows raises instead of OOMing its executor
#: (200k rows x 768 dims x 8 B ≈ 1.2 GB of vectors; SemDeDup's guard).
MAX_CELL_ROWS = 200_000

# Operator settings the registry's DuckDB twins read too.
#: Neighbours per query of the LSH and IVF top-k searches.
ANN_TOPK = 10
#: kNN join: neighbours per vector, Lloyd cells, and cells each vector probes.
KNN_K, KNN_CELLS, KNN_PROBE = 5, 8, 4
#: SemDeDup: the duplicate cosine, k-means cells, and cells a batch
#: vector probes on incremental admission.
SEMDEDUP_THRESHOLD, SEMDEDUP_CELLS, SEMDEDUP_PROBE = 0.95, 8, 2
#: The cosine at which cosine_near_dup_pairs calls a pair a near-dup.
NEAR_DUP_COSINE = 0.9


def as_double_vec(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared epilogue: per-query rank by (desc sim, asc neighbor_id),
    keep k, surface the similarity rounded."""
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("__sim", 6).alias("cosine_sim"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (brute-force baseline).

    queries is explicitly broadcast — every corpus partition scores its
    rows against the (small) query set locally; the only shuffle is the
    per-query top-k window. Self-matches are excluded.
    Output: (query_id, neighbor_id, rank, cosine_sim rounded 6dp).
    """
    query_id_col = query_id_col or id_col
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            as_double_vec(F.col(vec_col)).alias("__qv"),
        )
    )
    # scoring is |queries| interpreted dot products per corpus row —
    # guarantee it parallelizes even off a single-split input
    c = ensure_fanout_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    return _rank_topk(scored, k)


def max_cosine_vs_queries(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-CORPUS-row nearest query by cosine — :func:`cosine_topk`'s
    transpose (that one ranks neighbors per query; this one keeps each
    corpus row's single best match against the whole query set). The
    semantic-decontamination primitive: the query side is an eval/
    benchmark set, benchmark-sized at ANY corpus scale, so it collapses
    to a ONE-ROW sorted array-of-structs broadcast anchor and the corpus
    never shuffles at all — each row folds its own max inside the
    projection (zero exchanges; contrast the corpus-wide groupBy a
    crossJoin-then-argmax formulation would need).

    Determinism: dots are the sequential left-to-right :func:`dot`, and
    the winner is ``array_max`` over (sim, -query_id) structs —
    lexicographic, hence ORDER-INDEPENDENT, with FP-equal similarity
    ties keeping the LOWEST query_id. ``sort_array`` on the anchor is
    therefore not load-bearing for the result; it only pins the anchor
    array's CONTENT order (collect_list is partition-dependent) so
    plans, explains, and checkpointed anchors stay bit-stable run to
    run. Output: (id_col, matched_query_id AS LONG, max_cosine_sim
    rounded 6dp), one row per corpus row. Query ids must be numeric
    (the tiebreak negates them; both twins surface matched_query_id as
    long so their schemas stay hash-identical). An EMPTY query set is
    REFUSED, matching the vectorized twin: array_max of an empty anchor
    would yield NULL match/sim per corpus row, threshold filters would
    drop every row, and decontamination would vacuously pass the whole
    corpus — the silent failure this op exists to prevent. The check is
    a bounded count() on the benchmark-sized side (one tiny eager job at
    construction; the corpus plan is untouched), so both twins now fail
    identically loudly (ADVICE r6).
    """
    # take(1), not limit(1).count(): CollectLimit short-circuits in ONE
    # job, while an AQE count over the filtered scan spends three
    if not queries.take(1):
        raise ValueError("max_cosine_vs_queries: empty query set")
    anchor = F.broadcast(
        queries.select(
            F.struct(
                F.col(id_col).cast("long").alias("qid"),
                as_double_vec(F.col(vec_col)).alias("qv"),
            ).alias("__q")
        ).agg(F.sort_array(F.collect_list("__q")).alias("__evals"))
    )
    cv = F.col("__cv")

    def _score(q: Column) -> Column:
        # helper, not a default-arg capture (PySpark lambda trap)
        return F.struct(
            cosine(q["qv"], cv).alias("s"), (-q["qid"]).alias("negqid")
        )

    # array_max is lexicographic on (s, negqid): max sim first, and on an
    # FP-equal tie the LARGER negqid == the SMALLER query_id wins
    best = F.array_max(F.transform(F.col("__evals"), _score))
    # materialize the fold ONCE in its own projection: referencing `best`
    # per output field would let CollapseProject splice the |queries|-scan
    # expression into every consumer (field extraction + any downstream
    # threshold filter = 3 full scans per row); struct-field access on
    # the materialized column is cheap, so the second projection and
    # pushed-down filters reuse one evaluation
    folded = (
        corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__cv"))
        .crossJoin(anchor)
        .select(id_col, best.alias("__best"))
    )
    return folded.select(
        id_col,
        (-F.col("__best.negqid")).alias("matched_query_id"),
        F.round(F.col("__best.s"), 6).alias("max_cosine_sim"),
    )


def max_cosine_vs_queries_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
) -> DataFrame:
    """Arrow/BLAS twin of :func:`max_cosine_vs_queries` — the 100 TB
    execution shape when the eval set stops being tiny: the query matrix
    ships inside the mapInPandas closure (bounded mini-dim collect), each
    Arrow batch scores with ONE ``V @ Q.T`` matmul and a C-side row
    argmax, and the corpus never shuffles (a pure mapInPandas, zero
    exchanges — same contract as the expression path).

    Determinism/parity: queries are sorted ascending by id so
    ``np.argmax``'s first-max rule reproduces the expression path's
    lowest-query-id tiebreak on FP-equal similarities; the similarity is
    emitted RAW and rounded JVM-side (np.round is half-even where Spark's
    round is HALF_UP). Both paths compute dot / (norm(a) * norm(b)) in
    the same operation order, so on exactly-representable inputs they
    are bit-identical (pinned in tests/test_llm.py). On arbitrary
    floats, BLAS's blocked accumulation can differ from the sequential
    dot in the last ulps — the same accepted risk as
    cosine_topk_vectorized, which has shared the brute-force oracle and
    carried the driver hash since r2: a 6dp round only exposes it for a
    value within ~1 ulp of a rounding boundary. Query ids must be
    numeric and surface as LONG (the expression twin's schema)."""
    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    qrows = sorted(
        queries.select(query_id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not qrows:
        # loud, not silent: an empty eval set means every corpus row
        # would "pass" decontamination vacuously — refuse (the collect
        # already paid for the check, so this guard is free)
        raise ValueError("max_cosine_vs_queries_vectorized: empty query set")
    q_arr = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType, True),
            # LONG to match the expression twin's negation-cast surface —
            # the two paths must stay schema-identical under the repo's
            # dtype-strict parity rule
            T.StructField("matched_query_id", T.LongType(), True),
            T.StructField("__sim", T.DoubleType(), False),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norm = np.sqrt((v * v).sum(axis=1))
            sims = (v @ q_mat.T) / np.outer(v_norm, q_norm)
            j = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "matched_query_id": q_arr[j],
                    "__sim": sims[np.arange(len(v)), j],
                }
            )

    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, out_schema)
        .select(
            id_col,
            "matched_query_id",
            F.round("__sim", 6).alias("max_cosine_sim"),
        )
    )


def _srp_bit(v: Column, bit: int, seed: int) -> Column:
    """One sign-random-projection bit: sign of dot(v, h_bit) where h_bit's
    component j is ±1 from xxhash64(seed, bit, j) parity, j being the
    0-BASED element index — bit-identical to srp_banded_rows' posexplode
    formulation (ADVICE r2: the two hashed different indices and would
    silently produce disjoint buckets; tests/test_llm.py pins equality).
    (The seed/bit must be closed over by a helper, never lambda default
    args — PySpark reads lambda arity and would pass the element index.)"""
    dims = F.sequence(F.lit(0), F.size(v) - 1)
    plane = F.transform(
        dims,
        lambda j: F.lit(1.0)
        - 2.0 * (F.xxhash64(F.lit(seed), F.lit(bit), j).bitwiseAND(F.lit(1))).cast("double"),
    )
    proj = F.aggregate(
        F.zip_with(v, plane, lambda x, s: x * s), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.when(proj > 0, 1).otherwise(0)


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k, Arrow/numpy path: the query matrix ships to every
    executor inside the mapInPandas closure, each Arrow batch scores with
    ONE BLAS matmul and emits only its LOCAL top-k per query, and a final
    (tiny: partitions x queries x k rows) global window merges.

    Same results as cosine_topk, two structural wins at scale:
    - compute: one `V @ Q.T` per batch instead of interpreted per-row
      array lambdas;
    - shuffle: O(partitions x |queries| x k) candidate rows instead of
      O(|corpus| x |queries|) scored rows into the ranking window.

    Like ivf_topk, the caller's id type is preserved (ADVICE r2: this
    path used to assume long ids) — the output schema is derived from the
    input schemas and ids ride through numpy without dtype coercion.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in qrows]
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType, True),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType, True),
            T.StructField("__sim", T.DoubleType(), False),
        ]
    )

    q_arr = np.asarray(q_ids)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v_norm = np.sqrt((v * v).sum(axis=1))
            sims = (v @ q_mat.T) / np.outer(v_norm, q_norm)
            # self-matches can never enter a top-k
            not_self = ids[:, None] != q_arr[None, :]
            sims = np.where(not_self, sims, -np.inf)
            # ONE C-side partial selection across ALL queries (axis=0)
            # instead of a per-query Python loop with full lexsorts —
            # the loop was the bottleneck (bench r3: 4.5s, slower than
            # the interpreted brute force). Emitting every row tied with
            # the local k-th sim (a superset of the local top-k under
            # any tie-break) keeps the global (sim desc, id asc) window
            # exact without per-query id-ordering work here.
            # Quantize BEFORE any ordering decision: BLAS kernels pick
            # different accumulation orders per matrix SHAPE, so the
            # same vector pair scored in two batches can differ in the
            # last ulp — raw sims would make tie ranks depend on batch
            # geometry and on the BLAS build (observed cross-container
            # r10: an all-ties fixture ranked by kernel noise). 12dp is
            # the repo's quantize-before-order discipline
            # (bigram_perplexity_profile); the surfaced 6dp value is
            # unchanged outside a ~5e-13 sliver around 6dp halves.
            # Since r11 the oracles MIRROR this: TOPK_VEC_ORACLE and
            # KNN_VOTE_ORACLE rank by round(sim, 12) too (ADVICE r10
            # #1) — keep this path and those oracles in lockstep.
            # Residual known sliver (ADVICE r11 #5): the mirror is
            # DuckDB round() (half-away-from-zero) vs np.round
            # (half-to-even), so a raw sim landing EXACTLY on a 12dp
            # half rounds to different 12dp values per engine and can
            # flip a tie rank — same class as the documented 6dp-half
            # sliver, measure-zero on real cosines. If a top-k tie ever
            # flips between engines, diagnose as this class first.
            sims = np.round(sims, 12)
            kk = min(k, sims.shape[0])
            part = np.argpartition(-sims, kk - 1, axis=0)
            kth = sims[part[kk - 1], np.arange(sims.shape[1])]
            mask = (sims >= kth[None, :]) & not_self
            row_idx, q_idx = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": q_arr[q_idx],
                    "neighbor_id": ids[row_idx],
                    "__sim": sims[row_idx, q_idx],
                }
            )

    local_topk = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(local_topk, k)


class IvfIndex:
    """Reusable IVF index: the k-means cell assignment of the corpus plus
    the centroid matrix. Build ONCE with :func:`build_ivf_index` and pass
    to any number of :func:`ivf_topk` calls — a query loop that refits
    per call pays the whole k-means training cost each time for an
    identical index (VERDICT r3 nit)."""

    def __init__(self, assigned: DataFrame, centers):
        self.assigned = assigned
        self.centers = centers


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    persist: bool = True,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> IvfIndex:
    """One MLlib k-means fit (seeded) + one transform pass assigning each
    corpus vector to its cell. ``persist`` materializes the assignment
    via localCheckpoint — NOT cache(): a CacheManager entry pins the plan
    until explicit unpersist (a leak when callers build indexes per
    batch), while a checkpoint is freed with the DataFrame and also
    truncates the k-means-transform lineage out of every downstream
    search plan. The point of reuse is that subsequent searches only
    scan probed cells."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    ).withColumn("__features", array_to_vector(F.col("__cv")))
    # max_iter trades assignment refinement for fit jobs: candidate
    # bucketing only needs rough Voronoi structure (SemDeDup's own
    # practice on web-scale corpora is a handful of Lloyd iterations),
    # so callers whose downstream is threshold- or recall-gated may cut
    # it well below MLlib's default 20. init_mode="random" (seeded)
    # additionally skips the k-means|| init passes — measured 12 vs 20
    # jobs on the sf0.01 embeddings fit (VERDICT r9 #6) — at the cost
    # of init quality the threshold-gated callers don't need.
    km = KMeans(
        k=n_cells, seed=42, maxIter=max_iter, initMode=init_mode,
        featuresCol="__features", predictionCol="__cell",
    )
    model = km.fit(c)
    assigned = model.transform(c).select("neighbor_id", "__cv", "__cell")
    if persist:
        assigned = assigned.localCheckpoint()
    centers = np.array([np.asarray(ctr) for ctr in model.clusterCenters()])
    return IvfIndex(assigned, centers)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: k-means partitions the corpus into
    inverted lists (16 unless ``index`` was built with another count);
    each query probes only its 4 nearest centroids and exact cosine
    ranks the candidates.

    The index build is one MLlib k-means fit (seeded, samples the corpus);
    the cell assignment is a model transform (one pass); the search joins
    queries to candidates on cell id — candidate volume is
    ~corpus * 4 / cells, never the full corpus. Complements the
    SRP-LSH path: IVF adapts to the data distribution, LSH needs no
    training. Pass a prebuilt ``index`` (see :func:`build_ivf_index`)
    when searching repeatedly — one-shot calls may leave it None.
    """
    import numpy as np

    if index is None:
        index = build_ivf_index(corpus, id_col, vec_col, persist=False)
    assigned, centers = index.assigned, index.centers
    qrows = queries.select(id_col, vec_col).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        d = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:4]:
            probe_rows.append((r[0], int(cell)))
    # explicit schema: keeps the caller's id type (ints are NOT assumed)
    # and makes an empty query set a valid empty frame, not a crash
    probe_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType, True),
            T.StructField("__cell", T.IntegerType(), False),
        ]
    )
    probes = F.broadcast(
        queries.sparkSession.createDataFrame(probe_rows, probe_schema)
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("__qv")
        )
    )
    cands = (
        assigned.join(probes, "__cell")
        .join(q, "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    return _rank_topk(cands, ANN_TOPK)


def hyperplane_signature(v: Column, bits: int = 16, seed: int = 0) -> Column:
    """Sign-random-projection signature: bit i = [dot(v, h_i) > 0].
    Returns an array of ``bits`` 0/1 ints.

    Per-row expression form (interpreted HOFs) — fine for inspecting a
    handful of signatures; corpus-scale passes use srp_banded_rows, the
    explode + codegen-aggregate formulation of the same idea."""
    return F.array(*[_srp_bit(v, i, seed) for i in range(bits)])


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """Approximate top-k: candidates are corpus rows sharing at least one
    signature band with the query; exact cosine ranks the candidates.

    Similar vectors agree on most signature bits (SRP property), so at
    least one of the ``bands`` 4-bit bands collides with high probability
    while the corpus-wide candidate count stays near-linear. Output schema
    matches cosine_topk (rank is within retrieved candidates).

    Signatures come from srp_banded_rows (explode + codegen sum
    aggregates); candidate dedup runs on bare (query_id, neighbor_id) and
    vectors are joined back only for the exact-cosine re-rank — the heavy
    arrays never ride through the band join or the distinct.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    cands = (
        srp_banded_rows(q, "query_id", vec_col, 16, hash_mode=hash_mode)
        .join(srp_banded_rows(c, "neighbor_id", vec_col, 16, hash_mode=hash_mode),
              ["band_idx", "band_hash"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(q.select("query_id", as_double_vec(F.col(vec_col)).alias("__v_q")),
                   "query_id")
        .join(c.select("neighbor_id", as_double_vec(F.col(vec_col)).alias("__v_n")),
              "neighbor_id")
        .withColumn("__sim", cosine(F.col("__v_q"), F.col("__v_n")))
    )
    return _rank_topk(scored, ANN_TOPK)


def srp_banded_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 32,
    bands: int = 4,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """(id, band_idx, band_hash) rows of a sign-random-projection signature,
    computed the codegen way: the vector EXPLODES to (id, pos, value) rows
    and every one of the ``bits`` hyperplane projections is a plain ``sum``
    aggregate in ONE groupBy — map-side partial aggregation, whole-stage
    codegen, no interpreted array lambdas (the higher-order-function
    formulation in ``_srp_bit`` runs interpreted and was measured ~10x
    slower per corpus pass; same trade-off as MinHash in ops/lsh.py).

    ``hash_mode`` picks the hyperplane family (the ops/lsh.py convention):

    - ``"xxhash"`` (default): component j of bit b is ±1 from
      xxhash64(seed, b, j) parity, projections sum in double — the fast
      production path, engine-specific (rows-only at the driver).
    - ``"md5"``: signs come from md5-slice parity
      (``conv(substr(md5('seed:b:j'),1,8),16,10) % 2`` == DuckDB
      ``('0x'||substr(..))::BIGINT % 2``) and projections sum as
      decimal(38,30) — ORDER-FREE within each engine, so the sign test
      ``p > 0`` is partition-invariant and the whole signature → band →
      candidate pipeline is SQL-reproducible. Cross-engine the scale-30
      cast is exact for |x| >= 2^-7 and near-exact below (the
      embedding_label_centroids bound, ~1e-27·n); a bit flip would need a
      projection within that sliver of 0 — accepted, verified at both
      driver scales. ~2-3x the hash cost; same sign-distribution quality.

    Both modes are deterministic across runs, partitions, cluster sizes.
    """

    def proj(b: int) -> Column:
        if hash_mode == "md5":
            parity = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(0), F.lit(b), F.col("__j"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            xd = F.col("__x").cast("decimal(38,30)")
            return F.sum(F.when(parity == 0, xd).otherwise(-xd)).alias(f"__p{b}")
        if hash_mode != "xxhash":
            raise ValueError(f"unknown hash_mode: {hash_mode!r}")
        sign = F.lit(1.0) - 2.0 * (
            F.xxhash64(F.lit(0), F.lit(b), F.col("__j")).bitwiseAND(F.lit(1))
        ).cast("double")
        return F.sum(F.col("__x") * sign).alias(f"__p{b}")

    exploded = df.select(
        F.col(id_col), F.posexplode(as_double_vec(F.col(vec_col))).alias("__j", "__x")
    )
    sig = exploded.groupBy(id_col).agg(*[proj(b) for b in range(bits)])

    rows = bits // bands

    def bit(b: int) -> Column:
        return F.when(F.col(f"__p{b}") > 0, 1).otherwise(0)

    if hash_mode == "md5":
        # string band key, md5('band:b0:b1:...') — fixed 32 chars, exactly
        # DuckDB md5(band_idx || ':' || string_agg(bit, ':' ORDER BY b))
        bands_arr = F.array(
            *[
                F.md5(F.concat_ws(":", F.lit(b), *[bit(b * rows + j) for j in range(rows)]))
                for b in range(bands)
            ]
        )
    else:
        bands_arr = F.array(
            *[
                F.xxhash64(F.lit(b), *[bit(b * rows + j) for j in range(rows)])
                for b in range(bands)
            ]
        )
    return sig.select(F.col(id_col), F.posexplode(bands_arr).alias("band_idx", "band_hash"))


#: jl_projection_rows embeds its sign matrix as a plan constant up to
#: this many cells (d_in x d_out); past it (e.g. 4096-dim inputs) the
#: constant would dominate the plan string and codegen, so the signs
#: derive in-plan from md5 instead — same values, more hash work.
_JL_LITERAL_CAP = 65536


def jl_projection_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d_out: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the Achlioptas
    (2003, JCSS §2) sparse sign matrix: entry (j_in, j_out) is
    ``sqrt(3/d_out) * s`` where ``s`` ∈ {+1, 0, -1} with probabilities
    {1/6, 2/3, 1/6} — drawn here from an md5 slice of
    ``'jl:seed:j_out:j_in'`` (mod 6: 0 → +1, 1 → -1, else 0), so the
    matrix is a pure expression both engines derive identically (never
    materialized, never broadcast). Two thirds of the multiplies vanish
    by construction — the property that makes JL projection the standard
    pre-reduction in front of ANN/LSH at 100 TB corpus scale (1024-dim
    fleets don't pairwise-compare raw vectors; they compare 16-64-dim
    projections whose distances JL preserves to (1±ε)).

    Surface: long-format ``(id, out_dim, component)`` rows — ``n x d_out``
    total; component = decimal-exact signed sum of the selected input
    components, scaled by the one shared literal sqrt(3/d_out) and
    rounded at 6dp.

    Plan/parity: same codegen shape as :func:`srp_banded_rows` — ONE
    posexplode + ONE groupBy(id) carrying ``d_out`` conditional sums
    (map-side partial agg, whole-stage codegen; no interpreted array
    lambdas, no matrix join, one corpus shuffle on the id key). Sums ride
    decimal(38,30) (the embedding_label_centroids float discipline:
    order-free within each engine, cross-engine exact for |x| >= 2^-7,
    ~1e-27·n below). sqrt is libm, so the scale factor is computed ONCE
    driver-side and embedded as the identical literal in the SQL twin.
    NULL vectors are dropped (no projection exists); an all-zero matrix
    column (p ≈ (2/3)^d_in per (seed, j_out)) surfaces as component 0.0
    on both engines via the same coalesce.

    The sign matrix depends only on (seed, j_out, j_in) — d_in x d_out
    values — so it is hashed ONCE driver-side (hashlib.md5 == the SQL
    twin's md5 slice, verified bit-for-bit by the numpy pytest) and
    embedded as a constant array: per exploded row the work is d_out
    element_at lookups and multiply-adds, not d_out md5+conv
    evaluations (measured ~1024x fewer hashes at the fixture; at
    corpus scale the hash-per-row form burns d_out hashes per vector
    COMPONENT). Inferring d_in costs one bounded-scalar job (the
    high-water-mark convention). Past ``_JL_LITERAL_CAP`` matrix cells
    the constant would bloat the plan, so the expression falls back to
    the in-plan md5 derivation — identical values either way.
    """
    import hashlib
    import math

    scale = math.sqrt(3.0 / d_out)
    nn = df.filter(F.col(vec_col).isNotNull())
    d_in = nn.select(F.max(F.size(vec_col))).first()[0] or 1  # bounded scalar

    def term(j_out: int) -> Column:
        if d_in * d_out <= _JL_LITERAL_CAP:
            s = F.element_at(F.col("__s"), j_out + 1)
        else:
            s = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.lit("jl"), F.lit(seed), F.lit(j_out), F.col("__j")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 6
            )
            s = F.when(s == 0, 1).when(s == 1, -1).otherwise(0)
        xd = F.col("__x").cast("decimal(38,30)")
        return F.sum(F.when(s == 1, xd).when(s == -1, -xd)).alias(f"__p{j_out}")

    exploded = nn.select(
        F.col(id_col), F.posexplode(as_double_vec(F.col(vec_col))).alias("__j", "__x")
    )
    if d_in * d_out <= _JL_LITERAL_CAP:

        def sign(j_out: int, j_in: int) -> int:
            h = (
                int(
                    hashlib.md5(f"jl:{seed}:{j_out}:{j_in}".encode()).hexdigest()[:8],
                    16,
                )
                % 6
            )
            return 1 if h == 0 else (-1 if h == 1 else 0)

        signs_lit = F.array(
            *[
                F.array(*[F.lit(sign(j, i)) for j in range(d_out)])
                for i in range(d_in)
            ]
        )
        exploded = exploded.withColumn(
            "__s", F.element_at(signs_lit, F.col("__j") + 1)
        )
    sig = exploded.groupBy(id_col).agg(*[term(j) for j in range(d_out)])
    components = F.array(
        *[
            F.round(
                F.coalesce(F.col(f"__p{j}").cast("double"), F.lit(0.0)) * F.lit(scale),
                6,
            )
            for j in range(d_out)
        ]
    )
    return sig.select(
        F.col(id_col), F.posexplode(components).alias("out_dim", "component")
    )


def margin_alignment(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    margin_threshold: float = 1.05,
    candidates: str = "brute",
    n_cells: int = 8,
    n_probe: int = 4,
) -> DataFrame:
    """Margin-criterion embedding alignment (Artetxe & Schwenk 2019,
    ACL — the LASER bitext-mining rule, public knowledge): candidate
    pair (x, y) scores ``margin = cos(x, y) / ((avg_k(x) + avg_k(y)) /
    2)`` where ``avg_k`` is the mean cosine of each side's k nearest
    neighbors on the OTHER side; each source row keeps its best-margin
    target, thresholded. Raw cosine over-accepts hubs (rows near
    everything); dividing by the local neighborhood density is what
    makes mined pairs precise — the standard tool for aligning
    parallel/translated/near-duplicate corpora across sources.

    Plan: two top-k candidate passes (src->tgt and tgt->src), the
    src-side neighborhood mean as a window OVER the forward candidates
    (single consumer — see the inline note), the tgt-side mean as one
    groupBy of the backward pass, margins on the forward candidates,
    per-source window argmax (margin DESC, tgt ASC). ``candidates``
    picks the pass: ``"brute"`` (default) is the broadcast brute force —
    exact, the oracle-checkable form; ``"ivf"`` swaps in the bucketed
    cross-side kNN join (:func:`knn_join` with a query side) so
    corpus-scale alignment never rides a broadcast NLJ — margins are
    plain column algebra over ANY candidate source (VERDICT r10 #2).

    Parity: margins are computed from the 6dp-ROUNDED surfaced cosines
    (bit-identical across engines by the cosine_topk contract);
    neighborhood means sum those exact 6dp decimals and divide once by
    the neighbor COUNT (<= k, handles short sides); the margin is one
    IEEE division, guarded to pairs whose mean-denominator is > 0 (the
    ratio criterion is only defined on positive-similarity
    neighborhoods; rows whose entire neighborhood is non-positive have
    no well-defined margin and are dropped). Output: ``(src_id,
    tgt_id, cosine_sim, margin)`` with margin rounded 6dp, one row per
    source passing the threshold.
    """
    if candidates == "brute":
        fwd_raw = cosine_topk(tgt, src, id_col, vec_col, k=k)
        bwd_raw = cosine_topk(src, tgt, id_col, vec_col, k=k)
    elif candidates == "ivf":
        # bucketed cross-side kNN: one IVF index per side, probes from
        # the other side — candidate volume ~ |side| * n_probe / n_cells
        # per pass, never the |src| x |tgt| broadcast NLJ (the
        # embedding_ann_ivf production-twin precedent). The two index
        # builds (an eager MLlib fit + checkpoint each) are independent,
        # so they run CONCURRENTLY (guide §2.6, r13): the fits dominated
        # this mode's wall clock and previously ran back to back; each
        # fit is seeded and reads only its own side, so the fitted
        # centers — and everything downstream — are byte-identical to
        # the sequential build.
        from dynamic_etl_spark.session import run_concurrently

        tgt_index, src_index = run_concurrently(
            lambda: build_ivf_index(tgt, id_col, vec_col, n_cells, persist=True),
            lambda: build_ivf_index(src, id_col, vec_col, n_cells, persist=True),
        )
        fwd_raw = knn_join(
            tgt, id_col, vec_col, k=k, n_cells=n_cells, n_probe=n_probe,
            queries=src, index=tgt_index,
        )
        bwd_raw = knn_join(
            src, id_col, vec_col, k=k, n_cells=n_cells, n_probe=n_probe,
            queries=tgt, index=src_index,
        )
    else:
        raise ValueError(f"margin_alignment: unknown candidates mode {candidates!r}")
    fwd = fwd_raw.select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        F.col("cosine_sim"),
    )
    bwd = bwd_raw.select(F.col("query_id").alias("tgt_id"), F.col("cosine_sim"))

    # src-side neighborhood mean as a WINDOW over fwd, not a groupBy +
    # join-back: fwd rows ARE exactly the k forward neighbors per source,
    # so the per-src window mean equals the aggregate — and fwd then has
    # ONE consumer. With two consumers the whole src->tgt brute scoring
    # pass computed twice: Spark cannot reuse exchanges under
    # higher-order-function lambdas (their variable ids defeat plan
    # canonicalization — the bm25_topk single-consumer discipline,
    # measured r10; ADVICE r10 #3). bwd feeds only its groupBy, so the
    # tgt->src pass also runs once.
    wsrc = Window.partitionBy("src_id")
    ay = bwd.groupBy("tgt_id").agg(
        (
            F.sum(F.col("cosine_sim").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg_tgt_id")
    )
    denom = (F.col("__avg_src_id") + F.col("__avg_tgt_id")) / 2.0
    scored = (
        fwd.withColumn(
            "__avg_src_id",
            F.sum(F.col("cosine_sim").cast("decimal(18,6)")).over(wsrc).cast("double")
            / F.count(F.lit(1)).over(wsrc),
        )
        .join(ay, "tgt_id")
        .filter(denom > 0.0)
        .withColumn("__margin", F.col("cosine_sim") / denom)
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("__margin"), F.asc("tgt_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__margin") >= margin_threshold))
        .select(
            "src_id", "tgt_id", "cosine_sim",
            F.round("__margin", 6).alias("margin"),
        )
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup detection (driver brief: the fifth dedup
    tier after exact / MinHash / SimHash / n-gram Jaccard): corpus
    self-joined ONLY where an SRP signature band collides, then exact
    cosine verifies ``>= NEAR_DUP_COSINE``. Output (id_a, id_b, cosine_sim),
    each unordered pair once (id_a < id_b). Zero false positives by
    construction; recall is the banded-LSH S-curve — with 32 bits / 4
    bands (8-bit rows) a 0.9-cosine pair collides with p≈0.75 and a
    random orthogonal pair with p≈0.015, so candidate volume stays
    near-linear while true near-dups (sim→1) are found with p→1. Raise
    ``bands`` for recall on borderline pairs, ``bits`` to prune harder.

    Scale shape: one codegen signature pass over the corpus (see
    srp_banded_rows; both sides of the self-join share the plan, so the
    signature exchange is built once and reused), one shuffle on
    (band_idx, band_hash), candidate dedup on bare (id_a, id_b) — vectors
    are joined back per candidate, never shuffled through the distinct —
    and the exact-cosine verify (sequential left-to-right double dot, the
    oracle-bit-parity form) runs only on surviving candidates. Never an
    O(n²) cross join (same structure as MinHash-LSH in ops/lsh.py).
    """
    banded = srp_banded_rows(corpus, id_col, vec_col, bits, bands)
    pairs = (
        banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        .join(
            banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__v"))
    return (
        pairs.join(vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__v_a")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__v_b")), "id_b")
        .withColumn("__sim", cosine(F.col("__v_a"), F.col("__v_b")))
        .filter(F.col("__sim") >= F.lit(NEAR_DUP_COSINE))
        .select("id_a", "id_b", F.round("__sim", 6).alias("cosine_sim"))
    )


def int8_quant_profile(
    corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector absmax int8 quantization audit: ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` — the symmetric-quantization recipe used
    for shipping embedding corpora to ANN serving at 1/4 the bytes.

    Emits per vector: dim count, integer checksums of the quantized code
    (``q_sum``, ``q_l1`` — exact, order-free), saturation count, and the
    max absolute reconstruction error. Oracle-exact by the repo float
    rules: every aggregate is either an integer sum or a MAX (both
    order-independent), and every double op (divide, round-half-away,
    multiply) is the identical IEEE sequence in both engines — no float
    accumulation anywhere.

    Plan: posexplode -> window max over the vector id -> codegen quantize
    -> hash aggregate (same shuffle key throughout, so AQE coalesces to
    ONE exchange). No Python, no interpreted higher-order lambdas (repo
    rule), no driver-side state. Skew-free: every vector contributes
    exactly ``dim`` rows.
    """
    ex = corpus.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("__dim", "__v")
    ).withColumn("__v", F.col("__v").cast("double"))
    w = Window.partitionBy(id_col)
    ex = ex.withColumn("__scale", F.max(F.abs(F.col("__v"))).over(w) / F.lit(127.0))
    q = F.when(
        F.col("__scale") > 0, F.round(F.col("__v") / F.col("__scale")).cast("int")
    ).otherwise(F.lit(0))
    ex = ex.withColumn("__q", q)
    return (
        ex.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("__q").alias("q_sum"),
            F.sum(F.abs(F.col("__q"))).alias("q_l1"),
            F.sum(
                F.when(F.abs(F.col("__q")) == 127, 1).otherwise(0)
            ).alias("n_saturated"),
            F.round(
                F.max(F.abs(F.col("__v") - F.col("__q") * F.col("__scale"))), 6
            ).alias("max_abs_err"),
        )
    )


def semantic_dedup_pairs(index: IvfIndex, threshold: float) -> DataFrame:
    """SemDeDup candidate generation (Abbas et al. 2023, arXiv:2303.09540)
    over the cells of ``index``: k-means clusters the embedding space, and pairwise cosine runs ONLY
    within a cluster — the curation method for removing *semantic*
    duplicates (paraphrases, templated rewrites) that no lexical tier
    (MinHash / SimHash / n-gram Jaccard, ops/lsh.py) can see and that the
    SRP-LSH tier (cosine_near_dup_pairs) only catches near sim→1. The
    reference has no semantic operator at all (its dedup ends at
    drop_duplicates, scripts2/load_dim_product_dw.py:387-392).

    Output (id_a, id_b, cosine_sim) with id_a < id_b, each within-cell
    pair at cosine >= threshold exactly once. Cross-cluster duplicates
    are missed BY DESIGN — that is SemDeDup's recall trade-off; more
    cells for speed, fewer for recall.

    Scale shape (after the index's k-means fit and transform pass): ONE
    shuffle on the cell id into applyInPandas, then
    per-cell blockwise BLAS: rows sort by id, normalize once, and each
    ``BLOCK_ROWS`` slab computes slab @ V.T so peak memory is
    O(BLOCK_ROWS * cell_size), never cell_size² — a 1M-row cell at
    block 1024 holds a 1024x1M float64 slab (~8 GB executor budget),
    the cell_size² similarity matrix is never materialized. The cluster
    must fit one executor's memory as vectors (SemDeDup's own
    constraint: the paper caps cluster sizes); size the index so
    corpus/cells vectors fit, and the op raises past
    ``MAX_CELL_ROWS`` rather than silently OOMing (set by the 8 GB slab
    bound: 200k rows x 768 dims x 8 B ≈ 1.2 GB of vectors).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    assigned = index.assigned  # (neighbor_id, __cv, __cell)
    id_type = assigned.schema["neighbor_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type, False),
            T.StructField("id_b", id_type, False),
            T.StructField("cosine_sim", T.DoubleType(), False),
        ]
    )
    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": pdf["neighbor_id"].dtype, "id_b": pdf["neighbor_id"].dtype,
                 "cosine_sim": "float64"}
            )
        if n > MAX_CELL_ROWS:
            raise ValueError(
                f"semantic_dedup cell holds {n} rows > {MAX_CELL_ROWS}; "
                f"raise n_cells so clusters fit executor memory"
            )
        pdf = pdf.sort_values("neighbor_id", kind="mergesort")
        ids = pdf["neighbor_id"].to_numpy()
        V = np.asarray(pdf["__cv"].to_list(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        # zero vectors have no direction: they never reach any threshold
        V = V / np.where(norms == 0.0, 1.0, norms)[:, None]
        a_parts, b_parts, s_parts = [], [], []
        for lo in range(0, n - 1, BLOCK_ROWS):
            hi = min(lo + BLOCK_ROWS, n)
            sims = V[lo:hi] @ V.T  # (hi-lo, n) slab — never n x n
            # strict upper triangle in GLOBAL index == id order (sorted)
            ii, jj = np.nonzero(sims >= threshold)
            keep = jj > ii + lo
            a_parts.append(ids[ii[keep] + lo])
            b_parts.append(ids[jj[keep]])
            s_parts.append(sims[ii[keep], jj[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_parts) if a_parts else ids[:0],
                "id_b": np.concatenate(b_parts) if b_parts else ids[:0],
                "cosine_sim": np.round(
                    np.concatenate(s_parts) if s_parts else np.empty(0), 6
                ),
            }
        )

    return assigned.groupBy("__cell").applyInPandas(cell_pairs, out_schema)


def knn_join(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 8,
    index: IvfIndex | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Corpus x corpus kNN JOIN: every corpus row gets its k nearest
    corpus neighbors by cosine — the all-rows sibling of ivf_topk, whose
    driver-collected query side caps it at small query sets (VERDICT r4
    #3). The primitive behind kNN-LM retrieval corpora, dedup-aware
    mixture weighting, and density scoring for curation.

    Plan (no driver collect, no all-pairs):
    1. one IVF index (reusable via ``index=``): k-means cells + corpus
       cell assignment (ops/ann.build_ivf_index);
    2. multi-probe assignment, DISTRIBUTED: a mapInPandas pass scores
       every vector against the (tiny, closure-captured) centroid matrix
       and emits its ``n_probe`` nearest cells — the corpus-as-queries
       replacement for ivf_topk's driver-side probe loop;
    3. probes cogroup with cell members on the cell id — ONE shuffle
       each — and per-cell blockwise BLAS scores each query block
       against the cell's member matrix (the semantic_dedup_pairs slab
       discipline: peak memory O(BLOCK_ROWS * cell_size), never
       cell_size²), keeping a per-cell local top-k per query;
    4. a final per-query window merges the <= n_probe*k local winners.

    Candidates per row ~ n * n_probe / n_cells: size ``n_cells``
    proportional to the corpus (the IVF convention) and the join stays
    near-linear — pytest-pinned at 100k vectors with recall >= 0.9 vs
    brute force (tests/test_scale_stress.py). Cells overflowing
    ``MAX_CELL_ROWS`` raise rather than OOM (SemDeDup's guard).
    Deterministic at any parallelism: seeded k-means, stable probe
    argsort, members sorted by id before the slab pass, and the final
    window totally ordered by (sim DESC, neighbor ASC) — over sims
    QUANTIZED at 12dp inside the slab pass, because the same pair
    scored in different cells goes through different BLAS matmul
    shapes whose last-ulp noise would otherwise decide tie ranks
    (observed flipping between containers, r10).

    Probe rows carry their query vector (dim-sized) n_probe times; at
    very high dims trade that for a join-back on query_id.
    Output: (query_id, neighbor_id, rank, cosine_sim), k rows per query.

    ``queries`` switches self-join to CROSS-SIDE kNN join (VERDICT r10
    #2 — the bucketed candidate source for margin alignment): the index
    is still built on ``corpus``, but the probe pass runs over the
    ``queries`` frame, so every QUERY row gets its k nearest CORPUS
    rows — same one-shuffle-per-side cogroup, still never all-pairs. A
    query id equal to a corpus id is treated as the same row
    (self-match excluded) — pass disjoint id spaces when the sides are
    genuinely different entities.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # the slab pass excludes self-matches with a numpy equality mask
    # between query ids and corpus ids (ADVICE r11 #3): mismatched id
    # dtype FAMILIES degrade that comparison silently (object-vs-int is
    # elementwise-False or a scalar False), so the documented same-row
    # exclusion would quietly stop working — refuse before the index
    # fit. Same-family width differences (int vs bigint) compare
    # correctly elementwise in numpy, so they pass (ADVICE r12 #3: the
    # exact-equality guard turned working cross-side calls into hard
    # failures).
    if queries is not None:

        def _family(dt) -> str:
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                return "integral"
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return "fractional"
            return dt.simpleString()

        qdt = queries.schema[id_col].dataType
        cdt = corpus.schema[id_col].dataType
        if _family(qdt) != _family(cdt):
            raise TypeError(
                f"knn_join cross-side id dtype families must match for "
                f"the self-match exclusion: queries[{id_col}] is "
                f"{qdt.simpleString()}, corpus[{id_col}] is "
                f"{cdt.simpleString()}"
            )

    if index is None:
        index = build_ivf_index(corpus, id_col, vec_col, n_cells)
    assigned, centers = index.assigned, index.centers
    if queries is None:
        probe_src = assigned.select("neighbor_id", "__cv")
        id_type = corpus.schema[id_col].dataType
    else:
        probe_src = queries.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_vec(F.col(vec_col)).alias("__cv"),
        )
        id_type = queries.schema[id_col].dataType

    probe_schema = T.StructType(
        [
            T.StructField("query_id", id_type, False),
            T.StructField("__qv", T.ArrayType(T.DoubleType()), False),
            T.StructField("__cell", T.IntegerType(), False),
        ]
    )
    nprobe_eff = min(n_probe, len(centers))
    c_sq = (centers**2).sum(axis=1)

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["__cv"].to_list(), dtype=np.float64)
            d2 = (V**2).sum(axis=1)[:, None] - 2.0 * (V @ centers.T) + c_sq[None, :]
            cells = np.argsort(d2, axis=1, kind="stable")[:, :nprobe_eff]
            vec_list = pdf["__cv"].to_list()
            yield pd.DataFrame(
                {
                    "query_id": pdf["neighbor_id"].to_numpy().repeat(nprobe_eff),
                    "__qv": [v for v in vec_list for _ in range(nprobe_eff)],
                    "__cell": cells.ravel().astype("int32"),
                }
            )

    probes = probe_src.mapInPandas(probe, probe_schema)

    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type, False),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType, False),
            T.StructField("__sim", T.DoubleType(), False),
        ]
    )

    def score(qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "__sim": []})
        if len(qpdf) == 0 or len(mpdf) == 0:
            return empty
        if len(mpdf) > MAX_CELL_ROWS:
            raise ValueError(
                f"knn_join cell holds {len(mpdf)} rows > {MAX_CELL_ROWS}; "
                f"raise n_cells so cells fit executor memory"
            )
        mpdf = mpdf.sort_values("neighbor_id", kind="mergesort")
        mids = mpdf["neighbor_id"].to_numpy()
        M = np.asarray(mpdf["__cv"].to_list(), dtype=np.float64)
        mn = np.linalg.norm(M, axis=1)
        M = M / np.where(mn == 0.0, 1.0, mn)[:, None]
        qids_all = qpdf["query_id"].to_numpy()
        Q = np.asarray(qpdf["__qv"].to_list(), dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        Q = Q / np.where(qn == 0.0, 1.0, qn)[:, None]
        kk = min(k, len(mids))
        q_parts, n_parts, s_parts = [], [], []
        for lo in range(0, len(qids_all), BLOCK_ROWS):
            hi = min(lo + BLOCK_ROWS, len(qids_all))
            S = Q[lo:hi] @ M.T  # (block, cell_size) slab
            # 12dp quantize before ANY ordering (the
            # cosine_topk_vectorized rationale): cells/blocks have
            # different matmul shapes, so raw sims of the same pair
            # differ across cells in the last ulp per BLAS build —
            # which flipped tie ranks between containers (r10)
            S = np.round(S, 12)
            S[qids_all[lo:hi, None] == mids[None, :]] = -np.inf  # no self-match
            # local top-kk per row
            part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            rows = np.arange(hi - lo)[:, None]
            sims = S[rows, part]
            # argpartition keeps an ARBITRARY subset when cosine ties
            # straddle the kk-th boundary, which could drop the member
            # _rank_topk's (sim DESC, neighbor ASC) total order keeps.
            # Re-rank exactly the boundary-tied rows: members are
            # id-sorted ascending, so a STABLE sort on -sim alone
            # realizes that total order (ADVICE r5).
            kth = sims.min(axis=1)
            tied = np.nonzero((S >= kth[:, None]).sum(axis=1) > kk)[0]
            for r in tied:
                cand = np.nonzero(S[r] >= kth[r])[0]
                part[r] = cand[np.argsort(-S[r, cand], kind="stable")[:kk]]
            if len(tied):
                sims = S[rows, part]
            keep = np.isfinite(sims)
            q_parts.append(qids_all[lo:hi].repeat(kk)[keep.ravel()])
            n_parts.append(mids[part][keep])
            s_parts.append(sims[keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(q_parts) if q_parts else qids_all[:0],
                "neighbor_id": np.concatenate(n_parts) if n_parts else mids[:0],
                "__sim": np.concatenate(s_parts) if s_parts else np.empty(0),
            }
        )

    local = (
        probes.groupBy("__cell")
        .cogroup(assigned.groupBy("__cell"))
        .applyInPandas(score, out_schema)
    )
    return _rank_topk(local, k)


def semantic_dedup(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Full SemDeDup pass: within-cluster cosine pairs at >= SEMDEDUP_THRESHOLD
    (semantic_dedup_pairs) chained into connected components
    (ops/graph.py), keep-MIN-id per component — the same
    survivor convention as the lexical dedup tiers (registry
    dedup_survivors), so semantic and lexical dedup compose.

    Output: one row per corpus id — (id, component, is_survivor).
    Deterministic given the seeded k-means assignment (pairs, components
    and survivors are all min/threshold algebra — no randomness beyond
    the clustering itself).
    """
    from dynamic_etl_spark.ops.graph import connected_components

    # init_mode="random" (seeded), as in fit_semantic_centers
    # (VERDICT r9 #6): cells only GATE candidate pairs here — the
    # exact within-cell cosine decides. The survivor set is NOT
    # theoretically init-independent (ADVICE r13 #4: a pair barely
    # at threshold could straddle a Voronoi boundary that a
    # different init places elsewhere — SemDeDup's documented
    # cross-cluster recall trade-off); what holds is EMPIRICAL:
    # outputs verified bit-identical to the k-means|| fit at
    # sf0.001/0.01/0.1 (r13) because this data's >= 0.95 pairs are
    # planted perturbations at near-zero distance. Re-verify across
    # inits before trusting a data change; the random init saves
    # ~5 jobs of k-means|| passes.
    index = build_ivf_index(
        corpus, id_col, vec_col, SEMDEDUP_CELLS, persist=False, max_iter=8,
        init_mode="random",
    )
    pairs = semantic_dedup_pairs(index, SEMDEDUP_THRESHOLD)
    comp = connected_components(pairs, "id_a", "id_b")
    ids = index.assigned.select(F.col("neighbor_id").alias(id_col))
    return (
        ids.join(comp.select(F.col("v").alias(id_col), "component"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            (F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)).alias(
                "is_survivor"
            ),
        )
    )


def centers_to_rows(spark, centers) -> DataFrame:
    """Persistable form of a k-means centroid matrix: (cell, center)
    rows — the piece of the incremental-semantic state that must
    survive restarts (io/versioned table in the streaming sink)."""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    )


def centers_from_rows(df: DataFrame):
    """Inverse of :func:`centers_to_rows`. Bounded driver collect —
    n_cells rows, the mini-dim exception."""
    import numpy as np

    rows = sorted(df.collect(), key=lambda r: r["cell"])
    return np.array([np.asarray(r["center"], dtype=np.float64) for r in rows])


def _probe_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers,
    n_probe: int,
    with_cells: bool = False,
) -> DataFrame:
    """(id, __qv, cell, probe_rank): each vector's ``n_probe`` nearest
    k-means cells by exact squared L2 against the broadcast-by-closure
    centroid matrix — the distributed (mapInPandas, no driver collect)
    cell assignment shared by the incremental semantic tier.
    probe_rank 0 is the nearest cell (the store-assignment cell).
    ``with_cells`` adds ``__cells``, the doc's FULL probed-cell list on
    every probe row — the fused incremental merge dedups within-batch
    pairs in-cell (emit only in min(shared probed cells)) instead of
    with a distinct exchange, and that rule needs both endpoints' probe
    sets visible inside one cell's cogroup."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    fields = [
        T.StructField(id_col, id_type, False),
        T.StructField("__qv", T.ArrayType(T.DoubleType()), False),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("probe_rank", T.IntegerType(), False),
    ]
    if with_cells:
        fields.append(T.StructField("__cells", T.ArrayType(T.IntegerType()), False))
    schema = T.StructType(fields)
    nprobe_eff = min(n_probe, len(centers))
    c_sq = (centers**2).sum(axis=1)

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["__qv"].to_list(), dtype=np.float64)
            d2 = (V**2).sum(axis=1)[:, None] - 2.0 * (V @ centers.T) + c_sq[None, :]
            cells = np.argsort(d2, axis=1, kind="stable")[:, :nprobe_eff]
            vec_list = pdf["__qv"].to_list()
            data = {
                id_col: pdf[id_col].to_numpy().repeat(nprobe_eff),
                "__qv": [v for v in vec_list for _ in range(nprobe_eff)],
                "cell": cells.ravel().astype("int32"),
                "probe_rank": np.tile(
                    np.arange(nprobe_eff, dtype="int32"), len(pdf)
                ),
            }
            if with_cells:
                cl = cells.astype("int32")
                data["__cells"] = [
                    cl[r].tolist() for r in range(len(pdf)) for _ in range(nprobe_eff)
                ]
            yield pd.DataFrame(data)

    src = df.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("__qv")
    )
    return src.mapInPandas(probe, schema)


def fit_semantic_centers(
    docs: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
):
    """The frozen centroid fit of the incremental semantic tier, k
    clamped to 2 <= k <= |docs| (the clamp's count job only runs here —
    state-reuse callers pass the stored centers and never re-fit). A
    1-doc corpus — or an explicit n_cells < 2 — is its own single
    centroid (no fit); an empty corpus cannot fit at all: the streaming
    sink bootstraps an absent corpus from its first batch.

    Centers only GATE candidate generation here — admission is decided
    by the exact per-pair cosine re-verify — so rough Voronoi structure
    is all the fit must deliver. The fit is one seeded MLlib k-means
    with the k-means|| init passes skipped (``init_mode="random"``):
    12 jobs vs 20 for k-means|| init in the VERDICT r9 #6 measurement
    (sf0.01 embeddings fit, idle, steady-state). The fixed-round integer
    Lloyd fit (:func:`_integer_lloyd`) was measured there too and cost
    more (30 jobs at 3 rounds: every round eagerly checkpoints its
    centroid update). A >= threshold pair sits at near-zero distance, so
    no Voronoi structure separates it (the SemDeDup argument); the 50k
    stress gate (tests/test_scale_stress.py) pins recall."""
    import numpy as np

    n_rows = docs.count()
    if n_rows == 0:
        raise ValueError(
            "fit_semantic_centers: cannot fit centroids on an empty "
            "corpus — bootstrap the store from the first batch "
            "(streaming/sink.run_streaming_semantic_dedup)"
        )
    if n_rows == 1 or n_cells < 2:
        rows = (
            docs.orderBy(id_col)
            .select(as_double_vec(F.col(vec_col)).alias("__v"))
            .take(1)
        )
        return np.asarray([rows[0]["__v"]], dtype=np.float64)
    k = min(n_cells, n_rows)
    index = build_ivf_index(
        docs, id_col, vec_col, k, persist=False, max_iter=8, init_mode="random"
    )
    return index.centers


def semantic_store_rows(
    docs: DataFrame, id_col: str, vec_col: str, centers
) -> DataFrame:
    """(id, cell, vec): the persistent embedding-store shape of the
    incremental semantic tier — each doc under its NEAREST cell of the
    frozen centroid fit, vector kept for the cogrouped verify."""
    assigned = _probe_cells(docs, id_col, vec_col, centers, n_probe=1).select(
        id_col, "cell"
    )
    return docs.select(id_col, vec_col).join(assigned, id_col)


def incremental_semantic_merge(
    existing_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    vec_col: str,
    centers=None,
    existing_assigned: DataFrame | None = None,
) -> dict:
    """Incremental SEMANTIC admission — the SemDeDup sibling of the
    lexical ops/lsh.incremental_near_dup_merge (VERDICT r8 #4: lexical
    dedup had a maintained/streaming path, SemDeDup was batch-only).
    Admit a batch of embedded documents against a persistent,
    semantically-deduplicated corpus: a batch doc whose cosine against
    any stored doc reaches ``SEMDEDUP_THRESHOLD`` is rejected; within-batch
    near-dups form components and admit only their MIN-id member
    (ops/graph.admit_batch — the SAME rule as the lexical tier, so the
    two compose into one curation policy).

    State (both persistable, io/versioned in the streaming sink):
    - ``centers``: the k-means centroid matrix, fitted ONCE on the
      initial corpus and FROZEN — admission is then a pure function of
      (store, batch), independent of arrival order; pass None to fit
      here (MLlib, seeded) on ``existing_docs``;
    - ``existing_assigned``: the embedding store, (id, cell, vec) rows
      of every admitted doc (:func:`semantic_store_rows`); pass None to
      assign ``existing_docs`` now.

    Scale shape (mirrors semantic_dedup_pairs/knn_join): batch vectors
    probe their ``SEMDEDUP_PROBE`` nearest cells in one mapInPandas pass (no
    driver collect); candidates meet the store ONLY within a cell — one
    cogroup shuffle each for batch x store and batch x batch — and the
    per-cell blockwise-BLAS threshold scan keeps peak memory
    O(BLOCK_ROWS * cell_size), never cell_size²; cells past
    ``MAX_CELL_ROWS`` raise instead of OOMing. The BLAS pass only
    GATES candidates; surfaced similarities are re-computed per pair by
    the repo's sequential-fold ``cosine`` (the proven cross-engine
    parity surface), so the output is deterministic at any parallelism.
    A >= threshold pair missed because its cells diverge is SemDeDup's
    documented recall trade-off (cross-cluster pairs); near-identical
    pairs (the dedup regime) cannot be split by k-means.

    Replay idempotence (the streaming exactly-once contract): a
    re-delivered batch finds its admitted docs in the store under their
    own ids at cosine exactly 1.0 — self-pairs are NOT excluded — so it
    re-rejects them all. Zero-norm vectors never match anything
    (cosine undefined -> no pair) and would re-admit forever; the
    streaming sink drops them at the boundary, batch callers should
    too.

    Returns ``{"accepted": admitted new_docs rows, "dup_pairs":
    (id_new, id_matched, cosine_sim, scope in {existing, batch}),
    "new_assigned": store rows of the admitted docs — append to the
    store for the next batch, "centers": the (possibly just-fitted)
    centroid matrix}``.

    Reference parity note: the reference has no semantic operator at
    all (its dedup ends at drop_duplicates,
    scripts2/load_dim_product_dw.py:387-392); this op composes Abbas et
    al. 2023 (SemDeDup) with the repo's admission-ledger convention.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dynamic_etl_spark.ops.graph import admit_batch

    if centers is None:
        centers = fit_semantic_centers(existing_docs, id_col, vec_col, SEMDEDUP_CELLS)
    if existing_assigned is None:
        existing_assigned = semantic_store_rows(
            existing_docs, id_col, vec_col, centers
        )
    new_docs = ensure_fanout_parallelism(new_docs)
    id_type = new_docs.schema[id_col].dataType

    probes = _probe_cells(
        new_docs, id_col, vec_col, centers, SEMDEDUP_PROBE, with_cells=True
    )
    store = existing_assigned.select(
        F.col(id_col).alias("__mid"),
        as_double_vec(F.col(vec_col)).alias("__mv"),
        "cell",
    )

    # ONE cogroup by cell replaces the r13 shape's two cell exchanges
    # (batch x store cogroup + batch-only self group), its within-pair
    # distinct, and the four id->vector verify joins (guide §2.4 — two
    # operations keyed the same way share one exchange; §1.2 — the
    # verify joins re-derived vectors the cogroup already held). The
    # candidate rows CARRY both raw double vectors out of the pandas
    # function: candidates are delta-sized (bounded by duplicate
    # structure), so the payload is 2 x dims doubles per *duplicate*,
    # never per corpus row, and verify becomes a projection. Dedup of
    # within-batch pairs (which meet in every shared probed cell) moves
    # in-cell: a pair is emitted ONLY from min(shared probed cells) —
    # both endpoints carry their full probe list (__cells), so every
    # shared cell evaluates the same rule and exactly one emits.
    cand_schema = T.StructType(
        [
            T.StructField("id_new", id_type, False),
            T.StructField("id_matched", id_type, False),
            T.StructField("__nv", T.ArrayType(T.DoubleType()), False),
            T.StructField("__mv", T.ArrayType(T.DoubleType()), False),
            T.StructField("scope", T.StringType(), False),
        ]
    )
    def _empty_cand() -> pd.DataFrame:
        # array columns must be object-dtype even when empty — an empty
        # float64 numpy column cannot Arrow-convert to list<double>
        return pd.DataFrame(
            {
                "id_new": pd.Series(dtype=object),
                "id_matched": pd.Series(dtype=object),
                "__nv": pd.Series(dtype=object),
                "__mv": pd.Series(dtype=object),
                "scope": pd.Series(dtype=object),
            }
        )

    def cell_cand(qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        nq = len(qpdf)
        if nq == 0:
            return _empty_cand()
        if nq > MAX_CELL_ROWS:
            raise ValueError(
                f"incremental_semantic_merge batch cell holds {nq} rows > "
                f"{MAX_CELL_ROWS}; raise SEMDEDUP_CELLS so cells fit executor memory"
            )
        qpdf = qpdf.sort_values(id_col, kind="mergesort")
        qids = qpdf[id_col].to_numpy()
        qvec = qpdf["__qv"].to_list()
        Q = np.asarray(qvec, dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        Qn = Q / np.where(qn == 0.0, 1.0, qn)[:, None]
        frames = []
        # cross: batch x store — a (new, old) pair meets at most once
        # (old's store row sits in its ONE assignment cell), no dedup
        if len(mpdf):
            if len(mpdf) > MAX_CELL_ROWS:
                raise ValueError(
                    f"incremental_semantic_merge store cell holds {len(mpdf)} "
                    f"rows > {MAX_CELL_ROWS}; raise SEMDEDUP_CELLS so cells fit "
                    "executor memory"
                )
            mids = mpdf["__mid"].to_numpy()
            mvec = mpdf["__mv"].to_list()
            M = np.asarray(mvec, dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            Mn = M / np.where(mn == 0.0, 1.0, mn)[:, None]
            for lo in range(0, nq, BLOCK_ROWS):
                hi = min(lo + BLOCK_ROWS, nq)
                S = Qn[lo:hi] @ Mn.T
                ii, jj = np.nonzero(S >= SEMDEDUP_THRESHOLD)
                if len(ii):
                    frames.append(
                        pd.DataFrame(
                            {
                                "id_new": qids[ii + lo],
                                "id_matched": mids[jj],
                                "__nv": [qvec[i] for i in ii + lo],
                                "__mv": [mvec[j] for j in jj],
                                "scope": "existing",
                            }
                        )
                    )
        # within: strict upper triangle in id order, emitted only when
        # this cell is the min cell both endpoints probed
        if nq >= 2:
            C = np.asarray(qpdf["__cells"].to_list(), dtype=np.int64)
            cell_here = int(qpdf["cell"].iloc[0])
            for lo in range(0, nq - 1, BLOCK_ROWS):
                hi = min(lo + BLOCK_ROWS, nq)
                S = Qn[lo:hi] @ Qn.T
                ii, jj = np.nonzero(S >= SEMDEDUP_THRESHOLD)
                keep = jj > ii + lo
                ii, jj = ii[keep] + lo, jj[keep]
                if len(ii):
                    A, B = C[ii], C[jj]
                    shared = (A[:, :, None] == B[:, None, :]).any(axis=2)
                    min_shared = np.where(
                        shared, A, np.iinfo(np.int64).max
                    ).min(axis=1)
                    sel = min_shared == cell_here
                    ii, jj = ii[sel], jj[sel]
                if len(ii):
                    frames.append(
                        pd.DataFrame(
                            {
                                "id_new": qids[jj],
                                "id_matched": qids[ii],
                                "__nv": [qvec[j] for j in jj],
                                "__mv": [qvec[i] for i in ii],
                                "scope": "batch",
                            }
                        )
                    )
        if not frames:
            return _empty_cand()
        return pd.concat(frames, ignore_index=True)

    cand = (
        probes.groupBy("cell")
        .cogroup(store.groupBy("cell"))
        .applyInPandas(cell_cand, cand_schema)
    )
    # Exact verify on the candidate (duplicate-structure-sized) pair
    # set: surfaced sims come from the sequential-fold cosine over the
    # SAME doubles the r13 verify joins re-derived (Arrow round-trips
    # float64 exactly; cosine is argument-order-invariant — per-element
    # products and the norm product commute in IEEE — so the batch
    # scope's swapped orientation is bit-identical).
    # dup_pairs is delta-sized (bounded by duplicate structure): eager
    # localCheckpoint resets the stateful-output lineage to a leaf (the
    # lexical tier's rule — un-truncated plans compound per batch)
    dup_pairs = (
        cand.withColumn("__s", cosine(F.col("__nv"), F.col("__mv")))
        .filter(F.col("__s") >= SEMDEDUP_THRESHOLD)
        .select(
            "id_new",
            "id_matched",
            F.round("__s", 6).alias("cosine_sim"),
            "scope",
        )
        .localCheckpoint()
    )
    accepted = admit_batch(new_docs, id_col, dup_pairs)
    new_assigned = semantic_store_rows(accepted, id_col, vec_col, centers)
    return {
        "accepted": accepted,
        "dup_pairs": dup_pairs,
        "new_assigned": new_assigned,
        "centers": centers,
    }


def ivf_exacthash_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 5,
    scale: int = 1 << 16,
) -> DataFrame:
    """IVF top-k with an INTEGER-QUANTIZED Lloyd iteration — the
    oracle-checkable twin of :func:`ivf_topk` (whose MLlib k-means sums
    IEEE doubles in partition order, hence rows-only). Every stage is
    deterministic and SQL-replayable:

    - coordinates quantize as floor(x * scale) — float->double cast and
      the power-of-two scaling are exact, floor is floor in both
      engines, so both hold IDENTICAL integers;
    - init: the ``n_cells`` corpus vectors with the smallest ids;
    - assignment: argmin of the exact BIGINT squared L2 distance,
      ties to the lower cell id;
    - update: per-dimension floor-divided integer mean; an emptied cell
      keeps its previous centroid;
    - FIXED ``iters`` Lloyd rounds (no float convergence probe);
    - search: each query probes its ``n_probe`` nearest final cells
      (same integer distance, same tie rule) and the candidates rank by
      the repo's exact cosine convention (sequential double dot
      product + IEEE-correctly-rounded sqrt — the brute-force oracle's
      proven parity surface).

    Quantization at scale 2^16 moves each coordinate < 2^-16, far
    below any cell-boundary effect the fixture could notice — and
    irrelevant to correctness anyway, since the oracle replays the SAME
    quantized recurrence. Distances fit BIGINT up to ~2^21 dims at
    unit-normalized inputs.

    Scale shape: centroid state is (n_cells x dims) rows; per round one
    join of the exploded corpus to the broadcast centroid rows + two
    bounded aggregations, localCheckpointed (iterative-op rule). The
    MLlib twin remains the production path for large n_cells; this one
    is the proof-carrying variant.
    """
    from pyspark.sql import Window as W

    cv, cent = _integer_lloyd(corpus, id_col, vec_col, n_cells, iters, scale)

    assigned = (
        _int_cell_dists(cv, cent, id_col)
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy(id_col).orderBy("dist", "cell")),
        )
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col).alias("__nid"), "cell")
    )
    qv = _quantized_rows(
        queries.select(F.col(id_col).alias("__qid"), F.col(vec_col)),
        "__qid",
        vec_col,
        scale,
    )
    probe_w = W.partitionBy("__qid").orderBy("dist", "cell")
    probed = (
        _int_cell_dists(qv, cent, "__qid")
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= n_probe)
        .select("__qid", "cell")
    )
    cand = probed.join(assigned, "cell").select(
        F.col("__qid").alias("query_id"), F.col("__nid").alias("neighbor_id")
    )
    qfull = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("__qv")
    )
    cfull = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    )
    scored = (
        cand.join(F.broadcast(qfull), "query_id")
        .join(cfull, "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    return _rank_topk(scored, ANN_TOPK)


def _quantized_rows(df: DataFrame, ident: str, vec_col: str, scale: int) -> DataFrame:
    """(ident, j, q): the vector exploded to integer-quantized
    coordinate rows, q = floor(x * scale) — exact in both engines
    (float->double cast + power-of-two scaling + floor)."""
    return df.select(
        F.col(ident), F.posexplode(F.col(vec_col)).alias("j", "__x")
    ).select(
        ident,
        "j",
        F.floor(F.col("__x").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("q"),
    )


def _int_cell_dists(vec_rows: DataFrame, cent_rows: DataFrame, ident: str) -> DataFrame:
    """(ident, cell, dist): exact BIGINT squared L2 per (vector, cell)
    against the broadcast centroid rows."""
    d = F.col("q") - F.col("c")
    return (
        vec_rows.join(F.broadcast(cent_rows), "j")
        .groupBy(ident, "cell")
        .agg(F.sum(d * d).alias("dist"))
    )


def _integer_lloyd(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    iters: int,
    scale: int,
) -> tuple[DataFrame, DataFrame]:
    """The shared deterministic integer k-means fit behind
    :func:`ivf_exacthash_topk` and :func:`knn_join_exacthash` — see the
    former's docstring for the recurrence and parity argument. Returns
    (cv, cent): the quantized corpus coordinate rows (checkpointed,
    reusable) and the final centroid rows.

    Scale note: cv's localCheckpoint materializes corpus x dims rows to
    executor-local disk — right for the proof-carrying fixture sizes
    this variant targets, wrong at petabyte corpora (there you want the
    re-scannable parquet lineage and the MLlib path, ops/ann.ivf_topk /
    knn_join, which never materializes coordinates). The checkpoint is
    what keeps the per-round double reference (members + update both
    read cv) out of exponential-lineage and ambiguous-self-join
    territory on the proof path."""
    from pyspark.sql import Window as W

    def _fresh(df: DataFrame) -> DataFrame:
        # localCheckpoint preserves exprIds; re-alias to keep repeated
        # checkpoint outputs out of ambiguous-self-join territory
        return df.select(*[F.col(c).alias(c) for c in df.columns])

    cv = _fresh(_quantized_rows(corpus, id_col, vec_col, scale).localCheckpoint())
    seed_rank = (
        corpus.select(id_col)
        .orderBy(id_col)
        .limit(n_cells)
        .withColumn("cell", (F.row_number().over(W.orderBy(id_col)) - 1).cast("int"))
    )
    cent = _fresh(
        cv.join(seed_rank, id_col)
        .select("cell", "j", F.col("q").alias("c"))
        .localCheckpoint()
    )
    argmin_w = W.partitionBy(id_col).orderBy("dist", "cell")
    for _ in range(iters):
        members = (
            _int_cell_dists(cv, cent, id_col)
            .withColumn("__rn", F.row_number().over(argmin_w))
            .filter(F.col("__rn") == 1)
            .select(id_col, "cell")
        )
        upd = (
            cv.join(members, id_col)
            .groupBy("cell", "j")
            .agg(F.sum("q").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .select("cell", "j", F.expr("__s div __n").alias("__newc"))
        )
        cent = _fresh(
            cent.join(upd, ["cell", "j"], "left")
            .select("cell", "j", F.coalesce("__newc", F.col("c")).alias("c"))
            .localCheckpoint()
        )
    return cv, cent


def knn_join_exacthash(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 5,
    scale: int = 1 << 16,
) -> DataFrame:
    """Corpus x corpus kNN join through the integer-quantized Lloyd fit
    (:func:`_integer_lloyd`) — the oracle-checkable twin of
    :func:`knn_join`. Every vector probes its ``KNN_PROBE`` nearest final
    cells (exact BIGINT distance, ties to the lower cell); candidates
    are the cell members under the same fit's argmin assignment; exact
    cosine ranks them (the proven parity surface). No driver collect,
    no all-pairs: candidate volume ~ corpus x n_probe / n_cells.
    Output: (query_id, neighbor_id, rank, cosine_sim)."""
    from pyspark.sql import Window as W

    cv, cent = _integer_lloyd(corpus, id_col, vec_col, KNN_CELLS, iters, scale)
    dists = _int_cell_dists(cv, cent, id_col)
    rn_w = W.partitionBy(id_col).orderBy("dist", "cell")
    ranked = dists.withColumn("__rn", F.row_number().over(rn_w))
    assigned = ranked.filter(F.col("__rn") == 1).select(
        F.col(id_col).alias("__nid"), "cell"
    )
    probed = ranked.filter(F.col("__rn") <= KNN_PROBE).select(
        F.col(id_col).alias("__qid"), "cell"
    )
    cand = probed.join(assigned, "cell").select(
        F.col("__qid").alias("query_id"), F.col("__nid").alias("neighbor_id")
    )
    qfull = corpus.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("__qv")
    )
    cfull = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    )
    scored = (
        cand.join(qfull, "query_id")
        .join(cfull, "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    return _rank_topk(scored, KNN_K)
