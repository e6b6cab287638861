"""Retrieval / dimensionality-reduction registry queries.

Beyond-reference LLM-pipeline operators (the reference engine has no
retrieval ranker or JL reduction; SURVEY.md §2's inventory is ETL) —
registered with full DuckDB oracles per the repo gate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import ann as ANN
from dynamic_etl_spark.ops import retrieval as R
from dynamic_etl_spark.registry.core import Query, QueryRegistry, t
from dynamic_etl_spark.registry.llm import _SQL_TOKENS
from dynamic_etl_spark.session import ensure_fanout_parallelism

#: Pinned probe-query set (the events_type_pivot convention: a literal
#: value list means no discovery job and a deterministic schema). Terms
#: come from the documents fixture vocabulary; 'index' in q8 is
#: deliberately out-of-vocabulary (exercises the zero-hit path — the
#: term contributes nothing, the query still ranks on its other terms).
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "hash join order"),
    (2, "fast table scan"),
    (3, "window agg stream"),
    (4, "customer filter query"),
    (5, "merge sort batch"),
    (6, "vector column data"),
    (7, "slow group row dup"),
    (8, "spark big key index"),
)


def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per pinned probe query under Okapi BM25
    (ops/retrieval.bm25_topk: Lucene idf at 12dp-before-exact-sum,
    total-ordered ranks)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(
        list(BM25_QUERIES), "query_id int, query_text string"
    )
    return R.bm25_topk(docs, queries, top_k=5)


def _sql_query_values() -> str:
    return ", ".join(f"({qid}, '{text}')" for qid, text in BM25_QUERIES)


#: Float literals mirrored from ops/retrieval via repr so the SQL twin
#: multiplies the SAME doubles Spark does (1.2 + 1.0 and 1.0 - 0.75 are
#: folded in Python before they reach the Spark plan).
_K1 = repr(R.BM25_K1)
_K1P1 = repr(R.BM25_K1 + 1.0)
_ONE_MINUS_B = repr(1.0 - R.BM25_B)
_B = repr(R.BM25_B)

BM25_ORACLE = f"""
WITH q(query_id, query_text) AS (VALUES {_sql_query_values()}),
base AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS total_tokens
  FROM base
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(toks) AS dl FROM base),
qterms AS (
  SELECT DISTINCT query_id, term
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(lower(query_text), '\\s+'),
                                  w -> w <> '')) AS term
        FROM q)
),
qvocab AS (SELECT DISTINCT term FROM qterms),
tfq AS (
  SELECT tf.*, count(*) OVER (PARTITION BY term) AS df
  FROM tf JOIN qvocab USING (term)
),
scored AS (
  SELECT qt.query_id, tfq.doc_id,
         CAST(round(
           ln(((CAST(s.n_docs AS DOUBLE) - df) + 0.5) / (df + 0.5) + 1.0)
           * ((tf * {_K1P1}) /
              (tf + {_K1} * ({_ONE_MINUS_B} + {_B} *
                  (dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))),
           12) AS DECIMAL(38,12)) AS c
  FROM tfq
  JOIN dl USING (doc_id)
  JOIN qterms qt USING (term)
  CROSS JOIN stats s
),
pair AS (
  SELECT query_id, doc_id, sum(c) AS s, count(*) AS n_hit_terms
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, s, n_hit_terms,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, doc_id ASC) AS INT) AS rank
  FROM pair
)
SELECT query_id, rank, doc_id, n_hit_terms, round(CAST(s AS DOUBLE), 6) AS bm25
FROM ranked WHERE rank <= 5
"""


#: Hybrid-RRF fixture: the dense side of each probe query is a pinned
#: exemplar document (its embedding is the dense query vector — the
#: query-by-example convention); doc_id and vec_id share the same id
#: space in the fixture tables, so both rankers rank the SAME items.
#: Anchors spread across the id range; each ranker contributes its
#: top-RRF_DEPTH list.
RRF_ANCHORS: tuple[tuple[int, int], ...] = (
    (1, 17), (2, 63), (3, 128), (4, 201),
    (5, 266), (6, 331), (7, 404), (8, 477),
)
RRF_DEPTH = 20
RRF_TOP_K = 10


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval by reciprocal-rank fusion (VERDICT
    r10 #4): BM25 top-20 per pinned probe query fused with cosine top-20
    around each query's pinned exemplar embedding via
    ``score = Σ 1/(60 + rank)`` (ops/retrieval.rrf_fuse — rank-based, so
    the two score scales never need calibration). The dense pass
    excludes the exemplar itself (cosine_topk's self-match rule); the
    lexical pass has no exemplar notion, so the anchor doc may appear —
    fusion is pure over whatever each list returns. rrf_score surfaces
    RAW: every term is one IEEE division of small exact ints, so the
    double is engine-bit-identical with no rounding anywhere."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(
        list(BM25_QUERIES), "query_id int, query_text string"
    )
    lex = R.bm25_topk(docs, queries, top_k=RRF_DEPTH).select(
        "query_id", "doc_id", "rank"
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = spark.createDataFrame(
        list(RRF_ANCHORS), "query_id int, anchor_id bigint"
    )
    probes = emb.join(
        F.broadcast(anchors), emb.vec_id == anchors.anchor_id
    ).select("anchor_id", "embedding")
    # translate the dense side's query key (the anchor vec_id) back to
    # the probe query_id through a renamed copy of the tiny map — the
    # rename avoids self-lineage ambiguity (probes also derive from it)
    amap = anchors.select(
        F.col("query_id").alias("__probe_qid"), F.col("anchor_id").alias("__aid")
    )
    dense = (
        ANN.cosine_topk(
            emb, probes, "vec_id", "embedding", k=RRF_DEPTH,
            query_id_col="anchor_id",
        )
        .join(F.broadcast(amap), F.col("query_id") == F.col("__aid"))
        .select(
            F.col("__probe_qid").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
    )
    return R.rrf_fuse(
        [lex, dense],
        names=["lex_rank", "dense_rank"],
        k0=R.RRF_K0,
        top_k=RRF_TOP_K,
    )


def _sql_anchor_values() -> str:
    return ", ".join(f"({q}, {a})" for q, a in RRF_ANCHORS)


#: The lexical CTEs are BM25_ORACLE's with depth 20; the dense CTEs are
#: the TOPK_ORACLE shape probed by the pinned exemplar embeddings; the
#: fusion is one FULL JOIN + the identical coalesce'd division sum.
RRF_ORACLE = f"""
WITH q(query_id, query_text) AS (VALUES {_sql_query_values()}),
anchors(query_id, anchor_id) AS (VALUES {_sql_anchor_values()}),
base AS (SELECT doc_id, {{toks}} AS toks FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS total_tokens
  FROM base
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(toks) AS dl FROM base),
qterms AS (
  SELECT DISTINCT query_id, term
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(lower(query_text), '\\s+'),
                                  w -> w <> '')) AS term
        FROM q)
),
qvocab AS (SELECT DISTINCT term FROM qterms),
tfq AS (
  SELECT tf.*, count(*) OVER (PARTITION BY term) AS df
  FROM tf JOIN qvocab USING (term)
),
lex_scored AS (
  SELECT qt.query_id, tfq.doc_id,
         CAST(round(
           ln(((CAST(s.n_docs AS DOUBLE) - df) + 0.5) / (df + 0.5) + 1.0)
           * ((tf * {_K1P1}) /
              (tf + {_K1} * ({_ONE_MINUS_B} + {_B} *
                  (dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))),
           12) AS DECIMAL(38,12)) AS c
  FROM tfq
  JOIN dl USING (doc_id)
  JOIN qterms qt USING (term)
  CROSS JOIN stats s
),
lex AS (
  SELECT query_id, doc_id, CAST(rank AS INT) AS lex_rank
  FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sum(c) DESC, doc_id ASC) AS rank
    FROM lex_scored GROUP BY query_id, doc_id
  ) WHERE rank <= {RRF_DEPTH}
),
probes AS (
  SELECT a.query_id, a.anchor_id, e.embedding::DOUBLE[] AS qv
  FROM anchors a JOIN embeddings e ON e.vec_id = a.anchor_id
),
dense_scored AS (
  SELECT p.query_id, e.vec_id AS doc_id,
         list_dot_product(p.qv, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p.qv, p.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM probes p, embeddings e
  WHERE e.vec_id <> p.anchor_id
),
dense AS (
  SELECT query_id, doc_id, CAST(rank AS INT) AS dense_rank
  FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, doc_id ASC) AS rank
    FROM dense_scored
  ) WHERE rank <= {RRF_DEPTH}
),
fused AS (
  SELECT query_id, doc_id, lex_rank, dense_rank,
         coalesce(CAST(1.0 AS DOUBLE) / ({R.RRF_K0} + lex_rank), CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / ({R.RRF_K0} + dense_rank), CAST(0.0 AS DOUBLE)) AS rrf
  FROM lex FULL JOIN dense USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, lex_rank, dense_rank, rrf AS rrf_score
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
  FROM fused
) WHERE rank <= {RRF_TOP_K}
""".replace("{toks}", _SQL_TOKENS)


def curated_corpus_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation-then-retrieval pipeline (VERDICT r11 #5):
    modern dedup-then-retrieve stacks run retrieval over the CURATED
    corpus, so this query composes four already-audited operators as
    one plan —

    1. canonical-URL dedup (ops/text.canonical_url over the planted
       variant fixture): keep-MIN survivors, one per logical page;
    2. C4 cleaning gates (ops/lines.c4_page_profile over the planted
       dirty fixture): survivors' pages pass the line+page rules and
       contribute their CLEANED text;
    3. hybrid retrieval over the cleaned corpus: BM25 top-20 per pinned
       probe query + cosine top-20 around each pinned exemplar, the
       dense side restricted to curated ids;
    4. reciprocal-rank fusion (ops/retrieval.rrf_fuse).

    Same surface as hybrid_rrf_retrieval. The curated corpus is
    localCheckpointed once — three consumers (the BM25 ranker, the
    dense id-filter, the stats pass) would otherwise re-run the URL
    group + C4 posexplode per consumer. Scale shape: each stage is the
    audited single-op plan on a shrinking input (the curation-funnel
    property); fusion joins stay result-list-sized."""
    from dynamic_etl_spark.ops.lines import c4_page_profile
    from dynamic_etl_spark.ops.text import canonical_url
    from dynamic_etl_spark.registry.curation import _c4_dirty
    from dynamic_etl_spark.registry.quality import planted_url_expr
    from dynamic_etl_spark.session import ensure_fanout_parallelism

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    survivors = (
        docs.select("doc_id", canonical_url(planted_url_expr()).alias("__cu"))
        .groupBy("__cu")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    pages = c4_page_profile(
        ensure_fanout_parallelism(
            _c4_dirty(docs.join(survivors, "doc_id", "leftsemi"))
        )
    )
    corpus = (
        pages.filter(F.col("page_kept") & F.col("clean_text").isNotNull())
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint()
    )
    queries = spark.createDataFrame(
        list(BM25_QUERIES), "query_id int, query_text string"
    )
    lex = R.bm25_topk(corpus, queries, top_k=RRF_DEPTH).select(
        "query_id", "doc_id", "rank"
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus_emb = emb.join(
        corpus.select(F.col("doc_id").alias("vec_id")), "vec_id", "leftsemi"
    )
    anchors = spark.createDataFrame(
        list(RRF_ANCHORS), "query_id int, anchor_id bigint"
    )
    probes = emb.join(
        F.broadcast(anchors), emb.vec_id == anchors.anchor_id
    ).select("anchor_id", "embedding")
    amap = anchors.select(
        F.col("query_id").alias("__probe_qid"), F.col("anchor_id").alias("__aid")
    )
    dense = (
        ANN.cosine_topk(
            corpus_emb, probes, "vec_id", "embedding", k=RRF_DEPTH,
            query_id_col="anchor_id",
        )
        .join(F.broadcast(amap), F.col("query_id") == F.col("__aid"))
        .select(
            F.col("__probe_qid").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
    )
    return R.rrf_fuse(
        [lex, dense],
        names=["lex_rank", "dense_rank"],
        k0=R.RRF_K0,
        top_k=RRF_TOP_K,
    )


def _sql_curated_retrieval_oracle() -> str:
    """The fused oracle: the canonical-URL CTE chain -> keep-MIN
    survivors -> the C4 dirty+page CTE chain over survivors -> the
    cleaned corpus -> the RRF_ORACLE lexical/dense/fusion CTEs with
    ``corpus`` as the document source (dense side joined to curated
    ids). Every fragment is the already-audited oracle's, re-sourced."""
    from dynamic_etl_spark.registry.curation import SQL_C4_PAGE_CTES, _c4_sql_dirty
    from dynamic_etl_spark.registry.quality import SQL_URL_CANON_CTES

    return f"""
WITH {SQL_URL_CANON_CTES},
survivors AS (
  SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url
),
dirty AS ({_c4_sql_dirty("documents JOIN survivors USING (doc_id)")}),
{SQL_C4_PAGE_CTES},
corpus AS (
  SELECT s.doc_id, r.clean AS text
  FROM spine s JOIN rolled r USING (doc_id)
  WHERE NOT s.bad AND coalesce(r.n_sent, 0) >= 3
        AND coalesce(r.n_kept_lines, 0) > 0
),
q(query_id, query_text) AS (VALUES {_sql_query_values()}),
anchors(query_id, anchor_id) AS (VALUES {_sql_anchor_values()}),
base AS (SELECT doc_id, {{toks}} AS toks FROM corpus),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS total_tokens
  FROM base
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(toks) AS dl FROM base),
qterms AS (
  SELECT DISTINCT query_id, term
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(lower(query_text), '\\s+'),
                                  w -> w <> '')) AS term
        FROM q)
),
qvocab AS (SELECT DISTINCT term FROM qterms),
tfq AS (
  SELECT tf.*, count(*) OVER (PARTITION BY term) AS df
  FROM tf JOIN qvocab USING (term)
),
lex_scored AS (
  SELECT qt.query_id, tfq.doc_id,
         CAST(round(
           ln(((CAST(s.n_docs AS DOUBLE) - df) + 0.5) / (df + 0.5) + 1.0)
           * ((tf * {_K1P1}) /
              (tf + {_K1} * ({_ONE_MINUS_B} + {_B} *
                  (dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))),
           12) AS DECIMAL(38,12)) AS c
  FROM tfq
  JOIN dl USING (doc_id)
  JOIN qterms qt USING (term)
  CROSS JOIN stats s
),
lex AS (
  SELECT query_id, doc_id, CAST(rank AS INT) AS lex_rank
  FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sum(c) DESC, doc_id ASC) AS rank
    FROM lex_scored GROUP BY query_id, doc_id
  ) WHERE rank <= {RRF_DEPTH}
),
probes AS (
  SELECT a.query_id, a.anchor_id, e.embedding::DOUBLE[] AS qv
  FROM anchors a JOIN embeddings e ON e.vec_id = a.anchor_id
),
cemb AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN corpus c ON e.vec_id = c.doc_id
),
dense_scored AS (
  SELECT p.query_id, e.vec_id AS doc_id,
         list_dot_product(p.qv, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p.qv, p.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM probes p, cemb e
  WHERE e.vec_id <> p.anchor_id
),
dense AS (
  SELECT query_id, doc_id, CAST(rank AS INT) AS dense_rank
  FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, doc_id ASC) AS rank
    FROM dense_scored
  ) WHERE rank <= {RRF_DEPTH}
),
fused AS (
  SELECT query_id, doc_id, lex_rank, dense_rank,
         coalesce(CAST(1.0 AS DOUBLE) / ({R.RRF_K0} + lex_rank), CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / ({R.RRF_K0} + dense_rank), CAST(0.0 AS DOUBLE)) AS rrf
  FROM lex FULL JOIN dense USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, lex_rank, dense_rank, rrf AS rrf_score
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
  FROM fused
) WHERE rank <= {RRF_TOP_K}
""".replace("{toks}", _SQL_TOKENS)


CURATED_RETRIEVAL_ORACLE = _sql_curated_retrieval_oracle()


#: JL reduction target: 64 -> 16 dims (4x), the smallest power of two
#: the distance-preservation pytest still separates cleanly.
JL_D_OUT = 16
JL_SEED = 0


def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Achlioptas sparse random projection of the embeddings table to 16
    dims (ops/ann.jl_projection_rows: md5-derived {+1,0,-1} signs,
    decimal-exact sums, one corpus shuffle). Fan-out-ensured input
    (r13): the projection's d_in x d_out term fan-out ran as ONE task on
    the single-row-group embeddings scan (A/B 2.7s -> 1.8s at sf0.1);
    per-(id, j_out) decimal sums are partition-invariant and the wrapper
    is a no-op at production split counts."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ANN.jl_projection_rows(
        ensure_fanout_parallelism(emb), "vec_id", "embedding",
        d_out=JL_D_OUT, seed=JL_SEED,
    )


_JL_SCALE = repr(math.sqrt(3.0 / JL_D_OUT))

JL_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) - 1 AS j,
         unnest(embedding) AS xf
  FROM embeddings
  WHERE embedding IS NOT NULL
),
proj AS (
  SELECT ex.vec_id, CAST(od.out_dim AS INT) AS out_dim,
         SUM(CASE WHEN ('0x' || substr(md5(concat_ws(':', 'jl', {JL_SEED}, od.out_dim, ex.j)), 1, 8))::BIGINT % 6 = 0
                  THEN CAST(CAST(ex.xf AS DOUBLE) AS DECIMAL(38,30))
                  WHEN ('0x' || substr(md5(concat_ws(':', 'jl', {JL_SEED}, od.out_dim, ex.j)), 1, 8))::BIGINT % 6 = 1
                  THEN -CAST(CAST(ex.xf AS DOUBLE) AS DECIMAL(38,30))
                  END) AS p
  FROM ex CROSS JOIN (SELECT unnest(range({JL_D_OUT})) AS out_dim) od
  GROUP BY ex.vec_id, od.out_dim
)
SELECT vec_id, out_dim,
       round(coalesce(CAST(p AS DOUBLE), 0.0) * {_JL_SCALE}, 6) AS component
FROM proj
"""


#: MMR fixture knobs: anchor = vec_id 0's embedding, balanced
#: relevance/diversity trade-off, 10 picks.
MMR_ANCHOR_ID = 0
MMR_K = 10
_LAM = repr(R.MMR_LAMBDA)
_OML = repr(1.0 - R.MMR_LAMBDA)


def embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-10 around vec_id 0's embedding
    (ops/retrieval.mmr_select: greedy MMR, k driver rounds, each one
    corpus-linear TakeOrdered pass)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return R.mmr_select(emb, anchor_id=MMR_ANCHOR_ID, k=MMR_K)


#: The oracle replays the greedy loop verbatim in ONE recursive CTE:
#: candidates materialize once (the AS MATERIALIZED lesson — SCALE.md
#: recursive-CTE rule), each recursive step LATERAL-picks the argmax of
#: lam*rel - (1-lam)*max-sim-to-selected with (score DESC, id ASC)
#: tie-break, carrying the selected ids as a list. Every cosine is the
#: list_dot_product twin of ops/ann.cosine's sequential fold, so the
#: raw-double scores are bit-identical and the selection path cannot
#: diverge.
MMR_ORACLE = f"""
WITH RECURSIVE
anchor AS MATERIALIZED (
  SELECT embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id = {MMR_ANCHOR_ID}
),
cand AS MATERIALIZED (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         list_dot_product(e.embedding::DOUBLE[], a.av)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(a.av, a.av))) AS rel
  FROM embeddings e CROSS JOIN anchor a
  WHERE e.vec_id <> {MMR_ANCHOR_ID}
    AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
),
sel AS (
  SELECT 0 AS rank, CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS score,
         CAST([] AS BIGINT[]) AS sel_ids
  UNION ALL
  SELECT sel.rank + 1, pick.vec_id, pick.score,
         list_append(sel.sel_ids, pick.vec_id)
  FROM sel, LATERAL (
    SELECT c.vec_id,
           {_LAM} * c.rel - {_OML} * coalesce((
             SELECT max(list_dot_product(c.v, s.v)
                        / (sqrt(list_dot_product(c.v, c.v))
                           * sqrt(list_dot_product(s.v, s.v))))
             FROM cand s WHERE list_contains(sel.sel_ids, s.vec_id)
           ), 0.0) AS score
    FROM cand c
    WHERE NOT list_contains(sel.sel_ids, c.vec_id)
    ORDER BY score DESC, c.vec_id ASC
    LIMIT 1
  ) pick
  WHERE sel.rank < {MMR_K}
)
SELECT CAST(rank AS INT) AS rank, vec_id, round(score, 6) AS mmr_score
FROM sel WHERE rank >= 1
"""


#: Pooled-MMR fixture knobs: rel-top-192 working pool (M >> k; VERDICT
#: r10 #3 — the bounded-pool production mode). 192 is the measured
#: equality frontier: at lam = 0.5 over the random fixture embeddings
#: (rel ~ noise, the diversity term dominates — the WORST case for rel
#: pruning) pools of 160+ reproduce the exact loop at all three SFs,
#: while 96 already suffices at sf0.001; pinned pooled == exact in
#: tests/test_retrieval.py. The oracle replays the POOLED semantics, so
#: the hash holds regardless of the approximation regime.
MMR_POOL = 192


def embedding_mmr_select_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-pool production mode of embedding_mmr_select: rel
    computed once, one TakeOrdered collects the rel-top-192 mini-dim
    pool, and the greedy loop replays driver-local with bit-identical
    float arithmetic — ~2 jobs total instead of k corpus-linear passes
    + k checkpoints (ops/retrieval.mmr_select pool_size mode)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return R.mmr_select(
        emb, anchor_id=MMR_ANCHOR_ID, k=MMR_K, pool_size=MMR_POOL
    )


#: Same greedy replay as MMR_ORACLE with ONE change: the candidate set
#: materializes as the rel-top-M pool (rel DESC, id ASC — the TakeOrdered
#: twin), mirroring the pooled mode's semantics exactly.
MMR_POOLED_ORACLE = f"""
WITH RECURSIVE
anchor AS MATERIALIZED (
  SELECT embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id = {MMR_ANCHOR_ID}
),
cand AS MATERIALIZED (
  SELECT vec_id, v, rel FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
           list_dot_product(e.embedding::DOUBLE[], a.av)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(a.av, a.av))) AS rel
    FROM embeddings e CROSS JOIN anchor a
    WHERE e.vec_id <> {MMR_ANCHOR_ID}
      AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
  ) ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL}
),
sel AS (
  SELECT 0 AS rank, CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS score,
         CAST([] AS BIGINT[]) AS sel_ids
  UNION ALL
  SELECT sel.rank + 1, pick.vec_id, pick.score,
         list_append(sel.sel_ids, pick.vec_id)
  FROM sel, LATERAL (
    SELECT c.vec_id,
           {_LAM} * c.rel - {_OML} * coalesce((
             SELECT max(list_dot_product(c.v, s.v)
                        / (sqrt(list_dot_product(c.v, c.v))
                           * sqrt(list_dot_product(s.v, s.v))))
             FROM cand s WHERE list_contains(sel.sel_ids, s.vec_id)
           ), 0.0) AS score
    FROM cand c
    WHERE NOT list_contains(sel.sel_ids, c.vec_id)
    ORDER BY score DESC, c.vec_id ASC
    LIMIT 1
  ) pick
  WHERE sel.rank < {MMR_K}
)
SELECT CAST(rank AS INT) AS rank, vec_id, round(score, 6) AS mmr_score
FROM sel WHERE rank >= 1
"""


#: Margin-alignment fixture: even vec_ids are the source side, odd the
#: target side; LASER-style k=4 neighborhoods, 1.05 ratio threshold.
ALIGN_K = 4
ALIGN_THRESHOLD = 1.05


def embedding_margin_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion alignment between the even- and odd-id halves of
    the embeddings table (ops/ann.margin_alignment: two brute top-k
    passes, neighborhood-mean normalization, per-source argmax)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return ANN.margin_alignment(
        src, tgt, "vec_id", "embedding", k=ALIGN_K, margin_threshold=ALIGN_THRESHOLD
    )


#: IVF production-path knobs (the fixture sides are ~250 vectors; 8
#: cells probed 6-deep — margin surfaces are doubly recall-sensitive
#: because approximate candidates also shift the neighborhood-mean
#: denominators, so the probe fraction runs higher than plain ANN's:
#: measured pair recall vs brute 1.00 at sf0.001 / 0.97 at sf0.01,
#: vs 0.96/0.82 at n_probe=4).
ALIGN_N_CELLS = 8
ALIGN_N_PROBE = 6


def embedding_margin_alignment_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed production path of embedding_margin_alignment
    (VERDICT r10 #2): identical fixture and margin algebra, but the two
    candidate passes ride the cross-side IVF kNN join (ops/ann.knn_join
    with a query side) instead of the brute-force broadcast NLJ — the
    shape corpus-scale alignment actually runs. Rows-only (MLlib k-means
    cells + BLAS scoring are engine-hash-specific); its oracle-backed
    exacthash twin is embedding_margin_alignment, and
    tests/test_retrieval.py pins recall against that brute-force form
    plus a plan assertion that NO BroadcastNestedLoopJoin appears."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return ANN.margin_alignment(
        src, tgt, "vec_id", "embedding",
        k=ALIGN_K, margin_threshold=ALIGN_THRESHOLD,
        candidates="ivf", n_cells=ALIGN_N_CELLS, n_probe=ALIGN_N_PROBE,
    )


ALIGN_ORACLE = f"""
WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
tgt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1),
pair AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         list_dot_product(s.v, t.v)
           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v))) AS sim
  FROM src s CROSS JOIN tgt t
),
fwd AS (
  SELECT src_id, tgt_id, round(sim, 6) AS cos6,
         row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id ASC) AS rn
  FROM pair
),
bwd AS (
  SELECT tgt_id, round(sim, 6) AS cos6,
         row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id ASC) AS rn
  FROM pair
),
ax AS (
  SELECT src_id,
         CAST(SUM(CAST(cos6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_src
  FROM fwd WHERE rn <= {ALIGN_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id,
         CAST(SUM(CAST(cos6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_tgt
  FROM bwd WHERE rn <= {ALIGN_K} GROUP BY tgt_id
),
scored AS (
  SELECT f.src_id, f.tgt_id, f.cos6,
         f.cos6 / ((ax.avg_src + ay.avg_tgt) / 2.0) AS margin
  FROM fwd f JOIN ax USING (src_id) JOIN ay USING (tgt_id)
  WHERE f.rn <= {ALIGN_K} AND (ax.avg_src + ay.avg_tgt) / 2.0 > 0.0
),
best AS (
  SELECT src_id, tgt_id, cos6, margin,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY margin DESC, tgt_id ASC) AS rn
  FROM scored
)
SELECT src_id, tgt_id, cos6 AS cosine_sim, round(margin, 6) AS margin
FROM best WHERE rn = 1 AND margin >= {ALIGN_THRESHOLD!r}
"""


QUERIES: QueryRegistry = {
    "embedding_margin_alignment": Query(
        embedding_margin_alignment,
        ALIGN_ORACLE,
        "margin-criterion alignment between two embedding sides "
        "(Artetxe & Schwenk 2019 ratio margin over k-NN neighborhoods "
        "— the bitext/near-parallel mining rule)",
    ),
    "embedding_margin_alignment_ivf": Query(
        embedding_margin_alignment_ivf,
        None,
        "margin alignment over bucketed cross-side IVF kNN candidates — "
        "the corpus-scale path (rows-only; recall + no-NLJ plan pytest; "
        "exacthash twin: embedding_margin_alignment)",
    ),
    "bm25_topk_retrieval": Query(
        bm25_topk_retrieval,
        BM25_ORACLE,
        "Okapi BM25 top-5 documents per pinned probe query (Lucene idf, "
        "12dp quantize-before-exact-sum, total-ordered ranks)",
    ),
    "curated_corpus_retrieval": Query(
        curated_corpus_retrieval,
        CURATED_RETRIEVAL_ORACLE,
        "the fused dedup-then-retrieve pipeline: canonical-URL survivors "
        "-> C4-cleaned pages -> BM25 + exemplar-cosine over the curated "
        "corpus -> reciprocal-rank fusion, one plan end to end",
    ),
    "embedding_mmr_select": Query(
        embedding_mmr_select,
        MMR_ORACLE,
        "greedy MMR diversified top-10 around an anchor embedding "
        "(recursive-CTE oracle replays the selection loop verbatim)",
    ),
    "hybrid_rrf_retrieval": Query(
        hybrid_rrf_retrieval,
        RRF_ORACLE,
        "hybrid lexical+dense retrieval: BM25 top-20 + exemplar-cosine "
        "top-20 fused by reciprocal-rank fusion (1/(60+rank) exact-IEEE "
        "sums, raw-double surface, total-ordered ranks)",
    ),
    "embedding_mmr_select_pooled": Query(
        embedding_mmr_select_pooled,
        MMR_POOLED_ORACLE,
        "bounded-pool MMR: rel-top-192 mini-dim pool + driver-local greedy "
        "replay (~2 jobs vs k corpus passes; oracle replays the pooled "
        "semantics verbatim)",
    ),
    "embedding_jl_projection": Query(
        embedding_jl_projection,
        JL_ORACLE,
        "Achlioptas sparse JL projection 64->16 dims (md5 sign matrix as "
        "a pure expression, decimal-exact sums, one corpus shuffle)",
    ),
}
