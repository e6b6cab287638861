"""LLM-data-pipeline queries over documents/embeddings (driver brief
north-star: dedup, similarity search, text analysis, multimodal columns).

SQL-expressible operators carry DuckDB oracles; the default MinHash/
SimHash/LSH-ANN paths hash with engine-specific xxhash64 so they
register as rows-only and are instead ground-truthed against brute
force in tests/test_llm.py. The md5-slice hash mode
(minhash_near_dup_exacthash) is the exception: the whole banded-LSH
pipeline becomes SQL-reproducible and carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import ann as ANN
from dynamic_etl_spark.ops import bpe as BPE
from dynamic_etl_spark.ops import lsh as L
from dynamic_etl_spark.ops import pack as PK
from dynamic_etl_spark.ops import sample as SMP
from dynamic_etl_spark.ops import text as TX
from dynamic_etl_spark.ops.multimodal import (
    extract_media_features,
    strict_decoder,
    synthetic_media,
)
from dynamic_etl_spark.ops.spans import SPAN_K
from dynamic_etl_spark.registry.core import Query, QueryRegistry, t
from dynamic_etl_spark.session import ensure_fanout_parallelism

_SQL_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
_SQL_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


def sql_positional_grams() -> str:
    """Shared CTE body: (doc_id, gpos, gram) for every SPAN_K-token window of
    ``src(doc_id, toks)`` — the DuckDB twin of ops/lsh.gram_seq_pretokenized
    with positions, single-sourced so the span-removal family's oracles
    track one definition (r7 review: the scrub oracle had hand-expanded
    copies of this and the tail below)."""
    return f"""
  SELECT doc_id,
         unnest(range(0, len(toks) - {SPAN_K} + 1)) AS gpos,
         unnest(list_transform(range(0, len(toks) - {SPAN_K} + 1),
                i -> array_to_string(toks[i + 1 : i + {SPAN_K}], ' '))) AS gram
  FROM base WHERE len(toks) >= {SPAN_K}"""


def sql_span_tail() -> str:
    """Shared CTE chain for the span-removal family's oracles: given
    upstream CTEs ``base(doc_id, toks)`` and ``d(doc_id, gpos)`` (the
    marked window starts — corpus-repetition or benchmark membership,
    the ONE thing the operators differ in), overlap-merge the
    [gpos, gpos+k-1] windows, profile them (st: n_spans, n_cut), and
    re-assemble the cleaned text (cl) — the SQL twin of
    ops/spans.span_stats_from_starts."""
    return f"""isl AS (
  SELECT doc_id, gpos,
         CASE WHEN lag(gpos) OVER w IS NULL
                OR gpos > lag(gpos) OVER w + {SPAN_K - 1} THEN 1 ELSE 0 END AS brk
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY gpos)
),
spans AS (
  SELECT doc_id, island, MIN(gpos) AS s, MAX(gpos) + {SPAN_K - 1} AS e
  FROM (
    SELECT doc_id, gpos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY gpos
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM isl
  ) GROUP BY doc_id, island
),
st AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_cut FROM spans
  GROUP BY doc_id
),
cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
tp AS (
  SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS w
  FROM base
),
cl AS (
  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.pos) AS cleaned_text
  FROM tp t ANTI JOIN cov USING (doc_id, pos)
  GROUP BY t.doc_id
)"""


# ==========================================================================
# Text analysis (native exprs; F.regexp_count twins len(regexp_extract_all))
# ==========================================================================

def text_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    c = F.col("text")
    stats = TX.char_stats(c)
    return docs.select(
        "doc_id",
        stats["n_chars"].alias("n_chars"),
        TX.token_count(c).alias("n_tokens"),
        F.size(F.array_distinct(TX.tokens(c))).alias("n_distinct_tokens"),
        TX.bpeish_token_count(c).alias("n_bpeish_tokens"),
        stats["n_punct"].alias("n_punct"),
        stats["n_digits"].alias("n_digits"),
        F.round(F.coalesce(TX.stopword_ratio(c), F.lit(0.0)), 6).alias("stopword_ratio"),
        TX.quality_score(c).alias("quality_score"),
    )


_ALL_STOPWORDS = tuple(sorted({w for _, ws in TX.LANG_STOPWORDS for w in ws}))
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _ALL_STOPWORDS) + "]"

def _sql_quality_expr(text: str = "text", toks: str = "toks") -> str:
    """The quality_score twin over (text, tokens) refs — factored so the
    text-stats profile and the quality-ranked dedup survivor share ONE
    definition (the ops/text.quality_score weights live here once per
    engine side)."""
    return f"""round(0.4 * least(CAST(len({toks}) AS DOUBLE) / 100.0, 1.0)
           + 0.4 * (CASE WHEN len({toks}) > 0
                    THEN CAST(len(list_filter({toks}, t -> list_contains({_SQL_STOPLIST}, t))) AS DOUBLE)
                         / len({toks}) ELSE 0.0 END)
           + 0.2 * (1.0 - least(
               (CASE WHEN length({text}) > 0
                THEN CAST(len(regexp_extract_all({text}, '[.,!?;:]')) AS DOUBLE) / length({text})
                ELSE 0.0 END) * 10.0, 1.0)), 6)"""


TEXT_STATS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
         AS n_bpeish_tokens,
       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
       CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digits,
       round(CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, t -> list_contains({_SQL_STOPLIST}, t))) AS DOUBLE)
                  / len(toks) ELSE 0.0 END, 6) AS stopword_ratio,
       {_sql_quality_expr()} AS quality_score
FROM base
"""


def language_id_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = TX.tokens(c)
    cols = [F.col("doc_id"), F.col("lang").alias("labeled_lang"), TX.language_id(c).alias("detected_lang")]
    for lang, words in TX.LANG_STOPWORDS:
        cols.append(TX.stopword_hits(toks, words).alias(f"{lang}_hits"))
    return docs.select(*cols)


def _sql_lang_hits(lang: str, words: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"CAST(len(list_filter(toks, t -> list_contains({lst}, t))) AS INT) AS {lang}_hits"


_LANG_HIT_COLS = ",\n       ".join(
    _sql_lang_hits(lang, words) for lang, words in TX.LANG_STOPWORDS
)
_BEST = "greatest(en_hits, es_hits, de_hits, fr_hits)"

LANGUAGE_ID_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang AS labeled_lang, {_SQL_TOKENS} AS toks FROM documents
),
hits AS (
  SELECT doc_id, labeled_lang,
       {_LANG_HIT_COLS}
  FROM base
)
SELECT doc_id, labeled_lang,
       CASE WHEN {_BEST} = 0 THEN 'und'
            WHEN en_hits = {_BEST} THEN 'en'
            WHEN es_hits = {_BEST} THEN 'es'
            WHEN de_hits = {_BEST} THEN 'de'
            ELSE 'fr' END AS detected_lang,
       en_hits, es_hits, de_hits, fr_hits
FROM hits
"""


# ==========================================================================
# Exact dedup on the content fingerprint (one hash-shuffle groupBy)
# ==========================================================================

def exact_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inject true duplicates so dup_count > 1 paths execute: every 10th doc
    # re-appears (re-keyed) with whitespace/case noise the normalizer kills.
    docs = t(spark, sf_dir, "documents")
    resent = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit("  "))).alias("text"),
    )
    feed = docs.select("doc_id", "text").unionByName(resent)
    return L.exact_dedup(feed, "doc_id", "text")


EXACT_DEDUP_ORACLE = f"""
WITH feed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper('  ' || text || '  ') AS text
  FROM documents WHERE doc_id % 10 = 0
)
SELECT md5({_SQL_NORM}) AS fingerprint,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS dup_count
FROM feed
GROUP BY 1
"""


def dedup_impact_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group size histogram + reclaim forecast: per group size,
    how many fingerprint groups exist, how many docs they hold, and how
    many docs/tokens exact dedup would RECLAIM (everything but each
    group's canonical min-id member) — the number an operator reads
    before paying for a dedup pass, and the capacity-planning sibling of
    exact_dedup_fingerprint (same dup-injected fixture, so the two
    cross-check: sum(reclaim_docs) == dup_count-1 summed there).
    Integer-only surface. Plan: fingerprint groupBy-equivalent window
    (ROW_NUMBER on the total order (doc_id) per fingerprint — canonical
    = rank 1), a group-size fold, then a histogram fold over group
    cardinality — each exchange is group/histogram-sized."""
    docs = t(spark, sf_dir, "documents")
    resent = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit("  "))).alias("text"),
    )
    feed = docs.select("doc_id", "text").unionByName(resent)
    from dynamic_etl_spark.ops.text import fingerprint_md5

    w = Window.partitionBy("__fp").orderBy("doc_id")
    ranked = feed.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("tc"),
        fingerprint_md5(F.col("text")).alias("__fp"),
    ).withColumn("rk", F.row_number().over(w))
    per_group = ranked.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("gs"),
        F.sum(F.when(F.col("rk") > 1, 1).otherwise(0)).alias("rdocs"),
        F.sum(F.when(F.col("rk") > 1, F.col("tc")).otherwise(0)).alias("rtoks"),
    )
    return (
        per_group.groupBy(F.col("gs").cast("long").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("gs").cast("long").alias("n_docs"),
            F.sum("rdocs").cast("long").alias("reclaim_docs"),
            F.sum("rtoks").cast("long").alias("reclaim_tokens"),
        )
        .orderBy("group_size")
    )


DEDUP_FORECAST_ORACLE = f"""
WITH feed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper('  ' || text || '  ') AS text
  FROM documents WHERE doc_id % 10 = 0
),
ranked AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS tc,
         ROW_NUMBER() OVER (PARTITION BY md5({_SQL_NORM}) ORDER BY doc_id) AS rk,
         md5({_SQL_NORM}) AS fp
  FROM feed
),
per_group AS (
  SELECT fp, COUNT(*) AS gs,
         SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS rdocs,
         SUM(CASE WHEN rk > 1 THEN tc ELSE 0 END) AS rtoks
  FROM ranked GROUP BY fp
)
SELECT CAST(gs AS BIGINT) AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gs) AS BIGINT) AS n_docs,
       CAST(SUM(rdocs) AS BIGINT) AS reclaim_docs,
       CAST(SUM(rtoks) AS BIGINT) AS reclaim_tokens
FROM per_group
GROUP BY gs
ORDER BY group_size
"""


# ==========================================================================
# Exact n-gram Jaccard within (lang, source) blocks — the ground-truth twin
# of the MinHash path, and itself a useful blocked near-dup operator
# ==========================================================================

def ngram_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", L.word_shingles(F.col("text"), 3).alias("sh")
    )
    a = docs.select(
        F.col("lang"), F.col("source"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = docs.select(
        F.col("lang"), F.col("source"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_sim", F.round(L.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard_sim") >= 0.02)
        .select("lang", "source", "id_a", "id_b", "jaccard_sim")
    )


NGRAM_JACCARD_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source, {_SQL_TOKENS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(toks[i + 1 : i + 3], ' ')
         )) AS grams
  FROM base
)
SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
             THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams)))
             ELSE 0.0 END, 6) AS jaccard_sim
FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
            THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams)))
            ELSE 0.0 END, 6) >= 0.02
"""


# ==========================================================================
# Near-dup clustering: pair graph -> connected components -> canonical doc
# (the dedup pipeline's last mile; component label = MIN doc_id = the
# keep-first survivor convention). Edges here come from the exact n-gram
# pairs so the WHOLE query is oracle-checkable via DuckDB's recursive CTE;
# the production-scale edge source is the MinHash-LSH pair query, which
# composes with the same operator (ops/graph.connected_components).
# ==========================================================================

def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynamic_etl_spark.ops.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    edges = ngram_jaccard_similarity(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(edges, "id_a", "id_b")
    labeled = docs.select("doc_id").join(
        comp.select(F.col("v").alias("doc_id"), "component"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component_id"),
    )
    sizes = labeled.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return labeled.join(sizes, "component_id").select(
        "doc_id", "component_id", "component_size"
    )


#: Shared CTE chain: n-gram pair edges -> transitive closure -> per-doc
#: component label + size (used by both component queries below).
_COMPONENT_CTES = f"""base AS (
  SELECT doc_id, lang, source, {_SQL_TOKENS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(toks[i + 1 : i + 3], ' ')
         )) AS grams
  FROM base
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
                     AND a.doc_id < b.doc_id
  WHERE round(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
              THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.grams, b.grams)))
              ELSE 0.0 END, 6) >= 0.02
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (
  SELECT v AS doc_id, MIN(l) AS component_id FROM reach GROUP BY v
),
labeled AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
sizes AS (
  SELECT component_id, COUNT(*) AS component_size
  FROM labeled GROUP BY component_id
)"""

NEAR_DUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES}
SELECT labeled.doc_id, labeled.component_id, sizes.component_size
FROM labeled JOIN sizes USING (component_id)
"""


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's output side: keep exactly one canonical doc
    per near-dup component (the MIN-id survivor — component label ==
    own id) and report how many docs it absorbed. Composes
    near_dup_components with a filter + payload join-back; at 100 TB the
    payload join is the only wide-row stage and it moves surviving rows
    only."""
    comp = near_dup_components(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    return (
        comp.filter(F.col("doc_id") == F.col("component_id"))
        .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "component_size")
    )


DEDUP_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES}
SELECT l.doc_id, d.lang, d.source, d.n_chars, sizes.component_size
FROM labeled l
JOIN sizes USING (component_id)
JOIN documents d USING (doc_id)
WHERE l.doc_id = l.component_id
"""


def dedup_survivors_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked survivor selection (r8): keep the HIGHEST-quality
    member of each near-dup component instead of the min-id one — what a
    production curation pipeline actually keeps (the min-id rule is an
    arbitrary canonical; the quality rule keeps the most complete /
    least boilerplate capture). Survivor = argmax (quality_score,
    lowest doc_id on FP-equal ties) per component, via one total-ordered
    window over component-labeled docs; the payload join moves surviving
    rows only, same 100 TB shape as dedup_survivors."""
    comp = near_dup_components(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        TX.quality_score(F.col("text")).alias("quality_score"),
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        comp.join(docs, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id", "component_id", "component_size",
            "lang", "source", "quality_score",
        )
    )


DEDUP_SURVIVORS_QUALITY_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES},
q AS (
  SELECT doc_id, {_sql_quality_expr("text", _SQL_TOKENS)} AS quality_score
  FROM documents
),
ranked AS (
  SELECT l.doc_id, l.component_id, sizes.component_size,
         d.lang, d.source, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY l.component_id
                            ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn
  FROM labeled l
  JOIN sizes USING (component_id)
  JOIN documents d USING (doc_id)
  JOIN q USING (doc_id)
)
SELECT doc_id, component_id, component_size, lang, source, quality_score
FROM ranked WHERE rn = 1
"""


# ==========================================================================
# Corpus curation: deterministic stratified sampling + training-sequence
# packing (ops/sample.py, ops/pack.py — beyond-reference LLM-data layer)
# ==========================================================================

def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing downsample: per-lang keep rates decided by the
    SQL-reproducible affine uniform (ops/sample.uniform_affine) so the
    whole filter is a codegen expression — no shuffle, no RNG state."""
    docs = t(spark, sf_dir, "documents")
    return SMP.stratified_sample(
        docs, "lang", SMP.uniform_affine("doc_id", salt=_SAMPLE_SALT)
    ).select("doc_id", "lang", "source", "n_chars")


_SAMPLE_SALT = 17
_SAMPLE_U = SMP.sql_uniform_affine("doc_id", salt=_SAMPLE_SALT)
_LANG_FRACTION = " ".join(
    f"WHEN '{lang}' THEN {frac}" for lang, frac in SMP.LANG_FRACTIONS.items()
)

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE {_SAMPLE_U} < CASE lang {_LANG_FRACTION}
                              ELSE {SMP.OTHER_LANG_FRACTION} END
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of the corpus into 512-token training
    sequences via the two-level distributed prefix sum (ops/pack.py) —
    no single-task global window anywhere in the plan."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
    return PK.sequence_pack(toks, "doc_id", "n_tokens").select(
        "doc_id", "n_tokens", "global_offset", "seq_id", "seq_offset", "spans_boundary"
    )


SEQUENCE_PACKING_ORACLE = f"""
WITH base AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS INT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(CAST(n_tokens AS BIGINT)) OVER
           (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM base
),
o AS (
  SELECT doc_id, n_tokens,
         CAST(cum - n_tokens AS BIGINT) AS global_offset,
         CAST(greatest(cum - 1, cum - n_tokens) AS BIGINT) AS last_tok
  FROM c
)
SELECT doc_id, n_tokens, global_offset,
       global_offset // {PK.SEQ_TOKENS} AS seq_id,
       global_offset % {PK.SEQ_TOKENS} AS seq_offset,
       (last_tok // {PK.SEQ_TOKENS}) > (global_offset // {PK.SEQ_TOKENS}) AS spans_boundary
FROM o
"""


def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching audit: sort documents by token
    count, cut 32-doc batches along that order, and report each batch's
    padding waste (`max_len * n_docs - sum_len`) and fill efficiency —
    the dynamic-batching discipline that turns a padded-to-longest
    inference fleet from ~50% idle FLOPs to >95% (unsorted batches pad
    every short doc to the batch's longest outlier).

    The global rank over (n_tokens, doc_id) comes from ops/pack's
    two-level prefix sum over a compound numeric key — NOT a
    ROW_NUMBER() over an unpartitioned window, which would funnel the
    corpus through one task. Key = n_tokens * 1e5 + doc_id encodes the
    lexicographic order ONLY while 0 <= doc_id < 1e5 (fixture max 5e3)
    — a collision would break prefix_sum's uniqueness precondition and
    silently diverge from the oracle's ROW_NUMBER, so the bound is
    ENFORCED below (one bounded-scalar agg, the validation_report
    high-water-mark precedent); a 100 TB corpus widens the key to
    decimal(38,0) — same plan."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    lo, hi = toks.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    if lo is not None and (lo < 0 or hi >= 100_000):
        raise ValueError(
            f"length_bucketed_batching: doc_id range [{lo}, {hi}] breaks the"
            " compound-key uniqueness bound [0, 1e5) — widen the key"
        )
    keyed = toks.select(
        "n_tokens",
        (F.col("n_tokens") * 100000 + F.col("doc_id")).alias("__ord"),
        F.lit(1).alias("__one"),
    )
    ranked = PK.prefix_sum(keyed, "__ord", "__one", out_col="__rn")
    batched = ranked.select(
        F.expr("(__rn - 1) div 32").alias("batch_id"), "n_tokens"
    )
    n_docs = F.count(F.lit(1))
    return (
        batched.groupBy("batch_id")
        .agg(
            n_docs.alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            (F.col("max_tokens") * F.col("n_docs") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
            F.round(
                F.col("sum_tokens").cast("double")
                / (F.col("max_tokens").cast("double") * F.col("n_docs").cast("double")),
                6,
            ).alias("batch_efficiency"),
        )
        .orderBy("batch_id")
    )


LENGTH_BATCHING_ORACLE = f"""
WITH base AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens FROM documents
),
r AS (
  SELECT n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens * 100000 + doc_id) AS rn
  FROM base
),
b AS (SELECT (rn - 1) // 32 AS batch_id, n_tokens FROM r)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       count(*) AS n_docs,
       max(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(max(n_tokens) * count(*) - SUM(n_tokens) AS BIGINT) AS padding_waste,
       round(CAST(SUM(n_tokens) AS DOUBLE)
             / (CAST(max(n_tokens) AS DOUBLE) * CAST(count(*) AS DOUBLE)), 6)
         AS batch_efficiency
FROM b GROUP BY 1 ORDER BY batch_id
"""


# ==========================================================================
# MinHash-LSH near-dup + SimHash (engine-hash-specific -> rows-only here;
# ground-truthed against brute force in tests/test_llm.py)
# ==========================================================================

def _minhash_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared near-dup fixture: the corpus plus a re-sent NEAR (not
    exact) duplicate of every 7th document — a short suffix perturbs a
    few shingles, so the pair lands near Jaccard ~0.9, well above the
    0.5 gate."""
    docs = t(spark, sf_dir, "documents")
    resent = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing words appended")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(resent)


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scope A/B re-measured r4 under the steady-state bench: "corpus"
    # and "candidates" are now within noise warm (1.9s vs 2.0s at
    # sf0.1) — the r3 3.7x gap was a cold-compile artifact — so the
    # default (fewer stages, no persist) stays.
    return L.minhash_near_dup_pairs(_minhash_feed(spark, sf_dir), "doc_id", "text")


def minhash_near_dup_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MinHash-LSH near-dup pipeline in md5-slice hash mode
    (ops/lsh.base_shingle_hash): signatures, band buckets, and therefore
    the CANDIDATE-PAIR SET are computed from a hash family both engines
    evaluate identically, so for the first time the banded-LSH path —
    not just its exact-Jaccard verify — carries a full DuckDB oracle
    (VERDICT r7 #2; the Count-Min md5-slice precedent). Same fixture,
    threshold, and output surface as :func:`minhash_near_dup`; the
    xxhash64 twin remains the production default (cheaper hash), proven
    by THIS query's driver hash plus the brute-force recall pytest that
    pins the two modes' S-curves to the same family."""
    return L.minhash_near_dup_pairs(
        _minhash_feed(spark, sf_dir), "doc_id", "text", hash_mode="md5"
    )


def sql_minhash_band_ctes(src: str, prefix: str = "") -> str:
    """{prefix}h/{prefix}sig/{prefix}bands CTE chain — the DuckDB twin
    of md5-mode ops/lsh.minhash_banded_rows over ``src(doc_id, grams)``,
    generated from the SAME affine constants the Spark side uses
    (ops/lsh._affine_params), so one definition drives both engines and
    a constant change cannot silently fork the oracle. The ``prefix``
    lets one oracle band TWO corpora (the incremental admission query's
    store vs batch)."""
    P = L._MINHASH_P
    rows_per = L.NUM_HASHES // L.BANDS
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {P}) AS m{i}"
        for i, (a, b) in ((i, L._affine_params(i)) for i in range(L.NUM_HASHES))
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', {b}, "
        + ", ".join(f"m{b * rows_per + j}" for j in range(rows_per))
        + f")) AS band_hash FROM {prefix}sig"
        for b in range(L.BANDS)
    )
    return f"""{prefix}h AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % {P} AS h
  FROM (SELECT doc_id, unnest(grams) AS g FROM {src})
),
{prefix}sig AS (
  SELECT doc_id,
         {mins}
  FROM {prefix}h GROUP BY doc_id
),
{prefix}bands AS (
{band_selects}
)"""


def sql_minhash_cand_ctes(src: str = "sh") -> str:
    """:func:`sql_minhash_band_ctes` plus the self-join candidate CTE —
    the single-corpus shape shared by the standalone exacthash query and
    the LSH-configured curation cascade (registry/curation.py)."""
    return f"""{sql_minhash_band_ctes(src)},
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)"""


MINHASH_EXACTHASH_ORACLE = f"""
WITH feed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra trailing words appended'
  FROM documents WHERE doc_id % 7 = 0
),
base AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM feed),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                range(0, len(toks) - 3 + 1),
                i -> array_to_string(toks[i + 1 : i + 3], ' ')))
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM base
),
{sql_minhash_cand_ctes("sh")},
j AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
              THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.grams, b.grams)))
              ELSE 0.0 END AS jac
  FROM cand c
  JOIN sh a ON c.id_a = a.doc_id
  JOIN sh b ON c.id_b = b.doc_id
)
SELECT id_a, id_b, round(jac, 6) AS jaccard_sim FROM j
WHERE jac >= {L.JACCARD_THRESHOLD}
"""


def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission (ops/lsh.incremental_near_dup_merge): the
    even-id documents are the deduplicated corpus, the odd-id documents
    plus planted near-copies of both sides arrive as a batch. Returns one
    row per batch doc: admitted flag + matched scope. Rows-only (xxhash
    signatures); semantics brute-force-checked in
    tests/test_incremental_dedup.py.

    Bench note: the op is EAGER (stateful outputs localCheckpoint at
    build time — see ops/lsh.py), so cold/warm bench timings both pay
    the full ~30-job admission; the fixed per-job overhead dominates at
    sf0.1 and amortizes with data size. r5 measured the VERDICT r4 #8
    fold (one tagged banded join + one verify chain replacing the
    cross/within pair): sequential-batch equivalence stayed green, but
    warm time moved 10.9s -> 8.8/15.5/10.6s across runs (noise-band,
    not the >=25% keep threshold) while the job count ROSE 41 -> 47 —
    the fold only removes the batch-sized self-join, and the corpus
    store rides the banded join exactly once in both shapes, so the
    two-pass form stays."""
    corpus, batch = _incremental_fixture(spark, sf_dir)
    out = L.incremental_near_dup_merge(corpus, batch, "doc_id", "text")
    return _incremental_surface(batch, out)


def _incremental_fixture(spark: SparkSession, sf_dir: str):
    """(corpus, batch): even-id docs are the deduplicated corpus; the
    odd-id docs plus planted near-copies of both sides arrive as a
    batch — shared by the xxhash and md5-mode admission queries."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    fresh = docs.filter(F.col("doc_id") % 2 == 1)
    copies_of_corpus = corpus.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    copies_in_batch = fresh.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" coda")).alias("text"),
    )
    return corpus, fresh.unionByName(copies_of_corpus).unionByName(copies_in_batch)


def _incremental_surface(
    batch: DataFrame, out: dict, id_col: str = "doc_id"
) -> DataFrame:
    """One row per batch doc: admitted flag + match count/scope —
    shared by the lexical and semantic admission queries."""
    admitted = out["accepted"].select(id_col, F.lit(True).alias("admitted"))
    matched = out["dup_pairs"].groupBy(F.col("id_new").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max(F.col("scope")).alias("match_scope"),
    )
    return (
        batch.select(id_col)
        .join(admitted, id_col, "left")
        .join(matched, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("admitted"), F.lit(False)).alias("admitted"),
            F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
            F.coalesce(F.col("match_scope"), F.lit("none")).alias("match_scope"),
        )
        .orderBy(id_col)
    )


def incremental_near_dup_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental admission pipeline in md5-slice hash mode: the
    signature STORE, both banded joins (batch x store, batch x batch),
    the exact-Jaccard verify, the within-batch connected components, and
    the component-wise admission rule are ALL SQL-reproducible, so the
    persistent-store flagship carries a driver hash too (VERDICT r7 #2
    stretch). Components come out of the oracle's recursive CTE (the
    near_dup_components precedent); admission = reject a component whole
    on any corpus hit, else admit its MIN-id member."""
    corpus, batch = _incremental_fixture(spark, sf_dir)
    out = L.incremental_near_dup_merge(
        corpus, batch, "doc_id", "text", hash_mode="md5"
    )
    return _incremental_surface(batch, out)


def _sql_grams(src: str, name: str) -> str:
    """``{name}(doc_id, grams)``: distinct word 3-shingles with the
    short-doc clamp — the word_shingles twin over ``{src}(doc_id,
    text)``."""
    return f"""{name} AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                range(0, len(toks) - 3 + 1),
                i -> array_to_string(toks[i + 1 : i + 3], ' ')))
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM {src})
)"""


def _sql_jaccard(a: str, b: str) -> str:
    return (
        f"CASE WHEN len(list_distinct(list_concat({a}, {b}))) > 0 "
        f"THEN CAST(len(list_intersect({a}, {b})) AS DOUBLE) "
        f"/ len(list_distinct(list_concat({a}, {b}))) ELSE 0.0 END"
    )


INCREMENTAL_EXACTHASH_ORACLE = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
),
fresh AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
batch AS (
  SELECT doc_id, text FROM fresh
  UNION ALL
  SELECT doc_id + 3000000, text || ' tail' FROM corpus WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 4000000, text || ' coda' FROM fresh WHERE doc_id % 9 = 1
),
{_sql_grams("corpus", "cg")},
{_sql_grams("batch", "bg")},
{sql_minhash_band_ctes("cg", "c")},
{sql_minhash_band_ctes("bg", "b")},
cand_cross AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM bbands n JOIN cbands o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
),
cand_within AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bbands a JOIN bbands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
cross_pairs AS (
  SELECT c.id_new, c.id_old AS id_matched, 'existing' AS scope
  FROM cand_cross c
  JOIN bg a ON c.id_new = a.doc_id
  JOIN cg o ON c.id_old = o.doc_id
  WHERE {_sql_jaccard("a.grams", "o.grams")} >= {L.JACCARD_THRESHOLD}
),
within_pairs AS (
  SELECT c.id_b AS id_new, c.id_a AS id_matched, 'batch' AS scope
  FROM cand_within c
  JOIN bg a ON c.id_a = a.doc_id
  JOIN bg b ON c.id_b = b.doc_id
  WHERE {_sql_jaccard("a.grams", "b.grams")} >= {L.JACCARD_THRESHOLD}
),
dup_pairs AS (
  SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
),
cross_hit AS (SELECT DISTINCT id_new AS doc_id FROM cross_pairs),
edges AS (
  SELECT id_matched AS src, id_new AS dst FROM within_pairs
  UNION
  SELECT id_new, id_matched FROM within_pairs
),
reach AS (
  SELECT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (SELECT v AS doc_id, MIN(l) AS component FROM reach GROUP BY v),
labeled AS (
  SELECT b.doc_id, COALESCE(c.component, b.doc_id) AS comp
  FROM batch b LEFT JOIN comp c USING (doc_id)
),
flagged AS (
  SELECT l.comp,
         MAX(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS any_hit
  FROM labeled l LEFT JOIN cross_hit h USING (doc_id)
  GROUP BY l.comp
),
matched AS (
  SELECT id_new AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         MAX(scope) AS match_scope
  FROM dup_pairs GROUP BY id_new
)
SELECT l.doc_id,
       (f.any_hit = 0 AND l.comp = l.doc_id) AS admitted,
       COALESCE(m.n_matches, 0) AS n_matches,
       COALESCE(m.match_scope, 'none') AS match_scope
FROM labeled l
JOIN flagged f ON l.comp = f.comp
LEFT JOIN matched m ON l.doc_id = m.doc_id
ORDER BY l.doc_id
"""


def simhash_hamming_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64 interpreted bit-vote aggregates per row: force full parallelism
    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents"))
    sims = docs.select("doc_id", L.simhash64(F.col("text")).alias("simhash"))
    # Hamming distance of every doc to the corpus anchor (doc 0): a cheap
    # whole-corpus near-dup radar around one probe document.
    anchor = sims.filter(F.col("doc_id") == 0).select(
        F.col("simhash").alias("anchor_hash")
    )
    return (
        sims.crossJoin(F.broadcast(anchor))
        .select(
            "doc_id",
            "simhash",
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("anchor_hash"))).alias(
                "hamming_to_anchor"
            ),
        )
    )


def simhash_hamming_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_hamming_profile in md5-slice hash mode
    (ops/lsh.simhash_md5_halves): per-token bits from two 8-hex md5
    slices, 64 integer bit-votes as codegen conditional sums over
    EXPLODED tokens, fingerprint as two sign-bit-free 32-bit halves —
    every stage DuckDB-reproducible, making SimHash the fourth LSH/
    sketch family with a driver hash (r8; MinHash, the admission ledger,
    and SRP-ANN were the first three). Same anchor-radar surface as the
    xxhash twin, with the fingerprint split as (fp_hi, fp_lo)."""
    docs = ensure_fanout_parallelism(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    fp = L.simhash_md5_halves(docs, "doc_id", "text")
    anchor = fp.filter(F.col("doc_id") == 0).select(
        F.col("fp_hi").alias("__ah"), F.col("fp_lo").alias("__al")
    )
    return fp.crossJoin(F.broadcast(anchor)).select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        (
            F.bit_count(F.col("fp_hi").bitwiseXOR(F.col("__ah")))
            + F.bit_count(F.col("fp_lo").bitwiseXOR(F.col("__al")))
        ).cast("int").alias("hamming_to_anchor"),
    )


def _sql_simhash_votes() -> str:
    """The 64 vote aggregates, generated once for both engine sides
    (the sql_minhash_band_ctes single-source convention)."""
    return ",\n         ".join(
        f"SUM(CASE WHEN (({src} >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS v_{src}_{b}"
        for src in ("hi", "lo")
        for b in range(32)
    )


def _sql_simhash_half(src: str) -> str:
    return " + ".join(
        f"(CASE WHEN v_{src}_{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )


SIMHASH_EXACTHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents
),
sliced AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
  FROM tok
),
votes AS (
  SELECT doc_id,
         {_sql_simhash_votes()}
  FROM sliced GROUP BY doc_id
),
fp0 AS (
  SELECT doc_id,
         CAST({_sql_simhash_half("hi")} AS BIGINT) AS fp_hi,
         CAST({_sql_simhash_half("lo")} AS BIGINT) AS fp_lo
  FROM votes
),
fp AS (
  SELECT d.doc_id,
         COALESCE(fp0.fp_hi, 0) AS fp_hi,
         COALESCE(fp0.fp_lo, 0) AS fp_lo
  FROM documents d LEFT JOIN fp0 USING (doc_id)
),
anchor AS (SELECT fp_hi AS ah, fp_lo AS al FROM fp WHERE doc_id = 0)
SELECT doc_id, fp_hi, fp_lo,
       CAST(bit_count(xor(fp_hi, ah)) + bit_count(xor(fp_lo, al)) AS INT)
         AS hamming_to_anchor
FROM fp CROSS JOIN anchor
"""


# ==========================================================================
# Similarity search over embeddings
# ==========================================================================

def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)


def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return ANN.cosine_topk(
        emb, _queries(spark, sf_dir), "vec_id", "embedding", k=ANN.ANN_TOPK
    )


TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN.ANN_TOPK}
"""

#: The vectorized path's oracle (ADVICE r10 #1): cosine_topk_vectorized
#: quantizes sims at 12dp BEFORE any ordering decision (BLAS matmul
#: shapes shift last-ulp accumulation per batch geometry) and surfaces
#: round(quantized, 6) — so its oracle must rank and surface the SAME
#: quantized value, not the raw sequential-fold sim the brute-force
#: oracle ranks. One shared oracle cannot carry both ordering semantics:
#: a genuine sub-1e-12 gap (or the acknowledged ~5e-13 sliver around a
#: 6dp half) ranks/displays differently between the raw and quantized
#: forms.
TOPK_VEC_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
           12) AS sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN.ANN_TOPK}
"""


def embedding_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as embedding_topk_bruteforce via the Arrow/numpy
    partial-top-k path (one matmul per batch, O(parts x q x k) shuffle).
    Carries its OWN oracle since the r10 12dp tie-quantization: the
    vectorized path orders by round(sim, 12), the brute force by the raw
    sequential fold (TOPK_VEC_ORACLE vs TOPK_ORACLE)."""
    emb = t(spark, sf_dir, "embeddings")
    return ANN.cosine_topk_vectorized(
        emb, _queries(spark, sf_dir), "vec_id", "embedding", k=ANN.ANN_TOPK
    )


def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return ANN.lsh_ann_topk(emb, _queries(spark, sf_dir), "vec_id", "embedding")


def embedding_ann_lsh_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_ann_lsh in md5-slice hash mode (ops/ann.srp_banded_rows):
    hyperplane signs from md5 parity, projections summed as decimal(38,30)
    (order-free, so the sign bits are partition-invariant), band keys md5
    of the bit string — every stage DuckDB-reproducible, which makes the
    SRP-LSH ANN path the third LSH family to carry a driver hash
    (VERDICT r7 #8; MinHash + the admission ledger were r8's first two).
    Same plan shape as the xxhash twin; only the hash family changes."""
    emb = t(spark, sf_dir, "embeddings")
    return ANN.lsh_ann_topk(
        emb, _queries(spark, sf_dir), "vec_id", "embedding", hash_mode="md5"
    )


# The oracle replays the whole pipeline: explode dims x 16 hyperplanes,
# md5-parity signs over exact-decimal sums, 4 bands of 4 bits keyed by
# md5('band:b0:b1:b2:b3'), candidate self-join on (band_idx, band_hash),
# exact cosine re-rank of retrieved candidates only. The scale-30 decimal
# cast is exact for |x| >= 2^-7 and near-exact below (the
# embedding_label_centroids bound); a cross-engine bit flip would need a
# projection within ~1e-27*n of zero — verified green at both driver sf.
EMBEDDING_ANN_LSH_EXACTHASH_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) - 1 AS j,
         unnest(embedding) AS xf
  FROM embeddings
),
proj AS (
  SELECT ex.vec_id, bs.b,
         SUM(CASE WHEN ('0x' || substr(md5(concat_ws(':', 0, bs.b, ex.j)), 1, 8))::BIGINT % 2 = 0
                  THEN CAST(CAST(ex.xf AS DOUBLE) AS DECIMAL(38,30))
                  ELSE -CAST(CAST(ex.xf AS DOUBLE) AS DECIMAL(38,30)) END) AS p
  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS b) bs
  GROUP BY ex.vec_id, bs.b
),
banded AS (
  SELECT vec_id, b // 4 AS band_idx,
         md5(concat_ws(':', b // 4,
             string_agg(CASE WHEN p > 0 THEN 1 ELSE 0 END, ':' ORDER BY b))) AS band_hash
  FROM proj GROUP BY vec_id, b // 4
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c USING (band_idx, band_hash)
  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.query_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN.ANN_TOPK}
"""


def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through ONE prebuilt index (ops/ann.build_ivf_index)
    searched twice — the even and odd halves of the query set share the
    same k-means fit and cell assignment, making the reusable-index
    claim load-bearing in the query surface itself (VERDICT r4 #7).
    Per-query top-k is independent, so the union equals a single-call
    search; the recall pytest (tests/test_llm.py) is unchanged."""
    emb = t(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    idx = ANN.build_ivf_index(emb, "vec_id", "embedding")
    halves = [
        ANN.ivf_topk(
            emb, q.filter(F.col("vec_id") % 2 == par), "vec_id", "embedding",
            index=idx,
        )
        for par in (0, 1)
    ]
    return halves[0].unionByName(halves[1])


_IVF_EH_CELLS, _IVF_EH_PROBE, _IVF_EH_ITERS, _IVF_EH_SCALE = 8, 2, 5, 1 << 16


def embedding_ann_ivf_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_ann_ivf with an INTEGER-QUANTIZED Lloyd iteration
    (ops/ann.ivf_exacthash_topk): coordinates floor to 1/2^16 grid
    points (exact in both engines), centroids update by floor-divided
    integer means over exact BIGINT distances, init and ties are
    deterministic, and the round count is fixed — so the ENTIRE k-means
    fit, the cell assignment, the n_probe selection, and the final
    cosine re-rank replay bit-for-bit in a DuckDB recursive CTE: the
    seventh and last hash/float-blocked family converted this round
    (after MinHash, the admission ledger, SRP-ANN, SimHash, HLL, and
    PageRank). The MLlib twin stays the production path for large cell
    counts; this is the proof-carrying variant."""
    emb = t(spark, sf_dir, "embeddings")
    return ANN.ivf_exacthash_topk(
        emb, _queries(spark, sf_dir), "vec_id", "embedding",
        n_cells=_IVF_EH_CELLS, n_probe=_IVF_EH_PROBE,
        iters=_IVF_EH_ITERS, scale=_IVF_EH_SCALE,
    )


def _sql_integer_lloyd_ctes(cells: int, iters: int, scale: int) -> str:
    """cv/seeds/init/cent/fcent CTE chain — the DuckDB twin of
    ops/ann._integer_lloyd, shared by the IVF and kNN-join oracles so
    the fit definition lives once per engine side."""
    return f"""cv AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) - 1 AS j,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {float(scale)!r}) AS BIGINT) AS q
  FROM embeddings
),
seeds AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {cells})
),
init AS (SELECT s.cell, v.j, v.q AS c FROM seeds s JOIN cv v USING (vec_id)),
cent(it, cell, j, c) AS (
  SELECT 0, cell, j, c FROM init
  UNION ALL
  SELECT p.it + 1, p.cell, p.j, CAST(COALESCE(u.newc, p.c) AS BIGINT)
  FROM cent p
  LEFT JOIN (
    SELECT m.cell, v.j, CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS newc
    FROM (
      SELECT vec_id, cell FROM (
        SELECT d.vec_id, d.cell,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                                  ORDER BY d.dist, d.cell) AS rn
        FROM (
          SELECT v2.vec_id, c2.cell,
                 SUM((v2.q - c2.c) * (v2.q - c2.c)) AS dist
          FROM cv v2 JOIN cent c2 ON v2.j = c2.j
          GROUP BY v2.vec_id, c2.cell
        ) d
      ) WHERE rn = 1
    ) m
    JOIN cv v USING (vec_id)
    GROUP BY m.cell, v.j
  ) u ON u.cell = p.cell AND u.j = p.j
  WHERE p.it < {iters}
),
fcent AS (SELECT cell, j, c FROM cent WHERE it = {iters}),
ranked_cells AS (
  SELECT d.vec_id, d.cell,
         ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.dist, d.cell) AS rn
  FROM (
    SELECT v.vec_id, c.cell, SUM((v.q - c.c) * (v.q - c.c)) AS dist
    FROM cv v JOIN fcent c ON v.j = c.j
    GROUP BY v.vec_id, c.cell
  ) d
),
assigned AS (SELECT vec_id AS neighbor_id, cell FROM ranked_cells WHERE rn = 1)"""


def _sql_cand_topk_ctes(probe_filter: str, n_probe: int, k: int) -> str:
    """probed/cand/scored/topk CTEs over the Lloyd chain's
    ranked_cells/assigned — shared by the IVF, kNN-join, and density
    oracles; consumers select from ``topk``."""
    return f"""probed AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE rn <= {n_probe}{probe_filter}
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probed p JOIN assigned a USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.query_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
topk AS (
  SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
  FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
  ) WHERE rank <= {k}
)"""


def _sql_cand_topk(probe_filter: str, n_probe: int, k: int) -> str:
    return f"""{_sql_cand_topk_ctes(probe_filter, n_probe, k)}
SELECT query_id, neighbor_id, rank, cosine_sim FROM topk
"""


EMBEDDING_ANN_IVF_EXACTHASH_ORACLE = f"""
WITH RECURSIVE {_sql_integer_lloyd_ctes(_IVF_EH_CELLS, _IVF_EH_ITERS, _IVF_EH_SCALE)},
{_sql_cand_topk(" AND vec_id % 100 = 0", _IVF_EH_PROBE, ANN.ANN_TOPK)}
"""


def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus x corpus kNN join (ops/ann.knn_join): every vector gets
    its KNN_K nearest corpus neighbors by cosine through one reusable IVF
    index — multi-probe cell assignment is distributed (no driver
    collect), scoring is per-cell blockwise BLAS over bucketed
    candidates only. Rows-only: k-means cells are engine-specific;
    ground truth is the exact-equality pytest (n_probe == n_cells must
    reproduce brute force bit-for-bit) and the 100k-vector recall >= 0.9
    stress gate (tests/test_scale_stress.py)."""
    emb = t(spark, sf_dir, "embeddings")
    return ANN.knn_join(
        emb, "vec_id", "embedding",
        k=ANN.KNN_K, n_cells=ANN.KNN_CELLS, n_probe=ANN.KNN_PROBE,
    )


def embedding_knn_join_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_knn_join through the integer-quantized Lloyd fit
    (ops/ann.knn_join_exacthash): every vector probes its KNN_PROBE
    nearest cells of the same deterministic KNN_CELLS-cell fit the IVF
    twin proves, candidates meet on the cell id, exact cosine ranks
    top-KNN_K — the corpus x corpus retrieval primitive with a driver
    hash. Same (k, n_cells, n_probe) as the MLlib twin."""
    emb = t(spark, sf_dir, "embeddings")
    return ANN.knn_join_exacthash(
        emb, "vec_id", "embedding", iters=_IVF_EH_ITERS, scale=_IVF_EH_SCALE
    )


_SQL_KNN_LLOYD = _sql_integer_lloyd_ctes(ANN.KNN_CELLS, _IVF_EH_ITERS, _IVF_EH_SCALE)
EMBEDDING_KNN_JOIN_EXACTHASH_ORACLE = f"""
WITH RECURSIVE {_SQL_KNN_LLOYD},
{_sql_cand_topk("", ANN.KNN_PROBE, ANN.KNN_K)}
"""


def embedding_density_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN local-density scoring (ops/ann.knn_join consumer): per
    vector, the mean cosine of its 5 nearest corpus neighbors — the
    signal dedup-aware mixture weighting and mode-collapse pruning act
    on (dense semantic regions contribute redundant gradient; SemDeDup
    prunes them pairwise, density scoring downweights them smoothly).
    The flag threshold is a config, not a learned value. Rows-only
    (k-means cells are engine-specific); tests/test_llm.py pins the
    full-probe profile to the brute-force-derived densities exactly."""
    emb = t(spark, sf_dir, "embeddings")
    topk = ANN.knn_join(
        emb, "vec_id", "embedding",
        k=ANN.KNN_K, n_cells=ANN.KNN_CELLS, n_probe=ANN.KNN_PROBE,
    )
    return (
        topk.groupBy(F.col("query_id").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(F.avg("cosine_sim"), 6).alias("mean_topk_sim"),
        )
        .withColumn("is_dense", F.col("mean_topk_sim") > 0.45)
        .orderBy("vec_id")
    )


def embedding_density_exacthash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_density_profile over the integer-Lloyd kNN join
    (ops/ann.knn_join_exacthash): the mean top-5 cosine per vector, with
    the ONE float-parity twist a maintained mean needs — the <= 5
    rounded similarities pivot to rank slots (MAX over a single value
    per slot, exact) and sum in a FIXED left-to-right expression tree,
    so the mean is one deterministic IEEE chain instead of an
    order-dependent AVG fold. Same surface and 0.45 dense-flag config
    as the rows-only twin."""
    emb = t(spark, sf_dir, "embeddings")
    topk = ANN.knn_join_exacthash(
        emb, "vec_id", "embedding", iters=_IVF_EH_ITERS, scale=_IVF_EH_SCALE
    )
    slots = [
        F.max(F.when(F.col("rank") == i, F.col("cosine_sim"))).alias(f"__s{i}")
        for i in range(1, ANN.KNN_K + 1)
    ]
    piv = topk.groupBy(F.col("query_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_neighbors"), *slots
    )
    total = F.lit(0.0)
    for i in range(1, ANN.KNN_K + 1):
        total = total + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    mean = F.round(total / F.col("n_neighbors").cast("double"), 6)
    return piv.select(
        "vec_id",
        "n_neighbors",
        mean.alias("mean_topk_sim"),
        (mean > 0.45).alias("is_dense"),
    ).orderBy("vec_id")


def _density_ordered_mean_sql() -> str:
    coalesced = " + ".join(
        f"COALESCE(MAX(CASE WHEN rank = {i} THEN cosine_sim END), 0.0)"
        for i in range(1, ANN.KNN_K + 1)
    )
    return f"round((0.0 + {coalesced}) / CAST(COUNT(*) AS DOUBLE), 6)"


EMBEDDING_DENSITY_EXACTHASH_ORACLE = f"""
WITH RECURSIVE {_SQL_KNN_LLOYD},
{_sql_cand_topk_ctes("", ANN.KNN_PROBE, ANN.KNN_K)}
SELECT query_id AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       {_density_ordered_mean_sql()} AS mean_topk_sim,
       {_density_ordered_mean_sql()} > 0.45 AS is_dense
FROM topk
GROUP BY query_id
ORDER BY vec_id
"""


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus deterministically planted near-dups: every 50th
    vector re-enters under vec_id+1000000 with a tiny index-keyed
    perturbation (±0.0005 by element position mod 3 — the repo's
    key-modulo dirty-fixture convention, reproducible in SQL). Planted
    pairs land at cosine ≈ 0.99999; the synthetic corpus' natural max
    pairwise cosine is ≈ 0.51, so threshold 0.9 isolates exactly the
    planted pairs. The 2-arg transform lambda deliberately receives the
    ELEMENT INDEX as its second argument (see CLAUDE.md lambda-arity
    note) — here the index drives the perturbation."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x.cast("double") + F.lit(0.0005) * ((i % 3) - 1)),
        ).cast("array<float>").alias("embedding"),
    )
    return emb.unionByName(planted)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ANN.cosine_near_dup_pairs(_near_dup_corpus(spark, sf_dir), "vec_id", "embedding")


# Oracle is exact brute force over the same planted corpus; the Spark side
# is banded SRP-LSH + exact-cosine verify. They agree because every
# >=0.9-cosine pair in this corpus sits at ~0.99999 where the 32-bit/4-band
# S-curve retrieves with certainty in practice (verified at sf0.001 and
# sf0.01 — the driver's correctness scales); false positives are
# impossible (candidates are exact-verified before the threshold filter).
EMBEDDING_NEAR_DUP_ORACLE = f"""
WITH planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(CAST(embedding[i] AS DOUBLE)
                     + 0.0005 * (((i - 1) % 3) - 1) AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM planted
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
           AS sim
  FROM corpus a, corpus b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS cosine_sim
FROM pairs WHERE sim >= {ANN.NEAR_DUP_COSINE}
"""


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination: flag TRAIN vectors whose
    max cosine against ANY eval/benchmark vector reaches 0.9 — the
    semantic analogue of benchmark_decontamination's exact n-gram gate
    (catches paraphrased leakage that shared-n-gram tests miss; the gate
    direction is per-TRAIN-row, so it composes with a drop/filter).

    Fixture: eval = every 50th vector (benchmark-sized by construction);
    train = the rest PLUS planted contaminants — each eval vector
    re-enters under vec_id+2000000 with the repo's index-keyed ±0.0005
    perturbation (cosine vs its source ≈ 0.99999; the corpus' natural
    max cross-pair cosine ≈ 0.51, so threshold 0.9 isolates exactly the
    planted rows and names their source eval vector).

    100 TB shape: ops/ann.max_cosine_vs_queries folds the broadcast
    eval set per corpus row — zero shuffles, no corpus-wide argmax
    exchange; the filter prunes before anything wide."""
    train, eval_set = _decontam_corpus(spark, sf_dir)
    best = ANN.max_cosine_vs_queries(train, eval_set, "vec_id", "embedding")
    return best.filter(F.col("max_cosine_sim") >= 0.9).select(
        F.col("vec_id").alias("train_id"),
        F.col("matched_query_id").alias("matched_eval_id"),
        F.col("max_cosine_sim"),
    )


def _decontam_corpus(spark: SparkSession, sf_dir: str):
    """(train, eval) pair with planted contamination — shared by the
    expression-path and vectorized semantic-decontamination queries."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    eval_set = emb.filter(F.col("vec_id") % 50 == 0)
    planted = eval_set.select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x.cast("double") + F.lit(0.0005) * ((i % 3) - 1)),
        ).cast("array<float>").alias("embedding"),
    )
    train = emb.filter(F.col("vec_id") % 50 != 0).unionByName(planted)
    return train, eval_set


def semantic_decontamination_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as semantic_decontamination through the Arrow/BLAS
    per-batch matmul path (ops/ann.max_cosine_vs_queries_vectorized) —
    the execution shape for a 10k-doc x 768-dim eval set, where the
    interpreted per-row fold would burn |eval| x dim lambda evaluations
    per corpus row. Shares the brute-force oracle, the
    embedding_topk_bruteforce/_vectorized twin convention."""
    train, eval_set = _decontam_corpus(spark, sf_dir)
    best = ANN.max_cosine_vs_queries_vectorized(
        train, eval_set, "vec_id", "embedding"
    )
    return best.filter(F.col("max_cosine_sim") >= 0.9).select(
        F.col("vec_id").alias("train_id"),
        F.col("matched_query_id").alias("matched_eval_id"),
        F.col("max_cosine_sim"),
    )


SEMANTIC_DECONTAM_ORACLE = """
WITH eval AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0
),
planted AS (
  SELECT vec_id + 2000000 AS vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(CAST(embedding[i] AS DOUBLE)
                     + 0.0005 * (((i - 1) % 3) - 1) AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
  UNION ALL SELECT vec_id, embedding FROM planted
),
scored AS (
  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         list_dot_product(t.embedding::DOUBLE[], e.v)
           / (sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[]))
              * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM train t, eval e
),
best AS (
  SELECT train_id, eval_id, sim,
         ROW_NUMBER() OVER (PARTITION BY train_id
                            ORDER BY sim DESC, eval_id ASC) AS rn
  FROM scored
)
SELECT train_id, eval_id AS matched_eval_id, round(sim, 6) AS max_cosine_sim
FROM best WHERE rn = 1 AND round(sim, 6) >= 0.9
"""


def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (ops/ann.semantic_dedup — Abbas et al. 2023): k-means
    cells, within-cell blockwise-BLAS cosine pairs at >= 0.95, connected
    components, keep-MIN-id survivors, over the planted near-dup corpus.

    Oracle-checkable DESPITE the clustering being engine-specific: this
    corpus' true >= 0.95 pair set is exactly the planted pairs (sim
    ~0.99999; natural max ~0.51), and each planted pair is a tiny
    perturbation of one point — k-means cannot separate it, so the
    within-cell pair set equals the global all-pairs set the DuckDB twin
    computes (verified empirically at sf0.001 and sf0.01, the driver's
    correctness scales)."""
    corpus = _near_dup_corpus(spark, sf_dir)
    return ANN.semantic_dedup(corpus, "vec_id", "embedding").orderBy("vec_id")


SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(CAST(embedding[i] AS DOUBLE)
                     + 0.0005 * (((i - 1) % 3) - 1) AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM planted
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a, corpus b
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
        >= {ANN.SEMDEDUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (
  SELECT v, MIN(l) AS component FROM reach GROUP BY v
)
SELECT c.vec_id,
       COALESCE(comp.component, c.vec_id) AS component,
       COALESCE(comp.component, c.vec_id) = c.vec_id AS is_survivor
FROM corpus c LEFT JOIN comp ON comp.v = c.vec_id
ORDER BY c.vec_id
"""


def _incremental_semantic_fixture(spark: SparkSession, sf_dir: str):
    """(corpus, batch) over embeddings — the semantic mirror of
    :func:`_incremental_fixture`: even-id vectors are the deduplicated
    store, the odd-id vectors plus planted near-copies of both sides
    (the repo's index-keyed ±0.0005 perturbation, cosine ≈ 0.99999 vs
    their source; natural max pairwise cosine ≈ 0.51) arrive as a
    batch. The 2-arg transform lambda receives the ELEMENT INDEX (the
    CLAUDE.md lambda-arity note) — the index drives the perturbation."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def perturbed(src: DataFrame, offset: int) -> DataFrame:
        return src.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x.cast("double") + F.lit(0.0005) * ((i % 3) - 1)),
            ).cast("array<float>").alias("embedding"),
        )

    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    fresh = emb.filter(F.col("vec_id") % 2 == 1)
    copies_of_corpus = perturbed(corpus.filter(F.col("vec_id") % 10 == 0), 3000000)
    copies_in_batch = perturbed(fresh.filter(F.col("vec_id") % 9 == 1), 4000000)
    return corpus, fresh.unionByName(copies_of_corpus).unionByName(copies_in_batch)


def incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC admission (ops/ann.incremental_semantic_merge
    — VERDICT r8 #4): the even-id embeddings are the deduplicated store,
    the odd-id embeddings plus planted near-copies of both sides arrive
    as a batch; a batch vector at cosine >= 0.95 to the store is
    rejected, within-batch near-dup components admit their MIN id
    (ops/graph.admit_batch — the lexical tier's rule). One row per batch
    doc: admitted flag + match count/scope.

    Oracle-checkable DESPITE the k-means cells being engine-specific —
    the semantic_dedup_survivors argument: this corpus' true >= 0.95
    pair set is exactly the planted pairs (cosine ≈ 0.99999; natural max
    ≈ 0.51), each a tiny perturbation of one point that no clustering
    can separate, so the cell-bucketed pair set equals the global
    all-pairs set the DuckDB twin computes (verified at sf0.001 and
    sf0.01). Surfaced sims come from the sequential-fold cosine, and
    the admission rule is pure min/threshold algebra — deterministic at
    any parallelism."""
    corpus, batch = _incremental_semantic_fixture(spark, sf_dir)
    out = ANN.incremental_semantic_merge(corpus, batch, "vec_id", "embedding")
    return _incremental_surface(batch, out, id_col="vec_id")


_SQL_PERTURB = """list_transform(range(1, len(embedding) + 1),
           i -> CAST(CAST(embedding[i] AS DOUBLE)
                     + 0.0005 * (((i - 1) % 3) - 1) AS REAL))"""

_SQL_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

INCREMENTAL_SEMANTIC_ORACLE = f"""
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
),
fresh AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
batch AS (
  SELECT vec_id, embedding FROM fresh
  UNION ALL
  SELECT vec_id + 3000000, {_SQL_PERTURB} AS embedding
  FROM corpus WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 4000000, {_SQL_PERTURB} AS embedding
  FROM fresh WHERE vec_id % 9 = 1
),
cross_pairs AS (
  SELECT a.vec_id AS id_new, b.vec_id AS id_matched, 'existing' AS scope
  FROM batch a, corpus b
  WHERE {_SQL_COS} >= {ANN.SEMDEDUP_THRESHOLD}
),
within_pairs AS (
  SELECT b.vec_id AS id_new, a.vec_id AS id_matched, 'batch' AS scope
  FROM batch a, batch b
  WHERE a.vec_id < b.vec_id AND {_SQL_COS} >= {ANN.SEMDEDUP_THRESHOLD}
),
dup_pairs AS (
  SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
),
cross_hit AS (SELECT DISTINCT id_new AS vec_id FROM cross_pairs),
edges AS (
  SELECT id_matched AS src, id_new AS dst FROM within_pairs
  UNION
  SELECT id_new, id_matched FROM within_pairs
),
reach AS (
  SELECT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON e.src = r.v
),
comp AS (SELECT v AS vec_id, MIN(l) AS component FROM reach GROUP BY v),
labeled AS (
  SELECT b.vec_id, COALESCE(c.component, b.vec_id) AS comp
  FROM batch b LEFT JOIN comp c USING (vec_id)
),
flagged AS (
  SELECT l.comp,
         MAX(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS any_hit
  FROM labeled l LEFT JOIN cross_hit h USING (vec_id)
  GROUP BY l.comp
),
matched AS (
  SELECT id_new AS vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         MAX(scope) AS match_scope
  FROM dup_pairs GROUP BY id_new
)
SELECT l.vec_id,
       (f.any_hit = 0 AND l.comp = l.vec_id) AS admitted,
       COALESCE(m.n_matches, 0) AS n_matches,
       COALESCE(m.match_scope, 'none') AS match_scope
FROM labeled l
JOIN flagged f ON l.comp = f.comp
LEFT JOIN matched m ON l.vec_id = m.vec_id
ORDER BY l.vec_id
"""


def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (ops/bpe.train_bpe, Sennrich et
    al. 2016): BPE.N_MERGES merge rounds over the documents word-frequency table.
    Oracle-backed since r8 (previously 'not SQL-expressible'): training
    is bit-deterministic (total-ordered argmax, greedy-leftmost apply),
    so a DuckDB recursive CTE replays the ENTIRE loop — per-round
    weighted pair counts, the argmax, and the merge application, whose
    greedy-leftmost semantics re-express as a window-function run-parity
    rule: within each island of consecutive candidate positions, merges
    start at even offsets (overlap only occurs for left==right chains;
    proven equal to ops/bpe.merge_word in the prototype pinned by
    tests/test_llm.py's reference-BPE equality). Also pinned against a
    pure-Python reference BPE in tests/test_llm.py."""
    from dynamic_etl_spark.ops.bpe import train_bpe

    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents").select("text"))
    return train_bpe(docs, "text").orderBy("rank")


def _sql_bpe_vt_cte() -> str:
    """The recursive vocab-trajectory CTE chain shared by BOTH BPE
    oracles: ``vt(it, word, freq, syms)`` holds the word-frequency
    table's symbol state after each merge round. The encode oracle reads
    the FINAL state (priority-loop encode == sequential rank application
    for training-vocab words: a rank-k merge cannot create a pair of
    rank < k, because that pair's symbols would postdate it in training
    order); the training oracle recomputes each round's argmax from the
    state it was chosen against."""
    return f"""w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY word
),
v0 AS (
  SELECT word, freq,
         list_append(list_transform(range(1, length(word) + 1), i -> word[i]),
                     '</w>') AS syms
  FROM w
),
vt(it, word, freq, syms) AS (
  SELECT 0, word, freq, syms FROM v0
  UNION ALL
  SELECT * FROM (
    WITH base AS (
      SELECT it, word, freq, generate_subscripts(syms, 1) AS pos, unnest(syms) AS sym
      FROM vt WHERE it < {BPE.N_MERGES}
    ),
    best AS (
      SELECT l, r FROM (
        SELECT a.sym AS l, b.sym AS r, SUM(a.freq) AS cnt,
               ROW_NUMBER() OVER (ORDER BY SUM(a.freq) DESC, a.sym, b.sym) AS rn
        FROM base a JOIN base b ON a.word = b.word AND b.pos = a.pos + 1
        GROUP BY a.sym, b.sym
      ) WHERE rn = 1 AND cnt >= {BPE.MIN_COUNT}
    ),
    marked AS (
      SELECT p.it, p.word, p.freq, p.pos, p.sym,
             lead(p.sym) OVER (PARTITION BY p.word ORDER BY p.pos) AS nxt
      FROM base p
    ),
    cand AS (
      SELECT m.*, (m.sym = b.l AND m.nxt IS NOT DISTINCT FROM b.r) AS is_cand
      FROM marked m CROSS JOIN best b
    ),
    isl AS (
      SELECT *, CASE WHEN is_cand THEN pos - ROW_NUMBER() OVER
               (PARTITION BY word, is_cand ORDER BY pos) END AS grp
      FROM cand
    ),
    st AS (
      SELECT *, CASE WHEN is_cand THEN
               (ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) - 1) % 2 = 0
               ELSE FALSE END AS strt
      FROM isl
    ),
    fin AS (
      SELECT *, COALESCE(lag(strt) OVER (PARTITION BY word ORDER BY pos), FALSE)
                  AS consumed
      FROM st
    )
    SELECT it + 1 AS it, word, freq,
           list(CASE WHEN strt THEN sym || nxt ELSE sym END ORDER BY pos)
             FILTER (NOT consumed) AS syms
    FROM fin
    GROUP BY it, word, freq
  )
)"""


BPE_TRAINING_ORACLE = f"""
WITH RECURSIVE {_sql_bpe_vt_cte()},
ex AS (
  SELECT it, word, freq, generate_subscripts(syms, 1) AS pos, unnest(syms) AS sym
  FROM vt
),
paircnt AS (
  SELECT a.it, a.sym AS l, b.sym AS r, CAST(SUM(a.freq) AS BIGINT) AS cnt
  FROM ex a JOIN ex b ON a.it = b.it AND a.word = b.word AND b.pos = a.pos + 1
  GROUP BY a.it, a.sym, b.sym
),
picked AS (
  SELECT it, l, r, cnt,
         ROW_NUMBER() OVER (PARTITION BY it ORDER BY cnt DESC, l, r) AS rn
  FROM paircnt
)
SELECT CAST(it AS BIGINT) AS rank, l AS "left", r AS "right",
       l || r AS merged, cnt AS pair_count
FROM picked
WHERE rn = 1 AND cnt >= {BPE.MIN_COUNT} AND it < {BPE.N_MERGES}
ORDER BY rank
"""


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE over the corpus with a freshly trained merge
    table (ops/bpe.bpe_encode_profile): BPE.N_MERGES merges trained on documents,
    then per-doc token counts + compression ratio. Python touches only
    the distinct-word table (Zipf-bounded); the corpus side is explode +
    join + one codegen aggregate. Oracle-backed since r8: every corpus
    word is in the training vocab, and the priority-loop encode equals
    sequential rank application there (see _sql_bpe_vt_cte), so the
    DuckDB twin reads per-word piece counts straight off the trained
    trajectory's FINAL state. Also pinned against the pure-Python
    reference encode in tests/test_llm.py."""
    from dynamic_etl_spark.ops.bpe import bpe_encode_profile, train_bpe

    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    merges = train_bpe(docs, "text").localCheckpoint()
    return bpe_encode_profile(docs, merges, "doc_id", "text").orderBy("doc_id")


BPE_ENCODE_ORACLE = f"""
WITH RECURSIVE {_sql_bpe_vt_cte()},
finstate AS (
  SELECT word, CAST(len(syms) AS INT) AS n_pieces
  FROM vt WHERE it = (SELECT MAX(it) FROM vt)
),
wordsx AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word FROM documents
  ) WHERE length(word) > 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars_tokenized,
       round(CAST(SUM(length(word)) AS DOUBLE) / SUM(n_pieces), 6) AS chars_per_token
FROM wordsx JOIN finstate USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the standard tokenizer-eval
    metric (tokens per word / chars per token, per language): a
    tokenizer trained on a mixed corpus over-fragments under-represented
    languages, and THIS is the table that shows it. Rides the same
    BPE.N_MERGES-merge training + distinct-word encode as bpe_encode_stats;
    per-language integer sums divide LAST (the divide-last parity
    rule), 6dp."""
    from dynamic_etl_spark.ops.bpe import bpe_encode_words, train_bpe

    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    merges = train_bpe(docs, "text").localCheckpoint()
    words = docs.select(
        "lang", F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).filter(F.length("word") > 0)
    encoded = bpe_encode_words(words, merges, "word")
    return (
        words.join(encoded, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("tokens_per_word"),
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


BPE_FERTILITY_ORACLE = f"""
WITH RECURSIVE {_sql_bpe_vt_cte()},
finstate AS (
  SELECT word, CAST(len(syms) AS INT) AS n_pieces
  FROM vt WHERE it = (SELECT MAX(it) FROM vt)
),
wordsx AS (
  SELECT lang, word FROM (
    SELECT lang, unnest(string_split_regex(text, '\\s+')) AS word FROM documents
  ) WHERE length(word) > 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       round(CAST(SUM(n_pieces) AS DOUBLE) / COUNT(*), 6) AS tokens_per_word,
       round(CAST(SUM(length(word)) AS DOUBLE) / SUM(n_pieces), 6) AS chars_per_token
FROM wordsx JOIN finstate USING (word)
GROUP BY lang
ORDER BY lang
"""


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification over the embedding column: every
    100th vector is held out, its label predicted from the 10 nearest
    labeled neighbors by cosine (the vectorized partial-top-k path — one
    BLAS matmul per Arrow batch), majority vote tie-broken by (votes
    DESC, label ASC). The label-propagation primitive of weak-supervision
    curation: score unlabeled corpus slices from a small labeled seed.

    Vote counts derive only from the top-k SET (hash-matched against the
    oracle by the topk queries), so the vote is engine-exact; vote_share
    is one IEEE division of two small ints."""
    # K binds the topk call AND the vote_share divisor; the oracle's
    # matching literal 10.0 in KNN_VOTE_ORACLE (r <= 10 / 10.0) must be
    # kept in lockstep if K ever changes.
    K = 10
    emb = t(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 100 != 0)
    held = emb.filter(F.col("vec_id") % 100 == 0)
    topk = ANN.cosine_topk_vectorized(train, held, "vec_id", "embedding", k=K)
    votes = (
        topk.join(
            train.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("voted_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "voted_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("voted_label")
    )
    best = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            "query_id",
            F.col("voted_label").alias("predicted_label"),
            "n_votes",
            (F.col("n_votes").cast("double") / F.lit(float(K))).alias("vote_share"),
        )
    )
    return (
        best.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")),
            "query_id",
        )
        .select(
            "query_id",
            "predicted_label",
            "n_votes",
            "vote_share",
            "true_label",
            (F.col("predicted_label") == F.col("true_label")).alias("is_correct"),
        )
        .orderBy("query_id")
    )


KNN_VOTE_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
scored AS (
  -- 12dp quantize before ranking: the Spark side's top-k set comes from
  -- cosine_topk_vectorized, which orders by round(sim, 12) (ADVICE r10
  -- #1 — the TOPK_VEC_ORACLE discipline; votes derive from that SET)
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS voted_label,
         round(list_dot_product(q.qv, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
           12) AS sim
  FROM q, embeddings e
  WHERE e.vec_id % 100 <> 0
),
topk AS (
  SELECT query_id, neighbor_id, voted_label
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS r
    FROM scored
  ) WHERE r <= 10
),
votes AS (
  SELECT query_id, voted_label, COUNT(*) AS n_votes
  FROM topk GROUP BY query_id, voted_label
),
best AS (
  SELECT query_id, voted_label AS predicted_label, n_votes,
         CAST(n_votes AS DOUBLE) / 10.0 AS vote_share
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, voted_label ASC) AS r
    FROM votes
  ) WHERE r = 1
)
SELECT b.query_id, b.predicted_label, b.n_votes, b.vote_share,
       e.label AS true_label,
       b.predicted_label = e.label AS is_correct
FROM best b JOIN embeddings e ON e.vec_id = b.query_id
ORDER BY b.query_id
"""


# ==========================================================================
# Multimodal: binary payload -> Arrow-batched mapInPandas feature extract.
# r5: a REAL strict decode — synthetic_media serializes genuine BMP
# (bottom-up BGR rows, 4-byte padding) and WAV (RIFF PCM16) containers
# from closed-form pixel/sample functions, strict_decoder re-parses the
# bytes with stdlib struct, and the oracle computes the expected decoded
# features ANALYTICALLY from the same generating functions — so hash
# equality proves the full encode -> binary column -> decode chain, not
# just the plumbing. (Compressed formats still raise; see
# ops/multimodal.strict_decoder.)
# ==========================================================================

def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(t(spark, sf_dir, "documents"))
    feats = extract_media_features(media, decoder=strict_decoder)
    # array cells hash differently across compare harnesses — surface the
    # feature vector as a canonical string at the query boundary (the ops
    # layer keeps the real ArrayType; tests exercise it directly)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.array_join(F.transform("features", lambda x: F.round(x, 6).cast("string")), ",").alias(
            "features_csv"
        ),
    )


# Channel/sample/frame generating functions mirror ops/multimodal.
# _bmp_rgb / _wav_sample / _frame_seed; file sizes are the fixed
# 3x2-24bpp BMP (54 header + 2*12 padded rows = 78), 8-sample PCM16 WAV
# (44 header + 16 = 60), and the 4-frame raw-frames container (8 header
# + 4*78 = 320). Video features average the TEMPORALLY SAMPLED frames
# only (every 2nd -> f in {0,2}; flat index j in 0..11 maps to frame
# (j//6)*2, pixel j%6). Means divide an exact integer sum once in
# double — bit-identical cross-engine (WAV /8 is even dyadic-exact).
MULTIMODAL_ORACLE = """
WITH bmp AS (
  SELECT doc_id,
         CAST(SUM((doc_id + 3*i) % 256) AS DOUBLE) / 6 AS mean_r,
         CAST(SUM((doc_id*2 + 5*i + 1) % 256) AS DOUBLE) / 6 AS mean_g,
         CAST(SUM((doc_id*3 + 7*i + 2) % 256) AS DOUBLE) / 6 AS mean_b
  FROM (SELECT doc_id, unnest(range(0, 6)) AS i
        FROM documents WHERE doc_id % 3 = 0)
  GROUP BY doc_id
),
wav AS (
  SELECT doc_id,
         CAST(SUM(((doc_id*31 + i*17) % 2003) - 1001) AS DOUBLE) / 8 AS mean_s,
         CAST(MAX(ABS(((doc_id*31 + i*17) % 2003) - 1001)) AS DOUBLE) AS max_abs
  FROM (SELECT doc_id, unnest(range(0, 8)) AS i
        FROM documents WHERE doc_id % 3 = 1)
  GROUP BY doc_id
),
vid AS (
  SELECT doc_id,
         CAST(SUM(((doc_id*1000 + (j // 6) * 2) + 3*(j % 6)) % 256) AS DOUBLE) / 12
           AS mean_r,
         CAST(SUM(((doc_id*1000 + (j // 6) * 2)*2 + 5*(j % 6) + 1) % 256) AS DOUBLE) / 12
           AS mean_g,
         CAST(SUM(((doc_id*1000 + (j // 6) * 2)*3 + 7*(j % 6) + 2) % 256) AS DOUBLE) / 12
           AS mean_b
  FROM (SELECT doc_id, unnest(range(0, 12)) AS j
        FROM documents WHERE doc_id % 3 = 2)
  GROUP BY doc_id
)
SELECT doc_id, 'image/bmp' AS media_type, CAST(78 AS INT) AS n_bytes,
       array_to_string([
         CAST(CAST(1.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(3.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(2.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_r, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_g, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_b, 6) AS DOUBLE) AS VARCHAR)
       ], ',') AS features_csv
FROM bmp
UNION ALL
SELECT doc_id, 'audio/wav', CAST(60 AS INT),
       array_to_string([
         CAST(CAST(2.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(8000.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(8.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_s, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(max_abs, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(0.0 AS DOUBLE) AS VARCHAR)
       ], ',')
FROM wav
UNION ALL
SELECT doc_id, 'video/x-raw-frames', CAST(320 AS INT),
       array_to_string([
         CAST(CAST(3.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(4.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(2.0 AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_r, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_g, 6) AS DOUBLE) AS VARCHAR),
         CAST(CAST(round(mean_b, 6) AS DOUBLE) AS VARCHAR)
       ], ',')
FROM vid
"""


# ==========================================================================
# Per-label embedding centroids: vector aggregation WITHOUT higher-order
# functions or Python — posexplode to (label, dim, v), exact-decimal mean
# per cell (order-independent, so the hash matches at any parallelism),
# one row per (label, dim). The classifier-head / cluster-seed primitive.
# ==========================================================================

def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    # NOT the money dsum pattern: decimal(25,6) quantizes each float and
    # the two engines round the quantization differently (money values
    # are ≤4dp-exact, embedding floats are not). decimal(38,30) holds a
    # float32-as-double EXACTLY only while |v| >= 2^-7 (the binary
    # expansion of smaller cells runs past 30 decimal digits, and the
    # two engines demonstrably round that cast differently — ADVICE r3:
    # 7*2^-31 lands on ...175000000E-9 in Spark vs ...175000576E-9 in
    # DuckDB). The sum is therefore NEAR-exact: order-independent within
    # each engine, with a cross-engine divergence bounded by ~1e-27·n
    # that the final round(...,6) absorbs unless the true mean sits
    # within that sliver of a .xxxxxx5 half-boundary — a theoretical
    # 6dp-tie risk accepted for this oracle (verified green at sf0.001
    # AND sf0.01; a bit-exact cross-engine float sum would need ~159
    # fractional bits, beyond both engines' decimal width).
    s = F.sum(F.col("v").cast("decimal(38,30)"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(s.cast("double") / F.count("v"), 6).alias("centroid"),
        )
        .select("label", "dim", "n_vectors", "centroid")
    )


# v is FLOAT in parquet; both engines cast through DOUBLE, then to a
# scale-30 decimal — exact for |v| >= 2^-7, near-exact below (see the
# Spark twin's rounding-divergence note)
_SQL_CENTROID = (
    "(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,30)))"
    " AS DOUBLE) / COUNT(v))"
)
CENTROIDS_ORACLE = f"""
SELECT label, i - 1 AS dim, count(*) AS n_vectors,
       round({_SQL_CENTROID}, 6) AS centroid
FROM (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS i,
         unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, i - 1
"""




def embedding_dim_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dim) mean AND variance of the embedding coordinate —
    the collapsed-dimension QA check (a dim whose variance ~0 carries no
    information; an encoder regression that collapses dims shows up here
    before any retrieval metric moves), and the diversity decomposition:
    mean pairwise squared distance within a label = 2 * sum_d var_d, so
    per-dim variances are the per-axis attribution of corpus diversity.

    Parity: v is float32; v as double is exact and v*v is a <=48-bit
    product — exact in double — so BOTH moment sums ride the near-exact
    decimal(38,30) discipline of embedding_label_centroids, and the
    single divide/square/subtract epilogue is the identical IEEE
    sequence in both engines."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    s1 = F.sum(F.col("v").cast("decimal(38,30)")).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(38,30)")).cast("double")
    n = F.count(F.lit(1))
    mean = s1 / n
    return (
        ex.groupBy("label", "dim")
        .agg(
            n.alias("n_vectors"),
            # + 0.0 collapses IEEE -0.0 (a zero-centered dim's mean, or
            # variance under negative FP cancellation, rounding to zero
            # from below) to +0.0 — SCALE.md signed-zero parity trap
            (F.round(mean, 6) + 0.0).alias("dim_mean"),
            (F.round(s2 / n - mean * mean, 6) + 0.0).alias("dim_variance"),
        )
        .select("label", "dim", "n_vectors", "dim_mean", "dim_variance")
    )


DIM_SPREAD_ORACLE = """
WITH ex AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT label, dim, count(*) AS n_vectors,
       round(CAST(SUM(CAST(v AS DECIMAL(38,30))) AS DOUBLE) / count(*), 6)
         + 0.0 AS dim_mean,
       round(CAST(SUM(CAST(v * v AS DECIMAL(38,30))) AS DOUBLE) / count(*)
             - (CAST(SUM(CAST(v AS DECIMAL(38,30))) AS DOUBLE) / count(*))
               * (CAST(SUM(CAST(v AS DECIMAL(38,30))) AS DOUBLE) / count(*)), 6)
         + 0.0 AS dim_variance
FROM ex
GROUP BY label, dim
"""


def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return ANN.int8_quant_profile(emb, "vec_id", "embedding")


# mirror ops/ann.int8_quant_profile op-for-op: every double op (divide,
# round-half-away-from-zero, multiply, subtract) is the identical IEEE
# sequence; aggregates are integer sums and maxes only (order-free).
INT8_QUANT_ORACLE = """
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
),
scaled AS (
  SELECT vec_id, v, max(abs(v)) OVER (PARTITION BY vec_id) / 127.0 AS s FROM ex
),
q AS (
  SELECT vec_id, v, s,
         CASE WHEN s > 0 THEN CAST(round(v / s) AS INT) ELSE 0 END AS qi
  FROM scaled
)
SELECT vec_id, count(*) AS n_dims,
       CAST(sum(qi) AS BIGINT) AS q_sum,
       CAST(sum(abs(qi)) AS BIGINT) AS q_l1,
       CAST(sum(CASE WHEN abs(qi) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
       round(max(abs(v - qi * s)), 6) AS max_abs_err
FROM q GROUP BY vec_id
"""


def quality_rank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile-rank calibration of a quality signal:
    raw scores are not comparable across languages (length/stopword
    priors differ), so mixture policies threshold on the WITHIN-language
    percent_rank instead. percent_rank = (rank-1)/(n-1) is an exact
    integer ratio in one IEEE division — hash-checkable; the window
    total-orders on (score, doc_id) per the repo tie rule."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.percent_rank().over(w).alias("lang_pct_rank"),
    ).orderBy("doc_id")


CALIBRATION_ORACLE = """
SELECT doc_id, lang, n_chars,
       percent_rank() OVER (
         PARTITION BY lang ORDER BY n_chars, doc_id) AS lang_pct_rank
FROM documents
ORDER BY doc_id
"""


def markup_strip_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus markup cleaning (ops/text.strip_markup): documents are
    wrapped in synthetic HTML by id-modulo (tags + named entity + numeric
    entity; one slice stays plain), then stripped — clean text, tag
    counts, and a had-markup flag per doc. All codegen regex; the oracle
    runs the SAME dialect-neutral patterns."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    marked = docs.select(
        "doc_id",
        F.when(
            k % 3 == 0,
            F.concat(F.lit('<p class="a">'), F.col("text"), F.lit("</p> &amp; <br/>")),
        )
        .when(
            k % 3 == 1,
            F.concat(F.lit("<div>"), F.col("text"), F.lit("&#169;</div>")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TX.markup_profile(marked, "doc_id", "text").orderBy("doc_id")


MARKUP_ORACLE = """
WITH marked AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '<p class="a">' || text || '</p> &amp; <br/>'
              WHEN doc_id % 3 = 1 THEN '<div>' || text || '&#169;</div>'
              ELSE text END AS text
  FROM documents
),
stripped AS (
  -- same load-bearing order as ops/text.strip_markup: tags, named
  -- entities, numeric entities, and &amp; LAST (double-decode guard)
  SELECT doc_id, text,
         replace(
           regexp_replace(
             replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '),
             '&#[0-9]+;', '', 'g'),
           '&amp;', '&') AS decoded
  FROM marked
)
SELECT doc_id,
       trim(regexp_replace(decoded, '\\s+', ' ', 'g')) AS clean_text,
       CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
       len(regexp_extract_all(text, '<[^>]*>')) > 0 AS had_markup
FROM stripped
ORDER BY doc_id
"""


def vocabulary_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-id vocabulary over the corpus (ops/text.vocab_build):
    VOCAB_MIN_COUNT, top MAX_VOCAB — ids assigned by (count DESC, token ASC) so
    the mapping is reproducible at any parallelism; top-K runs as a
    distributed TakeOrdered, with only the K survivors numbered."""
    return TX.vocab_build(t(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "vocab_id"
    )


VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKENS}) AS token FROM documents
),
c AS (
  SELECT token, count(*) AS n FROM tok GROUP BY token
  HAVING count(*) >= {TX.VOCAB_MIN_COUNT}
)
SELECT token, n,
       CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS vocab_id
FROM c
QUALIFY vocab_id <= {TX.MAX_VOCAB}
ORDER BY vocab_id
"""


def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunks (ops/text.chunk_documents):
    CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens over the
    documents corpus — the bounded-length sample prep between cleaning
    and sequence packing."""
    return TX.chunk_documents(t(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id", "chunk_idx"
    )


CHUNKING_ORACLE = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(start // {TX.CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, start + 1, start + {TX.CHUNK_TOKENS}), ' ') AS chunk_text,
       CAST(len(list_slice(toks, start + 1, start + {TX.CHUNK_TOKENS})) AS BIGINT) AS n_chunk_tokens
FROM tk, unnest(generate_series(0, len(toks) - 1, {TX.CHUNK_STRIDE})) AS u(start)
WHERE len(toks) > 0
ORDER BY doc_id, chunk_idx
"""


QUERIES: QueryRegistry = {
    "text_stats_profile": Query(
        text_stats_profile, TEXT_STATS_ORACLE,
        "per-doc char/token/quality/stopword profile (all codegen)",
    ),
    "language_id_profile": Query(
        language_id_profile, LANGUAGE_ID_ORACLE,
        "stopword-hit argmax language heuristic",
    ),
    "exact_dedup_fingerprint": Query(
        exact_dedup_fingerprint, EXACT_DEDUP_ORACLE,
        "md5-fingerprint exact dedup with injected duplicates",
    ),
    "dedup_impact_forecast": Query(
        dedup_impact_forecast, DEDUP_FORECAST_ORACLE,
        "duplicate-group size histogram + docs/tokens exact dedup would "
        "reclaim (canonical min-id kept) — the pay-for-a-dedup-pass "
        "forecast, cross-checking exact_dedup_fingerprint",
    ),
    "ngram_jaccard_similarity": Query(
        ngram_jaccard_similarity, NGRAM_JACCARD_ORACLE,
        "blocked exact 3-gram Jaccard pairs",
    ),
    "near_dup_components": Query(
        near_dup_components, NEAR_DUP_COMPONENTS_ORACLE,
        "near-dup clustering: pair graph -> connected components (pointer-jumping label propagation)",
    ),
    "dedup_survivors": Query(
        dedup_survivors, DEDUP_SURVIVORS_ORACLE,
        "canonical-survivor corpus: one MIN-id doc per near-dup component",
    ),
    "dedup_survivors_best_quality": Query(
        dedup_survivors_best_quality, DEDUP_SURVIVORS_QUALITY_ORACLE,
        "quality-ranked survivor selection: keep each near-dup "
        "component's highest-quality member (total-ordered argmax) — "
        "what a production curation pipeline actually retains",
    ),
    "corpus_stratified_sample": Query(
        corpus_stratified_sample, STRATIFIED_SAMPLE_ORACLE,
        "deterministic per-language stratified downsample (shuffle-free codegen filter)",
    ),
    "sequence_packing": Query(
        sequence_packing, SEQUENCE_PACKING_ORACLE,
        "512-token concat-and-chunk packing via distributed two-level "
        "prefix sum",
    ),
    "length_bucketed_batching": Query(
        length_bucketed_batching, LENGTH_BATCHING_ORACLE,
        "length-sorted 32-doc inference batches: per-batch padding waste "
        "+ fill efficiency via the prefix-sum rank (no global window)",
    ),
    "document_chunking": Query(
        document_chunking, CHUNKING_ORACLE,
        "overlapping context-window chunks: 32-token windows, stride 24, "
        "row-local fan-out (no shuffle)",
    ),
    "quality_rank_calibration": Query(
        quality_rank_calibration, CALIBRATION_ORACLE,
        "within-language percentile-rank calibration of a quality signal",
    ),
    "markup_strip_clean": Query(
        markup_strip_clean, MARKUP_ORACLE,
        "web-corpus markup strip: tags to space, entity decode, "
        "whitespace collapse — all codegen regex",
    ),
    "vocabulary_build": Query(
        vocabulary_build, VOCAB_ORACLE,
        "dense-id corpus vocabulary: total-order id assignment with "
        "WindowGroupLimit rank pushdown",
    ),
    "semantic_decontamination": Query(
        semantic_decontamination, SEMANTIC_DECONTAM_ORACLE,
        "embedding-space eval-set decontamination: per-train-row max "
        "cosine vs the broadcast eval set (zero-shuffle fold), planted "
        "contaminants isolated at >= 0.9",
    ),
    "semantic_decontamination_vectorized": Query(
        semantic_decontamination_vectorized, SEMANTIC_DECONTAM_ORACLE,
        "semantic decontamination via the Arrow/BLAS batch-matmul path "
        "(zero shuffles; shares the brute-force oracle)",
    ),
    "semantic_dedup_survivors": Query(
        semantic_dedup_survivors, SEMANTIC_DEDUP_ORACLE,
        "SemDeDup: k-means cells + within-cell cosine pairs -> components -> MIN-id survivors",
    ),
    "knn_label_vote": Query(
        knn_label_vote, KNN_VOTE_ORACLE,
        "kNN majority-vote label propagation from a labeled seed to held-out vectors",
    ),
    "bpe_merge_training": Query(
        bpe_merge_training, BPE_TRAINING_ORACLE,
        "distributed BPE tokenizer training: 16 merges on the word-frequency "
        "table, the whole train loop replayed by a DuckDB recursive CTE "
        "(run-parity greedy apply) — plus the reference-BPE pytest",
    ),
    "bpe_encode_stats": Query(
        bpe_encode_stats, BPE_ENCODE_ORACLE,
        "corpus BPE encode with the trained merges: distinct-word-memoized "
        "segmentation + codegen per-doc stats; oracle reads piece counts "
        "off the trained trajectory's final state (+ reference pytest)",
    ),
    "bpe_fertility_by_lang": Query(
        bpe_fertility_by_lang, BPE_FERTILITY_ORACLE,
        "tokenizer fertility per language (tokens/word, chars/token): "
        "the eval table that shows a mixed-corpus tokenizer "
        "over-fragmenting under-represented languages",
    ),
    "minhash_near_dup": Query(
        minhash_near_dup, None,
        "banded MinHash-LSH near-dup pairs (rows-only; brute-force-checked in pytest)",
    ),
    "minhash_near_dup_exacthash": Query(
        minhash_near_dup_exacthash, MINHASH_EXACTHASH_ORACLE,
        "the MinHash-LSH pipeline in md5-slice hash mode: signatures, "
        "bands, and the candidate-pair set are SQL-reproducible, so the "
        "flagship LSH dedup family carries a full DuckDB oracle",
    ),
    "incremental_near_dup": Query(
        incremental_near_dup, None,
        "stateful batch admission against a signature store (rows-only; "
        "brute-force-checked in tests/test_incremental_dedup.py)",
    ),
    "incremental_near_dup_exacthash": Query(
        incremental_near_dup_exacthash, INCREMENTAL_EXACTHASH_ORACLE,
        "the admission pipeline in md5-slice hash mode: store, banded "
        "joins, verify, recursive-CTE components, and the admission rule "
        "all DuckDB-reproduced — the persistent-store path's driver hash",
    ),
    "incremental_semantic_dedup": Query(
        incremental_semantic_dedup, INCREMENTAL_SEMANTIC_ORACLE,
        "incremental SEMANTIC admission against a persistent embedding "
        "store: frozen k-means fit, cell-cogrouped BLAS candidates, "
        "sequential-cosine verify, the shared component admission rule — "
        "all-pairs DuckDB twin via the planted-pair recall argument",
    ),
    "simhash_near_dup": Query(
        simhash_hamming_profile, None,
        "64-bit SimHash + Hamming radar (rows-only; checked in pytest)",
    ),
    "simhash_near_dup_exacthash": Query(
        simhash_hamming_exacthash, SIMHASH_EXACTHASH_ORACLE,
        "SimHash in md5-slice hash mode: 64 integer bit-votes over "
        "exploded tokens, sign-bit-free 32-bit fingerprint halves, "
        "Hamming radar — fully DuckDB-reproduced",
    ),
    "embedding_near_dup": Query(
        embedding_near_dup, EMBEDDING_NEAR_DUP_ORACLE,
        "embedding-cosine near-dup pairs: SRP-LSH buckets + exact verify vs brute-force oracle",
    ),
    "embedding_topk_bruteforce": Query(
        embedding_topk_bruteforce, TOPK_ORACLE,
        "exact cosine top-10 per query (broadcast queries)",
    ),
    "embedding_topk_vectorized": Query(
        embedding_topk_vectorized, TOPK_VEC_ORACLE,
        "exact cosine top-10, Arrow/numpy partial-top-k path (oracle "
        "ranks by the path's own 12dp-quantized sims)",
    ),
    "embedding_ann_lsh": Query(
        embedding_ann_lsh, None,
        "banded SRP-LSH approximate top-10 (rows-only; recall-checked in pytest)",
    ),
    "embedding_ann_lsh_exacthash": Query(
        embedding_ann_lsh_exacthash, EMBEDDING_ANN_LSH_EXACTHASH_ORACLE,
        "SRP-LSH ANN in md5-slice hash mode: signatures, bands, candidates "
        "and re-rank all DuckDB-reproduced — the ANN path's driver hash",
    ),
    "embedding_ann_ivf": Query(
        embedding_ann_ivf, None,
        "IVF (k-means cells, nprobe) approximate top-10 (rows-only; recall-checked in pytest)",
    ),
    "embedding_ann_ivf_exacthash": Query(
        embedding_ann_ivf_exacthash, EMBEDDING_ANN_IVF_EXACTHASH_ORACLE,
        "IVF with integer-quantized Lloyd iteration: the whole k-means "
        "fit, assignment, probing, and cosine re-rank replayed by a "
        "DuckDB recursive CTE — the last float-blocked family converted",
    ),
    "embedding_knn_join": Query(
        embedding_knn_join, None,
        "corpus x corpus kNN join over one reusable IVF index — distributed "
        "multi-probe + per-cell blockwise BLAS (rows-only; exact-equality "
        "and 100k recall pytests)",
    ),
    "embedding_knn_join_exacthash": Query(
        embedding_knn_join_exacthash, EMBEDDING_KNN_JOIN_EXACTHASH_ORACLE,
        "the corpus x corpus kNN join through the integer-quantized Lloyd "
        "fit: probing, assignment, and cosine top-5 all replayed by the "
        "shared recursive-CTE twin",
    ),
    "embedding_density_profile": Query(
        embedding_density_profile, None,
        "kNN local-density scoring for dedup-aware mixture weighting "
        "(rows-only; full-probe == brute-force pytest)",
    ),
    "embedding_density_exacthash": Query(
        embedding_density_exacthash, EMBEDDING_DENSITY_EXACTHASH_ORACLE,
        "density scoring over the integer-Lloyd kNN join: rank-pivoted "
        "fixed-order mean (no order-dependent AVG fold) — the density "
        "signal with a driver hash",
    ),
    "multimodal_feature_extract": Query(
        multimodal_feature_extract, MULTIMODAL_ORACLE,
        "binary media column -> Arrow mapInPandas strict BMP/WAV decode + "
        "feature extraction (r5: real stdlib codecs, analytic oracle)",
    ),
    "embedding_int8_quant": Query(
        embedding_int8_quant, INT8_QUANT_ORACLE,
        "per-vector absmax int8 quantization audit (integer checksums + max error)",
    ),
    "embedding_dim_spread": Query(
        embedding_dim_spread,
        DIM_SPREAD_ORACLE,
        "per-dimension embedding mean/variance: collapsed-dim QA + the "
        "sum-of-variances diversity decomposition",
    ),
    "embedding_label_centroids": Query(
        embedding_label_centroids, CENTROIDS_ORACLE,
        "per-label centroid via posexplode + exact-decimal mean per cell",
    ),
}
