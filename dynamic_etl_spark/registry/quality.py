"""Document-quality queries: Gopher-style repetition gates and TF-IDF.

Both are fully oracle-checkable: the gates are integer-count arithmetic
plus 6dp-rounded ratios, and TF-IDF uses the smoothed-idf formulation on
(tf, df) integer inputs so both engines rank on bit-identical doubles
(ties within one (doc, score) group are broken by term, per the repo's
total-order-every-window rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import quality as Q
from dynamic_etl_spark.ops import text as TX
from dynamic_etl_spark.registry.core import Query, QueryRegistry, t
from dynamic_etl_spark.registry.llm import _SQL_TOKENS  # shared tokenizer twin
from dynamic_etl_spark.registry.llm import sql_positional_grams, sql_span_tail
from dynamic_etl_spark.session import ensure_fanout_parallelism


def gopher_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # measured: fanning the 1-split documents scan out does NOT pay here —
    # the n-gram explode feeds a partial agg whose shuffle re-spreads the
    # work regardless (unlike the shuffle-free signature builders that do
    # use ensure_fanout_parallelism)
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.repetition_profile(docs)


_G = Q  # threshold constants referenced in the SQL below


GOPHER_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM base WHERE len(toks) >= 2
),
g2c AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
s2 AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS total_2grams,
         count(*) AS distinct_2grams,
         max(c) AS top_2gram_count
  FROM g2c GROUP BY doc_id
),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
  FROM base WHERE len(toks) >= 3
),
g3c AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
s3 AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS total_3grams,
         count(*) AS distinct_3grams
  FROM g3c GROUP BY doc_id
),
prof AS (
  SELECT b.doc_id,
         CAST(len(b.toks) AS INT) AS n_tokens,
         round(CASE WHEN len(b.toks) > 0
               THEN CAST(length(regexp_replace(b.text, '\\s', '', 'g')) AS DOUBLE)
                    / len(b.toks) ELSE 0.0 END, 6) AS mean_word_len,
         round(CASE WHEN len(b.toks) > 0
               THEN CAST(len(regexp_extract_all(b.text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                    / len(b.toks) ELSE 0.0 END, 6) AS symbol_word_ratio,
         round(CASE WHEN coalesce(s2.total_2grams, 0) > 0
               THEN CAST(s2.top_2gram_count AS DOUBLE) / s2.total_2grams
               ELSE 0.0 END, 6) AS top_2gram_frac,
         round(CASE WHEN coalesce(s3.total_3grams, 0) > 0
               THEN CAST(s3.total_3grams - s3.distinct_3grams AS DOUBLE) / s3.total_3grams
               ELSE 0.0 END, 6) AS dup_3gram_frac
  FROM base b
  LEFT JOIN s2 ON b.doc_id = s2.doc_id
  LEFT JOIN s3 ON b.doc_id = s3.doc_id
)
SELECT *,
       (gate_word_count AND gate_mean_word_len AND gate_symbol_ratio
        AND gate_top_2gram AND gate_dup_3gram) AS passes_gopher
FROM (
  SELECT *,
         n_tokens BETWEEN {_G.GATE_MIN_WORDS} AND {_G.GATE_MAX_WORDS} AS gate_word_count,
         mean_word_len BETWEEN {_G.GATE_MIN_MEAN_WORD_LEN} AND {_G.GATE_MAX_MEAN_WORD_LEN}
           AS gate_mean_word_len,
         symbol_word_ratio <= {_G.GATE_MAX_SYMBOL_WORD_RATIO} AS gate_symbol_ratio,
         top_2gram_frac <= {_G.GATE_MAX_TOP_2GRAM_FRAC} AS gate_top_2gram,
         dup_3gram_frac <= {_G.GATE_MAX_DUP_3GRAM_FRAC} AS gate_dup_3gram
  FROM prof
)
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.tfidf_topk(docs)


TFIDF_ORACLE = """
WITH base AS (
  SELECT doc_id, {tokens} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
         tf.tf * (ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0)
                     / (docfreq.df + 1.0)) + 1.0) AS score
  FROM tf JOIN docfreq USING (term)
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df, round(score, 6) AS tfidf
FROM ranked WHERE rank <= {k}
""".format(tokens=_SQL_TOKENS, k=Q.TFIDF_K)




def bigram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.bigram_novelty_profile(docs)


NOVELTY_ORACLE = """
WITH base AS (
  SELECT doc_id, {tokens} AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM base WHERE len(toks) >= 2
),
model AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(sum(CASE WHEN m.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_familiar
  FROM g JOIN model m USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.n_familiar, 0) AS n_familiar,
       round(CASE WHEN coalesce(s.n_bigrams, 0) > 0
             THEN 1.0 - CAST(s.n_familiar AS DOUBLE) / s.n_bigrams
             ELSE 0.0 END, 6) AS novelty_ratio
FROM documents d LEFT JOIN scored s USING (doc_id)
""".format(tokens=_SQL_TOKENS)


def bigram_perplexity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1 bigram perplexity vs the self-trained corpus model
    (ops/quality.bigram_perplexity_profile). Converted IN PLACE to an
    oracle-backed query in r9 (VERDICT r8 #6 — the BPE precedent): the
    per-bigram log2 IS libm-dependent (measured: ~24% of this fixture's
    485 distinct (c_bigram, c_context) quotients differ between Spark's
    and DuckDB's log2 in the last bits), but the op's own determinism
    contract already rounds each log-prob to 12dp before the exact
    decimal(38,12) sum — and at 12dp the two engines agree on EVERY
    quotient the fixture produces (0/484 at sf0.001, 0/465 at sf0.01),
    as does round(pow(2, h), 6) on every per-doc cross-entropy
    (0/500 both SFs). The twin therefore replays the same
    quantize-then-exact-sum pipeline in SQL. Residual risk — a future
    quotient whose log2 lands within an ulp of a 0.5e-12 rounding
    boundary — is fixture-measurable and re-measured at both SFs by the
    parity harness every run (SCALE.md 'parity traps')."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.bigram_perplexity_profile(docs)


PERPLEXITY_ORACLE = """
WITH base AS (
  SELECT doc_id, {tokens} AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM base WHERE len(toks) >= 2
),
model AS (SELECT gram, count(*) AS cg FROM g GROUP BY gram),
ctx AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(cg) AS BIGINT) AS cw
  FROM model GROUP BY w1
),
voc AS (
  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM base)
),
scored AS (
  SELECT g.doc_id,
         CAST(round(log2((m.cg + 1.0) / (c.cw + 1.0 * voc.v)), 12)
              AS DECIMAL(38,12)) AS lp
  FROM g
  JOIN model m USING (gram)
  JOIN ctx c ON split_part(g.gram, ' ', 1) = c.w1
  CROSS JOIN voc
),
per AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
  FROM scored GROUP BY doc_id
),
docs AS (SELECT doc_id FROM documents)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       round(CASE WHEN coalesce(p.n_bigrams, 0) > 0
                  THEN -CAST(p.slp AS DOUBLE) / p.n_bigrams
                  ELSE 0.0 END, 6) AS cross_entropy,
       round(CASE WHEN coalesce(p.n_bigrams, 0) > 0
                  THEN pow(2.0, -CAST(p.slp AS DOUBLE) / p.n_bigrams)
                  ELSE 1.0 END, 6) AS perplexity
FROM docs d LEFT JOIN per p USING (doc_id)
""".format(tokens=_SQL_TOKENS)


def pmi_collocations_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations (ops/quality.pmi_collocations): ranked by
    the libm-free PMI ratio — exact integer products, one IEEE division."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.pmi_collocations(docs)


PMI_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
tok AS (SELECT unnest(toks) AS w FROM base),
uni AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
nu AS (SELECT count(*) AS v FROM tok),
g2 AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM base WHERE len(toks) >= 2
),
nb AS (SELECT count(*) AS v FROM g2),
bi AS (
  SELECT gram, count(*) AS n_xy FROM g2 GROUP BY gram
  HAVING count(*) >= {Q.PMI_MIN_COUNT}
),
pairs AS (
  SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2, n_xy
  FROM bi
)
SELECT p.w1, p.w2, p.n_xy, ux.n AS n_x, uy.n AS n_y,
       CAST(p.n_xy * nu.v * nu.v AS DOUBLE)
         / CAST(nb.v * ux.n * uy.n AS DOUBLE) AS pmi_ratio
FROM pairs p
JOIN uni ux ON p.w1 = ux.w
JOIN uni uy ON p.w2 = uy.w
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi_ratio DESC, w1, w2
LIMIT {Q.PMI_TOP_K}
"""


def document_gram_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-gram exposure (ops/quality.
    cross_doc_gram_exposure): per doc, the fraction of its distinct word
    EXPOSURE_K-grams that appear in at least one other document — the pair-free
    corpus-duplication gate (RefinedWeb-style) that scales linearly
    where the pairwise tiers scale with duplicate structure."""
    docs = ensure_fanout_parallelism(t(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    return Q.cross_doc_gram_exposure(docs, id_col="doc_id", text_col="text")


GRAM_EXPOSURE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len(toks) - {Q.EXPOSURE_K}, 0) + 1),
           i -> array_to_string(toks[i + 1 : i + {Q.EXPOSURE_K}], ' ')
         ))) AS gram
  FROM base
),
c AS (
  SELECT gram, COUNT(*) AS n_docs FROM sh GROUP BY gram
)
SELECT s.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_grams,
       round(CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS shared_gram_frac
FROM sh s JOIN c USING (gram)
GROUP BY s.doc_id
"""


def duplicated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2022) at the
    ops/spans.SPAN_K word threshold: any SPAN_K-gram occurring >= 2 times
    anywhere in the corpus marks its window; overlapping windows merge
    into maximal spans, which are cut from the token-normalized text."""
    from dynamic_etl_spark.ops.spans import duplicated_span_stats

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_span_stats(docs)


SPAN_REMOVAL_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
g AS ({sql_positional_grams()}
),
c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
d AS (SELECT g.doc_id, g.gpos FROM g JOIN c USING (gram)),
{sql_span_tail()}
SELECT b.doc_id,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(st.n_cut, 0) AS BIGINT) AS n_dup_tokens,
       CASE WHEN len(b.toks) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(COALESCE(st.n_cut, 0) AS DOUBLE) / len(b.toks), 6)
       END AS dup_token_frac,
       COALESCE(cl.cleaned_text, '') AS cleaned_text
FROM base b
LEFT JOIN st USING (doc_id)
LEFT JOIN cl USING (doc_id)
"""


def source_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity via the Gini-Simpson index
    ``1 - sum(c^2)/N^2`` (probability two sampled tokens differ) — the
    libm-free diversity twin of Shannon entropy (log2 is engine-specific
    here, the bigram_perplexity precedent; Gini-Simpson is exact integer
    products with ONE IEEE division+subtraction, mirrored verbatim in
    SQL). A collapsed source (one word repeated) scores ~0, a fully
    varied one approaches 1 — the mixture-assembly signal for spotting
    template-flooded or boilerplate sources before they dominate a
    training mix. Two exchanges: word-count groupBy (map-side partial),
    per-source fold."""
    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the square itself must happen in decimal: a 100 TB-scale hot
    # token's count^2 overflows BIGINT (c ~ 1e10 squares to 1e20 >
    # Long.MAX), and non-ANSI Spark would WRAP the bigint product
    # SILENTLY before any outer cast could save it (casting the
    # already-wrapped product is the r6 review's catch); the oracle's
    # HUGEINT cast mirrors it (DuckDB's BIGINT multiply would RAISE,
    # not promote)
    per_src = wc.groupBy("source").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("__ssq"),
    )
    n_d = F.col("n_words").cast("double")
    return per_src.select(
        "source",
        "n_words",
        "n_distinct_words",
        F.round(F.lit(1.0) - F.col("__ssq").cast("double") / (n_d * n_d), 6).alias(
            "gini_simpson"
        ),
    ).orderBy("source")


DIVERSITY_ORACLE = """
WITH base AS (
  SELECT source, {tokens} AS toks FROM documents
),
wc AS (
  SELECT source, w, count(*) AS c
  FROM (SELECT source, unnest(toks) AS w FROM base)
  GROUP BY source, w
),
per_src AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct_words,
         SUM(CAST(c AS HUGEINT) * c) AS ssq
  FROM wc GROUP BY source
)
SELECT source, n_words, n_distinct_words,
       round(1.0 - CAST(ssq AS DOUBLE)
             / (CAST(n_words AS DOUBLE) * CAST(n_words AS DOUBLE)), 6)
         AS gini_simpson
FROM per_src
ORDER BY source
""".format(tokens=_SQL_TOKENS)


# ==========================================================================
# Encoding repair (mojibake) — VERDICT r7 next-round #5: the one common
# real-corpus cleaning gate the text family lacked. Artifacts are planted
# by the key-modulo convention from the SAME computed pair table the
# repair chain uses (ops/text.ENCODING_REPAIR_PAIRS), so fixture, Spark
# chain, and SQL chain can never drift apart.
# ==========================================================================

_M = TX._mojibake
#: Double-encoded accents + a broken non-breaking space ("Â\xa0").
_ACCENT_SUFFIX = (
    f" caf{_M('é')} cr{_M('è')}me {_M('ü')}ber d{_M('é')}j{_M('à')} vu"
    f" no{_M(chr(0xA0))}break"
)
#: Double-encoded smart punctuation (quote, apostrophe, ellipsis, dash).
_PUNCT_SUFFIX = f" {_M('“')}well{_M('’')}s{_M('…')} {_M('–')} done"
#: Natively-present smart punctuation + a bare non-breaking space.
_NATIVE_SUFFIX = " ‘native’ “quotes” – and — plus…" + chr(0xA0) + "end"


def encoding_repair_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake/encoding repair over a deterministically dirtied corpus:
    every 9th doc gets double-encoded accents (``Ã©``-class + a broken
    nbsp), every 12th (+1) double-encoded smart punctuation
    (``â€œ``-class), every 15th (+2) native smart quotes/dashes/ellipsis
    and a bare nbsp. Output: one row per REPAIRED document with both
    lengths and the repaired text itself — the strongest hashable
    surface (the full repaired string, not just counts). The repair is
    a pure codegen replace chain (ops/text.repair_encoding) mirrored
    verbatim in SQL; idempotence (repair∘repair == repair) is pinned in
    tests/test_ops_units.py."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    m = F.col("doc_id")
    feed = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(m % 9 == 0, F.lit(_ACCENT_SUFFIX)).otherwise(F.lit("")),
            F.when(m % 12 == 1, F.lit(_PUNCT_SUFFIX)).otherwise(F.lit("")),
            F.when(m % 15 == 2, F.lit(_NATIVE_SUFFIX)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        feed.withColumn("text_repaired", TX.repair_encoding(F.col("text")))
        .filter(F.col("text_repaired") != F.col("text"))
        .select(
            "doc_id",
            "lang",
            F.length("text").alias("len_raw"),
            F.length("text_repaired").alias("len_repaired"),
            "text_repaired",
        )
    )


ENCODING_REPAIR_ORACLE = f"""
WITH feed AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 9 = 0 THEN {TX.sql_literal(_ACCENT_SUFFIX)} ELSE '' END
         || CASE WHEN doc_id % 12 = 1 THEN {TX.sql_literal(_PUNCT_SUFFIX)} ELSE '' END
         || CASE WHEN doc_id % 15 = 2 THEN {TX.sql_literal(_NATIVE_SUFFIX)} ELSE '' END
           AS text
  FROM documents
),
rep AS (
  SELECT doc_id, lang, text,
         {TX.sql_repair_encoding("text")} AS text_repaired
  FROM feed
)
SELECT doc_id, lang,
       CAST(len(text) AS INT) AS len_raw,
       CAST(len(text_repaired) AS INT) AS len_repaired,
       text_repaired
FROM rep WHERE text_repaired <> text
"""


# ==========================================================================
# URL / domain blocklist gate (r8) — the standard web-corpus curation
# filter (Dolma/CCNet-style): extract URLs, resolve their domains, count
# and scrub the blocklisted ones. Planted by the key-modulo convention;
# the scrub regex is GENERATED from the same blocklist tuple the
# counting side matches on, so they can never drift apart.
# ==========================================================================

_URL_BLOCKLIST = ("ads.tracker.example", "spam-mart.example")
_URL_ADS = " see http://ads.tracker.example/x?id=123 and https://good.site.org/page"
_URL_SPAM = " visit www.spam-mart.example/deals now"
_URL_SCRUB = TX.blocked_url_pattern(_URL_BLOCKLIST)


def url_filter_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain blocklist gate over a deterministically dirtied corpus:
    every 6th doc gets a blocked tracker URL plus a benign one, every
    10th (+3) a bare-www blocked URL. Per URL-bearing document: URL and
    blocked counts, the sorted blocked-domain list, and the text with
    blocked URLs scrubbed (whitespace-normalized). URLs EXPLODE to rows
    (the per-element-work rule — no interpreted array lambdas); the
    scrub is one generated codegen regexp_replace. All regexes live in
    the Java∩RE2 subset so both engines match identical spans."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id")
    feed = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(m % 6 == 0, F.lit(_URL_ADS)).otherwise(F.lit("")),
            F.when(m % 10 == 3, F.lit(_URL_SPAM)).otherwise(F.lit("")),
        ).alias("text"),
    )
    ex = feed.select(
        "doc_id", "text", F.explode_outer(TX.extract_urls(F.col("text"))).alias("__u")
    ).withColumn("__d", TX.url_domain(F.col("__u")))
    blocked = F.col("__d").isin(*_URL_BLOCKLIST)
    clean = TX.scrub_blocked_urls(F.col("text"), _URL_BLOCKLIST)
    return (
        ex.groupBy("doc_id", "text")
        .agg(
            F.count("__u").alias("n_urls"),
            F.sum(F.when(blocked, 1).otherwise(0)).alias("n_blocked"),
            F.array_join(
                F.array_sort(F.collect_set(F.when(blocked, F.col("__d")))), ","
            ).alias("blocked_domains"),
        )
        .filter(F.col("n_urls") > 0)
        .select(
            "doc_id", "n_urls", "n_blocked", "blocked_domains",
            clean.alias("clean_text"),
        )
    )


URL_FILTER_ORACLE = f"""
WITH feed AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 6 = 0 THEN {TX.sql_literal(_URL_ADS)} ELSE '' END
         || CASE WHEN doc_id % 10 = 3 THEN {TX.sql_literal(_URL_SPAM)} ELSE '' END
           AS text
  FROM documents
),
ex AS (
  SELECT doc_id, text,
         unnest(regexp_extract_all(text, '{TX.URL_PATTERN}')) AS u
  FROM feed
),
dom AS (
  SELECT doc_id, text, u,
         regexp_replace(lower(regexp_extract(u, '^(?:https?://)?([^/?#]+)', 1)),
                        '^www\\.', '') AS d
  FROM ex
)
SELECT doc_id,
       CAST(COUNT(u) AS BIGINT) AS n_urls,
       CAST(SUM(CASE WHEN d IN ('{_URL_BLOCKLIST[0]}', '{_URL_BLOCKLIST[1]}')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       COALESCE(string_agg(DISTINCT CASE WHEN d IN ('{_URL_BLOCKLIST[0]}',
                '{_URL_BLOCKLIST[1]}') THEN d END, ',' ORDER BY
                CASE WHEN d IN ('{_URL_BLOCKLIST[0]}', '{_URL_BLOCKLIST[1]}')
                THEN d END), '') AS blocked_domains,
       trim(regexp_replace(regexp_replace(text, {TX.sql_literal(_URL_SCRUB)}, ' ', 'g'),
                           '\\s+', ' ', 'g')) AS clean_text
FROM dom
GROUP BY doc_id, text
"""



#: Pseudo-trained fixture weights for the hashed linear scorer: a
#: deterministic integer-derived spread in [-0.50, 0.50] (real use
#: plugs actual trained weights into the same op — the weights table is
#: the model). Same literal list feeds both engines.
CLS_N_BUCKETS = 64
CLS_WEIGHTS = tuple((b, ((b * 37 + 11) % 101 - 50) / 100 ) for b in range(CLS_N_BUCKETS))


def hashed_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier gate over documents
    (ops/quality.hashed_linear_score: md5 buckets, broadcast weights,
    exact-decimal dot product)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    w = spark.createDataFrame(list(CLS_WEIGHTS), "bucket int, weight double")
    return Q.hashed_linear_score(docs, w, n_buckets=CLS_N_BUCKETS)


CLS_ORACLE = """
WITH w(bucket, weight) AS (VALUES __VALUES__),
base AS (SELECT doc_id, __TOKENS__ AS toks FROM documents),
tok AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % __NB__ AS b
  FROM (SELECT doc_id, unnest(toks) AS t FROM base)
),
per AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(coalesce(CAST(round(w.weight, 6) AS DECIMAL(18,6)),
                      CAST(0 AS DECIMAL(18,6)))) AS s
  FROM tok LEFT JOIN w ON tok.b = w.bucket
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(coalesce(CAST(p.s AS DOUBLE), 0.0), 6) + 0.0 AS logit,
       (coalesce(CAST(p.s AS DOUBLE), 0.0) >= __THRESHOLD__) AS passes
FROM (SELECT doc_id FROM documents) d LEFT JOIN per p USING (doc_id)
""".replace(
    "__VALUES__", ", ".join(f"({b}, {w})" for b, w in CLS_WEIGHTS)
).replace("__NB__", str(CLS_N_BUCKETS)).replace("__TOKENS__", _SQL_TOKENS).replace(
    "__THRESHOLD__", str(Q.LOGIT_THRESHOLD)
)

# --------------------------------------------------------------------------
# DSIR importance selection (Xie et al. 2023) — fit + score + select
# --------------------------------------------------------------------------

#: DSIR fixture knobs: target distribution = the English slice (~40% of
#: documents), hashed uni+bigram features in 128 buckets, Laplace s=1,
#: deterministic top-150 selection.
DSIR_BUCKETS = 128
DSIR_TOP_N = 150


def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR over the documents table: fit the hashed-n-gram importance
    ratios against the lang='en' target slice, score every document,
    select the deterministic top-150 (ops/quality.dsir_bucket_ratios +
    dsir_log_weights — 12dp-quantized lns, exact-decimal sums, bounded
    cutoff take instead of a global sort window)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ratios = Q.dsir_bucket_ratios(
        docs, target=F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    )
    return Q.dsir_log_weights(docs, ratios, top_n=DSIR_TOP_N)


DSIR_ORACLE = """
WITH base AS (
  SELECT doc_id, lang = 'en' AS is_t, {toks} AS toks FROM documents
),
feats AS (
  SELECT doc_id, is_t, unnest(toks) AS f FROM base
  UNION ALL
  SELECT doc_id, is_t,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS f
  FROM base WHERE len(toks) >= 2
),
fb AS (
  SELECT doc_id, is_t, ('0x' || substr(md5(f), 1, 8))::BIGINT % {nb} AS b
  FROM feats
),
stats AS (
  SELECT b,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
  FROM fb GROUP BY b
),
tot AS (
  SELECT coalesce(sum(ct), 0) AS t, coalesce(sum(cr), 0) AS r FROM stats
),
ratio AS (
  SELECT g.b,
         CAST(round(ln((coalesce(s.ct, 0) + CAST(1.0 AS DOUBLE))
                       / (CAST(tot.t AS DOUBLE) + CAST({nb} AS DOUBLE))), 12)
              AS DECIMAL(38,12))
       - CAST(round(ln((coalesce(s.cr, 0) + CAST(1.0 AS DOUBLE))
                       / (CAST(tot.r AS DOUBLE) + CAST({nb} AS DOUBLE))), 12)
              AS DECIMAL(38,12)) AS lr
  FROM (SELECT unnest(range({nb})) AS b) g
  LEFT JOIN stats s USING (b)
  CROSS JOIN tot
),
per AS (
  SELECT fb.doc_id, count(*) AS n_features, sum(r.lr) AS lw
  FROM fb JOIN ratio r USING (b) GROUP BY fb.doc_id
),
spine AS (
  SELECT d.doc_id,
         CAST(coalesce(p.n_features, 0) AS BIGINT) AS n_features,
         coalesce(p.lw, CAST(0 AS DECIMAL(38,12))) AS lw
  FROM (SELECT doc_id FROM documents) d LEFT JOIN per p USING (doc_id)
)
SELECT doc_id, n_features,
       round(CAST(lw AS DOUBLE), 6) + 0.0 AS log_weight,
       row_number() OVER (ORDER BY lw DESC, doc_id ASC) <= {topn} AS selected
FROM spine
""".format(toks=_SQL_TOKENS, nb=DSIR_BUCKETS, topn=DSIR_TOP_N)


def dsir_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper's actual RESAMPLING step (DSIR samples ~ exp(log w)
    without replacement; Gumbel-top-k over log weights == A-ES ranking
    u^(1/w) with w = exp(log w)): the deterministic top-N selection's
    rows-only production twin. Composition of two audited ops —
    dsir_log_weights (the oracle-backed scorer) feeding
    ops/sample.weighted_sample_without_replacement (the A-ES sampler,
    xxhash64 uniforms — libm pow in a per-row ordering, hence rows-only;
    exacthash twin: dsir_importance_selection)."""
    from dynamic_etl_spark.ops.sample import weighted_sample_without_replacement

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ratios = Q.dsir_bucket_ratios(
        docs, target=F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    )
    scored = Q.dsir_log_weights(docs, ratios).withColumn(
        "weight", F.exp(F.col("log_weight"))
    )
    return weighted_sample_without_replacement(
        scored, "doc_id", "weight", k=DSIR_TOP_N, salt=11
    ).select("doc_id", "n_features", "log_weight")


# --------------------------------------------------------------------------
# Canonical-URL dedup keys (CC-style SURT-ish normalization)
# --------------------------------------------------------------------------

def planted_url_expr() -> F.Column:
    """The planted URL-variant fixture (shared by url_canonical_dedup
    and the fused curated_corpus_retrieval pipeline): five syntactic
    variants per logical page — www + utm params, :443 default port +
    trailing slash, bare-www schemeless + fragment, unordered query
    params, protocol-relative with a userinfo@ prefix — that must
    collapse to ONE canonical key, plus a distinct sixth page."""
    h = (F.col("doc_id") % 7).cast("string")
    pg = (F.col("doc_id") % 10).cast("string")
    m6 = F.col("doc_id") % 6
    return (
        F.when(m6 == 0, F.concat(F.lit("https://www.Site"), h, F.lit(".example/Products/"), pg, F.lit("?utm_source=mail&b=2&a=1")))
        .when(m6 == 1, F.concat(F.lit("HTTPS://site"), h, F.lit(".example/Products/"), pg, F.lit("?a=1&b=2&fbclid=x"), F.col("doc_id").cast("string")))
        .when(m6 == 2, F.concat(F.lit("www.site"), h, F.lit(".example/Products/"), pg, F.lit("?b=2&a=1#sec-"), F.col("doc_id").cast("string")))
        .when(m6 == 3, F.concat(F.lit("https://Site"), h, F.lit(".example:443/Products/"), pg, F.lit("/?a=1&b=2")))
        .when(m6 == 4, F.concat(F.lit("//user"), F.col("doc_id").cast("string"), F.lit("@www.Site"), h, F.lit(".example/Products/"), pg, F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("https://site"), h, F.lit(".example/About?ref=footer")))
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup groups over the planted variant fixture
    (ops/text.canonical_url over :func:`planted_url_expr` — the
    ADVICE r11 #1/#2 rules included). Surface: one row per canonical
    key with the variant count and the keep-MIN-id survivor (the
    dedup-tier survivor convention)."""
    from dynamic_etl_spark.ops.text import canonical_url

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.select("doc_id", canonical_url(planted_url_expr()).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


#: The canonicalization CTE chain (planted -> parts -> split1/2/3 ->
#: canon), shared verbatim by URL_CANONICAL_ORACLE and the fused
#: curated_corpus_retrieval oracle (registry/retrieval.py). Ends at
#: ``canon(doc_id, canonical_url)``.
SQL_URL_CANON_CTES = """planted AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'https://www.Site' || (doc_id % 7) || '.example/Products/' || (doc_id % 10) || '?utm_source=mail&b=2&a=1'
           WHEN 1 THEN 'HTTPS://site' || (doc_id % 7) || '.example/Products/' || (doc_id % 10) || '?a=1&b=2&fbclid=x' || doc_id
           WHEN 2 THEN 'www.site' || (doc_id % 7) || '.example/Products/' || (doc_id % 10) || '?b=2&a=1#sec-' || doc_id
           WHEN 3 THEN 'https://Site' || (doc_id % 7) || '.example:443/Products/' || (doc_id % 10) || '/?a=1&b=2'
           WHEN 4 THEN '//user' || doc_id || '@www.Site' || (doc_id % 7) || '.example/Products/' || (doc_id % 10) || '?b=2&a=1'
           ELSE 'https://site' || (doc_id % 7) || '.example/About?ref=footer'
         END AS u
  FROM documents
),
parts AS (
  SELECT doc_id, regexp_replace(u, '#.*$', '') AS base FROM planted
),
split1 AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(base, '^(?i)https?://')
              THEN lower(regexp_extract(base, '^(?i)(https?)://', 1))
              ELSE 'https' END AS scheme,
         regexp_replace(base, '^(?i)(https?:)?//', '') AS rest
  FROM parts
),
split2 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(h, ':80$', '')
              ELSE regexp_replace(h, ':443$', '') END AS host,
         regexp_replace(rest, '^[^/?]+', '') AS tail
  FROM (
    SELECT doc_id, scheme, rest,
           regexp_replace(regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
                                         '^.*@', ''),
                          '^www\\.', '') AS h
    FROM split1
  )
),
split3 AS (
  SELECT doc_id, scheme, host,
         CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
              ELSE regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '(.)/$', '\\1')
         END AS path,
         coalesce(array_to_string(
           list_sort(list_filter(string_split(regexp_extract(tail, '\\?(.*)$', 1), '&'),
                                 p -> p <> ''
                                      AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))),
           '&'), '') AS qnorm
  FROM split2
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host || path
           || CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END AS canonical_url
  FROM split3
)"""


URL_CANONICAL_ORACLE = f"""
WITH {SQL_URL_CANON_CTES}
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY canonical_url
"""


QUERIES: QueryRegistry = {
    "url_canonical_dedup": Query(
        url_canonical_dedup,
        URL_CANONICAL_ORACLE,
        "canonical-URL dedup keys (CC-style normalization: fold "
        "scheme/host case, www, userinfo, scheme-paired default ports, "
        "fragments, tracking params; sort the query) — variant groups "
        "+ keep-MIN survivor",
    ),
    "dsir_weighted_resample": Query(
        dsir_weighted_resample,
        None,
        "DSIR importance RESAMPLING: A-ES weighted sampling without "
        "replacement over exp(log weight) — the paper's stochastic "
        "selection (rows-only; exacthash twin: dsir_importance_selection)",
    ),
    "dsir_importance_selection": Query(
        dsir_importance_selection,
        DSIR_ORACLE,
        "DSIR importance selection (Xie et al. 2023): hashed uni+bigram "
        "log-ratio weights vs the English target slice, exact-decimal "
        "per-doc sums, deterministic top-150 selection",
    ),
    "hashed_linear_quality_score": Query(
        hashed_linear_quality_score,
        CLS_ORACLE,
        "hashing-trick linear classifier gate (md5 buckets, broadcast "
        "weights, exact-decimal logit) — the model-scored quality "
        "filter plumbing",
    ),
    "url_filter_profile": Query(
        url_filter_profile, URL_FILTER_ORACLE,
        "URL/domain blocklist gate: extract, resolve domains, count + "
        "scrub blocklisted URLs — generated scrub regex, full clean "
        "text hash-checked",
    ),
    "encoding_repair_profile": Query(
        encoding_repair_profile,
        ENCODING_REPAIR_ORACLE,
        "mojibake repair: double-encoded UTF-8 / cp1252 artifacts undone, "
        "smart punctuation normalized, nbsp collapsed — full repaired "
        "text hash-checked over a computed-pair-table fixture",
    ),
    "duplicated_span_removal": Query(
        duplicated_span_removal,
        SPAN_REMOVAL_ORACLE,
        "ExactSubstr duplicated-span removal (Lee et al. 2022): corpus "
        "5-gram windows -> overlap-merged spans -> cleaned text",
    ),
    "document_gram_exposure": Query(
        document_gram_exposure,
        GRAM_EXPOSURE_ORACLE,
        "pair-free cross-document duplicated-gram exposure per doc "
        "(RefinedWeb-style corpus-duplication gate)",
    ),
    "gopher_repetition_gates": Query(
        gopher_repetition_gates,
        GOPHER_ORACLE,
        "Gopher A1.1 repetition/quality gates (occurrence-fraction variant)",
    ),
    "tfidf_top_terms": Query(
        tfidf_top_terms,
        TFIDF_ORACLE,
        "top-3 TF-IDF terms per document (smoothed idf, total-ordered ranks)",
    ),
    "bigram_novelty_profile": Query(
        bigram_novelty_profile,
        NOVELTY_ORACLE,
        "CCNet-style corpus-LM familiarity gate (integer-exact bigram counts)",
    ),
    "bigram_perplexity_profile": Query(
        bigram_perplexity_profile,
        PERPLEXITY_ORACLE,
        "add-k bigram perplexity vs self-trained corpus model — converted "
        "in place r9: 12dp-quantized log-probs agree across engines on "
        "every fixture quotient (measured), exact decimal sums, one final "
        "division + pow",
    ),
    "pmi_collocations_top": Query(
        pmi_collocations_top,
        PMI_ORACLE,
        "top-20 PMI collocations via the libm-free ratio (log is "
        "monotone, so ratio rank == PMI rank)",
    ),
    "source_diversity_profile": Query(
        source_diversity_profile,
        DIVERSITY_ORACLE,
        "per-source Gini-Simpson lexical diversity (libm-free entropy "
        "twin) for spotting template-flooded sources in a training mix",
    ),
}
