"""Benchmark decontamination: flag corpus documents that overlap an
evaluation set's n-grams (train/test contamination is the classic failure
mode of web-scale training corpora; the standard defence is n-gram
overlap against the benchmark suite).

100 TB design: the benchmark side is an eval set — thousands of documents
against a 100 TB corpus — so its distinct-gram set is tiny and is
BROADCAST. Corpus grams are exploded map-side and matched against the
broadcast set with a left join that never shuffles the corpus; the single
shuffle is the per-document aggregate, which partial-combines map-side.
A corpus-vs-benchmark join on raw text or a gram-to-gram shuffle join
would both be 1000x more expensive at scale — deliberately avoided.

Beyond the reference surface — part of the LLM-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dynamic_etl_spark.ops.lsh import word_shingles

#: Word-gram length of the overlap test, and the shared grams that flag
#: a document; the registry's DuckDB twin reads both.
DECONTAM_K, DECONTAM_MIN_SHARED = 5, 5


def benchmark_gram_set(benchmark: DataFrame) -> DataFrame:
    """Distinct word k-grams across the whole benchmark set (column ``g``)."""
    return benchmark.select(
        F.explode(word_shingles(F.col("text"), DECONTAM_K)).alias("g")
    ).distinct()


def contamination_profile(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-corpus-document overlap with the benchmark gram set.

    Returns (id_col, n_grams, n_shared_grams, contamination_ratio,
    is_contaminated). ``n_grams`` counts the document's DISTINCT k-grams
    (word_shingles is set-semantics), so the ratio is the fraction of the
    document's distinct grams that appear anywhere in the benchmark.
    Empty documents still surface one row (their single empty gram).
    """
    bench = benchmark_gram_set(benchmark)
    grams = corpus.select(
        F.col("doc_id"), F.explode(word_shingles(F.col("text"), DECONTAM_K)).alias("g")
    )
    marked = grams.join(
        F.broadcast(bench.withColumn("__hit", F.lit(1))), "g", "left"
    )
    prof = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_shared_grams"),  # count skips the null misses
    )
    return prof.select(
        F.col("doc_id"),
        F.col("n_grams"),
        F.col("n_shared_grams"),
        F.round(
            F.col("n_shared_grams").cast("double") / F.col("n_grams"), 6
        ).alias("contamination_ratio"),
        (F.col("n_shared_grams") >= DECONTAM_MIN_SHARED)
        .cast("int")
        .alias("is_contaminated"),
    )


def _signed64(v: int) -> int:
    return v if v < (1 << 63) else v - (1 << 64)


#: contamination_profile_bloom's filter: bit count (a multiple of 64;
#: 1<<20 bits = 16 KB broadcast) and hash positions per gram.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5


def bloom_words(grams: DataFrame, m_bits: int, k_hashes: int) -> list[int]:
    """Driver-side bloom bit array (``m_bits / 64`` longs) over the gram
    column ``g``: position ``i`` of gram g is ``pmod(xxhash64(i, g), m)``.
    The build is one distributed pass (explode k positions, groupBy word
    index, bit_or) and collects only the ~``m/64``-word array — a
    bounded, parameter-sized artifact (1<<20 bits = 16 KB), not
    data-scaled; this is the broadcast build side, the same collect class
    as a mini-dim."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    pos = grams.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.col("g")), F.lit(m_bits))
                    for i in range(k_hashes)
                ]
            )
        ).alias("p")
    )
    # variable-amount shifts aren't literal-friendly in the DataFrame API:
    # the per-bit mask comes from a 64-long literal lookup array instead
    masks = F.array(*[F.lit(_signed64(1 << b)) for b in range(64)])
    rows = (
        pos.select(
            F.floor(F.col("p") / 64).cast("int").alias("w"),
            F.element_at(masks, F.pmod(F.col("p"), 64).cast("int") + 1).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def _bloom_hit(g, words_col, m_bits: int, k_hashes: int):
    """All-k-bits-set membership test as a pure codegen expression.
    Variable-amount bit shifts aren't literal-friendly in the DataFrame
    API, so the per-bit mask comes from a 64-long literal lookup array."""
    masks = F.array(*[F.lit(_signed64(1 << b)) for b in range(64)])
    test = F.lit(True)
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(F.lit(i), g), F.lit(m_bits))
        w = F.floor(p / 64).cast("int")
        b = F.pmod(p, 64).cast("int")
        bit = F.element_at(words_col, w + 1).bitwiseAND(F.element_at(masks, b + 1))
        test = test & (bit != 0)
    return test


def contamination_profile_bloom(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """contamination_profile's scale path for a benchmark too large to
    broadcast as exact strings (a full eval SUITE, or corpus-vs-corpus
    decontamination): broadcast a BLOOM FILTER of the benchmark grams
    (16 KB at ``BLOOM_BITS`` = 1<<20 bits vs megabytes of strings), prefilter
    corpus grams map-side — no shuffle touches the corpus — and
    exact-verify only the bloom survivors with a semi join against the
    true gram set. Bloom false positives make the prefilter conservative
    (a candidate that isn't real), never the reverse, and the verify
    removes them — the output EQUALS contamination_profile's exactly
    (pinned by pytest), the plan just moves ~(1 - fp_rate) of the gram
    volume out of the join.

    Scale shape: one pass to build the bloom (collects m/64 longs), one
    map-side filtered pass over corpus grams, a semi join that only the
    candidate slice enters (shuffle on gram ONLY for candidates — at a
    sane fp rate that's ~the true-hit volume), plus a second corpus scan
    for the per-doc totals. Two corpus SCANS, zero corpus SHUFFLES —
    the alternative once the benchmark outgrows a string broadcast is a
    gram-keyed shuffle join moving the ENTIRE corpus gram volume, which
    is the 1000x-at-scale cost this path exists to avoid.
    """
    bench = benchmark_gram_set(benchmark)
    m_bits, k_hashes = BLOOM_BITS, BLOOM_HASHES
    words = bloom_words(bench, m_bits, k_hashes)
    spark = corpus.sparkSession
    bloom_row = F.broadcast(
        spark.createDataFrame([(words,)], "__bloom: array<bigint>")
    )
    grams = corpus.select(
        F.col("doc_id"), F.explode(word_shingles(F.col("text"), DECONTAM_K)).alias("g")
    )
    flagged = grams.join(bloom_row).withColumn(
        "__cand", _bloom_hit(F.col("g"), F.col("__bloom"), m_bits, k_hashes)
    )
    cand = flagged.filter(F.col("__cand")).select("doc_id", "g")
    hits = cand.join(bench, "g", "left_semi")
    totals = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared_grams"))
    return (
        totals.join(shared, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.col("n_grams"),
            F.coalesce(F.col("n_shared_grams"), F.lit(0)).alias("n_shared_grams"),
            F.round(
                F.coalesce(F.col("n_shared_grams"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("contamination_ratio"),
            (F.coalesce(F.col("n_shared_grams"), F.lit(0)) >= DECONTAM_MIN_SHARED)
            .cast("int")
            .alias("is_contaminated"),
        )
    )
