"""Line-level (CCNet-style) exact deduplication.

CCNet (Wenzek et al., LREC 2020) removes the boilerplate that survives
document-level dedup — cookie banners, nav menus, copyright footers — by
hashing each line/paragraph and dropping the ones whose hash repeats
across the corpus. The reference has no counterpart (its dedup is
whole-row keep-first/last, SURVEY.md §2.6); this is the finer-grained
tier between exact whole-document dedup (ops/lsh.exact_dedup) and
near-dup MinHash (ops/lsh.minhash_near_dup_pairs).

Scale shape (100 TB): lines explode to rows; the per-line-hash document
count is a codegen hash aggregate with map-side partial aggregation, so
the mega-duplicated boilerplate lines (the whole point of the operator)
collapse to one row per partition BEFORE the shuffle — the hot hash never
concentrates rows on one reducer. The count join back is an ordinary
equi-join on the hash (counts side is one row per distinct line; AQE
splits any skewed probe partitions), and the final per-document rollup
shuffles on the document id, which is near-unique by construction. No
cartesian products, no windows over unbounded groups, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _exploded_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    with_pos: bool,
) -> DataFrame:
    """One non-empty row per line (``sep`` is a Java regex, F.split)."""
    parts = F.split(F.col(text_col), sep)
    if with_pos:
        ex = docs.select(
            F.col(id_col), F.posexplode(parts).alias("__pos", "__line")
        )
    else:
        ex = docs.select(F.col(id_col), F.explode(parts).alias("__line"))
    return ex.filter(F.col("__line") != "")


def _line_doc_counts(hashed: DataFrame, id_col: str) -> DataFrame:
    """Distinct-document count per line hash (partial-agg friendly)."""
    return hashed.groupBy("__lh").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )


def line_dup_profile(
    docs: DataFrame,
) -> DataFrame:
    """Per-document duplicated-line profile.

    Returns ``(doc_id, n_lines, n_dup_lines, dup_line_frac)`` where a line
    is "duplicated" when its md5 appears in at least 2 distinct
    documents (md5 so a SQL oracle reproduces the decision bit-for-bit).
    Empty lines are ignored; a document with no non-empty lines still
    gets a row (zeros, frac 0.0) so downstream gates that join the
    profile never silently lose it. This is the measurement half of
    CCNet's gate.
    """
    hashed = _exploded_lines(docs, "doc_id", "text", "\n", with_pos=False).select(
        "doc_id", F.md5(F.col("__line")).alias("__lh")
    )
    joined = hashed.join(_line_doc_counts(hashed, "doc_id"), "__lh")
    dup: Column = F.sum(
        F.when(F.col("__n_docs") >= 2, 1).otherwise(0)
    ).cast("long")
    stats = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"), dup.alias("n_dup_lines")
    )
    return docs.select("doc_id").join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_dup_lines", F.lit(0)).alias("n_dup_lines"),
        F.when(
            F.coalesce("n_lines", F.lit(0)) > 0,
            F.round(F.col("n_dup_lines") / F.col("n_lines"), 6),
        )
        .otherwise(0.0)
        .alias("dup_line_frac"),
    )


def c4_page_profile(
    docs: DataFrame,
) -> DataFrame:
    """The C4 cleaning gates (Raffel et al. 2020 JMLR §2.2 — the rules
    behind the "Colossal Clean Crawled Corpus", public knowledge),
    line-level + page-level in one pass:

    - keep only lines ENDING in a terminal punctuation mark (. ! ? ");
    - keep only lines with at least 5 words;
    - drop any line containing the word "javascript" (the cookie/JS
      warning boilerplate rule);
    - drop the whole PAGE if it contains "lorem ipsum" or a curly
      brace ``{`` (placeholder text / leaked code), or if fewer than
      3 sentences survive line filtering.

    Sentence counting: terminal marks ``[.!?]`` in KEPT lines (C4's
    reference implementation splits with an NLTK sentence tokenizer;
    that dependency is absent here, and the terminal-mark count is the
    deterministic, engine-mirrorable approximation — documented
    contract, exercised by the planted fixture). The dirty-word page
    rule (the LDNOOBW list) is the caller's hook: pre-filter ``docs``
    with any blocklist gate (ops/text.blocked_url_pattern is the
    pattern) — shipping a profanity list adds nothing to the engine.

    Surface: ``(id, n_lines, n_kept_lines, n_sentences, page_kept,
    clean_text)`` — clean_text is the kept lines re-joined in original
    order for kept pages, NULL for dropped pages. Pure integer/string
    algebra: no float anywhere, so the oracle is exact by construction.

    Plan: posexplode lines -> per-line codegen predicates (rlike, token
    count, contains — all JVM-side; the per-element heavy work is in
    the exploded projection, NEVER an interpreted array lambda) -> ONE
    groupBy(id) collecting counts + the kept (pos, line) structs ->
    sort_array reassembly (per-doc, bounded by page size) -> page
    verdict joined back to the doc spine so line-less docs still
    surface. One corpus shuffle (the doc rollup).
    """
    lines = _exploded_lines(docs, "doc_id", "text", r"\n", with_pos=True)
    from dynamic_etl_spark.ops.text import token_count

    line = F.col("__line")
    kept = (
        line.rlike(r'[.!?"]$')
        & (token_count(line) >= 5)
        & ~F.lower(line).contains("javascript")
    )
    per_line = lines.select(
        F.col("doc_id"),
        "__pos",
        "__line",
        kept.alias("__keep"),
        F.when(kept, F.regexp_count(line, F.lit(r"[.!?]"))).otherwise(F.lit(0)).alias(
            "__sent"
        ),
    )
    rolled = per_line.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__keep").cast("int")).alias("n_kept_lines"),
        F.sum("__sent").alias("__n_sent"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("__keep"), F.struct("__pos", "__line"))
            )
        ).alias("__kept"),
    )
    page_bad = F.lower(F.col("text")).contains("lorem ipsum") | F.col("text").contains("{")
    spine = docs.select(F.col("doc_id"), page_bad.alias("__bad"))
    out = spine.join(rolled, on="doc_id", how="left")
    n_sent = F.coalesce(F.col("__n_sent"), F.lit(0)).cast("bigint")
    page_kept = ~F.col("__bad") & (n_sent >= 3)
    clean = F.array_join(
        F.transform(F.col("__kept"), lambda s: s["__line"]), "\n"
    )
    return out.select(
        F.col("doc_id"),
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce(F.col("n_kept_lines"), F.lit(0)).cast("bigint").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        page_kept.alias("page_kept"),
        F.when(page_kept & (F.col("n_kept_lines") > 0), clean).alias("clean_text"),
    )
