"""Exact duplicated-span detection and removal (sub-document dedup).

Re-expresses the suffix-array substring deduplication of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better", ExactSubstr)
as a native Spark plan: a word ``k``-gram occurring more than once
anywhere in the corpus (another document OR the same one) marks the
k-token window it spans as duplicated; maximal runs of OVERLAPPING
duplicated windows are the removal spans. Every maximal duplicated
substring of >= k tokens is exactly the union of its length-k windows —
each window is duplicated by construction — so window-run merging
recovers the same spans the suffix array finds at the k-token threshold,
without ever building one. The reference repo has no document layer;
this extends the engine's dedup surface beyond the whole-document
(exact / MinHash / SimHash) and line-level tiers to sub-document
granularity — the gate that whole-doc dedup structurally cannot express
(boilerplate headers, license blocks, templated paragraphs).

Scale design (SCALE.md): no suffix array, no pair join. Detection is a
corpus-linear gram count (one shuffle, map-side partials), a join back
on the gram key, and one per-document window for the interval merge
whose frame is bounded by the document's own gram count. Removal
re-assembles kept tokens with explode + codegen aggregation; covered
positions explode from the MERGED (disjoint) spans, so total explode
volume never exceeds the corpus token mass. Every stage is linear in
corpus size; per-key skew is bounded by document length (documents, not
grams, are the window key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.ops.lsh import gram_seq_pretokenized
from dynamic_etl_spark.ops.text import tokens

#: Window length in tokens of a marked span; the registry's DuckDB twins
#: read it.
SPAN_K = 5


def duplicated_span_stats(df: DataFrame) -> DataFrame:
    """Per-document duplicated-span profile + cleaned text.

    Output: (id, n_tokens, n_dup_spans, n_dup_tokens, dup_token_frac,
    cleaned_text). ``cleaned_text`` is the token-normalized document
    (lowercased, single-space joined — the same normalization every
    token statistic in this engine uses) with every duplicated span
    removed; documents shorter than ``SPAN_K`` tokens emit no windows and
    pass through untouched.

    Plan shape: grams -> global count (>=2 occurrences anywhere marks a
    window, within-document repeats included, per ExactSubstr) -> join
    back -> per-doc overlap-merge of [gpos, gpos+k-1] windows (windows
    whose starts differ by >= k do not overlap and stay separate spans)
    -> explode merged spans to covered positions -> anti-join the token
    stream -> ordered re-assembly. The merge window's orderBy is gpos,
    unique per document (total order per repo rule)."""
    base = _tokenized(df, "doc_id", "text")
    grams = _positional_grams(base, "doc_id")
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__occ"))
    dup_starts = (
        grams.join(counts.filter(F.col("__occ") >= 2), "gram")
        .select("doc_id", "gpos")
    )
    return span_stats_from_starts(base, dup_starts, id_col="doc_id")


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenize ONCE onto a checkpointed leaf (r13). The token rows have
    THREE consumers downstream (the positional-gram explode, the token-
    position explode of the reassembly, and the final profile join) that
    consume them in different shapes, so nothing lets Spark reuse one
    pass — uncheckpointed, the tokenize ran three times. The input is
    also fan-out-ensured first: tokenization + both explodes otherwise
    run inside a single-task scan stage on a one-row-group parquet
    (no-op at production split counts; per-row work is partition-
    invariant). Interleaved A/B at sf0.1, standalone op: 3.19s as-is,
    2.42s fan-only, 2.63s checkpoint-only, 2.00s both. The checkpointed
    rows are (id, tokens) — the same byte class as the input text."""
    from dynamic_etl_spark.session import ensure_fanout_parallelism

    return (
        ensure_fanout_parallelism(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .localCheckpoint()
    )


def _positional_grams(base: DataFrame, id_col: str) -> DataFrame:
    """(id, gpos, gram) for every SPAN_K-token window of every document."""
    return base.filter(F.size("__toks") >= SPAN_K).select(
        id_col,
        F.posexplode(gram_seq_pretokenized(F.col("__toks"), SPAN_K)).alias(
            "gpos", "gram"
        ),
    )


def contaminated_span_stats(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Surgical span-level decontamination: ExactSubstr's window-merge
    machinery pointed at a BENCHMARK instead of the corpus itself — any
    train k-gram occurring anywhere in the eval/benchmark text marks its
    window, overlapping windows merge into maximal spans, and the spans
    are CUT from the document. The fourth decontamination mode: exact
    n-gram drop-the-doc (ops/decontam), its bloom scale path, semantic
    drop-the-doc (ops/ann) — and this one, which keeps the document and
    removes only the leaked substring (a single quoted benchmark
    paragraph no longer costs an otherwise-clean document, the surgical
    variant used for open-corpus releases).

    Plan: the benchmark gram SET is benchmark-sized at any corpus scale,
    so it broadcasts (the ops/decontam convention); detection is one
    broadcast semi join on the gram key — the corpus never shuffles
    until the per-document interval merge, whose frame is bounded by the
    document's own gram count. Same output surface as
    :func:`duplicated_span_stats`. The benchmark side needs only its
    text column — just the distinct gram SET is kept, so no id column is
    required of it (r7 review: demanding the corpus's id_col there was a
    hidden precondition the computation never used)."""
    base = _tokenized(df, "doc_id", "text")
    bench_toks = benchmark.select(tokens(F.col("text")).alias("__toks"))
    bench_grams = (
        bench_toks.filter(F.size("__toks") >= SPAN_K)
        .select(F.explode(gram_seq_pretokenized(F.col("__toks"), SPAN_K)).alias("gram"))
        .distinct()
    )
    dup_starts = (
        _positional_grams(base, "doc_id")
        .join(F.broadcast(bench_grams), "gram", "leftsemi")
        .select("doc_id", "gpos")
    )
    return span_stats_from_starts(base, dup_starts, id_col="doc_id")


def span_stats_from_starts(
    base: DataFrame, dup_starts: DataFrame, *, id_col: str
) -> DataFrame:
    """Shared tail of the span-removal family: overlap-merge the marked
    [gpos, gpos+k-1] windows, cut covered positions, re-assemble, and
    profile — single-sourced so the duplicated-span and
    benchmark-contaminated-span operators differ ONLY in how windows get
    marked (corpus gram count >= 2 vs benchmark gram membership)."""
    # Overlap-merge: window [gpos, gpos+k-1] overlaps the previous one
    # iff gpos <= prev_gpos + k - 1. End positions are monotone in gpos,
    # so lag(gpos) suffices for the running-max-end interval merge.
    w = Window.partitionBy(id_col).orderBy("gpos")
    spans = (
        dup_starts.withColumn(
            "__brk",
            F.when(
                F.lag("gpos").over(w).isNull()
                | (F.col("gpos") > F.lag("gpos").over(w) + (SPAN_K - 1)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__island",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "__island")
        .agg(
            F.min("gpos").alias("__s"),
            (F.max("gpos") + (SPAN_K - 1)).alias("__e"),
        )
    )
    # r14 (VERDICT r13 #6): the r13 tail exploded the FULL token mass to
    # (id, pos, w) rows, anti-joined the covered positions by (id, pos),
    # and re-grouped by id — two token-mass shuffles for a cut whose
    # decisions are span-sized (guide §8: decide with small rows, attach
    # once). Now the merged spans aggregate into ONE per-doc array
    # (delta-sized — only docs with duplicated windows appear), join
    # back by id (broadcastable: span docs ≤ duplicate structure), and
    # the cut + re-assembly run as array expressions in the same map:
    # kept = array_except(sequence(0, n-1), flatten(sequence(s, e))) —
    # array_except preserves LEFT-array order, so collect_list's
    # nondeterministic span order cannot affect the output. Per-element
    # work inside the interpreted HOFs is one element_at per kept token
    # (the repo's HOF rule tolerates cheap per-element work; the heavy
    # alternative was two shuffles of every token). Stats derive from
    # the same span array, dropping the separate stats aggregation.
    span_arrays = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("__s", "__e")).alias("__spans")
    )

    n_tok = F.size("__toks").cast("long")
    has_spans = F.col("__spans").isNotNull()
    n_dup_spans = F.when(has_spans, F.size("__spans")).otherwise(F.lit(0))
    n_dup_tokens = F.when(
        has_spans,
        F.aggregate(
            "__spans",
            F.lit(0),
            lambda acc, s: acc + s["__e"] - s["__s"] + 1,
        ),
    ).otherwise(F.lit(0))
    covered = F.flatten(
        F.transform("__spans", lambda s: F.sequence(s["__s"], s["__e"]))
    )
    kept = F.array_except(F.sequence(F.lit(0), F.size("__toks") - 1), covered)
    cleaned_text = (
        F.when(F.size("__toks") == 0, F.lit(""))
        .when(~has_spans, F.array_join("__toks", " "))
        .otherwise(
            F.array_join(
                F.transform(kept, _token_at(F.col("__toks"))), " "
            )
        )
    )
    return (
        base.join(span_arrays, id_col, "left")
        .select(
            id_col,
            n_tok.alias("n_tokens"),
            n_dup_spans.cast("long").alias("n_dup_spans"),
            n_dup_tokens.cast("long").alias("n_dup_tokens"),
            F.when(n_tok == 0, F.lit(0.0))
            .otherwise(F.round(n_dup_tokens.cast("double") / n_tok, 6))
            .alias("dup_token_frac"),
            cleaned_text.alias("cleaned_text"),
        )
    )


def _token_at(toks):
    """Position -> token lookup as a closure (helper, not a lambda
    default-arg capture — the PySpark lambda trap: a 2-arg transform
    lambda receives the ELEMENT INDEX as its second argument)."""

    def look(p):
        return F.element_at(toks, p + F.lit(1))

    return look
