"""Distributed prefix sum + training-sequence packing.

LLM pre-training consumes documents as fixed-length token sequences:
concatenate the corpus in a deterministic order, then split every
``budget`` tokens (the standard "concat-and-chunk" packing; GPT-style
pipelines and t5x/seqio do exactly this). The per-document question —
which sequence does my first token land in, at what offset — is a global
running total of token counts, i.e. a prefix sum over a total order.

The naive Spark spelling, ``SUM(x) OVER (ORDER BY k)`` with no partition,
funnels the whole table through ONE task (the same scale-killer guarded
in ops/keys.py). :func:`prefix_sum` is the scalable shape — the classic
two-level scan:

1. bucket rows by ORDER-RESPECTING ranges of the (unique) order column,
   computed from its min/max (2 driver scalars);
2. cumulative sum WITHIN each bucket (window partitioned by bucket — many
   parallel, bucket-sized tasks);
3. one bucket-totals aggregate (``PREFIX_SUM_BUCKETS`` rows, collected — bounded
   by construction), exclusive-scanned on the driver and broadcast-joined
   back as each bucket's starting offset.

Cost: one narrow bucket projection, one window shuffle on bucket id, one
tiny aggregate + broadcast join. No single-task stage anywhere; 100 TB
needs only ``PREFIX_SUM_BUCKETS`` sized so buckets fit an executor.

The result is partitioning-independent (a prefix sum over a unique total
order is a pure function of the data), so it oracle-checks against the
single-threaded SQL window formulation exactly.

The reference has no packing/prefix operator; this is part of the
beyond-reference LLM-data layer (driver brief: training-data pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_spark.session import local_df


#: prefix_sum's range buckets: one driver-side offset per bucket, one
#: window partition each.
PREFIX_SUM_BUCKETS = 64
#: Tokens per packed training sequence; the registry's DuckDB twin reads it.
SEQ_TOKENS = 512


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumulative",
) -> DataFrame:
    """Add ``out_col`` = inclusive running total of ``value_col`` over the
    total order given by ``order_col``.

    Requirements: ``order_col`` values are UNIQUE (a total order — ties
    would make "the running total at this row" ill-defined) and numeric;
    ``value_col`` is integral (summed exactly as BIGINT — float prefix
    sums are evaluation-order-dependent and belong nowhere near an
    oracle-checked plan).
    """
    bounds = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = (hi - lo) // PREFIX_SUM_BUCKETS + 1

    val = F.col(value_col).cast("bigint")
    bucketed = df.withColumn(
        "__bucket", ((F.col(order_col) - F.lit(lo)) / F.lit(span)).cast("bigint")
    )

    # per-bucket totals -> driver exclusive scan -> broadcast offsets
    totals = (
        bucketed.groupBy("__bucket")
        .agg(F.sum(val).alias("__total"))
        .collect()
    )
    offsets, running = [], 0
    for row in sorted(totals, key=lambda r: r["__bucket"]):
        offsets.append((int(row["__bucket"]), running))
        running += int(row["__total"])
    spark = df.sparkSession
    offset_df = F.broadcast(
        local_df(spark, offsets, {"__bucket": "BIGINT", "__offset": "BIGINT"})
    )

    within = Window.partitionBy("__bucket").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.join(offset_df, "__bucket")
        .withColumn(out_col, F.sum(val).over(within) + F.col("__offset"))
        .drop("__bucket", "__offset")
    )


def sequence_pack(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """Greedy concat-and-chunk packing: documents are concatenated in
    ``id_col`` order and split every ``SEQ_TOKENS`` tokens. Emits, per doc:

    - ``global_offset`` — index of the doc's first token in the corpus
      token stream (exclusive prefix sum of ``token_col``);
    - ``seq_id`` — training sequence holding that first token;
    - ``seq_offset`` — position within that sequence;
    - ``spans_boundary`` — true when the doc crosses a sequence boundary
      (its tokens land in more than one training sequence).

    Zero-token docs attach to the sequence at their offset and never span.
    """
    cum = prefix_sum(df, id_col, token_col, "__cum")
    tokens = F.col(token_col).cast("bigint")
    start = F.col("__cum") - tokens
    # BIGINT `div`, not `/`: a corpus past 2^53 tokens would round in double
    return (
        cum.withColumn("global_offset", start)
        # last token's index; an empty doc has none, pin it to start
        .withColumn("__last", F.greatest(F.col("__cum") - F.lit(1), start))
        .withColumn("seq_id", F.expr(f"global_offset div {SEQ_TOKENS}"))
        .withColumn("seq_offset", F.pmod(F.col("global_offset"), F.lit(SEQ_TOKENS)))
        .withColumn(
            "spans_boundary", F.expr(f"__last div {SEQ_TOKENS}") > F.col("seq_id")
        )
        .drop("__cum", "__last")
    )
