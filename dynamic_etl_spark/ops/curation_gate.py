"""The curation admission gate: exact -> lexical -> semantic -> DSIR
quality admission of one batch against persistent per-tier stores.

This is the single tier composition behind both maintained curation
surfaces: the registry's composed-gate queries
(registry/curation._run_curation_gate) and the streaming curation sink
(streaming/sink.run_streaming_curation). Both only prepare the batch,
hold the stores and commit what the gate returns. The reference has no
document layer; its incremental-load-then-merge cycle
(scripts2/load_fact_sales_dw.py:299-416, merge only incoming rows) is
the shape: a batch is admitted against state, never by re-running the
corpus.

Each tier applies the shared admission rule (ops/graph.admit_batch):
reject on any store hit, keep the MIN id of every within-batch
duplicate group. The tier survivor sets are strictly nested (batch ⊇
s1 ⊇ s2 ⊇ s3 [⊇ final]), so "first tier that dropped the doc" is the
MAX tier the doc reached: one tagged union + groupBy instead of one
flag join per tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curation_gate(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    text_col: str,
    vec_col: str | None = None,
    fp_set: DataFrame | None = None,
    lex_store: DataFrame | None = None,
    centers=None,
    sem_store: DataFrame | None = None,
    dsir_ratios: DataFrame | None = None,
    dsir_min_log_weight=None,
    hash_mode: str = "xxhash",
) -> dict:
    """Admit ``batch`` (``id_col``, ``text_col`` and, when ``vec_col``
    is set, a NULLABLE embedding column) against the corpus stores.

    A tier runs exactly when its store is passed:

    1. exact — ``fp_set``: the distinct ``__fp`` fingerprints
       (ops/text.fingerprint_md5) of the corpus;
    2. lexical — ``lex_store``: the banded MinHash signature store
       (ops/lsh.incremental_near_dup_merge; ``corpus`` is scanned only
       to verify candidate pairs);
    3. semantic — ``centers`` + ``sem_store``: the frozen centroid fit
       and assigned embedding store (ops/ann.incremental_semantic_merge).
       Survivors with a NULL embedding pass through;
    4. quality — ``dsir_ratios``: the frozen DSIR ratio table; survivors
       pass iff their exact-decimal log weight clears
       ``dsir_min_log_weight`` (ops/quality.dsir_gate). DSIR keeps no
       per-doc store.

    Returns ``{"admitted": (id) rows of the final admitted set,
    "attribution": (id, admitted, rejected_by) one row per batch doc,
    rejected_by in {exact, lexical, semantic, [quality,] none},
    "fp_delta" / "lex_delta" / "sem_delta": the store rows of the FINAL
    admitted docs (None for a tier that did not run)}``. Deltas are
    filtered to the final set, not to their tier's survivors: a doc a
    later tier rejects must leave nothing behind, or the phantom entry
    would reject future legitimate batches against a doc absent from
    the corpus. The tier survivor sets, the final one included, are
    localCheckpointed because several consumers read each; everything
    else is lazy.
    """
    from dynamic_etl_spark.ops.ann import incremental_semantic_merge
    from dynamic_etl_spark.ops.lsh import incremental_near_dup_merge
    from dynamic_etl_spark.ops.quality import dsir_gate
    from dynamic_etl_spark.ops.text import fingerprint_md5

    fp_rows = batch.select(
        F.col(id_col), fingerprint_md5(F.col(text_col)).alias("__fp")
    )
    s1, fp_delta = batch, None
    if fp_set is not None:
        keep1 = (
            fp_rows.join(fp_set, "__fp", "left_anti")
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        s1 = batch.join(keep1, id_col, "leftsemi").localCheckpoint()
        fp_delta = fp_rows

    s2, lex_delta = s1, None
    if lex_store is not None:
        out2 = incremental_near_dup_merge(
            corpus, s1, id_col, text_col, existing_banded=lex_store, hash_mode=hash_mode
        )
        s2 = out2["accepted"].localCheckpoint()
        lex_delta = out2["new_banded"]

    s3, sem_delta = s2.select(id_col), None
    if vec_col is not None and centers is not None and sem_store is not None:
        # with both stores passed the merge never fits: its corpus side,
        # cell count and seed go unread
        embedded = F.col(vec_col).isNotNull()
        out3 = incremental_semantic_merge(
            corpus, s2.filter(embedded).select(id_col, vec_col),
            id_col, vec_col, centers=centers, existing_assigned=sem_store,
        )
        s3 = out3["accepted"].select(id_col).unionByName(
            s2.filter(~embedded).select(id_col)
        )
        sem_delta = out3["new_assigned"]

    tiers, labels = [batch, s1, s2], ["exact", "lexical", "semantic"]
    admitted = s3
    if dsir_ratios is not None:
        # two consumers of the tier-3 survivor set (the DSIR scoring
        # input and the attribution spine) — checkpoint the seam
        s3 = batch.join(s3, id_col, "leftsemi").localCheckpoint()
        admitted = (
            dsir_gate(
                s3, dsir_ratios, id_col=id_col, text_col=text_col,
                min_log_weight=dsir_min_log_weight,
            )
            .filter(F.col("passes"))
            .select(id_col)
        )
        tiers.append(s3)
        labels.append("quality")
    # the final set feeds the attribution spine, the corpus append and
    # every store delta
    admitted = admitted.localCheckpoint()
    tiers.append(admitted)
    labels.append("none")

    spine = tiers[0].select(id_col, F.lit(0).alias("__tier"))
    for i, frame in enumerate(tiers[1:], start=1):
        spine = spine.unionByName(frame.select(id_col, F.lit(i).alias("__tier")))
    top = len(tiers) - 1
    reached = F.col("__tier")
    label = F.lit(labels[0])
    for i in range(1, top + 1):
        label = F.when(reached == i, F.lit(labels[i])).otherwise(label)
    attribution = (
        spine.groupBy(id_col)
        .agg(F.max("__tier").alias("__tier"))
        .select(id_col, (reached == top).alias("admitted"), label.alias("rejected_by"))
    )

    def final(delta: DataFrame | None) -> DataFrame | None:
        return None if delta is None else delta.join(admitted, id_col, "leftsemi")

    return {
        "admitted": admitted,
        "attribution": attribution,
        "fp_delta": final(fp_delta),
        "lex_delta": final(lex_delta),
        "sem_delta": final(sem_delta),
    }
