"""Streaming MERGE sink: the reference's incremental-load-then-MERGE
cycle (scripts2/load_fact_sales_dw.py:65-77 one file per run, 299-416
MERGE into the warehouse table) as a single Structured Streaming query.

``foreachBatch`` is Spark's blessed escape hatch for sinks that need
batch-only operations (here: a full-outer MERGE rewrite + atomic table
swap) — each micro-batch arrives exactly-once as a batch DataFrame
together with a ``batch_id`` the checkpoint tracks, so a crashed batch
is re-delivered with the same id and the sink stays idempotent as long
as re-applying the same delta is (an SCD-1 merge is: re-merging already-
merged rows classifies NOOP).

At scale the same topology targets a Delta/Iceberg ``MERGE INTO`` in the
batch function; on plain parquet it rewrites via the staging+swap
protocol (io/sinks.write_staging_swap, crash-safe).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dynamic_etl_spark.io.versioned import (
    latest_metadata,
    latest_version,
    read_versioned,
    write_versioned,
)
from dynamic_etl_spark.ops.merge import scd1_merge_into
from dynamic_etl_spark.streaming.incremental import await_drain


def _drain(stream_df: DataFrame, apply, checkpoint_dir: str, timeout_sec: int,
           sink: str) -> StreamingQuery:
    """Run ``apply`` on every micro-batch with ``Trigger.AvailableNow``
    and block until the stream drains (the repo batch-cadence
    convention); a timeout names the ``sink``."""
    query = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_drain(query, timeout_sec, sink)


def _read_or_empty(spark, root: str, template: DataFrame) -> DataFrame:
    """The latest version of ``root``, or an empty frame shaped like
    ``template`` when nothing has been committed yet."""
    if latest_version(root) is None:
        return template.limit(0)
    return read_versioned(spark, root)


def _append(root: str, current: DataFrame, delta: DataFrame,
            metadata: dict | None = None) -> DataFrame:
    """Commit ``current ∪ delta`` as the next version of ``root``,
    failing if another writer committed since ``current`` was read; an
    empty delta commits nothing. Returns the table's new contents."""
    if delta.isEmpty():
        return current
    merged = current.unionByName(delta)
    write_versioned(
        merged, root,
        base_version=latest_version(root), expected_base=True,
        metadata=metadata,
    )
    return merged


def _heal(spark, id_col: str, specs) -> list[DataFrame]:
    """Self-heal derived stores forward from the committed docs they
    derive from. ``specs`` holds ``(store_root, docs, rows)`` triples,
    ``rows(docs)`` building a store's rows: docs missing from their
    store (the docs-committed/store-crashed window) get their rows
    recomputed and appended. The probe is an id-only anti-join,
    normally empty. Returns the post-heal stores in ``specs`` order."""
    stores = []
    for root, docs, rows in specs:
        store = _read_or_empty(spark, root, rows(docs.limit(0)))
        missing = docs.join(store.select(id_col).distinct(), id_col, "left_anti")
        stores.append(_append(root, store, rows(missing)))
    return stores


def _frozen_centers(spark, root: str, sources, id_col: str, vec_col: str):
    """The committed semantic centroid fit at ``root``, or — none yet —
    a fit on the first non-empty frame of ``sources``, committed before
    anything depends on it. None while every source is empty."""
    from dynamic_etl_spark.ops.ann import (
        centers_from_rows,
        centers_to_rows,
        fit_semantic_centers,
    )

    if latest_version(root) is not None:
        return centers_from_rows(read_versioned(spark, root))
    for src in sources:
        if not src.isEmpty():
            centers = fit_semantic_centers(src, id_col, vec_col)
            write_versioned(centers_to_rows(spark, centers), root)
            return centers
    return None


def _nonzero_norm(vec_col: str):
    """True where the embedding has a non-zero norm: a zero vector can
    never match anything, so no replay could re-reject it."""
    from dynamic_etl_spark.ops.ann import as_double_vec

    return F.aggregate(
        as_double_vec(F.col(vec_col)), F.lit(0.0), lambda acc, x: acc + x * x
    ) > 0.0


def run_streaming_merge(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    *,
    natural_key: Sequence[str],
    surrogate_col: str,
    tolerance_cols: Sequence[str],
) -> StreamingQuery:
    """Continuously upsert a parquet table from a stream of change rows:
    every non-empty micro-batch is one :func:`ops.merge.scd1_merge_into`
    of ``table_path`` (its parameters pass through; a micro-batch that
    repeats a natural key is refused, as that merge refuses it). Drains with
    ``Trigger.AvailableNow`` and blocks, matching the repo's
    batch-cadence convention; remove the trigger for a continuous
    deployment.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            scd1_merge_into(
                table_path, batch_df, natural_key, surrogate_col,
                tolerance_cols=tolerance_cols,
            )

    return _drain(stream_df, _apply, checkpoint_dir, 120, "merge")


def run_streaming_dedup(
    stream_df: DataFrame,
    corpus_root: str,
    store_root: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
) -> StreamingQuery:
    """Continuously admit a document stream into a deduplicated corpus:
    each micro-batch runs ``ops/lsh.incremental_near_dup_merge`` against
    the versioned corpus + MinHash signature store and commits both
    deltas as new table versions (io/versioned) — the streaming form of
    the daily-ingest pipeline in tests/test_corpus_ingestion.py.

    Crash consistency across TWO tables: the corpus version commits
    first, the store second, and every batch starts by SELF-HEALING the
    store (:func:`_heal`) — corpus docs missing from the store (the
    corpus-committed/store-crashed window, including a crash before the
    bootstrap's first store commit) get their signatures recomputed and
    appended. Combined with checkpoint redelivery this makes the sink
    idempotent: a replayed batch finds its docs already in the healed
    store and rejects them all, so the corpus never holds a doc twice.

    Bootstraps an absent corpus from the first batch (admission against
    an empty corpus still deduplicates WITHIN the batch). Drains with
    ``Trigger.AvailableNow`` and blocks, per the repo batch-cadence
    convention.
    """
    from dynamic_etl_spark.ops.lsh import incremental_near_dup_merge, minhash_banded_rows
    from dynamic_etl_spark.ops.text import tokens

    spark = stream_df.sparkSession

    def _sigs(docs: DataFrame) -> DataFrame:
        return minhash_banded_rows(docs, id_col, text_col)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # zero-token docs can never collide (no shingles -> no signature
        # rows), so admitting them would break BOTH invariants this sink
        # maintains: every corpus doc has store signatures (the heal
        # probe would find them "unhealed" forever) and replayed batches
        # re-reject their docs (an unsignatured doc re-admits, duplicating
        # ids). A text-dedup corpus has no use for empty text: drop them.
        batch_df = batch_df.select(id_col, text_col).filter(
            F.size(tokens(F.col(text_col))) > 0
        )
        if batch_df.isEmpty():
            return
        corpus = _read_or_empty(spark, corpus_root, batch_df)
        (store,) = _heal(spark, id_col, [(store_root, corpus, _sigs)])
        out = incremental_near_dup_merge(
            corpus, batch_df, id_col, text_col, existing_banded=store
        )
        _append(corpus_root, corpus, out["accepted"])
        _append(store_root, store, out["new_banded"])

    return _drain(stream_df, _apply, checkpoint_dir, 240, "dedup")


def run_streaming_semantic_dedup(
    stream_df: DataFrame,
    corpus_root: str,
    store_root: str,
    centers_root: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    vec_col: str,
) -> StreamingQuery:
    """Continuously admit an EMBEDDED document stream into a
    semantically-deduplicated corpus — the SemDeDup sibling of
    :func:`run_streaming_dedup`. Each micro-batch runs
    ``ops/ann.incremental_semantic_merge`` against the versioned corpus
    + embedding store under the FROZEN centroid fit and commits the
    deltas as new table versions (io/versioned).

    State is THREE tables, committed in dependency order so every crash
    window heals forward:
    - ``centers_root`` (cell, center): fitted ONCE — on the committed
      corpus if it has rows, else on the bootstrap batch — and never
      rewritten (:func:`_frozen_centers`); the frozen fit is what makes
      admission independent of arrival order. Committed FIRST, so a
      centers-committed/corpus-crashed window re-bootstraps under the
      already-committed fit, and a corpus seeded outside the sink
      refits deterministically from the committed corpus.
    - ``corpus_root``: the admitted documents. Committed second.
    - ``store_root`` (id, vec, cell): the admission probe target.
      Committed last; every batch starts by SELF-HEALING it — corpus
      docs missing from the store get re-assigned under the frozen fit
      and appended (the corpus-committed/store-crashed window).

    Combined with checkpoint redelivery this makes the sink idempotent:
    a replayed batch finds its docs already in the healed store under
    their own ids at cosine exactly 1.0 (self-pairs are not excluded)
    and rejects them all, so the corpus never holds a doc twice.
    Zero-norm vectors can never match anything (no self-hit on replay)
    and would re-admit forever — dropped at the boundary, the semantic
    analogue of the lexical sink's zero-token drop.

    Drains with ``Trigger.AvailableNow`` and blocks, per the repo
    batch-cadence convention.
    """
    from dynamic_etl_spark.ops.ann import incremental_semantic_merge, semantic_store_rows

    spark = stream_df.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.select(id_col, vec_col).filter(_nonzero_norm(vec_col))
        if batch_df.isEmpty():
            return
        corpus = _read_or_empty(spark, corpus_root, batch_df)
        centers = _frozen_centers(spark, centers_root, (corpus, batch_df), id_col, vec_col)
        (store,) = _heal(spark, id_col, [(
            store_root, corpus,
            lambda docs: semantic_store_rows(docs, id_col, vec_col, centers),
        )])
        out = incremental_semantic_merge(
            corpus, batch_df, id_col, vec_col, centers=centers, existing_assigned=store
        )
        _append(corpus_root, corpus, out["accepted"])
        _append(store_root, store, out["new_assigned"])

    return _drain(stream_df, _apply, checkpoint_dir, 240, "semantic dedup")


def run_streaming_curation(
    stream_df: DataFrame,
    corpus_root: str,
    fp_root: str,
    lex_root: str,
    sem_root: str,
    centers_root: str,
    ledger_root: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    vec_col: str,
) -> StreamingQuery:
    """The curation admission gate on a stream: each micro-batch runs
    ops/curation_gate.curation_gate — exact-fingerprint, banded-MinHash
    lexical and SemDeDup semantic admission; the tier composition of
    registry/curation's three-tier gate — against persistent versioned
    stores, and appends the per-doc tier attribution to a ledger table.
    This sink owns only the boundary drops, the frozen fits, the commit
    order and crash recovery.

    The semantic centroid fit at ``centers_root`` is frozen: fitted
    ONCE, on the first embedded docs seen — the committed corpus if it
    has any, else the batch, so a replayed bootstrap refits on the same
    rows — and committed before anything depends on it
    (:func:`_frozen_centers`).

    Per batch the commit order is:

    1. ``ledger_root`` — (id, admitted, rejected_by, batch_id) rows,
       the batch's attribution, with ``batch_id`` in the commit
       metadata. The transactional pivot: committed FIRST, so every
       later crash window can finish deterministically from it.
    2. ``corpus_root`` — the admitted documents (text + optional
       embedding).
    3. ``fp_root`` / ``lex_root`` / ``sem_root`` — the exact
       fingerprint set, banded signature store, and assigned embedding
       store; each delta is the gate's, filtered to the final admitted
       set.

    Crash recovery, window by window:
    - before the ledger commit: checkpoint redelivery recomputes the
      whole batch against unchanged state — identical result (store
      heals only materialize rows already implied by the corpus).
    - after the ledger, before/among the state commits: the replayed
      batch finds its ``batch_id`` at-or-below the ledger metadata,
      derives the admitted set FROM THE LEDGER (no recompute — so
      attribution can never flip to 'exact' the way a
      recompute-on-replay would report it), re-appends any admitted
      docs the corpus lost, and heals the stores forward.
    - corpus committed outside the sink / store crashed: every batch
      starts by self-healing all three stores from the corpus
      (:func:`_heal`).

    Boundary drops mirror the single-tier sinks: zero-token docs are
    dropped (no lexical signature is possible; an empty-text doc has no
    place in a text corpus), zero-norm embeddings are normalized to
    NULL (they can never match; the gate routes embedding-less
    survivors past the semantic tier). Replay idempotence needs no
    cosine self-hit here: every admitted doc's fingerprint is in the fp
    store, so tier 1 re-rejects replays even for docs that have no
    embedding.

    Pair ONE checkpoint with ONE state-table family for the stream's
    lifetime (the run_streaming_rollup rule): a fresh checkpoint
    renumbers batches from 0, which the ledger treats as replays. Drains
    with ``Trigger.AvailableNow`` and blocks, per the repo batch-cadence
    convention.
    """
    from dynamic_etl_spark.ops.ann import semantic_store_rows
    from dynamic_etl_spark.ops.curation_gate import curation_gate
    from dynamic_etl_spark.ops.lsh import minhash_banded_rows
    from dynamic_etl_spark.ops.text import fingerprint_md5, tokens

    spark = stream_df.sparkSession

    def _fp_rows(docs: DataFrame) -> DataFrame:
        return docs.select(
            F.col(id_col), fingerprint_md5(F.col(text_col)).alias("__fp")
        )

    def _sigs(docs: DataFrame) -> DataFrame:
        return minhash_banded_rows(docs, id_col, text_col)

    def _heal_stores(corpus: DataFrame, centers):
        """Self-heal every store against the committed corpus; returns
        the post-heal (fp, lex, sem) stores — sem is None without a
        frozen fit."""
        specs = [(fp_root, corpus, _fp_rows), (lex_root, corpus, _sigs)]
        if centers is not None:
            specs.append((
                sem_root,
                corpus.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col),
                lambda docs: semantic_store_rows(docs, id_col, vec_col, centers),
            ))
        fp_store, lex_store, *sem = _heal(spark, id_col, specs)
        return fp_store, lex_store, (sem[0] if sem else None)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = (
            batch_df.select(id_col, text_col, vec_col)
            .filter(F.size(tokens(F.col(text_col))) > 0)
            .withColumn(vec_col, F.when(_nonzero_norm(vec_col), F.col(vec_col)))
        )
        if batch_df.isEmpty():
            return
        # several tiers scan the batch; read the stream source once
        batch_df = batch_df.localCheckpoint()
        corpus = _read_or_empty(spark, corpus_root, batch_df)

        embedded = F.col(vec_col).isNotNull()
        centers = _frozen_centers(
            spark, centers_root,
            (corpus.filter(embedded), batch_df.filter(embedded)),
            id_col, vec_col,
        )

        recorded = -1
        if latest_version(ledger_root) is not None:
            recorded = latest_metadata(ledger_root).get("batch_id", -1)
        if batch_id <= recorded:
            # the ledger already decided this batch (crash after commit
            # window 1): finish the state from its attribution, never
            # recompute — then heal
            admitted = (
                read_versioned(spark, ledger_root)
                .filter((F.col("batch_id") == batch_id) & F.col("admitted"))
                .select(id_col)
            )
            lost = batch_df.join(admitted, id_col, "leftsemi").join(
                corpus.select(id_col), id_col, "left_anti"
            )
            _heal_stores(_append(corpus_root, corpus, lost), centers)
            return

        fp_store, lex_store, sem_store = _heal_stores(corpus, centers)
        out = curation_gate(
            batch_df, corpus, id_col=id_col, text_col=text_col,
            vec_col=vec_col,
            fp_set=fp_store.select("__fp").distinct(),
            lex_store=lex_store,
            centers=centers,
            sem_store=sem_store,
        )
        ledger_delta = out["attribution"].withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        # commit window 1: the attribution ledger (the pivot)
        _append(
            ledger_root, _read_or_empty(spark, ledger_root, ledger_delta),
            ledger_delta, metadata={"batch_id": batch_id},
        )
        # commit window 2: the corpus
        _append(
            corpus_root, corpus,
            batch_df.join(out["admitted"], id_col, "leftsemi"),
        )
        # commit window 3: the stores (the gate filtered every delta to
        # the FINAL admitted set)
        _append(fp_root, fp_store, out["fp_delta"])
        _append(lex_root, lex_store, out["lex_delta"])
        if sem_store is not None:
            _append(sem_root, sem_store, out["sem_delta"])

    return _drain(stream_df, _apply, checkpoint_dir, 480, "curation")


def run_streaming_rollup(
    stream_df: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    *,
    keys: Sequence[str],
    value: str,
) -> StreamingQuery:
    """Continuously MAINTAIN a per-key aggregate from a stream: each
    micro-batch aggregates alone (ops/agg.build_agg_state — delta-sized
    shuffle) and folds into the versioned state table
    (merge_agg_state), so the rollup is always current without ever
    rescanning history — the streaming form of
    incremental_rollup_maintenance.

    A state FOLD is not idempotent (re-applying a delta double-counts),
    so exactly-once does not come free from foreachBatch redelivery the
    way the dedup sink's store-rejection gave it. This sink uses the
    transactional-sink pattern (Delta txn appId/version): every commit
    records the folded ``batch_id`` in the version metadata, and a
    replayed batch at-or-below the recorded id is SKIPPED — the
    batch-id check and the state commit are one atomic record, so a
    crash between fold and commit replays cleanly (the fold's version
    was never committed) and a crash after commit skips cleanly.

    Read the current rollup any time with
    ``finalize_agg_state(read_versioned(spark, state_root))``.

    Pair ONE checkpoint with ONE state table for the stream's lifetime
    (the appId half of the Delta txn pattern): a fresh checkpoint
    renumbers batches from 0, so its deliveries are treated as replays
    and skipped until ids pass the recorded high-water. Rebuilding
    state means a fresh state_root AND a fresh checkpoint together.
    """
    from dynamic_etl_spark.ops.agg import build_agg_state, merge_agg_state

    return run_streaming_summary(
        stream_df,
        state_root,
        checkpoint_dir,
        build=lambda batch: build_agg_state(batch, list(keys), value),
        merge=merge_agg_state,
    )


def run_streaming_summary(
    stream_df: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    *,
    build,
    merge,
) -> StreamingQuery:
    """Generalized :func:`run_streaming_rollup`: continuously maintain
    ANY mergeable summary from a stream. ``build(batch_df) -> state_df``
    summarizes one micro-batch alone; ``merge(state_df, delta_df) ->
    state_df`` folds it into the stored state. Plugs the whole summary
    suite into the same exactly-once versioned-commit protocol —

        build=lambda b: build_quantile_hist_state(b, keys, v, lo, hi, nb)
        build=lambda b: build_heavy_hitter_state(b, keys, item, k)
        build=lambda b: build_reservoir_state(b, keys, item, n)
        build=lambda b: build_distinct_sketch_state(b, keys, v)
        build=lambda b: build_cm_state(b, [], item, width=w)

    — so maintained percentiles, heavy hitters, reservoirs, and distinct
    sketches all get streaming currency without history rescans.

    Exactly-once semantics are identical to run_streaming_rollup (the
    Delta txn batch-id pattern; see its docstring for the crash cases
    and the one-checkpoint-one-state-table rule).
    """
    spark = stream_df.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        current = latest_version(state_root)
        if current is not None:
            applied = latest_metadata(state_root).get("batch_id", -1)
            if batch_id <= applied:
                return  # checkpoint redelivery of an already-folded batch
        delta = build(batch_df)
        if current is None:
            write_versioned(delta, state_root, metadata={"batch_id": batch_id})
            return
        merged = merge(read_versioned(spark, state_root), delta)
        write_versioned(
            merged, state_root,
            base_version=current, expected_base=True,
            metadata={"batch_id": batch_id},
        )

    return _drain(stream_df, _apply, checkpoint_dir, 120, "summary")
