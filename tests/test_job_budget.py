"""Per-query Spark JOB-count budgets for the eager/iterative queries
(VERDICT r5 #7) — the sibling of tests/test_shuffle_budget.py for the
cost dimension Exchange counting cannot see.

Queries built from checkpointed batch loops (incremental near-dup
admission) or capped iterative refinement (SemDeDup k-means) spend a
fixed number of EAGER jobs per run; growth there hides in wall-time
noise but multiplies at 100 TB batch cadence. bench.py records the
measured count per round (BENCH_r05 carries "jobs"); this test pins the
budgets so an accidental extra checkpoint or un-capped iteration fails
CI rather than drifting.

A budget increase demands a plan review, not a number bump (same
convention as the shuffle budget)."""

from __future__ import annotations

import itertools

import pytest

from dynamic_etl_spark.registry import all_queries
from tests.conftest import SF_SMALL

REGISTRY = all_queries()

#: Budgets = observed band ceiling + 1. Job counts are structural
#: (checkpoint batches, capped iterations, eager actions) but wobble a
#: few jobs with session state/AQE: incremental_near_dup measured 38-44
#: across local sf0.001 and driver sf0.1 runs (and the REJECTED r4 fold
#: experiment measured 47 — the budget stays below it); the others are
#: near-stable (semantic_dedup 41-42, knn_join 29 local / 37 driver
#: sf0.1, heavy_hitter 12-13, rank_sketch 9-10). A real regression in
#: the loops adds at least one job PER BATCH/ITERATION (>= 5), so the
#: +1 headroom never masks one.
JOB_BUDGETS = {
    "curation_pipeline_accounting": 41,  # 5 tier checkpoints + their chains
    # + the eval-set take(1) guard + the accounting tail (measured 38)
    "curation_pipeline_lsh": 45,  # the exact cascade's chains + the banded
    # LSH tier's extra signature/verify stages behind the s3 checkpoint
    # (measured 42; sibling wobble band +-3)
    # r9 (VERDICT r8 #3): the small-path admission rule collapsed to a
    # driver-built rejected set + ONE broadcast anti-join — the lazy
    # labeled/flagged join chain's ~6-9 AQE stage-jobs per consumer are
    # gone (measured 41->32 at sf0.001, 31 at sf0.1; the rejected r4
    # fold experiment's 47 stays far above). r14: +2 (measured 32) from
    # the candidate-pair leaf checkpoint — reviewed: it removes the
    # duplicated banded-join subtrees from the verify plan (~2.5s of
    # wall per bootstrap merge; the corpus signature pass previously
    # re-ran inside every differently-keyed candidate consumer)
    "incremental_near_dup": 35,
    "incremental_near_dup_exacthash": 37,  # xxhash twin's band + the md5
    # signature chain's extra sub-jobs (measured 33 after the r9 cut;
    # r14 candidate-leaf: measured 32)
    "incremental_curation_admission": 66,  # r9 composed gate: tier-1
    # fingerprint checkpoint + the full lexical admission chain + the
    # semantic fit/cogroup chain + attribution tail — cost ~ sum of the
    # single-tier admission queries, which is the point (r10: measured
    # 69 -> 62 after the bootstrap fit's init_mode="random" cut the
    # k-means|| init passes, VERDICT r9 #6). r13 plan review: +3 jobs
    # (measured 66 -> 69) are the now-EXPLICIT store checkpoints +
    # corpus fan-out exchange of _build_curation_state — the price of
    # building the four corpus stores CONCURRENTLY (guide §2.6) instead
    # of lazily embedded in sequential tier actions; wall time drops by
    # the overlap (state build 23.5s sequential -> ~8s parallel sf0.1).
    # r14 plan review: -5 (measured 69 -> 64) — the semantic tier's
    # fused single-cogroup candidate+verify (ops/ann, see
    # incremental_semantic_dedup below); then +2 (measured 66) from the
    # lexical tier's candidate-pair leaf checkpoint, which buys ~1.5-3s
    # of wall per merge by collapsing the verify plan's duplicated
    # banded-join subtrees (22 SMJ + 42 BHJ -> ~14 joins at sf0.1)
    "incremental_semantic_dedup": 29,  # one MLlib fit on the corpus
    # (clamp count + seeded-random init + capped iterations) + the
    # dup_pairs checkpoint + admit_batch's take + the surface tail
    # (r10: measured 43 -> 37 under init_mode="random"; the Lloyd
    # alternative measured 53 and was rejected — fit_semantic_centers
    # docstring carries the adjudication). r14 plan review: -11
    # (measured 37 -> 26) — candidate generation and verify fused into
    # ONE cogroup that carries vectors out with the candidates (no
    # within-distinct, no id->vector verify joins; within-pair dedup
    # moved in-cell via the min-shared-probed-cell rule)
    # r10 steady-state gate: per-batch admission against prebuilt
    # checkpointed stores (measured 47 at sf0.01 warm; the session-once
    # store build is excluded — see _WARM_FIRST). r14 fused semantic
    # tier: measured 41; + lexical candidate leaf: 43
    "incremental_curation_admission_steady": 43,
    # r12 fourth-tier gate: the bootstrap gate + the DSIR fit's gram
    # pass/checkpoint + the ratio-table count + the survivor checkpoint
    # and scoring tail (measured 80). r13 plan review: +3 — the same
    # explicit concurrent-state-build checkpoints as the 3-tier form
    # above (measured 91). r14 fused semantic tier: measured 86; +
    # lexical candidate leaf: 88
    "incremental_curation_admission_dsir": 88,
    # r12 steady form: per-batch four-tier admission against the
    # prebuilt stores + frozen ratio table (measured 56 warm; the
    # session-once state build is excluded — see _WARM_FIRST). r14
    # fused semantic tier: measured 51; + lexical candidate leaf: 53
    "incremental_curation_admission_dsir_steady": 53,
    # r12 fused pipeline: the curated-corpus checkpoint (URL survivors
    # + C4 gates materialize there) + the lazy hybrid-RRF tail over the
    # checkpointed corpus (measured 34)
    "curated_corpus_retrieval": 38,
    "semantic_dedup_survivors": 43,
    "embedding_knn_join_exacthash": 64,  # the same shared 5-round integer
    # Lloyd fit as the IVF twin; only the lazy probe/rank tail differs
    "embedding_density_exacthash": 64,  # the same fit again; the density
    # fold is part of the lazy tail
    "embedding_ann_ivf_exacthash": 64,  # 5 Lloyd rounds x ~10 AQE-stage jobs
    # over (n_cells x dims)-row centroid checkpoints + quantize/seed setup
    # (measured 56); the lazy probe/rank tail is pinned by shuffle budget
    "events_type_pagerank_exacthash": 104,  # 12 fixed rounds x ~8 AQE-stage
    # jobs per vertex-frame checkpoint + edge/outw/init setup (measured
    # 96); frames are vertex-sized (event types) so this is scheduler
    # time, not data volume — the iteration count is the semantics
    "embedding_knn_join": 32,
    # r10 greedy MMR: anchor take + state checkpoint + k rounds x
    # (TakeOrdered argmax + running-max checkpoint) — measured 25 at
    # k=10; a real regression adds >= 2 jobs per extra round
    "embedding_mmr_select": 28,
    # r11 bounded-pool MMR (VERDICT r10 #3): anchor take + ONE pool
    # TakeOrdered + the LocalTableScan surface — measured 5 vs the
    # exact loop's 25; the entire point of the mode is this number
    "embedding_mmr_select_pooled": 7,
    # r11 bucketed margin alignment: TWO IVF index builds (one MLlib
    # k-means fit per side, the embedding_knn_join cost x2) + the lazy
    # margin tail — measured 57 (knn_join alone measures 29)
    "embedding_margin_alignment_ivf": 62,
    # r11 DSIR: fit chain (gram window -> bucket agg checkpoint + the
    # two bounded-scalar totals) + ratio-table checkpoint + scoring
    # chain (gram window -> doc agg -> spine checkpoint) + the bounded
    # cutoff take — measured 22
    "dsir_importance_selection": 25,
    # the resample twin: same fit chain, but the score spine stays lazy
    # (no cutoff checkpoint) — measured 19
    "dsir_weighted_resample": 22,
    "heavy_hitter_maintenance": 13,
    "rank_sketch_maintenance": 10,
    # r8 (window entrants must pin like every eager loop): 16 merge
    # rounds x (argmax collect + apply materialization) + the word-count
    # pass; encode adds the segment/join tail over the trained table
    "bpe_merge_training": 88,   # measured 80
    "bpe_encode_stats": 95,     # measured 87
    "bpe_fertility_by_lang": 96,  # the same train loop + the per-lang
    # encode tail (measured 88)
}

#: Queries whose FIRST invocation in a session pays a one-time state
#: build (the steady-state gate's per-session store memo). Their budget
#: pins the steady-state count — the number every subsequent batch pays
#: — so the meter runs them once un-grouped first.
_WARM_FIRST = {
    "incremental_curation_admission_steady",
    "incremental_curation_admission_dsir_steady",
}

_group_seq = itertools.count()


def _run_in_group(spark, fn, *args) -> int:
    """Run fn(*args).count() inside a fresh job group; return the number
    of Spark jobs the group spent."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_group_seq)}"
    sc.setJobGroup(group, group)
    try:
        fn(*args).count()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget(spark, name):
    if name in _WARM_FIRST:
        REGISTRY[name].fn(spark, SF_SMALL).count()
    jobs = _run_in_group(spark, REGISTRY[name].fn, spark, SF_SMALL)
    budget = JOB_BUDGETS[name]
    assert jobs <= budget, (
        f"{name} spent {jobs} Spark jobs > budget {budget}: an extra eager "
        f"action (checkpoint, collect, un-capped iteration) crept into the "
        f"plan — review it before raising the budget"
    )


def test_meter_detects_an_extra_checkpoint(spark):
    """The meter itself must be sensitive: deliberately adding one extra
    localCheckpoint to a query's result inside the measured group has to
    raise the count above the plain run — otherwise a real regression
    could hide."""
    name = "heavy_hitter_maintenance"
    plain = _run_in_group(spark, REGISTRY[name].fn, spark, SF_SMALL)

    def mutated(spark_, sf_dir):
        # the deliberate regression: an extra eager checkpoint
        return REGISTRY[name].fn(spark_, sf_dir).localCheckpoint()

    mutated_jobs = _run_in_group(spark, mutated, spark, SF_SMALL)
    assert mutated_jobs > plain, (
        f"extra checkpoint did not move the job count ({mutated_jobs} vs "
        f"{plain}) — the meter is blind"
    )


#: Per-DAG job budgets for one fixture-sized retail day on a fresh root
#: (measured + 1). Every fact the day needs — a table's schema, a
#: written row count, an emptiness probe, a PK check — comes from the
#: job that already computes it: parquet reads take the committed
#: ``_schema.json`` sidecar instead of a footer-inference job, step
#: counts come from write-side observations instead of a read-back,
#: ``validate()`` folds the PK check into its one scan, the fact load
#: reads dim emptiness from the pipeline context, and the fact generator
#: sizes all its dimension groups in one collect. Before that the same
#: day ran 43/20/33/46 jobs (here and at the benchmark's 20k-row size
#: alike); now 17/14/18/14. One extra eager action anywhere trips this.
RETAIL_DAY_JOB_BUDGETS = {
    "generation": 18,
    "extract": 15,
    "validation": 19,
    "dw_load": 15,
}


def test_retail_day_job_budget(spark, tmp_path):
    from dynamic_etl_spark.pipelines import retail as R

    src, ext, dw = (str(tmp_path / p) for p in ("source", "extract", "dw"))
    date_id = 20240617
    dags = {
        "generation": lambda: R.generation_pipeline(
            spark, src, date_id=date_id, n_stores=20, n_products=30,
            n_distributors=10, rows_per_day=200,
        ),
        "extract": lambda: R.extract_pipeline(spark, src, ext, date_id=date_id),
        "validation": lambda: R.validation_pipeline(
            spark, src, ext, date_id=date_id, min_dim_rows=1, min_date_rows=1,
            min_fact_rows=1,
        ),
        "dw_load": lambda: R.dw_load_pipeline(spark, src, ext, dw),
    }
    sc = spark.sparkContext
    jobs = {}
    for dag, factory in dags.items():
        group = f"job-budget-retail-{dag}-{next(_group_seq)}"
        sc.setJobGroup(group, group)
        try:
            factory().run()
        finally:
            sc.setJobGroup(None, None)
        jobs[dag] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {d: (n, RETAIL_DAY_JOB_BUDGETS[d]) for d, n in jobs.items()
            if n > RETAIL_DAY_JOB_BUDGETS[d]}
    assert not over, (
        f"retail DAG(s) over their job budget (spent, budget): {over} — an "
        f"extra eager action crept into the day; review it before raising"
    )
