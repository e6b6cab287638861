"""Incremental semantic admission (ops/ann.incremental_semantic_merge):
explicit component semantics, brute-force equivalence across batches,
frozen-fit/store reuse, and replay idempotence — the semantic mirror of
tests/test_incremental_dedup.py."""

from __future__ import annotations

import math
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dynamic_etl_spark.ops import ann as A

THRESHOLD = A.SEMDEDUP_THRESHOLD
DIM = 16


def _cells(monkeypatch, n_cells: int, n_probe: int) -> None:
    """Run the merge at ``n_cells`` k-means cells, ``n_probe`` probed."""
    monkeypatch.setattr(A, "SEMDEDUP_CELLS", n_cells)
    monkeypatch.setattr(A, "SEMDEDUP_PROBE", n_probe)


def _vec(seed: int) -> list[float]:
    """Deterministic pseudo-random direction — distinct seeds are
    near-orthogonal in expectation (natural cosines ~0 +- 0.4 at
    DIM=16, far below THRESHOLD)."""
    rng = np.random.RandomState(seed)
    return [float(x) for x in rng.uniform(-1.0, 1.0, DIM)]


def _near(v: list[float]) -> list[float]:
    """The repo's index-keyed perturbation: cosine vs source ~0.999999."""
    return [float(x + 1e-3 * ((i % 3) - 1)) for i, x in enumerate(v)]


def _df(spark, rows: dict[int, list[float]]):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(rows.items())],
        "vec_id long, embedding array<double>",
    )


def _cos(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    return num / den if den else 0.0


def _brute_admit(existing: dict[int, list[float]], batch: dict[int, list[float]]):
    """Reference implementation of the shared admission rule
    (ops/graph.admit_batch) over exact all-pairs cosine."""
    cross_hit = {
        n for n in batch
        if any(_cos(batch[n], existing[e]) >= THRESHOLD for e in existing)
    }
    parent = {n: n for n in batch}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in combinations(sorted(batch), 2):
        if _cos(batch[a], batch[b]) >= THRESHOLD:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, set[int]] = {}
    for n in batch:
        comps.setdefault(find(n), set()).add(n)
    return {min(m) for m in comps.values() if not m & cross_hit}


def test_semantic_admission_semantics(spark, monkeypatch):
    _cells(monkeypatch, 3, 2)
    existing = {i: _vec(i) for i in range(10)}
    batch = {
        100: _near(existing[3]),  # near store -> reject
        101: _vec(60),            # unique -> admit
        102: _vec(61),            # pair with 103 -> component min admits
        103: _near(_vec(61)),
        104: _vec(62),            # unique -> admit
    }
    out = A.incremental_semantic_merge(
        _df(spark, existing), _df(spark, batch), "vec_id", "embedding",
    )
    accepted = {r["vec_id"] for r in out["accepted"].collect()}
    assert accepted == _brute_admit(existing, batch) == {101, 102, 104}

    pairs = {
        (r["id_new"], r["id_matched"], r["scope"])
        for r in out["dup_pairs"].collect()
    }
    assert (100, 3, "existing") in pairs
    assert (103, 102, "batch") in pairs

    # the store delta covers exactly the admitted docs, store-shaped
    assert set(out["new_assigned"].columns) == {"vec_id", "embedding", "cell"}
    delta_ids = {r["vec_id"] for r in out["new_assigned"].collect()}
    assert delta_ids == accepted


def test_semantic_component_rejected_whole_on_store_hit(spark, monkeypatch):
    """A within-batch component with one member near the store is
    rejected entirely (the transitive near-dup convention the lexical
    tier pins)."""
    _cells(monkeypatch, 2, 2)
    existing = {1: _vec(7)}
    batch = {
        20: _near(_vec(7)),          # near existing
        21: _near(_near(_vec(7))),   # near 20 AND near existing
    }
    out = A.incremental_semantic_merge(
        _df(spark, existing), _df(spark, batch), "vec_id", "embedding",
    )
    assert out["accepted"].count() == 0
    assert _brute_admit(existing, batch) == set()


def test_semantic_matches_bruteforce_and_state_reuse(spark, monkeypatch):
    """Two sequential batches: Spark admission equals the brute-force
    rule, and reusing the frozen fit + accumulated store gives results
    identical to re-assigning the grown corpus from docs (the
    store-reuse-equivalence contract, VERDICT r8 #4)."""
    _cells(monkeypatch, 4, 2)
    existing = {i: _vec(i) for i in range(40)}
    batch1 = {
        100: _near(existing[3]),   # near existing 3 -> reject
        101: _vec(60),             # unique
        102: _vec(61),             # pair with 103
        103: _near(_vec(61)),
        104: _vec(62),             # unique
    }
    e_df = _df(spark, existing)
    out1 = A.incremental_semantic_merge(
        e_df, _df(spark, batch1), "vec_id", "embedding",
    )
    centers = out1["centers"]
    acc1 = {r["vec_id"] for r in out1["accepted"].collect()}
    assert acc1 == _brute_admit(existing, batch1) == {101, 102, 104}

    existing2 = {**existing, **{i: batch1[i] for i in acc1}}
    batch2 = {
        200: _near(_vec(61)),      # near admitted 102
        201: _near(_near(existing[3])),  # near REJECTED 100 — 100 never
                                         # entered the store; only its
                                         # source 3 counts (it is near)
        202: _vec(70),             # unique
        203: _near(_vec(62)),      # near admitted 104
    }
    expect2 = _brute_admit(existing2, batch2)

    # path A: re-assign the grown corpus from docs under the SAME fit
    outA = A.incremental_semantic_merge(
        _df(spark, existing2), _df(spark, batch2), "vec_id", "embedding",
        centers=centers,
    )
    # path B: store = initial assignment + batch1's delta (never re-reads
    # the original corpus docs — the persistent-state path)
    store = A.semantic_store_rows(e_df, "vec_id", "embedding", centers).unionByName(
        out1["new_assigned"]
    )
    outB = A.incremental_semantic_merge(
        _df(spark, existing2), _df(spark, batch2), "vec_id", "embedding",
        centers=centers, existing_assigned=store,
    )
    accA = {r["vec_id"] for r in outA["accepted"].collect()}
    accB = {r["vec_id"] for r in outB["accepted"].collect()}
    assert accA == accB == expect2 == {202}


def test_semantic_replay_rejects_everything(spark, monkeypatch):
    """Exactly-once replay contract: a re-delivered batch finds its
    admitted docs in the store under their own ids at cosine 1.0
    (self-pairs are NOT excluded) and re-rejects the whole batch."""
    _cells(monkeypatch, 3, 2)
    existing = {i: _vec(i) for i in range(8)}
    batch = {100: _vec(50), 101: _vec(51), 102: _near(existing[2])}
    e_df, b_df = _df(spark, existing), _df(spark, batch)
    out = A.incremental_semantic_merge(
        e_df, b_df, "vec_id", "embedding",
    )
    acc = {r["vec_id"] for r in out["accepted"].collect()}
    assert acc == {100, 101}
    store2 = A.semantic_store_rows(
        e_df, "vec_id", "embedding", out["centers"]
    ).unionByName(out["new_assigned"])
    replay = A.incremental_semantic_merge(
        e_df.unionByName(out["accepted"]), b_df, "vec_id", "embedding",
        centers=out["centers"], existing_assigned=store2,
    )
    assert replay["accepted"].count() == 0
    # the replayed admitted docs match THEMSELVES at exactly 1.0
    self_hits = {
        (r["id_new"], r["id_matched"], r["cosine_sim"])
        for r in replay["dup_pairs"].filter(F.col("scope") == "existing").collect()
    }
    assert (100, 100, 1.0) in self_hits and (101, 101, 1.0) in self_hits


def test_semantic_distributed_cc_fallback_matches_driver_path(spark, monkeypatch):
    """Past the pair threshold the within-batch components run as
    distributed pointer-jumping CC; both paths must admit identically
    (admit_batch's hybrid seam, shared with the lexical tier)."""
    from dynamic_etl_spark.ops import graph as G

    _cells(monkeypatch, 2, 2)
    existing = {1: _vec(7)}
    batch = {
        20: _vec(40),
        21: _near(_vec(40)),       # component {20,21} -> admit 20
        22: _near(_vec(7)),        # near existing -> reject
        23: _vec(50),              # unique -> admit
    }
    e_df, b_df = _df(spark, existing), _df(spark, batch)
    fast = A.incremental_semantic_merge(
        e_df, b_df, "vec_id", "embedding",
    )
    fast_ids = {r["vec_id"] for r in fast["accepted"].collect()}

    real_admit = G.admit_batch

    def forced_distributed(new_docs, id_col, dup_pairs, small_cc_threshold=0):
        return real_admit(new_docs, id_col, dup_pairs, small_cc_threshold=0)

    monkeypatch.setattr(G, "admit_batch", forced_distributed)
    slow = A.incremental_semantic_merge(
        e_df, b_df, "vec_id", "embedding",
    )
    slow_ids = {r["vec_id"] for r in slow["accepted"].collect()}
    assert fast_ids == slow_ids == _brute_admit(existing, batch) == {20, 23}


def test_semantic_within_pair_shared_cells_emits_once(spark, monkeypatch):
    """The r14 fused cogroup dedups within-batch pairs IN-CELL (emit
    only from min(shared probed cells)) instead of a distinct exchange:
    with n_cells == n_probe == 2 every doc probes BOTH cells, so every
    within pair meets twice — each must still surface exactly one
    dup_pairs row, with the sequential-fold cosine_sim."""
    _cells(monkeypatch, 2, 2)
    existing = {1: _vec(5)}
    batch = {
        30: _vec(77),
        31: _near(_vec(77)),   # within pair (30, 31), shared probe sets
        32: _vec(78),          # singleton
    }
    out = A.incremental_semantic_merge(
        _df(spark, existing), _df(spark, batch), "vec_id", "embedding",
    )
    pairs = out["dup_pairs"].collect()
    assert [(r["id_new"], r["id_matched"], r["scope"]) for r in pairs] == [
        (31, 30, "batch")
    ]
    expected = round(_cos(batch[30], batch[31]), 6)
    assert pairs[0]["cosine_sim"] == pytest.approx(expected, abs=1e-9)
    assert {r["vec_id"] for r in out["accepted"].collect()} == {30, 32}


def test_semantic_cell_overflow_raises(spark, monkeypatch):
    """Cells past MAX_CELL_ROWS refuse loudly instead of OOMing (the
    SemDeDup guard, shared by every BLAS cogroup in the repo)."""
    _cells(monkeypatch, 1, 1)
    monkeypatch.setattr(A, "MAX_CELL_ROWS", 3)
    existing = {i: _vec(i) for i in range(6)}
    batch = {100 + i: _vec(100 + i) for i in range(6)}
    # dup_pairs localCheckpoints eagerly inside the merge (stateful-
    # output lineage rule), so the overflow surfaces from the call itself
    with pytest.raises(Exception, match="cell holds"):
        A.incremental_semantic_merge(
            _df(spark, existing), _df(spark, batch), "vec_id", "embedding",
        )


def test_incremental_curation_tier_attribution(spark, monkeypatch):
    """The composed admission gate (registry/curation.
    incremental_curation_admission) on a hand-built corpus: each tier
    rejects exactly its planted artifact class and attribution names
    the FIRST tier that fired; a tier-2 survivor without an embedding
    passes the semantic tier through."""
    import dynamic_etl_spark.registry.curation as C

    def sentence(seed, n=12):
        return " ".join(f"w{(seed * 31 + p * 7) % 997}" for p in range(n))

    corpus_docs = spark.createDataFrame(
        [(i, sentence(i)) for i in range(0, 8, 2)], "doc_id long, text string"
    )
    corpus_emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(0, 8, 2)], "doc_id long, embedding array<double>"
    )
    batch_rows = {
        101: sentence(101),                      # fresh -> admitted
        102: "  " + sentence(2).upper() + " ",   # exact copy of corpus 2
        103: sentence(4) + " zz",                # lexical near corpus 4
        104: " ".join(reversed(sentence(6).split())),  # semantic vs corpus 6
        105: sentence(105),                      # fresh, NO embedding -> pass-through
        106: sentence(101) + " qq",              # within-batch lexical pair w/ 101
    }
    batch_docs = spark.createDataFrame(
        sorted(batch_rows.items()), "doc_id long, text string"
    )
    batch_emb = spark.createDataFrame(
        [
            (101, _vec(101)),
            (103, _vec(103)),
            (104, _near(_vec(6))),  # near store embedding of corpus 6
            (106, _vec(106)),
        ],
        "doc_id long, embedding array<double>",
    )

    monkeypatch.setattr(
        C,
        "_incremental_curation_fixture",
        lambda spark_, sf_dir: (corpus_docs, corpus_emb, batch_docs, batch_emb),
    )
    rows = {
        r["doc_id"]: (r["admitted"], r["rejected_by"])
        for r in C.incremental_curation_admission(spark, "unused").collect()
    }
    assert rows == {
        101: (True, "none"),
        102: (False, "exact"),
        103: (False, "lexical"),
        104: (False, "semantic"),
        105: (True, "none"),      # no embedding: semantic tier passes through
        106: (False, "lexical"),  # within-batch pair keeps min id 101
    }


def test_curation_gate_four_tiers_attribution_and_final_deltas(spark):
    """ops/curation_gate.curation_gate called directly with all four
    tier stores on hand-built frames: every rejected_by label fires on
    its planted doc, and a doc the DSIR tier rejects after passing all
    three dedup tiers leaves NO fp, lexical or semantic delta row — the
    deltas are filtered to the FINAL admitted set, not to their own
    tier's survivors."""
    from dynamic_etl_spark.ops import lsh as L
    from dynamic_etl_spark.ops import quality as Q
    from dynamic_etl_spark.ops.curation_gate import curation_gate
    from dynamic_etl_spark.ops.text import fingerprint_md5

    tgt = ["alpha", "beta", "gamma", "delta", "epsilon",
           "zeta", "eta", "theta", "iota", "kappa"]
    raw = ["one", "two", "three", "four", "five",
           "six", "seven", "eight", "nine", "ten"]

    def perm(words, stride):
        # strides coprime with 10 share no ordered 3-shingle
        return " ".join(words[(j * stride) % 10] for j in range(10))

    schema = "doc_id long, text string, embedding array<double>"
    corpus = spark.createDataFrame(
        [(0, perm(tgt, 7), _vec(0)), (1, perm(raw, 7), _vec(1))], schema
    )
    batch = spark.createDataFrame(
        [
            (10, perm(tgt, 7).upper(), _vec(10)),     # exact copy of 0
            (11, perm(tgt, 7) + " alpha", _vec(11)),  # lexical near 0
            (12, perm(tgt, 1), _near(_vec(1))),       # semantic near 1
            (20, perm(tgt, 3), _vec(20)),             # admitted
            (21, perm(raw, 3), _vec(21)),             # quality reject
        ],
        schema,
    )
    centers = A.fit_semantic_centers(corpus, "doc_id", "embedding", n_cells=2)
    out = curation_gate(
        batch, corpus, id_col="doc_id", text_col="text", vec_col="embedding",
        fp_set=corpus.select(fingerprint_md5(F.col("text")).alias("__fp")).distinct(),
        lex_store=L.minhash_banded_rows(corpus, "doc_id", "text"),
        centers=centers,
        sem_store=A.semantic_store_rows(corpus, "doc_id", "embedding", centers),
        dsir_ratios=Q.dsir_bucket_ratios(
            corpus, target=F.col("doc_id") == 0, n_buckets=64
        ),
        dsir_min_log_weight="0",
    )
    rows = {
        r["doc_id"]: (r["admitted"], r["rejected_by"])
        for r in out["attribution"].collect()
    }
    assert rows == {
        10: (False, "exact"),
        11: (False, "lexical"),
        12: (False, "semantic"),
        20: (True, "none"),
        21: (False, "quality"),
    }
    assert {r["doc_id"] for r in out["admitted"].collect()} == {20}
    for store in ("fp_delta", "lex_delta", "sem_delta"):
        ids = {r["doc_id"] for r in out[store].select("doc_id").collect()}
        assert ids == {20}, f"{store} holds rows of non-admitted docs: {ids}"
