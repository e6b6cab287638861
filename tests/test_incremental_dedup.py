"""Incremental near-dup admission (ops/lsh.incremental_near_dup_merge):
explicit component semantics + brute-force equivalence across batches."""

from __future__ import annotations

from itertools import combinations

import pytest

from dynamic_etl_spark.ops import lsh as L

K = 3
THRESHOLD = L.JACCARD_THRESHOLD


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingles(text: str) -> frozenset[str]:
    """Python twin of word_shingles (k=3, whitespace tokens, lowercase)."""
    toks = text.lower().split()
    if len(toks) <= K:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + K]) for i in range(len(toks) - K + 1))


def _jac(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def _brute_admit(existing: dict[int, str], batch: dict[int, str]):
    """Reference implementation of the documented admission rule."""
    sh = {i: _shingles(t) for i, t in {**existing, **batch}.items()}
    cross_hit = {
        n for n in batch if any(_jac(sh[n], sh[e]) >= THRESHOLD for e in existing)
    }
    # within-batch connected components over >= threshold pairs
    parent = {n: n for n in batch}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in combinations(sorted(batch), 2):
        if _jac(sh[a], sh[b]) >= THRESHOLD:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, set[int]] = {}
    for n in batch:
        comps.setdefault(find(n), set()).add(n)
    accepted = set()
    for root, members in comps.items():
        if not members & cross_hit:
            accepted.add(min(members))
    return accepted


WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _sentence(seed: int, n: int = 10) -> str:
    return " ".join(f"w{(seed * 31 + p * 7) % 1000}" for p in range(n))


def test_incremental_admission_semantics(spark):
    existing = {1: "the quick brown fox jumps over the lazy dog tonight"}
    batch = {
        10: "the quick brown fox jumps over the lazy dog today",  # near E1 -> reject
        11: WORDS + " one",  # pair with 12 -> component min admits
        12: WORDS + " two",
        13: _sentence(13),  # unique -> admit
        14: _sentence(99) + " x",  # pair with 15 ...
        15: _sentence(99) + " y",  # ... but 15 alone also isn't near existing
    }
    out = L.incremental_near_dup_merge(
        _df(spark, list(existing.items())),
        _df(spark, list(batch.items())),
        "doc_id",
        "text",
    )
    accepted = {r["doc_id"] for r in out["accepted"].collect()}
    assert accepted == _brute_admit(existing, batch) == {11, 13, 14}

    pairs = {(r["id_new"], r["id_matched"], r["scope"]) for r in out["dup_pairs"].collect()}
    assert (10, 1, "existing") in pairs
    assert (12, 11, "batch") in pairs
    assert (15, 14, "batch") in pairs

    # the signature-store delta covers exactly the admitted docs
    banded_ids = {r["doc_id"] for r in out["new_banded"].select("doc_id").distinct().collect()}
    assert banded_ids == accepted


def test_component_rejected_whole_when_any_member_hits_existing(spark):
    """A within-batch component with one member near the corpus is
    rejected entirely (transitive near-dup convention)."""
    existing = {1: _sentence(7)}
    batch = {
        20: _sentence(7) + " z",  # near existing
        21: _sentence(7) + " q",  # near 20 AND near existing
    }
    out = L.incremental_near_dup_merge(
        _df(spark, list(existing.items())), _df(spark, list(batch.items())),
        "doc_id", "text",
    )
    assert out["accepted"].count() == 0
    assert _brute_admit(existing, batch) == set()


def test_incremental_matches_bruteforce_and_state_reuse(spark):
    """Two sequential high-similarity batches: Spark admission equals the
    brute-force rule, and feeding the accumulated new_banded back as
    existing_banded gives identical results to recomputing signatures."""
    # corpus: 40 uniques; batch1 plants copies of corpus docs and an
    # internal pair; batch2 plants copies of corpus, batch1-ADMITTED and
    # batch1-REJECTED docs (the latter must still admit: rejected docs
    # never entered the store)
    existing = {i: _sentence(i) for i in range(40)}
    batch1 = {
        100: _sentence(3) + " extra",   # near existing 3
        101: _sentence(60),             # unique
        102: _sentence(61) + " a",      # pair with 103
        103: _sentence(61) + " b",
        104: _sentence(62),             # unique
    }
    out1 = L.incremental_near_dup_merge(
        _df(spark, list(existing.items())), _df(spark, list(batch1.items())),
        "doc_id", "text",
    )
    acc1 = {r["doc_id"] for r in out1["accepted"].collect()}
    assert acc1 == _brute_admit(existing, batch1) == {101, 102, 104}

    existing2 = {**existing, **{i: batch1[i] for i in acc1}}
    batch2 = {
        200: _sentence(61) + " a c",    # near admitted 102
        201: _sentence(3) + " extra q", # near rejected 100 — 100 is NOT in
                                        # the store; only near-existing-3
                                        # similarity counts (it is near)
        202: _sentence(70),             # unique
        203: _sentence(62) + " k",      # near admitted 104
    }
    expect2 = _brute_admit(existing2, batch2)

    # path A: recompute corpus signatures from docs
    outA = L.incremental_near_dup_merge(
        _df(spark, list(existing2.items())), _df(spark, list(batch2.items())),
        "doc_id", "text",
    )
    # path B: signature store = original corpus banded + batch1's delta
    store = L.minhash_banded_rows(
        _df(spark, list(existing.items())), "doc_id", "text"
    ).unionByName(out1["new_banded"])
    outB = L.incremental_near_dup_merge(
        _df(spark, list(existing2.items())), _df(spark, list(batch2.items())),
        "doc_id", "text", existing_banded=store,
    )
    accA = {r["doc_id"] for r in outA["accepted"].collect()}
    accB = {r["doc_id"] for r in outB["accepted"].collect()}
    assert accA == accB == expect2 == {202}


def test_incremental_md5_mode_matches_bruteforce_and_refuses_mixed_store(spark):
    """The md5-slice hash mode (the oracle-checkable admission variant)
    must admit per the same brute-force rule, and a signature store
    built in one mode must be REFUSED in the other — mixed-mode probing
    would silently collide on nothing (the band_hash dtypes differ)."""
    existing = {i: _sentence(i) for i in range(40)}
    batch = {
        100: _sentence(3) + " extra",
        101: _sentence(60),
        102: _sentence(61) + " a",
        103: _sentence(61) + " b",
        104: _sentence(62),
    }
    e_df, b_df = _df(spark, list(existing.items())), _df(spark, list(batch.items()))
    out = L.incremental_near_dup_merge(
        e_df, b_df, "doc_id", "text", hash_mode="md5"
    )
    acc = {r["doc_id"] for r in out["accepted"].collect()}
    assert acc == _brute_admit(existing, batch) == {101, 102, 104}

    xx_store = L.minhash_banded_rows(e_df, "doc_id", "text")
    with pytest.raises(ValueError, match="different hash mode"):
        L.incremental_near_dup_merge(
            e_df, b_df, "doc_id", "text",
            existing_banded=xx_store, hash_mode="md5",
        )
    md5_store = L.minhash_banded_rows(e_df, "doc_id", "text", hash_mode="md5")
    with pytest.raises(ValueError, match="different hash mode"):
        L.incremental_near_dup_merge(
            e_df, b_df, "doc_id", "text",
            existing_banded=md5_store,
        )


def test_admit_batch_cross_hits_only_both_paths(spark):
    """A pair set with ONLY 'existing'-scope hits (zero within-batch
    edges) must admit identically on the driver path and the forced
    distributed path — the r9 rewrite routes on the TOTAL pair count,
    so the distributed CC can now see an empty edge set."""
    from dynamic_etl_spark.ops import graph as G

    new_docs = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    dup_pairs = spark.createDataFrame(
        [(1, 100, 0.9, "existing"), (2, 101, 0.8, "existing")],
        "id_new long, id_matched long, jaccard_sim double, scope string",
    ).localCheckpoint()
    for thresh in (0, 100):  # distributed, driver
        acc = G.admit_batch(new_docs, "doc_id", dup_pairs, small_cc_threshold=thresh)
        assert sorted(r["doc_id"] for r in acc.collect()) == [3], thresh
    empty = spark.createDataFrame(
        [], "id_new long, id_matched long, jaccard_sim double, scope string"
    ).localCheckpoint()
    acc = G.admit_batch(new_docs, "doc_id", empty, small_cc_threshold=100)
    assert sorted(r["doc_id"] for r in acc.collect()) == [1, 2, 3]


def test_incremental_distributed_cc_fallback_matches_driver_path(spark, monkeypatch):
    """Past the pair threshold the within-batch components run as
    distributed pointer-jumping CC; both paths must admit identically."""
    existing = {1: _sentence(7)}
    batch = {
        20: _sentence(40) + " a",
        21: _sentence(40) + " b",   # component {20,21} -> admit 20
        22: _sentence(7) + " z",    # near existing -> reject
        23: _sentence(50),          # unique -> admit
    }
    e_df, b_df = _df(spark, list(existing.items())), _df(spark, list(batch.items()))
    fast = L.incremental_near_dup_merge(e_df, b_df, "doc_id", "text")
    monkeypatch.setattr(L, "_SMALL_CC_THRESHOLD", 0)
    slow = L.incremental_near_dup_merge(e_df, b_df, "doc_id", "text")
    fast_ids = {r["doc_id"] for r in fast["accepted"].collect()}
    slow_ids = {r["doc_id"] for r in slow["accepted"].collect()}
    assert fast_ids == slow_ids == _brute_admit(existing, batch) == {20, 23}


# --------------------------------------------------------------------------
# Randomized equivalence for the shared admission rule (r10): hypothesis
# drives random pair structures through admit_batch and checks it against
# an INDEPENDENT reference (BFS components + the declarative rule — not
# the union-find the driver path uses), plus driver == forced-distributed
# on the same structures.
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _reference_admit(batch_ids, within_edges, cross_hits):
    """The admission rule, stated declaratively over BFS components:
    reject every doc with a corpus hit; form components over the
    within-batch edges; reject a component whole if any member has a
    hit, else keep exactly its min id; untouched docs admit."""
    adj = {}
    for a, b in within_edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, admitted = set(), set()
    for start in sorted(adj):
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            v = frontier.pop()
            for w in adj[v]:
                if w not in comp:
                    comp.add(w)
                    frontier.append(w)
        seen |= comp
        if not (comp & cross_hits):
            admitted.add(min(comp))
    for d in batch_ids:
        if d not in seen and d not in cross_hits:
            admitted.add(d)
    return admitted


_pair_structures = st.integers(2, 24).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            max_size=30,
        ),
        st.sets(st.integers(0, n - 1), max_size=6),
    )
)


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_pair_structures)
def test_admit_batch_matches_reference_on_random_structures(spark, struct):
    """Driver-path admit_batch == the independent BFS reference on
    arbitrary within-edge graphs (self-loops, duplicates, chains,
    cliques) with arbitrary cross-hit overlays."""
    from dynamic_etl_spark.ops import graph as G

    n, raw_edges, hits = struct
    batch_ids = list(range(n))
    edges = [(a, b) for a, b in raw_edges if a != b]
    new_docs = spark.createDataFrame(
        [(i, f"t{i}") for i in batch_ids], "doc_id long, text string"
    )
    rows = [(max(a, b), min(a, b), 0.9, "batch") for a, b in edges] + [
        (h, 10_000 + h, 0.9, "existing") for h in sorted(hits)
    ]
    dup_pairs = spark.createDataFrame(
        rows, "id_new long, id_matched long, jaccard_sim double, scope string"
    ).localCheckpoint()
    acc = {
        r["doc_id"]
        for r in G.admit_batch(new_docs, "doc_id", dup_pairs).collect()
    }
    assert acc == _reference_admit(batch_ids, edges, hits)


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_pair_structures)
def test_admit_batch_distributed_path_matches_driver_on_random_structures(
    spark, struct
):
    """Forcing the distributed pointer-jumping path (threshold 0) admits
    identically to the driver union-find on the same random structures —
    the hybrid seam can never change answers, only cost."""
    from dynamic_etl_spark.ops import graph as G

    n, raw_edges, hits = struct
    edges = [(a, b) for a, b in raw_edges if a != b]
    new_docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(n)], "doc_id long, text string"
    )
    rows = [(max(a, b), min(a, b), 0.9, "batch") for a, b in edges] + [
        (h, 10_000 + h, 0.9, "existing") for h in sorted(hits)
    ]
    dup_pairs = spark.createDataFrame(
        rows, "id_new long, id_matched long, jaccard_sim double, scope string"
    ).localCheckpoint()
    driver = {
        r["doc_id"]
        for r in G.admit_batch(new_docs, "doc_id", dup_pairs).collect()
    }
    distributed = {
        r["doc_id"]
        for r in G.admit_batch(
            new_docs, "doc_id", dup_pairs, small_cc_threshold=0
        ).collect()
    }
    assert driver == distributed
