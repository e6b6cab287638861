"""ExactSubstr duplicated-span removal: planted-fixture semantics.

The oracle-parity harness hash-checks `duplicated_span_removal` against
DuckDB at both SFs; these tests pin the SEMANTICS on a hand-built corpus
where the correct spans are known by construction — cross-document runs,
within-document repeats (ExactSubstr counts those), the overlap-merge
boundary (starts exactly k apart do NOT merge), and the short-doc guard.
"""

from __future__ import annotations

from dynamic_etl_spark.ops.spans import SPAN_K as K
from dynamic_etl_spark.ops.spans import duplicated_span_stats


def _run(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicated_span_stats(df)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_cross_document_shared_run(spark):
    # A and B share the 8-token run a..h; with k=5 the duplicated
    # 5-gram starts are 0..3 in A and 2..5 in B -> one merged span of
    # 8 tokens in each; everything else is unique vocabulary.
    got = _run(
        spark,
        [
            ("A", "a b c d e f g h x1 x2"),
            ("B", "z1 z2 a b c d e f g h"),
        ],
    )
    assert got["A"] == {
        "doc_id": "A",
        "n_tokens": 10,
        "n_dup_spans": 1,
        "n_dup_tokens": 8,
        "dup_token_frac": 0.8,
        "cleaned_text": "x1 x2",
    }
    assert got["B"]["n_dup_tokens"] == 8
    assert got["B"]["cleaned_text"] == "z1 z2"


def test_within_document_repeat_and_merge_boundary(spark):
    # "p q r s t u" repeated back-to-back: duplicated starts {0,1,6,7}.
    # 6 > 1 + (k-1) = 5, so the islands [0,5] and [6,11] do NOT merge —
    # two spans covering the whole document.
    got = _run(spark, [("C", "p q r s t u p q r s t u")])
    c = got["C"]
    assert c["n_dup_spans"] == 2
    assert c["n_dup_tokens"] == 12
    assert c["dup_token_frac"] == 1.0
    assert c["cleaned_text"] == ""


def test_unique_and_short_docs_pass_through(spark):
    got = _run(
        spark,
        [
            ("D", "w1 w2 w3 w4 w5 w6 w7"),
            ("E", "t1 t2 t3"),  # < k tokens: no windows at all
        ],
    )
    for doc, text in (("D", "w1 w2 w3 w4 w5 w6 w7"), ("E", "t1 t2 t3")):
        assert got[doc]["n_dup_spans"] == 0
        assert got[doc]["n_dup_tokens"] == 0
        assert got[doc]["dup_token_frac"] == 0.0
        assert got[doc]["cleaned_text"] == text


def test_normalization_is_the_token_stream(spark):
    # cleaned_text is the lowercased single-space token reconstruction —
    # the same normalization every token statistic uses.
    got = _run(spark, [("F", "  Mixed\tCase   words\nhere now ")])
    assert got["F"]["cleaned_text"] == "mixed case words here now"
    assert got["F"]["n_tokens"] == 5


def _scrub(spark, corpus_rows, bench_rows):
    from dynamic_etl_spark.ops.spans import contaminated_span_stats

    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    out = contaminated_span_stats(corpus, bench)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_benchmark_scrub_cuts_only_eval_overlap(spark):
    """The scrub marks windows by BENCHMARK membership, not corpus
    repetition: a doc quoting a benchmark run loses exactly that span; a
    corpus-internal duplicate pair (which duplicated_span_stats WOULD
    cut) passes the scrub untouched; a benchmark-free doc is identity."""
    bench = [("B", "alpha beta gamma delta epsilon zeta")]
    got = _scrub(
        spark,
        [
            # quotes the benchmark's first 6 words mid-document
            ("Q", "intro words here alpha beta gamma delta epsilon zeta outro tail"),
            # corpus-internal duplicate pair, zero benchmark overlap
            ("D1", "one two three four five six seven"),
            ("D2", "one two three four five six seven"),
            ("C", "totally unrelated clean words only here"),
        ],
        bench,
    )
    q = got["Q"]
    assert q["n_dup_spans"] == 1
    assert q["n_dup_tokens"] == 6
    assert q["cleaned_text"] == "intro words here outro tail"
    for d in ("D1", "D2", "C"):
        assert got[d]["n_dup_spans"] == 0, d
        assert got[d]["cleaned_text"] == got[d]["cleaned_text"].lower()
        assert got[d]["n_dup_tokens"] == 0


def test_benchmark_scrub_property_vs_python_reference(spark):
    """Deterministic pseudo-random corpora vs a brute-force Python
    reference of the definition: mark every k-window whose gram appears
    anywhere in the benchmark, union the windows, cut covered tokens."""
    import random

    rng = random.Random(421)
    vocab = [f"w{i}" for i in range(30)]
    bench_rows = [
        (f"b{j}", " ".join(rng.choice(vocab) for _ in range(12))) for j in range(4)
    ]
    bench_grams = set()
    for _, t_ in bench_rows:
        toks = t_.split()
        for i in range(len(toks) - K + 1):
            bench_grams.add(" ".join(toks[i : i + K]))

    corpus_rows = []
    expect = {}
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        # splice a benchmark fragment into some docs
        if d % 3 == 0 and toks:
            src = bench_rows[d % 4][1].split()
            start = rng.randint(0, 6)
            frag = src[start : start + rng.randint(3, 9)]
            at = rng.randint(0, len(toks))
            toks = toks[:at] + frag + toks[at:]
        text = " ".join(toks)
        corpus_rows.append((f"d{d}", text))
        covered = set()
        for i in range(max(len(toks) - K + 1, 0)):
            if " ".join(toks[i : i + K]) in bench_grams:
                covered.update(range(i, i + K))
        kept = [w for i, w in enumerate(toks) if i not in covered]
        expect[f"d{d}"] = (len(toks), len(covered), " ".join(kept))

    got = _scrub(spark, corpus_rows, bench_rows)
    assert set(got) == set(expect)
    for d, (n_tok, n_cut, cleaned) in expect.items():
        assert got[d]["n_tokens"] == n_tok, d
        assert got[d]["n_dup_tokens"] == n_cut, d
        assert got[d]["cleaned_text"] == cleaned, d
