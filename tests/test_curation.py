"""Unit tests for the corpus-curation layer (decontamination, PII,
winnowing) — behavioral properties the oracle hash can't express:
the winnowing guarantee, planted-leak recall/precision, and redaction
idempotence. The oracle parity harness (test_oracle_parity.py) covers
value-exactness for all three registry queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamic_etl_spark.ops import pii as PII
from dynamic_etl_spark.ops.decontam import contamination_profile
from dynamic_etl_spark.ops.text import winnow_fingerprints
from tests.conftest import SF_SMALL


# ----------------------------------------------------------------- PII ---

def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@corp.example.org or 555-867-5309 ok"),
            (2, "server 192.168.1.254 and 10.0.0.1 rebooted"),
            (3, "no pii here at all"),
            (4, "double a@b.io c@d.net"),
        ],
        "id long, text string",
    )
    counts = PII.pii_counts(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            counts["email"].alias("e"),
            counts["phone"].alias("p"),
            counts["ip"].alias("i"),
            PII.has_pii(F.col("text")).alias("h"),
            PII.redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert (rows[1]["e"], rows[1]["p"], rows[1]["i"]) == (1, 1, 0)
    assert (rows[2]["e"], rows[2]["p"], rows[2]["i"]) == (0, 0, 2)
    assert (rows[3]["e"], rows[3]["p"], rows[3]["i"], rows[3]["h"]) == (0, 0, 0, 0)
    assert rows[4]["e"] == 2 and rows[4]["h"] == 1
    assert rows[1]["red"] == "reach me at [EMAIL] or [PHONE] ok"
    assert rows[2]["red"] == "server [IP] and [IP] rebooted"
    assert rows[3]["red"] == "no pii here at all"


def test_pii_redaction_is_idempotent(spark):
    """Redacting already-redacted text changes nothing — the tags
    themselves must not re-match any tier pattern."""
    df = spark.createDataFrame(
        [(1, "m a@b.co 555-123-4567 10.1.2.3 end")], "id long, text string"
    )
    once = df.select(PII.redact(F.col("text")).alias("text"))
    twice = once.select(PII.redact(F.col("text")).alias("text"))
    assert once.collect() == twice.collect()


# ------------------------------------------------------- decontamination ---

def test_contamination_flags_planted_leak_only(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim 9-word leak -> 5 distinct 5-grams shared
            (1, "intro words then the quick brown fox jumps over the lazy dog"),
            (2, "completely different sentence with no overlap whatsoever at all"),
            (3, "quick brown alone is not enough of an overlap here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in contamination_profile(corpus, bench).collect()
    }
    assert out[1]["is_contaminated"] == 1 and out[1]["n_shared_grams"] >= 5
    assert out[2]["is_contaminated"] == 0 and out[2]["n_shared_grams"] == 0
    assert out[3]["is_contaminated"] == 0


def test_contamination_planted_recall_on_documents(spark):
    """The registry fixture plants leaks into doc_id % 17 == 3: recall
    must be total and (at 5-gram granularity over the synthetic vocab)
    false positives empirically zero."""
    from dynamic_etl_spark.registry.curation import benchmark_decontamination

    rows = benchmark_decontamination(spark, SF_SMALL).collect()
    planted = [r for r in rows if r["doc_id"] % 17 == 3]
    assert planted and all(r["is_contaminated"] == 1 for r in planted)
    # The testdata generator itself plants near-duplicate documents; a few
    # non-fixture docs are genuine ~100% copies of benchmark docs and MUST
    # flag. What must never flag is a low-overlap doc: every flagged
    # non-fixture doc is a real leak (>=50% of its grams in the benchmark).
    for r in rows:
        if r["doc_id"] % 17 != 3 and r["is_contaminated"] == 1:
            assert r["contamination_ratio"] >= 0.5, r
        if r["n_shared_grams"] == 0:
            assert r["is_contaminated"] == 0


# ------------------------------------------------------------ winnowing ---

def test_winnowing_guarantee_shared_run(spark):
    """Winnowing guarantee: a shared run of >= w + k - 1 words selects at
    least one common fingerprint (k=3, w=4 -> 6 words)."""
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} nine ten eleven twelve thirteen fourteen"),
            (3, "nothing in common with either document at all honestly"),
        ],
        "doc_id long, text string",
    )
    # digest can't show overlap; recompute the raw fingerprint sets
    from pyspark.sql import Window
    from dynamic_etl_spark.ops.lsh import word_gram_seq

    g = df.select(
        "doc_id", F.posexplode(word_gram_seq(F.col("text"), 3)).alias("pos", "gram")
    ).withColumn("h", F.md5("gram"))
    part = Window.partitionBy("doc_id")
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (
        g.withColumn("n", F.count(F.lit(1)).over(part))
        .withColumn("fp", F.min("h").over(frame))
        .filter(F.col("pos") <= F.greatest(F.col("n") - 4, F.lit(0)))
        .select("doc_id", "fp")
        .distinct()
        .collect()
    )
    sets: dict[int, set] = {}
    for r in fps:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[1] & sets[2], "shared 6-word run must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_winnowing_short_doc_single_window(spark):
    """Documents with fewer than w grams still fingerprint (one clamped
    window = min over all grams)."""
    df = spark.createDataFrame(
        [(1, "just four words here"), (2, "ab")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in winnow_fingerprints(df).collect()}
    assert rows[1]["n_fingerprints"] == 1
    assert rows[2]["n_fingerprints"] == 1  # single token -> single gram


def test_winnowing_density(spark):
    """Fingerprint density must be ~1/w of the gram count, not ~1 (the
    whole point vs full-gram fingerprinting)."""
    text = " ".join(f"w{i}" for i in range(400))  # all-distinct grams
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = winnow_fingerprints(df).collect()[0]
    n_grams = 400 - 3 + 1
    # expected density for random hashes is 2/(w+1) = 0.4
    assert row["n_fingerprints"] < n_grams * 0.6
    assert row["n_fingerprints"] >= n_grams / 8


# ------------------------------------------------ line-level (CCNet) dedup ---

def test_line_dup_profile_hand_example(spark):
    from dynamic_etl_spark.ops.lines import line_dup_profile

    df = spark.createDataFrame(
        [
            (1, "alpha\ncommon footer\nbeta"),
            (2, "gamma\ncommon footer"),
            (3, "delta\n\nepsilon"),  # empty line ignored
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dup_profile(df).collect()}
    assert (rows[1]["n_lines"], rows[1]["n_dup_lines"]) == (3, 1)
    assert (rows[2]["n_lines"], rows[2]["n_dup_lines"]) == (2, 1)
    assert (rows[3]["n_lines"], rows[3]["n_dup_lines"]) == (2, 0)
    assert rows[2]["dup_line_frac"] == 0.5


# ------------------------------------------------------------- quota cap ---

def test_per_key_top_n_rank_and_quota(spark):
    from dynamic_etl_spark.ops.sample import per_key_top_n

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("a", 4, 5), ("b", 5, 1)],
        "src string, id long, score long",
    )
    order = [F.col("score").desc(), F.col("id")]
    out = per_key_top_n(df, keys=["src"], order_by=order, n=2, rank_col="rk")
    rows = {(r["src"], r["id"]): r["rk"] for r in out.collect()}
    assert rows == {("a", 2): 1, ("a", 3): 2, ("b", 5): 1}
    # without rank_col the schema is untouched, rows still capped
    out2 = per_key_top_n(df, keys=["src"], order_by=order, n=1)
    assert out2.columns == ["src", "id", "score"]
    assert {r["id"] for r in out2.collect()} == {2, 5}


def test_per_key_top_n_plan_has_rank_limit_pushdown(spark):
    """The quota window must compile with the rank-limit pushdown
    (WindowGroupLimit), so each partition retains only n candidates per
    key before the shuffle — the property the 100 TB claim rests on."""
    from dynamic_etl_spark.ops.sample import per_key_top_n

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    out = per_key_top_n(
        df, keys=["k"], order_by=[F.col("v").desc()], n=3, rank_col="r"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_line_ops_edge_cases_blank_lines_and_empty_docs(spark):
    """Review fixes: blank lines are structure (never counted, so a blank
    line two documents share is no duplicate); empty docs still get a zero
    profile row; a rank-column collision raises instead of clobbering."""
    from dynamic_etl_spark.ops.lines import line_dup_profile
    from dynamic_etl_spark.ops.sample import per_key_top_n

    df = spark.createDataFrame(
        [(1, "para1\n\npara2"), (2, "other\n\nthing"), (3, "")],
        "doc_id long, text string",
    )
    prof = {r["doc_id"]: r for r in line_dup_profile(df).collect()}
    assert prof[3]["n_lines"] == 0 and prof[3]["dup_line_frac"] == 0.0
    assert prof[1]["n_lines"] == 2  # blank line not counted as content
    assert prof[1]["n_dup_lines"] == prof[2]["n_dup_lines"] == 0

    clash = df.withColumn("rk", F.lit(1))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        per_key_top_n(clash, keys=["doc_id"], order_by=[F.col("text")], n=1, rank_col="rk")


def test_bloom_path_equals_exact_contamination(spark):
    """contamination_profile_bloom == contamination_profile row-for-row on
    the documents corpus with planted leaks: bloom false positives are
    removed by the exact verify, and false negatives are impossible by
    construction — so the profiles must be IDENTICAL, not merely close."""
    from dynamic_etl_spark.ops.decontam import contamination_profile_bloom
    from dynamic_etl_spark.registry.curation import _planted_decontam_inputs

    corpus, bench = _planted_decontam_inputs(spark, SF_SMALL)
    exact = {
        r["doc_id"]: (r["n_grams"], r["n_shared_grams"], r["is_contaminated"])
        for r in contamination_profile(corpus, bench).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_grams"], r["n_shared_grams"], r["is_contaminated"])
        for r in contamination_profile_bloom(corpus, bench).collect()
    }
    assert bloom == exact


def test_bloom_prefilter_under_tiny_filter_still_exact(spark, monkeypatch):
    """A deliberately undersized bloom (256 bits for hundreds of grams —
    high fp rate) floods the verify stage with false candidates but the
    output stays exact: the correctness of the two-phase design cannot
    depend on the fp rate, only its COST can."""
    from dynamic_etl_spark.ops import decontam
    from dynamic_etl_spark.ops.decontam import contamination_profile_bloom
    from dynamic_etl_spark.registry.curation import _planted_decontam_inputs

    corpus, bench = _planted_decontam_inputs(spark, SF_SMALL)
    monkeypatch.setattr(decontam, "BLOOM_BITS", 256)
    monkeypatch.setattr(decontam, "BLOOM_HASHES", 2)
    exact = {
        r["doc_id"]: (r["n_grams"], r["n_shared_grams"])
        for r in contamination_profile(corpus, bench).collect()
    }
    tiny = {
        r["doc_id"]: (r["n_grams"], r["n_shared_grams"])
        for r in contamination_profile_bloom(corpus, bench).collect()
    }
    assert tiny == exact


def test_c4_page_profile_hand_examples(spark):
    """C4 gates ground truth on hand pages: every rule fires at least
    once here (the planted registry fixture never trips the
    min-sentences page rule — its base line always carries 3 marks),
    and clean_text preserves original line order."""
    from dynamic_etl_spark.ops.lines import c4_page_profile

    rows = [
        # kept: 3 sentences across two kept lines, short line dropped
        (0, "alpha beta gamma delta epsilon zeta. eta theta.\nhi.\n"
            "this closing line has exactly six words."),
        # page dropped: only 2 sentences survive
        (1, "alpha beta gamma delta epsilon one sentence only.\n"
            "second sentence with five words here."),
        # page dropped: lorem ipsum anywhere kills the page
        (2, "a fine sentence with enough words here. more of them too. and a third one.\n"
            "Lorem Ipsum dolor sit amet."),
        # page dropped: curly brace
        (3, "a fine sentence with enough words here. more. third.\nvar x = {1}"),
        # javascript line dropped -> 0 kept lines -> page dropped, NULL text
        (4, "please enable javascript to continue viewing this page."),
        # unterminated line dropped; page dies on sentences
        (5, "no terminal punctuation so this line drops"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_page_profile(df).collect()}
    assert got[0].page_kept and got[0].n_kept_lines == 2 and got[0].n_sentences == 3
    assert got[0].clean_text == (
        "alpha beta gamma delta epsilon zeta. eta theta.\n"
        "this closing line has exactly six words."
    )
    assert not got[1].page_kept and got[1].n_sentences == 2  # min-sentences fires
    # lorem overrides the page even though its line passes the LINE
    # rules (4 sentences counted: 3 in the base line + the lorem line)
    assert not got[2].page_kept and got[2].n_sentences == 4
    assert not got[3].page_kept                              # curly brace
    assert not got[4].page_kept and got[4].n_kept_lines == 0
    assert got[4].clean_text is None
    assert not got[5].page_kept and got[5].n_sentences == 0
    # dropped pages never surface text
    assert all(g.clean_text is None for g in got.values() if not g.page_kept)
