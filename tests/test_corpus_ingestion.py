"""End-to-end corpus ingestion: the composition story of round 4's
pieces — a Pipeline (with retry) runs per-batch incremental near-dup
admission against a versioned corpus + signature store, committing each
accepted delta as a new table version. What a daily training-data
ingest DAG actually looks like on this engine."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark.catalog import load_table
from dynamic_etl_spark.io import read_table
from dynamic_etl_spark.io import versioned as V
from dynamic_etl_spark.io.versioned import latest_version, read_versioned, write_versioned
from dynamic_etl_spark.ops.lsh import incremental_near_dup_merge, minhash_banded_rows
from dynamic_etl_spark.pipeline import Pipeline, Step
from tests.conftest import SF_SMALL

pytestmark = pytest.mark.slow  # fast-tier skip (FULL_SUITE=1 runs it) — VERDICT r13 #7: the
# default `pytest tests/` run must finish inside the driver budget; this
# file is long-tail wall time (streaming/stress/e2e composites), fully
# covered by the round-start FULL_SUITE run.


def _ingest_batch(spark, corpus_root, store_root, batch):
    """One ingest run: admit batch against the versioned corpus+store,
    commit corpus delta and signature delta as new versions."""
    corpus = read_versioned(spark, corpus_root)
    store = read_versioned(spark, store_root)
    out = incremental_near_dup_merge(
        corpus, batch, "doc_id", "text", existing_banded=store
    )
    new_corpus = corpus.unionByName(out["accepted"])
    new_store = store.unionByName(out["new_banded"])
    write_versioned(new_corpus, corpus_root, base_version=latest_version(corpus_root), expected_base=True)
    write_versioned(new_store, store_root, base_version=latest_version(store_root), expected_base=True)
    return out


def test_corpus_ingestion_pipeline(spark, tmp_path):
    corpus_root = str(tmp_path / "corpus")
    store_root = str(tmp_path / "sigstore")

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") < 300)
    write_versioned(seed, corpus_root)
    write_versioned(minhash_banded_rows(seed, "doc_id", "text"), store_root)

    # batch 1: fresh docs + near-copies of the seed corpus
    fresh1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    dups1 = seed.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    batch1 = fresh1.unionByName(dups1)

    def batch2(ctx):
        # near-copies of batch-1 ADMITTED docs (read back from the
        # committed corpus version) — all must be rejected via the store
        admitted = read_versioned(spark, corpus_root).filter(
            (F.col("doc_id") >= 300) & (F.col("doc_id") < 400) & (F.col("doc_id") % 25 == 0)
        )
        return admitted.select(
            (F.col("doc_id") + 20_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" coda")).alias("text"),
        )

    flaky_calls = {"n": 0}

    def flaky_connect(ctx):
        flaky_calls["n"] += 1
        if flaky_calls["n"] == 1:
            raise OSError("transient source hiccup")
        return True

    pipe = Pipeline(
        "daily-corpus-ingest",
        [
            Step("connect", flaky_connect, retries=1),
            Step("batch1", lambda ctx: _ingest_batch(spark, corpus_root, store_root, batch1), depends_on=("connect",)),
            Step("batch2", lambda ctx: _ingest_batch(spark, corpus_root, store_root, batch2(ctx)), depends_on=("batch1",)),
        ],
    )
    result = pipe.run()
    assert result.order == ["connect", "batch1", "batch2"]
    assert flaky_calls["n"] == 2  # retry policy recovered the ingest

    out1, out2 = result.outputs["batch1"], result.outputs["batch2"]
    acc1 = {r["doc_id"] for r in out1["accepted"].collect()}
    fresh_ids = {r["doc_id"] for r in fresh1.select("doc_id").collect()}
    dup1_ids = {r["doc_id"] for r in dups1.select("doc_id").collect()}
    # a rejected doc appears in dup_pairs as id_new, OR only as id_matched
    # when a component-mate carried the existing-corpus hit
    matched1 = {
        r["id_new"] for r in out1["dup_pairs"].select("id_new").collect()
    } | {r["id_matched"] for r in out1["dup_pairs"].select("id_matched").collect()}
    # every planted near-copy of the corpus was caught and rejected
    assert dup1_ids & acc1 == set()
    assert dup1_ids <= matched1
    # fresh docs are admitted unless the operator shows WHY (the fixture
    # corpus contains genuine near-dups of its own)
    assert acc1 <= fresh_ids
    assert fresh_ids - acc1 <= matched1
    assert len(acc1) >= 90  # the vast majority of fresh docs are unique

    assert out2["accepted"].count() == 0  # copies of admissions all rejected

    # three corpus versions committed; history still readable
    assert latest_version(corpus_root) == 2
    assert read_table(
        spark, os.path.join(corpus_root, "_versions", V._commit_record(corpus_root, 0)["dir"])
    ).count() == 300
    assert read_versioned(spark, corpus_root).count() == 300 + len(acc1)
    # signature store grew by exactly the admitted docs' bands
    store = read_versioned(spark, store_root)
    assert store.select("doc_id").distinct().count() == 300 + len(acc1)
