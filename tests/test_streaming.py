"""Streaming incremental ingestion: batch parity + checkpoint exactly-once
(S8 semantics — the checkpoint file-log is the processed-files ledger)."""

from __future__ import annotations

import datetime
import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark.streaming import file_stream, run_available_now
from dynamic_etl_spark.streaming.incremental import await_drain
from tests.conftest import SF_SMALL

pytestmark = pytest.mark.slow  # fast-tier skip (FULL_SUITE=1 runs it) — VERDICT r13 #7: the
# default `pytest tests/` run must finish inside the driver budget; this
# file is long-tail wall time (streaming/stress/e2e composites), fully
# covered by the round-start FULL_SUITE run.


# Repo-local scratch (the environment forbids writes outside /root/repo).
SCRATCH = Path(__file__).resolve().parent.parent / ".tmp" / "streaming"


@pytest.fixture()
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _normalize_ts(df):
    """events.ts is Parquet TIMESTAMP(NANOS): with the legacy nanosAsLong
    conf Spark surfaces it as a nanos bigint, while newer readers surface
    it natively as TIMESTAMP_NTZ (already truncated to micros) — normalize
    both to the same zoned micros timestamp (watermarks reject NTZ; the
    session timezone is pinned UTC) so stream and batch paths agree."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _drain_to_memory(df, ckpt, name, output_mode):
    """AvailableNow drain into the in-memory table ``name`` in an output
    mode run_available_now does not use (stateful and stream-stream
    queries need update/append)."""
    query = (
        df.writeStream.format("memory")
        .outputMode(output_mode)
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    return await_drain(query, 120, f"query {name!r}")


def _type_counts(df):
    return {
        r["event_type"]: r["n"]
        for r in df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_available_now_drains_and_checkpoint_dedupes(spark, scratch):
    src = scratch / "incoming"
    src.mkdir()
    ckpt = str(scratch / "ckpt")
    events_file = f"{SF_SMALL}/events.parquet"
    shutil.copy(events_file, src / "batch1.parquet")

    batch = spark.read.parquet(str(src))
    counts = file_stream(spark, str(src), batch.schema).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )

    q1 = run_available_now(counts, ckpt, query_name="ev1")
    got1 = {r["event_type"]: r["n"] for r in spark.sql("SELECT * FROM ev1").collect()}
    assert got1 == _type_counts(batch)
    n_file_rows = batch.count()
    assert q1.lastProgress["numInputRows"] == n_file_rows

    # Second run, same checkpoint, one NEW file: exactly the new file's rows
    # are read (the already-seen file is in the ledger), totals double.
    shutil.copy(events_file, src / "batch2.parquet")
    counts2 = file_stream(spark, str(src), batch.schema).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    q2 = run_available_now(counts2, ckpt, query_name="ev2")
    assert q2.lastProgress["numInputRows"] == n_file_rows
    got2 = {r["event_type"]: r["n"] for r in spark.sql("SELECT * FROM ev2").collect()}
    assert got2 == {k: 2 * v for k, v in got1.items()}

    # Third run, same checkpoint, nothing new: zero rows processed.
    counts3 = file_stream(spark, str(src), batch.schema).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    q3 = run_available_now(counts3, ckpt, query_name="ev3")
    assert q3.lastProgress is None or q3.lastProgress["numInputRows"] == 0


def test_watermarked_window_matches_batch(spark, scratch):
    from dynamic_etl_spark.streaming import windowed_aggregate

    src = scratch / "incoming"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "batch1.parquet")
    batch = spark.read.parquet(str(src))

    stream = file_stream(spark, str(src), batch.schema)
    agg = windowed_aggregate(_normalize_ts(stream), "ts")
    run_available_now(agg, str(scratch / "ckpt_w"), query_name="win")
    got = {
        r["window_start"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM win").collect()
    }
    expected = {
        r["w"]["start"]: (r["n"], round(r["tv"], 6))
        for r in _normalize_ts(batch)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == expected


def test_stateful_running_user_stats(spark, scratch):
    from dynamic_etl_spark.streaming import running_user_stats

    src = scratch / "incoming"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "b1.parquet")
    batch = spark.read.parquet(str(src))

    stream = _normalize_ts(file_stream(spark, str(src), batch.schema))
    stats = running_user_stats(stream)
    _drain_to_memory(stats, str(scratch / "ckpt_state"), "ustats", "update")
    # update mode may emit several rows per user (updates + a timeout
    # finalization batch); the LATEST state is the max event count
    got: dict[int, tuple[int, float]] = {}
    for r in spark.sql("SELECT * FROM ustats").collect():
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            got[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == expected

    # second drain with a new file AND a fresh checkpoint over both files:
    # per-key state accumulates across micro-batches within the run
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "b2.parquet")
    stream2 = _normalize_ts(file_stream(spark, str(src), batch.schema))
    _drain_to_memory(
        running_user_stats(stream2), str(scratch / "ckpt_state2"), "ustats2", "update"
    )
    got2: dict[int, int] = {}
    for r in spark.sql("SELECT * FROM ustats2").collect():
        got2[r["user_id"]] = max(got2.get(r["user_id"], 0), r["n_events"])
    for uid, (n, _) in expected.items():
        assert got2[uid] == 2 * n, f"state did not accumulate for user {uid}"


def test_dedup_within_watermark_drops_redelivered_rows(spark, scratch):
    """Two copies of the same file pass the FILE-level ledger (different
    names), but row-level dedup on event_id collapses them back to one
    copy's worth of rows."""
    from dynamic_etl_spark.streaming import dedup_within_watermark

    src = scratch / "incoming"
    src.mkdir()
    events_file = f"{SF_SMALL}/events.parquet"
    shutil.copy(events_file, src / "copy1.parquet")
    shutil.copy(events_file, src / "copy2.parquet")
    batch = spark.read.parquet(events_file)

    stream = _normalize_ts(file_stream(spark, str(src), batch.schema))
    deduped = dedup_within_watermark(stream, ["event_id"])
    counts = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    run_available_now(counts, str(scratch / "ckpt_dd"), query_name="dd")
    got = {r["event_type"]: r["n"] for r in spark.sql("SELECT * FROM dd").collect()}
    assert got == _type_counts(batch)  # single-copy counts, not doubled


def test_interval_stream_join_matches_batch(spark, scratch):
    """Watermarked stream-stream interval join == the equivalent batch
    join: every click pairs with same-user purchases within 30 minutes
    after it."""
    from dynamic_etl_spark.streaming import interval_stream_join

    src = scratch / "incoming"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "b1.parquet")
    batch = _normalize_ts(spark.read.parquet(str(src)))

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        return clicks, purchases

    sc, sp = sides(_normalize_ts(file_stream(spark, str(src), spark.read.parquet(str(src)).schema)))
    joined = interval_stream_join(
        sc, sp, left_key="c_user", right_key="p_user",
        left_ts="c_ts", right_ts="p_ts",
    ).select("click_id", "purchase_id")
    _drain_to_memory(joined, str(scratch / "ckpt_ssj"), "ssj", "append")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    bc, bp = sides(batch)
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in bc.join(
            bp,
            (bc.c_user == bp.p_user)
            & (bp.p_ts >= bc.c_ts)
            & (bp.p_ts <= bc.c_ts + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == expected and len(expected) > 0


def test_streaming_merge_sink_upserts_table(spark, scratch):
    """foreachBatch MERGE sink: an update feed streamed against a parquet
    table lands as SCD-1 semantics (update beyond tolerance, insert new
    keys, keep the rest), swapped atomically; a second drain with no new
    files changes nothing (checkpoint exactly-once)."""
    from dynamic_etl_spark.streaming import file_stream, run_streaming_merge

    table = str(scratch / "dim_table")
    initial = spark.createDataFrame(
        [(1, "k1", 10.0), (2, "k2", 20.0), (3, "k3", 30.0)], ["sk", "nk", "v"]
    )
    initial.write.parquet(table)

    feed_dir = scratch / "feed"
    feed_dir.mkdir()
    updates = spark.createDataFrame(
        [("k1", 11.0), ("k2", 20.005), ("k9", 90.0)], ["nk", "v"]
    )
    updates.coalesce(1).write.parquet(str(feed_dir / "f1.parquet"))

    stream = file_stream(spark, str(feed_dir / "f1.parquet"), updates.schema)
    run_streaming_merge(
        stream, table, str(scratch / "ckpt_merge"),
        natural_key=["nk"], surrogate_col="sk", tolerance_cols=["v"],
    )
    got = {r["nk"]: (r["sk"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got["k1"] == (1, 11.0)      # UPDATE beyond tolerance
    assert got["k2"] == (2, 20.0)      # NOOP within tolerance keeps existing
    assert got["k3"] == (3, 30.0)      # KEEP (absent from feed)
    assert got["k9"][1] == 90.0 and got["k9"][0] == 4  # INSERT, hwm+1

    # re-drain same checkpoint: nothing pending, table untouched
    stream2 = file_stream(spark, str(feed_dir / "f1.parquet"), updates.schema)
    run_streaming_merge(
        stream2, table, str(scratch / "ckpt_merge"),
        natural_key=["nk"], surrogate_col="sk", tolerance_cols=["v"],
    )
    again = {r["nk"]: (r["sk"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert again == got


def test_streaming_merge_sink_bootstrap_and_column_guard(spark, scratch):
    """Review r3: a missing table bootstraps from the first batch; an
    existing table with a column the caller didn't declare raises instead
    of silently destroying it in the rewrite."""
    from dynamic_etl_spark.streaming import file_stream, run_streaming_merge
    from pyspark.errors.exceptions.captured import StreamingQueryException

    feed_dir = scratch / "feed"
    feed_dir.mkdir()
    updates = spark.createDataFrame([("k1", 1.0), ("k2", 2.0)], ["nk", "v"])
    updates.coalesce(1).write.parquet(str(feed_dir / "f1.parquet"))

    # bootstrap: table path does not exist yet
    table = str(scratch / "fresh_table")
    stream = file_stream(spark, str(feed_dir / "f1.parquet"), updates.schema)
    run_streaming_merge(
        stream, table, str(scratch / "ckpt_boot"),
        natural_key=["nk"], surrogate_col="sk", tolerance_cols=["v"],
    )
    got = {r["nk"]: (r["sk"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got == {"k1": (1, 1.0), "k2": (2, 2.0)}  # keys numbered from 1

    # column guard: an undeclared audit column must abort the merge
    table2 = str(scratch / "guarded_table")
    spark.createDataFrame(
        [(1, "k1", 1.0, "keep me")], ["sk", "nk", "v", "audit_note"]
    ).write.parquet(table2)
    stream2 = file_stream(spark, str(feed_dir / "f1.parquet"), updates.schema)
    with pytest.raises(StreamingQueryException, match="destroy"):
        run_streaming_merge(
            stream2, table2, str(scratch / "ckpt_guard"),
            natural_key=["nk"], surrogate_col="sk", tolerance_cols=["v"],
        )
    # the guarded table is untouched
    row = spark.read.parquet(table2).collect()[0]
    assert row["audit_note"] == "keep me"


def test_streaming_merge_sink_refuses_duplicate_natural_keys(spark, scratch):
    """ADVICE r3 (medium): a micro-batch with two change rows for one
    natural key must NOT fan out the full-outer merge into duplicate
    (sk, nk) rows: the duplicated batch raises instead of corrupting."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dynamic_etl_spark.streaming import file_stream, run_streaming_merge

    feed_dir = scratch / "feed"
    feed_dir.mkdir()
    # two changes for k1 + an insert for k9, one batch
    changes = spark.createDataFrame(
        [("k1", 11.0), ("k1", 12.0), ("k9", 90.0)], ["nk", "v"]
    )
    changes.coalesce(1).write.parquet(str(feed_dir / "f1.parquet"))

    table = str(scratch / "dim_table")
    spark.createDataFrame([(1, "k1", 10.0)], ["sk", "nk", "v"]).write.parquet(table)
    stream = file_stream(spark, str(feed_dir / "f1.parquet"), changes.schema)
    with pytest.raises(StreamingQueryException, match="duplicate natural keys"):
        run_streaming_merge(
            stream, table, str(scratch / "ckpt_dedup"),
            natural_key=["nk"], surrogate_col="sk", tolerance_cols=["v"],
        )
    assert spark.read.parquet(table).count() == 1  # table untouched


def test_streaming_dedup_sink_admits_and_heals(spark, scratch):
    """run_streaming_dedup: bootstrap from batch 1 (within-batch dedup),
    batch 2 rejected against the store, corpus versions advance, and a
    corpus-committed/store-crashed window self-heals on the next drain."""
    from dynamic_etl_spark.io.versioned import (
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_dedup

    corpus_root = str(scratch / "corpus")
    store_root = str(scratch / "sigstore")
    feed = scratch / "docfeed"
    feed.mkdir()

    def sentence(seed, extra=""):
        return " ".join(f"w{(seed * 31 + p * 7) % 997}" for p in range(10)) + extra

    b1 = spark.createDataFrame(
        [(1, sentence(1)), (2, sentence(2)), (3, sentence(1, " x"))],  # 3 ~ 1
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    run_streaming_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, str(scratch / "ckpt_dedup"),
        id_col="doc_id", text_col="text",
    )
    assert latest_version(corpus_root) == 0
    assert {r["doc_id"] for r in read_versioned(spark, corpus_root).collect()} == {1, 2}

    # batch 2: a copy of an admitted doc + a genuinely new one
    b2 = spark.createDataFrame(
        [(10, sentence(2, " y")), (11, sentence(99))], ["doc_id", "text"]
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    run_streaming_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, str(scratch / "ckpt_dedup"),
        id_col="doc_id", text_col="text",
    )
    corpus = {r["doc_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11}
    assert latest_version(corpus_root) == 1

    # crash window: corpus advances without its signatures (doc 50)
    extra = spark.createDataFrame([(50, sentence(50))], ["doc_id", "text"])
    write_versioned(
        read_versioned(spark, corpus_root).unionByName(extra), corpus_root
    )
    # next drain heals the store, so a copy of doc 50 is REJECTED
    b3 = spark.createDataFrame([(60, sentence(50, " z"))], ["doc_id", "text"])
    b3.coalesce(1).write.parquet(str(feed / "b3.parquet"))
    run_streaming_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, str(scratch / "ckpt_dedup"),
        id_col="doc_id", text_col="text",
    )
    corpus = {r["doc_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11, 50}  # 60 rejected against the healed store
    store_ids = {
        r["doc_id"]
        for r in read_versioned(spark, store_root).select("doc_id").distinct().collect()
    }
    assert store_ids == {1, 2, 11, 50}


def test_streaming_dedup_bootstrap_crash_and_empty_docs(spark, scratch):
    """(review r4) A crash between the bootstrap's corpus commit and the
    first store commit must not wedge the stream: the next drain heals
    from an empty store. Zero-token docs are dropped, never admitted."""
    from dynamic_etl_spark.io.versioned import (
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_dedup

    corpus_root = str(scratch / "corpus_bc")
    store_root = str(scratch / "sigstore_bc")
    feed = scratch / "docfeed_bc"
    feed.mkdir()

    def sentence(seed, extra=""):
        return " ".join(f"w{(seed * 31 + p * 7) % 997}" for p in range(10)) + extra

    # simulate: bootstrap batch committed the corpus, crashed before the
    # store commit (store_root does not even exist)
    seeded = spark.createDataFrame(
        [(1, sentence(1)), (2, sentence(2))], ["doc_id", "text"]
    )
    write_versioned(seeded, corpus_root)

    b1 = spark.createDataFrame(
        [
            (10, sentence(1, " x")),  # near corpus doc 1 -> must be rejected
            (11, sentence(77)),       # fresh -> admitted
            (12, "   "),              # zero tokens -> dropped
        ],
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    run_streaming_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, str(scratch / "ckpt_bc"),
        id_col="doc_id", text_col="text",
    )
    corpus = {r["doc_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11}
    # the heal rebuilt signatures for the pre-crash corpus docs too
    store_ids = {
        r["doc_id"]
        for r in read_versioned(spark, store_root).select("doc_id").distinct().collect()
    }
    assert store_ids == {1, 2, 11}
    assert latest_version(store_root) == 1  # heal commit, then batch commit


def test_streaming_semantic_dedup_admits_and_heals(spark, scratch):
    """run_streaming_semantic_dedup (VERDICT r8 #4): bootstrap from
    batch 1 freezes the centroid fit + dedups within the batch, batch 2
    rejects against the store under the SAME fit, zero-norm vectors are
    dropped, and a corpus-committed/store-crashed window self-heals on
    the next drain."""
    import numpy as np

    from dynamic_etl_spark.io.versioned import (
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_semantic_dedup

    corpus_root = str(scratch / "semcorpus")
    store_root = str(scratch / "semstore")
    centers_root = str(scratch / "semcenters")
    feed = scratch / "vecfeed"
    feed.mkdir()

    def vec(seed):
        rng = np.random.RandomState(seed)
        return [float(x) for x in rng.uniform(-1.0, 1.0, 16)]

    def near(v):
        return [float(x + 1e-3 * ((i % 3) - 1)) for i, x in enumerate(v)]

    b1 = spark.createDataFrame(
        [
            (1, vec(1)),
            (2, vec(2)),
            (3, near(vec(1))),      # within-batch dup of 1 -> rejected
            (4, [0.0] * 16),        # zero-norm -> dropped
        ],
        "vec_id long, embedding array<double>",
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    run_streaming_semantic_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, centers_root, str(scratch / "ckpt_sem"),
        id_col="vec_id", vec_col="embedding",
    )
    assert latest_version(corpus_root) == 0
    assert latest_version(centers_root) == 0
    assert {r["vec_id"] for r in read_versioned(spark, corpus_root).collect()} == {1, 2}

    frozen = {
        (r["cell"], tuple(r["center"]))
        for r in read_versioned(spark, centers_root).collect()
    }

    # batch 2: a near-copy of an admitted doc + a genuinely new one
    b2 = spark.createDataFrame(
        [(10, near(vec(2))), (11, vec(99))],
        "vec_id long, embedding array<double>",
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    run_streaming_semantic_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, centers_root, str(scratch / "ckpt_sem"),
        id_col="vec_id", vec_col="embedding",
    )
    corpus = {r["vec_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11}
    assert latest_version(corpus_root) == 1
    # the fit stayed FROZEN across batches
    assert {
        (r["cell"], tuple(r["center"]))
        for r in read_versioned(spark, centers_root).collect()
    } == frozen

    # crash window: corpus advances without its store rows (doc 50)
    extra = spark.createDataFrame(
        [(50, vec(50))], "vec_id long, embedding array<double>"
    )
    write_versioned(
        read_versioned(spark, corpus_root).unionByName(extra), corpus_root
    )
    # next drain heals the store, so a near-copy of doc 50 is REJECTED
    b3 = spark.createDataFrame(
        [(60, near(vec(50)))], "vec_id long, embedding array<double>"
    )
    b3.coalesce(1).write.parquet(str(feed / "b3.parquet"))
    run_streaming_semantic_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, centers_root, str(scratch / "ckpt_sem"),
        id_col="vec_id", vec_col="embedding",
    )
    corpus = {r["vec_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11, 50}  # 60 rejected against the healed store
    store_ids = {
        r["vec_id"]
        for r in read_versioned(spark, store_root).select("vec_id").distinct().collect()
    }
    assert store_ids == {1, 2, 11, 50}


def test_streaming_semantic_dedup_bootstrap_crash_heals_fit(spark, scratch):
    """A corpus seeded OUTSIDE the sink (no centers, no store — the
    widest crash window) must not wedge the stream: the next drain
    refits deterministically from the committed corpus, heals the
    store, and admission proceeds under the frozen fit."""
    import numpy as np

    from dynamic_etl_spark.io.versioned import (
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_semantic_dedup

    corpus_root = str(scratch / "semcorpus_bc")
    store_root = str(scratch / "semstore_bc")
    centers_root = str(scratch / "semcenters_bc")
    feed = scratch / "vecfeed_bc"
    feed.mkdir()

    def vec(seed):
        rng = np.random.RandomState(seed)
        return [float(x) for x in rng.uniform(-1.0, 1.0, 16)]

    def near(v):
        return [float(x + 1e-3 * ((i % 3) - 1)) for i, x in enumerate(v)]

    seeded = spark.createDataFrame(
        [(1, vec(1)), (2, vec(2))], "vec_id long, embedding array<double>"
    )
    write_versioned(seeded, corpus_root)

    b1 = spark.createDataFrame(
        [
            (10, near(vec(1))),   # near corpus doc 1 -> must be rejected
            (11, vec(77)),        # fresh -> admitted
        ],
        "vec_id long, embedding array<double>",
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    run_streaming_semantic_dedup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        corpus_root, store_root, centers_root, str(scratch / "ckpt_sem_bc"),
        id_col="vec_id", vec_col="embedding",
    )
    corpus = {r["vec_id"] for r in read_versioned(spark, corpus_root).collect()}
    assert corpus == {1, 2, 11}
    # the heal rebuilt store rows for the pre-crash corpus docs too,
    # and the refit-from-corpus froze a centers table
    store_ids = {
        r["vec_id"]
        for r in read_versioned(spark, store_root).select("vec_id").distinct().collect()
    }
    assert store_ids == {1, 2, 11}
    assert latest_version(centers_root) == 0
    assert latest_version(store_root) == 1  # heal commit, then batch commit


def test_streaming_rollup_exactly_once_fold(spark, scratch):
    """run_streaming_rollup: the maintained state equals the one-shot
    aggregate over everything, survives a second drain (no pending
    batches -> no fold), and a REPLAYED batch id is skipped (the
    transactional batch-id metadata makes the non-idempotent fold
    exactly-once)."""
    from dynamic_etl_spark.io.versioned import latest_metadata, read_versioned
    from dynamic_etl_spark.ops.agg import finalize_agg_state
    from dynamic_etl_spark.streaming import file_stream, run_streaming_rollup

    state_root = str(scratch / "rollup_state")
    feed = scratch / "rollup_feed"
    feed.mkdir()
    ckpt = str(scratch / "ckpt_rollup")

    b1 = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0)], ["k", "v"]
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    run_streaming_rollup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        state_root, ckpt, keys=["k"], value="v",
    )
    b2 = spark.createDataFrame([("a", 30.0), ("c", 7.0)], ["k", "v"])
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    run_streaming_rollup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        state_root, ckpt, keys=["k"], value="v",
    )

    def snapshot():
        return {
            r["k"]: (r["n_rows"], r["sum_value"], r["min_value"], r["max_value"])
            for r in finalize_agg_state(read_versioned(spark, state_root)).collect()
        }

    expect = {"a": (3, 60.0, 10.0, 30.0), "b": (1, 5.0, 5.0, 5.0), "c": (1, 7.0, 7.0, 7.0)}
    assert snapshot() == expect
    last_batch = latest_metadata(state_root)["batch_id"]

    # drain again with nothing pending: state untouched
    run_streaming_rollup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        state_root, ckpt, keys=["k"], value="v",
    )
    assert snapshot() == expect

    # simulate checkpoint redelivery: a FRESH checkpoint re-delivers every
    # file as earlier batch ids — all at-or-below the recorded id, so the
    # fold must be skipped, not double-counted
    run_streaming_rollup(
        file_stream(spark, str(feed / "*.parquet"), b1.schema),
        state_root, str(scratch / "ckpt_rollup_replay"), keys=["k"], value="v",
    )
    assert snapshot() == expect
    assert latest_metadata(state_root)["batch_id"] == last_batch


def test_streaming_summary_maintains_quantile_histogram(spark, scratch):
    """run_streaming_summary with the histogram-quantile builders: the
    maintained state equals the one-shot histogram over everything
    (merging is lossless for integer bins), a second drain is a no-op,
    and a replayed batch id is skipped — the same exactly-once contract
    as the rollup sink, now for ANY mergeable summary."""
    import os

    from pyspark.sql import functions as F

    from dynamic_etl_spark.io.versioned import latest_metadata, read_versioned
    from dynamic_etl_spark.ops.agg import (
        build_quantile_hist_state,
        merge_quantile_hist_state,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    src = os.path.join(scratch, "src")
    state = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)
    lo, hi, nb = 0.0, 100.0, 20
    all_rows = []
    for part in range(3):
        rows = [(str(part), float((i * 7 + part * 13) % 100)) for i in range(50)]
        all_rows += rows
        spark.createDataFrame(rows, "grp string, value double").coalesce(
            1
        ).write.mode("append").parquet(src)
        run_streaming_summary(
            file_stream(spark, src, "grp string, value double"),
            state,
            ckpt,
            build=lambda b: build_quantile_hist_state(b, ["grp"], "value", lo, hi, nb),
            merge=merge_quantile_hist_state,
        )

    one_shot = {
        (r["grp"], r["state_bin"]): r["state_n"]
        for r in build_quantile_hist_state(
            spark.createDataFrame(all_rows, "grp string, value double"),
            ["grp"], "value", lo, hi, nb,
        ).collect()
    }
    maintained = {
        (r["grp"], r["state_bin"]): r["state_n"]
        for r in read_versioned(spark, state).collect()
    }
    assert maintained == one_shot

    # drained checkpoint: re-running with no new files folds nothing
    before = latest_metadata(state).get("batch_id")
    run_streaming_summary(
        file_stream(spark, src, "grp string, value double"),
        state,
        ckpt,
        build=lambda b: build_quantile_hist_state(b, ["grp"], "value", lo, hi, nb),
        merge=merge_quantile_hist_state,
    )
    assert latest_metadata(state).get("batch_id") == before
    assert {
        (r["grp"], r["state_bin"]): r["state_n"]
        for r in read_versioned(spark, state).collect()
    } == one_shot


def test_streaming_summary_maintains_heavy_hitters_and_reservoir(spark, scratch, monkeypatch):
    """run_streaming_summary with the Misra-Gries and reservoir builders
    — the two summary types the generic-runner claim had not yet
    exercised end-to-end. MG: the maintained state must equal the same
    left-fold computed eagerly batch by batch (both deterministic).
    Reservoir: merge-invariant, so the maintained state must equal the
    ONE-SHOT build over everything ingested."""
    import os

    from pyspark.sql import functions as F

    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.ops import agg, sample
    from dynamic_etl_spark.ops.agg import (
        build_heavy_hitter_state,
        merge_heavy_hitter_state,
    )
    from dynamic_etl_spark.ops.sample import (
        build_reservoir_state,
        merge_reservoir_state,
    )

    monkeypatch.setattr(agg, "MG_K", 4)
    monkeypatch.setattr(sample, "RESERVOIR_N", 10)
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    schema = "grp string, item long"
    batches = [
        [(str(i % 2), (i * 13 + p * 7) % 25) for i in range(300)] for p in range(3)
    ]

    # --- Misra-Gries ---
    src = os.path.join(scratch, "mg_src"); os.makedirs(src)
    state = os.path.join(scratch, "mg_state")
    ckpt = os.path.join(scratch, "mg_ckpt")
    expected = None
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        delta = build_heavy_hitter_state(bdf, ["grp"], "item")
        expected = delta if expected is None else merge_heavy_hitter_state(expected, delta)
        expected = expected.localCheckpoint()
        bdf.coalesce(1).write.mode("append").parquet(src)
        run_streaming_summary(
            file_stream(spark, src, schema), state, ckpt,
            build=lambda b: build_heavy_hitter_state(b, ["grp"], "item"),
            merge=merge_heavy_hitter_state,
        )
    maintained = sorted(map(tuple, read_versioned(spark, state).collect()))
    assert maintained == sorted(map(tuple, expected.collect()))

    # --- reservoir (merge-invariant => one-shot equality) ---
    src2 = os.path.join(scratch, "rs_src"); os.makedirs(src2)
    state2 = os.path.join(scratch, "rs_state")
    ckpt2 = os.path.join(scratch, "rs_ckpt")
    all_rows = []
    for p, rows in enumerate(batches):
        # unique item ids per row (the reservoir priority key)
        rows = [(g, it + p * 10000) for g, it in rows]
        all_rows += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src2)
        run_streaming_summary(
            file_stream(spark, src2, schema), state2, ckpt2,
            build=lambda b: build_reservoir_state(b, ["grp"], "item"),
            merge=merge_reservoir_state,
        )
    one_shot = build_reservoir_state(spark.createDataFrame(all_rows, schema), ["grp"], "item")
    assert sorted(map(tuple, read_versioned(spark, state2).collect())) == sorted(
        map(tuple, one_shot.collect())
    )


def test_streaming_summary_maintains_count_min(spark, scratch, monkeypatch):
    """run_streaming_summary with the Count-Min builders: the maintained
    counter grid equals the one-shot sketch over everything (elementwise
    integer addition is lossless), so streaming point-frequency
    estimates carry the same overestimate-only guarantee as batch."""
    import os

    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.ops import agg
    from dynamic_etl_spark.ops.agg import (
        build_cm_state,
        cm_estimate,
        merge_cm_state,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    monkeypatch.setattr(agg, "CM_WIDTH", 16)

    src = os.path.join(scratch, "src")
    state = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)
    all_rows = []
    for part in range(3):
        rows = [((i * 11 + part * 5) % 37,) for i in range(60)]
        all_rows += rows
        spark.createDataFrame(rows, "item long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_streaming_summary(
            file_stream(spark, src, "item long"),
            state,
            ckpt,
            build=lambda b: build_cm_state(b, [], "item"),
            merge=merge_cm_state,
        )

    one_shot = {
        (r["state_depth"], r["state_bucket"]): r["state_cnt"]
        for r in build_cm_state(
            spark.createDataFrame(all_rows, "item long"), [], "item"
        ).collect()
    }
    maintained_df = read_versioned(spark, state)
    maintained = {
        (r["state_depth"], r["state_bucket"]): r["state_cnt"]
        for r in maintained_df.collect()
    }
    assert maintained == one_shot

    # streaming-maintained estimates stay overestimate-only
    items = spark.createDataFrame(all_rows, "item long")
    exact = {
        r["item"]: r["n"]
        for r in items.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r["item"]: r["cm_estimate"]
        for r in cm_estimate(maintained_df, items.distinct(), "item").collect()
    }
    assert all(est[i] >= exact[i] for i in exact)


def test_streaming_summary_maintains_ks_drift_state(spark, scratch):
    """run_streaming_summary with the binned-KS builders (the drift
    gate's monoid state): after three micro-batches the maintained
    per-(type, bucket) side counts equal the one-shot build over
    everything ingested, and the finalized KS statistics match
    bit-for-bit — the drift gate gets streaming currency with no
    history rescan, like the rollup/CM/KLL siblings."""
    import os

    from pyspark.sql import functions as F

    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.registry.validation import (
        KS_BIN_WIDTH,
        _ks_fold,
        _ks_side_counts,
        merge_ks_bin_state,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    src = os.path.join(scratch, "src")
    state = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)
    schema = "event_type string, ts timestamp_ntz, value double"
    bucket = F.floor(F.col("value").cast("double") / F.lit(KS_BIN_WIDTH)).cast("long")
    all_rows = []
    for part in range(3):
        # one 'before' and one 'after' slab per batch, shifted after the
        # cut so the drift statistic is nonzero and batch-spanning
        rows = [
            ("t" + str(i % 2),
             datetime.datetime(2024, 1, 2 + part, 0, 0, 0),
             float((i * 7 + part * 13) % 60))
            for i in range(80)
        ] + [
            ("t" + str(i % 2),
             datetime.datetime(2024, 2, 2 + part, 0, 0, 0),
             float((i * 7 + part * 13) % 60 + 20))
            for i in range(80)
        ]
        all_rows += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        run_streaming_summary(
            file_stream(spark, src, schema),
            state,
            ckpt,
            build=lambda b: _ks_side_counts(b, bucket),
            merge=merge_ks_bin_state,
        )

    everything = spark.createDataFrame(all_rows, schema)
    one_shot_state = {
        (r["event_type"], r["v"]): (r["ca"], r["cb"])
        for r in _ks_side_counts(everything, bucket).collect()
    }
    maintained_state = {
        (r["event_type"], r["v"]): (r["ca"], r["cb"])
        for r in read_versioned(spark, state).collect()
    }
    assert maintained_state == one_shot_state

    finalized = {
        r["event_type"]: tuple(r)[1:]
        for r in _ks_fold(read_versioned(spark, state), with_bins=True).collect()
    }
    one_shot = {
        r["event_type"]: tuple(r)[1:]
        for r in _ks_fold(_ks_side_counts(everything, bucket), with_bins=True).collect()
    }
    assert finalized == one_shot
    assert all(v[2] > 0 for v in finalized.values())  # drift actually present


def test_streaming_summary_maintains_md5_hll(spark, scratch, monkeypatch):
    """run_streaming_summary with the md5-HLL register builders (the
    oracle-checkable distinct sketch, r8): MAX-merge is associative,
    commutative, AND idempotent, so the streamed register state equals
    the one-shot build register-for-register — and because the state is
    plain integer rows, the maintained sketch keeps its DuckDB-
    reproducibility through the exactly-once versioned-commit protocol
    (the Count-Min sibling above proves the addition-monoid case)."""
    import os

    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.ops import agg
    from dynamic_etl_spark.ops.agg import (
        build_hll_md5_state,
        finalize_hll_md5_state,
        merge_hll_md5_state,
    )
    from dynamic_etl_spark.streaming import file_stream, run_streaming_summary

    monkeypatch.setattr(agg, "HLL_P", 8)

    src = os.path.join(scratch, "src")
    state = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)
    all_rows = []
    for part in range(3):
        rows = [((i * 13 + part * 200) % 500,) for i in range(150)]
        all_rows += rows
        spark.createDataFrame(rows, "item long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_streaming_summary(
            file_stream(spark, src, "item long"),
            state,
            ckpt,
            build=lambda b: build_hll_md5_state(b, [], "item"),
            merge=merge_hll_md5_state,
        )

    one_shot = build_hll_md5_state(spark.createDataFrame(all_rows, "item long"), [], "item")
    maintained_df = read_versioned(spark, state)
    regs = lambda df: {(r["bucket"], r["max_rho"]) for r in df.collect()}
    assert regs(maintained_df) == regs(one_shot)

    # the finalized estimate off the streamed state is the one-shot
    # estimate (identical registers -> identical deterministic division)
    est = lambda df: finalize_hll_md5_state(df).collect()[0]["raw_estimate"]
    assert est(maintained_df) == est(one_shot)


# ==========================================================================
# run_streaming_curation: the three-tier gate on a stream (VERDICT r9 #4)
# ==========================================================================

def _sentence(seed, extra=""):
    return " ".join(f"w{(seed * 31 + p * 7) % 997}" for p in range(10)) + extra


_CURATION_SCHEMA = "doc_id int, text string, vec array<float>"


def _curation_roots(scratch, tag):
    return dict(
        corpus_root=str(scratch / f"cur_corpus_{tag}"),
        fp_root=str(scratch / f"cur_fp_{tag}"),
        lex_root=str(scratch / f"cur_lex_{tag}"),
        sem_root=str(scratch / f"cur_sem_{tag}"),
        centers_root=str(scratch / f"cur_centers_{tag}"),
        ledger_root=str(scratch / f"cur_ledger_{tag}"),
    )


def _drain_curation(spark, feed, roots, ckpt, mfpt=None):
    from dynamic_etl_spark.streaming import run_streaming_curation

    reader = spark.readStream.schema(spark.createDataFrame([], _CURATION_SCHEMA).schema)
    if mfpt is not None:
        reader = reader.option("maxFilesPerTrigger", mfpt)
    run_streaming_curation(
        reader.parquet(str(feed / "*.parquet")),
        **roots,
        checkpoint_dir=ckpt,
        id_col="doc_id", text_col="text", vec_col="vec",
    )


def _ledger_rows(spark, roots):
    from dynamic_etl_spark.io.versioned import read_versioned

    return {
        r["doc_id"]: (r["admitted"], r["rejected_by"], r["batch_id"])
        for r in read_versioned(spark, roots["ledger_root"]).collect()
    }


def _ids(spark, root):
    from dynamic_etl_spark.io.versioned import read_versioned

    return {
        r["doc_id"]
        for r in read_versioned(spark, root).select("doc_id").distinct().collect()
    }


def test_streaming_curation_three_tier_admission(spark, scratch):
    """Bootstrap a corpus from batch 1 (within-batch lexical dedup fires),
    then batch 2 exercises every tier against the stores: exact reject
    (case/whitespace copy), lexical reject (near-copy text), semantic
    reject (fresh text, near-identical embedding), within-batch exact
    pair (min id admits), embedding-less and zero-norm docs pass the
    semantic tier through, zero-token docs are dropped. Attribution is
    hand-pinned, and the streamed result is compared against the same
    tier ops composed in BATCH form on the committed state — the
    batch-vs-stream equivalence the composed registry gate promises."""
    from dynamic_etl_spark.io.versioned import read_versioned

    roots = _curation_roots(scratch, "a")
    feed = scratch / "cur_feed_a"
    feed.mkdir()

    b1 = spark.createDataFrame(
        [
            (1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
            (2, _sentence(2), [0.0, 1.0, 0.0, 0.0]),
            (3, _sentence(1, " x"), [0.0, 0.0, 1.0, 0.0]),  # lexical ~ 1
        ],
        _CURATION_SCHEMA,
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_a"))
    assert _ledger_rows(spark, roots) == {
        1: (True, "none", 0),
        2: (True, "none", 0),
        3: (False, "lexical", 0),
    }
    assert _ids(spark, roots["corpus_root"]) == {1, 2}

    b2 = spark.createDataFrame(
        [
            # exact reject: case/whitespace copy of corpus doc 2
            (10, "  " + _sentence(2).upper() + " ", None),
            # lexical reject: near-copy of corpus doc 1
            (11, _sentence(1, " y"), None),
            # semantic reject: fresh text, embedding ~ corpus doc 2
            (12, _sentence(42), [0.001, 1.0, 0.0, 0.0]),
            # fresh: admitted (max natural cosine 0.5)
            (13, _sentence(88), [1.0, 1.0, 1.0, 1.0]),
            # no embedding: passes the semantic tier through
            (14, _sentence(99), None),
            # zero tokens: dropped at the boundary (no ledger row)
            (15, "   ", None),
            # zero-norm embedding: normalized to NULL, admitted
            (16, _sentence(60), [0.0, 0.0, 0.0, 0.0]),
            # within-batch exact pair with 13: min id admits
            (17, _sentence(88).upper(), None),
        ],
        _CURATION_SCHEMA,
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_a"))

    ledger = _ledger_rows(spark, roots)
    assert ledger == {
        1: (True, "none", 0),
        2: (True, "none", 0),
        3: (False, "lexical", 0),
        10: (False, "exact", 1),
        11: (False, "lexical", 1),
        12: (False, "semantic", 1),
        13: (True, "none", 1),
        14: (True, "none", 1),
        16: (True, "none", 1),
        17: (False, "exact", 1),
    }
    assert _ids(spark, roots["corpus_root"]) == {1, 2, 13, 14, 16}
    # store deltas are filtered to the FINAL admitted set
    assert _ids(spark, roots["fp_root"]) == {1, 2, 13, 14, 16}
    assert _ids(spark, roots["lex_root"]) == {1, 2, 13, 14, 16}
    # the semantic store holds only embedded admitted docs (14 has no
    # embedding; 16's zero-norm vector was normalized to NULL)
    assert _ids(spark, roots["sem_root"]) == {1, 2, 13}
    # the admitted corpus rows keep their embeddings (16's nulled)
    vecs = {
        r["doc_id"]: r["vec"]
        for r in read_versioned(spark, roots["corpus_root"]).collect()
    }
    assert vecs[13] == [1.0, 1.0, 1.0, 1.0] and vecs[16] is None

    # ---- batch-vs-stream equivalence: compose the tier ops directly on
    # the committed state and batch 2's boundary-normalized rows ----
    from dynamic_etl_spark.ops.ann import (
        centers_from_rows,
        incremental_semantic_merge,
    )
    from dynamic_etl_spark.ops.lsh import incremental_near_dup_merge
    from dynamic_etl_spark.ops.text import fingerprint_md5, tokens

    corpus_b1 = spark.createDataFrame(
        [(1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
         (2, _sentence(2), [0.0, 1.0, 0.0, 0.0])],
        _CURATION_SCHEMA,
    )
    batch = (
        b2.filter(F.size(tokens(F.col("text"))) > 0)
        .withColumn(
            "vec",
            F.when(
                F.aggregate(
                    F.transform("vec", lambda x: x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                ) > 0.0,
                F.col("vec"),
            ),
        )
    )
    fp = corpus_b1.select(fingerprint_md5(F.col("text")).alias("__fp")).distinct()
    bfp = batch.select("doc_id", fingerprint_md5(F.col("text")).alias("__fp"))
    keep1 = (
        bfp.join(fp, "__fp", "left_anti")
        .groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    s1 = batch.join(keep1, "doc_id", "leftsemi").localCheckpoint()
    out2 = incremental_near_dup_merge(corpus_b1, s1, "doc_id", "text")
    s2 = out2["accepted"].localCheckpoint()
    centers = centers_from_rows(read_versioned(spark, roots["centers_root"]))
    out3 = incremental_semantic_merge(
        corpus_b1.filter(F.col("vec").isNotNull()).select("doc_id", "vec"),
        s2.filter(F.col("vec").isNotNull()).select("doc_id", "vec"),
        "doc_id", "vec", centers=centers,
    )
    admitted = {r["doc_id"] for r in out3["accepted"].collect()} | {
        r["doc_id"] for r in s2.filter(F.col("vec").isNull()).collect()
    }
    s1_ids = {r["doc_id"] for r in s1.select("doc_id").collect()}
    s2_ids = {r["doc_id"] for r in s2.select("doc_id").collect()}
    batch_attr = {}
    for r in batch.select("doc_id").collect():
        d = r["doc_id"]
        batch_attr[d] = (
            d in admitted,
            "none" if d in admitted
            else "semantic" if d in s2_ids
            else "lexical" if d in s1_ids
            else "exact",
        )
    assert batch_attr == {d: (a, why) for d, (a, why, bid) in ledger.items() if bid == 1}


def test_streaming_curation_replay_is_idempotent(spark, scratch):
    """A fresh checkpoint redelivers every batch under its original
    numbering (one file per trigger): each lands at-or-below the
    ledger's recorded batch_id, takes the replay path (admitted set
    derived from the LEDGER, no recompute), and changes nothing —
    attribution can never flip the way a recompute-on-replay would
    report already-admitted docs as exact rejects."""
    from dynamic_etl_spark.io.versioned import latest_version, read_versioned

    roots = _curation_roots(scratch, "b")
    feed = scratch / "cur_feed_b"
    feed.mkdir()
    b1 = spark.createDataFrame(
        [(1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
         (2, _sentence(2), [0.0, 1.0, 0.0, 0.0])],
        _CURATION_SCHEMA,
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    b2 = spark.createDataFrame(
        [(10, _sentence(1, " y"), None), (11, _sentence(77), [0.5, 0.5, 0.0, 0.0])],
        _CURATION_SCHEMA,
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_b1"), mfpt=1)
    before_ledger = _ledger_rows(spark, roots)
    before_versions = {
        k: latest_version(roots[k])
        for k in ("corpus_root", "fp_root", "lex_root", "sem_root", "ledger_root")
    }
    assert before_ledger == {
        1: (True, "none", 0), 2: (True, "none", 0),
        10: (False, "lexical", 1), 11: (True, "none", 1),
    }

    # FRESH checkpoint: full redelivery as batches 0 and 1
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_b2"), mfpt=1)
    assert _ledger_rows(spark, roots) == before_ledger
    assert {
        k: latest_version(roots[k])
        for k in ("corpus_root", "fp_root", "lex_root", "sem_root", "ledger_root")
    } == before_versions
    assert _ids(spark, roots["corpus_root"]) == {1, 2, 11}


def test_streaming_curation_crash_windows_heal_forward(spark, scratch):
    """Every commit window heals forward: (a) ledger-committed/
    corpus-crashed — the replayed batch finishes corpus + stores FROM
    the ledger's attribution; (b) corpus committed outside the sink
    (store-crashed) — the next drain self-heals all stores, so a
    near-copy of the orphan doc is rejected; (c) centers-committed/
    corpus-crashed bootstrap — the first drain admits under the
    already-frozen fit instead of refitting."""
    from dynamic_etl_spark.io.versioned import (
        latest_metadata,
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.ops.ann import centers_to_rows, fit_semantic_centers

    # ---- (c) centers committed, corpus crashed, before first drain ----
    roots = _curation_roots(scratch, "c")
    feed = scratch / "cur_feed_c"
    feed.mkdir()
    seed_vecs = spark.createDataFrame(
        [(1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
         (2, _sentence(2), [0.0, 1.0, 0.0, 0.0])],
        _CURATION_SCHEMA,
    )
    centers = fit_semantic_centers(seed_vecs, "doc_id", "vec", n_cells=2)
    write_versioned(centers_to_rows(spark, centers), roots["centers_root"])
    seed_vecs.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_c"))
    # bootstrap ran under the committed fit (still exactly one version)
    assert latest_version(roots["centers_root"]) == 0
    assert _ids(spark, roots["corpus_root"]) == {1, 2}

    # ---- (a) ledger committed for batch 1, state crashed ----
    ledger = read_versioned(spark, roots["ledger_root"])
    hand = spark.createDataFrame(
        [(99, True, "none", 1), (98, False, "exact", 1)],
        "doc_id int, admitted boolean, rejected_by string, batch_id long",
    )
    write_versioned(
        ledger.unionByName(hand), roots["ledger_root"],
        metadata={"batch_id": 1},
    )
    b2 = spark.createDataFrame(
        [(99, _sentence(50), [0.0, 0.0, 1.0, 0.0]),
         (98, "  " + _sentence(1).upper(), None)],
        _CURATION_SCHEMA,
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_c"))
    assert _ids(spark, roots["corpus_root"]) == {1, 2, 99}  # 98 stays out
    assert _ids(spark, roots["fp_root"]) == {1, 2, 99}
    assert _ids(spark, roots["lex_root"]) == {1, 2, 99}
    assert _ids(spark, roots["sem_root"]) == {1, 2, 99}
    # the ledger was NOT recomputed (99 would re-reject as 'exact')
    assert _ledger_rows(spark, roots)[99] == (True, "none", 1)
    assert latest_metadata(roots["ledger_root"])["batch_id"] == 1

    # ---- (b) corpus advances outside the sink: stores self-heal ----
    orphan = spark.createDataFrame(
        [(50, _sentence(7), [0.0, 0.0, 0.0, 1.0])], _CURATION_SCHEMA
    )
    corpus = read_versioned(spark, roots["corpus_root"])
    write_versioned(
        corpus.unionByName(orphan), roots["corpus_root"],
        base_version=latest_version(roots["corpus_root"]), expected_base=True,
    )
    b3 = spark.createDataFrame(
        [(60, _sentence(7, " z"), None),                    # lexical ~ 50
         (61, _sentence(30), [0.001, 0.0, 0.0, 1.0])],      # semantic ~ 50
        _CURATION_SCHEMA,
    )
    b3.coalesce(1).write.parquet(str(feed / "b3.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_c"))
    ledger = _ledger_rows(spark, roots)
    assert ledger[60] == (False, "lexical", 2)
    assert ledger[61] == (False, "semantic", 2)
    assert _ids(spark, roots["corpus_root"]) == {1, 2, 50, 99}
    assert _ids(spark, roots["sem_root"]) == {1, 2, 50, 99}


def test_streaming_curation_all_rejected_batch(spark, scratch):
    """A seam probed separately from the tier walk: a batch whose every
    doc dies at tier 1 flows an EMPTY survivor frame through the lexical
    and semantic tiers (the ledger still records the batch, no state
    table advances a version for it)."""
    from dynamic_etl_spark.io.versioned import latest_version

    roots = _curation_roots(scratch, "d")
    feed = scratch / "cur_feed_d"
    feed.mkdir()
    b1 = spark.createDataFrame(
        [(1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
         (2, _sentence(2), [0.0, 1.0, 0.0, 0.0])],
        _CURATION_SCHEMA,
    )
    b1.coalesce(1).write.parquet(str(feed / "b1.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_d"))
    corpus_v = latest_version(roots["corpus_root"])
    # every doc is a case/whitespace copy -> all exact-rejected; the
    # empty tier-1 survivor set must flow through tiers 2-3 cleanly
    b2 = spark.createDataFrame(
        [(10, _sentence(1).upper(), None),
         (11, "  " + _sentence(2) + "  ", [9.0, 9.0, 9.0, 9.0])],
        _CURATION_SCHEMA,
    )
    b2.coalesce(1).write.parquet(str(feed / "b2.parquet"))
    _drain_curation(spark, feed, roots, str(scratch / "cur_ckpt_d"))
    ledger = _ledger_rows(spark, roots)
    assert ledger[10] == (False, "exact", 1)
    assert ledger[11] == (False, "exact", 1)
    assert _ids(spark, roots["corpus_root"]) == {1, 2}
    # nothing admitted -> no state table advanced past the bootstrap
    assert latest_version(roots["corpus_root"]) == corpus_v
