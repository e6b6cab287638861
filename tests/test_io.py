"""CSV round-trip (hash-checked vs DuckDB read_csv), file queue policies
(S8/U6), rotation, latest-file selection, staging swap."""

from __future__ import annotations

import glob
import os
import shutil
from pathlib import Path

import duckdb
import pytest

from pyspark.sql import functions as F

from dynamic_etl_spark.catalog import load_table
from dynamic_etl_spark.io import (
    FileQueue,
    PoisonPill,
    SkipRetry,
    latest_file,
    read_csv_schema_on_read,
    rotate_current_to_archive,
    write_csv,
    write_staging_swap,
)
from tests.conftest import SF_SMALL, jobs_of
from tests.parity import canonicalize

SCRATCH = Path(__file__).resolve().parent.parent / ".tmp" / "io"


@pytest.fixture()
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def test_pipe_csv_roundtrip_matches_duckdb(spark, scratch):
    src = load_table(spark, SF_SMALL, "nation")
    out = str(scratch / "nation_csv")
    write_csv(src, out, sep="|")

    back = read_csv_schema_on_read(spark, out, sep="|")
    assert back.count() == src.count()
    # all-string contract
    assert all(t == "string" for _, t in back.dtypes)

    csv_file = glob.glob(os.path.join(out, "*.csv"))[0]
    oracle = duckdb.sql(
        f"SELECT * FROM read_csv('{csv_file}', delim='|', header=true, all_varchar=true)"
    ).df()
    assert canonicalize(back.toPandas()) == canonicalize(oracle)


def test_sentinel_nulls_apply(spark, scratch):
    raw = scratch / "feed"
    raw.mkdir()
    (raw / "f.csv").write_text("a|b|c\n1|NULL|x\n2|NA|null\n3|ok|\n")
    df = read_csv_schema_on_read(spark, str(raw), sep="|")
    rows = {r["a"]: (r["b"], r["c"]) for r in df.collect()}
    assert rows == {"1": (None, "x"), "2": (None, None), "3": ("ok", None)}


def test_latest_file_and_diagnostics(scratch):
    d = scratch / "in"
    d.mkdir()
    for name in ("snap_20240101.csv", "snap_20240301.csv", "snap_20240201.csv"):
        (d / name).write_text("x\n")
    assert latest_file(str(d), "snap_").endswith("snap_20240301.csv")
    with pytest.raises(FileNotFoundError, match="Directory contains"):
        latest_file(str(d), "nope_")


def test_rotation(scratch):
    cur, arc = scratch / "Current", scratch / "Archive"
    cur.mkdir()
    (cur / "old1.csv").write_text("x\n")
    (cur / "old2.csv").write_text("y\n")
    moved = rotate_current_to_archive(str(cur), str(arc))
    assert moved == ["old1.csv", "old2.csv"]
    assert sorted(os.listdir(arc)) == ["old1.csv", "old2.csv"]
    assert os.listdir(cur) == []


def test_file_queue_exactly_once_and_policies(scratch):
    inc = scratch / "incoming"
    inc.mkdir()
    for name in ("sales_02.csv", "sales_01.csv", "ignore.txt"):
        (inc / name).write_text("x\n")
    q = FileQueue(str(inc), str(scratch / "processed.log"), prefix="sales_")

    # oldest-first selection
    assert q.next_unprocessed() == "sales_01.csv"

    # SkipRetry leaves the file queued
    def skip(path):
        raise SkipRetry("dims empty")

    from dynamic_etl_spark.io.queue import SKIPPED

    # the deferred file's NAME is surfaced (so a scheduler can count
    # consecutive retries), but it stays queued
    assert q.process_next(skip) == ("sales_01.csv", SKIPPED)
    assert q.next_unprocessed() == "sales_01.csv"

    # success marks AFTER the callable returns
    seen = []
    name, result = q.process_next(lambda p: seen.append(os.path.basename(p)) or "ok")
    assert (name, result) == ("sales_01.csv", "ok")
    assert seen == ["sales_01.csv"]
    assert q.next_unprocessed() == "sales_02.csv"

    # PoisonPill marks processed THEN raises — the bad file can't wedge
    def poison(path):
        raise PoisonPill("missing columns")

    with pytest.raises(PoisonPill):
        q.process_next(poison)
    assert q.next_unprocessed() is None

    # crash mid-fn leaves the file queued (at-least-once)
    (inc / "sales_03.csv").write_text("x\n")

    def crash(path):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        q.process_next(crash)
    assert q.next_unprocessed() == "sales_03.csv"


def test_staging_swap_atomicity(spark, scratch):
    final = str(scratch / "table")
    v1 = spark.range(5).withColumn("v", F.lit("one"))
    v2 = spark.range(7).withColumn("v", F.lit("two"))
    write_staging_swap(v1, final)
    assert spark.read.parquet(final).count() == 5
    write_staging_swap(v2, final)
    assert spark.read.parquet(final).count() == 7
    got = {r["v"] for r in spark.read.parquet(final).select("v").distinct().collect()}
    assert got == {"two"}
    # no staging/backup litter
    parent = os.path.dirname(final)
    assert not [n for n in os.listdir(parent) if n.startswith(".staging") or n.endswith(".old")]


def test_staging_swap_crash_recovery(spark, scratch):
    """ADVICE r2: a hard crash between the two swap renames leaves only
    `final.old`. The next invocation must RESTORE it (not delete it) —
    even when that invocation's own write then fails — so the last good
    copy of the table survives any single crash."""
    import shutil

    from pyspark.sql import types as T

    final = str(scratch / "crash_table")
    good = spark.range(5).withColumn("v", F.lit("good"))
    write_staging_swap(good, final)

    # simulate the crash window: final renamed to backup, new final never
    # landed, plus an orphaned staging dir from the dead writer
    os.rename(final, final + ".old")
    os.makedirs(os.path.dirname(final) + "/.staging-dead", exist_ok=True)

    def boom(_it):
        raise RuntimeError("writer died")
        yield

    failing = spark.range(1).mapInPandas(boom, T.StructType([T.StructField("id", T.LongType())]))
    with pytest.raises(Exception):
        write_staging_swap(failing, final)
    # last good copy restored and intact despite the failed write
    assert spark.read.parquet(final).count() == 5
    assert not os.path.exists(final + ".old")

    # and a subsequent healthy swap completes normally
    write_staging_swap(spark.range(9).withColumn("v", F.lit("new")), final)
    assert spark.read.parquet(final).count() == 9
    shutil.rmtree(os.path.dirname(final) + "/.staging-dead", ignore_errors=True)


def test_json_and_orc_roundtrip(spark, scratch):
    src = load_table(spark, SF_SMALL, "nation")
    for fmt in ("json", "orc"):
        out = str(scratch / f"nation_{fmt}")
        src.write.mode("overwrite").format(fmt).save(out)
        back = spark.read.format(fmt).load(out)
        assert back.count() == src.count()
        assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in src.collect()}


def test_parquet_schema_evolution_merge(spark, scratch):
    out = str(scratch / "evolving")
    spark.range(3).write.mode("overwrite").parquet(out + "/v=1")
    spark.range(3).withColumn("extra", F.lit("new")).write.mode("overwrite").parquet(
        out + "/v=2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) >= {"id", "extra"}
    assert merged.count() == 6
    # rows from the old files surface the evolved column as null
    assert merged.filter(F.col("extra").isNull()).count() == 3


def test_staging_swap_recovers_from_stale_backup(spark, scratch):
    # a crash after swap can orphan '<final>.old'; the next swap must
    # clear it instead of wedging on rename-onto-nonempty-directory
    final = str(scratch / "table")
    write_staging_swap(spark.range(3), final)
    stale = Path(final + ".old")
    stale.mkdir()
    (stale / "junk.txt").write_text("leftover\n")
    write_staging_swap(spark.range(9), final)
    assert spark.read.parquet(final).count() == 9
    assert not stale.exists()


def test_compact_table_reduces_files_and_preserves_rows(spark, scratch):
    from dynamic_etl_spark.io.sinks import compact_table

    path = str(scratch / "fragmented")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(20).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/part-*"))
    assert before >= 20
    # big target -> single file; return value is the ACTUAL file count
    n = compact_table(spark, path, target_file_bytes=1 << 30)
    assert n == 1 and len(glob.glob(f"{path}/part-*")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(10_000))
    # rebalance path: pick a target ~1/4 of the table for a multi-file
    # even split (a tiny target would request size-in-bytes partitions)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("part-")
    )
    n4 = compact_table(
        spark, path, target_file_bytes=max(1, total // 4), rebalance=True
    )
    assert 2 <= n4 <= 8
    assert len(glob.glob(f"{path}/part-*")) == n4
    assert spark.read.parquet(path).count() == 10_000


def test_parquet_merge_schema_reads_evolved_table(spark, scratch):
    """Schema evolution: a column added mid-stream is readable across the
    whole table with mergeSchema — old files surface NULLs, new files
    their values. The incremental sinks (file queue, streaming merge)
    rely on this being the read-side contract."""
    p = str(scratch / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(f"{p}/b=1")
    spark.createDataFrame(
        [(2, "b", 99.0)], ["id", "name", "score"]
    ).write.parquet(f"{p}/b=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert {"id", "name", "score"} <= set(df.columns)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 99.0


def test_compact_table_preserves_hive_partitioning(spark, scratch):
    """ADVICE r3: compacting a date-partitioned directory must keep the
    ``date=.../`` layout (partition pruning depends on it), not flatten
    the partition column into the data files."""
    import glob

    from dynamic_etl_spark.io.sinks import compact_table

    path = str(scratch / "parted")
    df = spark.range(1_000).selectExpr("id", "CAST(id % 3 AS INT) AS date")
    # many small appends per partition — the compaction motivation
    df.repartition(10).write.partitionBy("date").parquet(path)
    assert len(glob.glob(f"{path}/date=*/part-*")) > 3

    compact_table(spark, path)
    part_files = glob.glob(f"{path}/date=*/part-*")
    assert sorted(os.path.basename(os.path.dirname(p)) for p in part_files) == [
        "date=0", "date=1", "date=2",
    ]  # layout preserved, one file per partition value
    assert not glob.glob(f"{path}/part-*")  # nothing flattened to the root
    back = spark.read.parquet(path)
    assert back.count() == 1_000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(1_000))
    assert {r["date"] for r in back.select("date").distinct().collect()} == {0, 1, 2}


def test_jdbc_roundtrip_with_pushdown_and_partitioned_read(spark, tmp_path):
    """S1 external-DB arm against the Derby embedded driver bundled with
    Spark: write batched inserts, read back with a ship-to-database
    filter (PushedFilters in the scan) and a predicate-partitioned read
    (one task per WHERE clause — the reference's per-day extract shape)."""
    from dynamic_etl_spark.io import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    src = spark.range(1000).selectExpr(
        "id", "cast(id % 7 as int) as day_id", "cast(id * 1.5 as double) as amount"
    )
    write_jdbc(src, url, "fact_sales", mode="overwrite", batch_size=100)

    back = read_jdbc(spark, url, "fact_sales")
    assert back.count() == 1000

    filtered = back.filter(F.col("day_id") == 3).select("id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "day_id" in plan.split("PushedFilters")[1][:120]
    assert filtered.count() == len([i for i in range(1000) if i % 7 == 3])

    parts = read_jdbc(
        spark, url, "fact_sales",
        # predicates are raw remote-SQL text: quote identifiers the way
        # the DATABASE expects (Derby folds unquoted names to upper case)
        predicates=tuple(f'"day_id" = {d}' for d in range(7)),
    )
    assert parts.select(F.spark_partition_id()).distinct().count() == 7
    assert parts.count() == 1000

    strided = read_jdbc(
        spark, url, "fact_sales",
        partition_column="id", lower_bound=0, upper_bound=1000, num_partitions=4,
    )
    assert strided.count() == 1000

    with pytest.raises(ValueError, match="not both"):
        read_jdbc(spark, url, "fact_sales", predicates=("1=1",), partition_column="id")
    with pytest.raises(ValueError, match="needs lower_bound"):
        read_jdbc(spark, url, "fact_sales", partition_column="id")


def _sidecar(path) -> str:
    return os.path.join(str(path), "_schema.json")


@pytest.fixture(scope="module")
def retail_day(spark, tmp_path_factory) -> Path:
    """The root of one small retail day."""
    from dynamic_etl_spark.pipelines import retail_daily_run

    root = tmp_path_factory.mktemp("retail_day")
    retail_daily_run(spark, str(root), date_id=20240617)
    return root


def test_read_table_sidecar_matches_inference_for_every_retail_table(spark, retail_day):
    """Every table a retail day commits carries a ``_schema.json`` that
    reads back as exactly the schema footer inference would find — and
    reading through it schedules no Spark job."""
    from dynamic_etl_spark.io import read_table

    tables = [
        retail_day / "source" / n
        for n in ("dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales")
    ] + [
        retail_day / "dw" / n
        for n in ("dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales_dw")
    ]
    for path in map(str, tables):
        assert os.path.isfile(_sidecar(path)), path
        df, jobs = jobs_of(spark, lambda: read_table(spark, path))
        assert jobs == 0, path
        assert df.schema == spark.read.parquet(path).schema, path
        assert df.count() == spark.read.parquet(path).count()


def _part_file(directory) -> str:
    (part,) = glob.glob(os.path.join(str(directory), "part-*"))
    return part


def test_csv_sidecar_read_matches_inference_without_a_job(spark, scratch):
    """``write_csv`` commits the header it wrote; reading it back takes
    the names inference gives, the same rows, and no Spark job. A file,
    or a directory without the sidecar, still infers. A header inference
    would rename — an empty name, or one repeated case-insensitively —
    is refused before anything is written."""
    df = spark.createDataFrame(
        [("1", "a", " NA ", "x"), ("2", None, "b", "")],
        ["id", "Price", "v", "qty"],
    )
    out = scratch / "csv"
    write_csv(df, str(out), sep="|")
    assert os.path.isfile(_sidecar(out))

    back, jobs = jobs_of(spark, lambda: read_csv_schema_on_read(spark, str(out), sep="|"))
    assert jobs == 0
    inferred, inference_jobs = jobs_of(
        spark, lambda: read_csv_schema_on_read(spark, _part_file(out), sep="|")
    )
    assert inference_jobs > 0
    assert back.columns == inferred.columns == ["id", "Price", "v", "qty"]
    assert back.collect() == inferred.collect() == [
        ("1", "a", None, "x"), ("2", None, "b", None),
    ]

    bare = scratch / "bare"
    shutil.copytree(out, bare, ignore=shutil.ignore_patterns("_schema.json"))
    same, bare_jobs = jobs_of(spark, lambda: read_csv_schema_on_read(spark, str(bare), sep="|"))
    assert bare_jobs > 0
    assert same.columns == back.columns and same.collect() == back.collect()

    for unsafe in (["id", "Price", "v", "price"], ["id", "", "v", "qty"]):
        refused = scratch / "refused"
        with pytest.raises(ValueError, match="non-empty and unique"):
            write_csv(df.toDF(*unsafe), str(refused), sep="|")
        assert not refused.exists()


def test_retail_day_csvs_read_back_with_their_header(spark, retail_day):
    """The day's two CSV extracts read back through their committed
    header exactly as through inference, and the snapshot is written in
    ascending ``sales_id`` order."""
    extracts = [
        (next((retail_day / "extract" / "snapshots").iterdir()), "|"),
        (next((retail_day / "extract" / "Current").iterdir()), ","),
    ]
    for directory, sep in extracts:
        assert os.path.isfile(_sidecar(directory)), directory
        back, jobs = jobs_of(
            spark, lambda: read_csv_schema_on_read(spark, str(directory), sep=sep)
        )
        assert jobs == 0, directory
        inferred = read_csv_schema_on_read(spark, _part_file(directory), sep=sep)
        assert back.columns == inferred.columns, directory
        assert back.collect() == inferred.collect(), directory
    snapshot = extracts[0][0]
    assert {"sales_unit_price", "product_unit_price"} <= set(
        read_csv_schema_on_read(spark, str(snapshot), sep="|").columns
    )
    with open(_part_file(snapshot)) as fh:
        header, *lines = fh.read().splitlines()
    at = header.split("|").index("sales_id")
    ids = [int(line.split("|")[at]) for line in lines]
    assert len(ids) == 1000 and ids == sorted(ids)


def test_read_table_without_sidecar_falls_back_to_inference(spark, scratch):
    from dynamic_etl_spark.io import read_table

    path = str(scratch / "foreign")
    spark.range(4).withColumn("v", F.lit("x")).write.parquet(path)
    assert not os.path.exists(_sidecar(path))
    df = read_table(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3]


def test_load_table_infers_a_corpus_file_once(spark, scratch):
    """A foreign single parquet file carries no sidecar; its footer is
    inferred on the first read only, and the remembered schema is the
    one inference finds."""
    path = str(scratch / "nation.parquet")
    shutil.copy(os.path.join(SF_SMALL, "nation.parquet"), path)
    _, first = jobs_of(spark, lambda: load_table(spark, str(scratch), "nation"))
    assert first >= 1  # the meter sees the inference job
    df, second = jobs_of(spark, lambda: load_table(spark, str(scratch), "nation"))
    assert second == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_read_table_reinfers_a_file_rewritten_in_place(spark, scratch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_etl_spark.io import read_table

    path = str(scratch / "rewritten.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_table(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = read_table(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, df.collect())) == [("x", 1.5), ("y", 2.5)]


def test_events_ts_type_with_nanos_as_long_on_and_off(spark, scratch):
    """``events.ts`` stored as TIMESTAMP(NANOS) loads as a timestamp
    whatever the session's ``nanosAsLong`` is, and the conf stays as the
    caller set it. The conf is part of the memo key: with it off, a
    plain read of the file fails, and so does ``read_table`` even after
    the file was inferred with it on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_etl_spark.io import read_table

    corpus = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    i = corpus.schema.get_field_index("ts")
    nanos = corpus.set_column(i, "ts", corpus.column("ts").cast(pa.timestamp("ns")))
    path = str(scratch / "events.parquet")
    pq.write_table(nanos, path)

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    want = sorted(
        r["ts"] for r in load_table(spark, SF_SMALL, "events").select("ts").collect()
    )
    try:
        for value in ("true", "false", "true", "false"):
            spark.conf.set(key, value)
            assert dict(load_table(spark, SF_SMALL, "events").dtypes)["ts"] == "timestamp_ntz"
            ev = load_table(spark, str(scratch), "events")
            assert dict(ev.dtypes)["ts"] == "timestamp"
            assert spark.conf.get(key) == value
        got = sorted(
            r["ts"] for r in ev.select(F.col("ts").cast("timestamp_ntz")).collect()
        )
        assert got == want
        spark.conf.set(key, "true")
        assert dict(read_table(spark, path).dtypes)["ts"] == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_table(spark, path)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@pytest.mark.parametrize("partition_by", [(), ("v",)], ids=["flat", "partitioned"])
def test_failed_swap_keeps_old_table_and_sidecar(spark, scratch, partition_by):
    from pyspark.sql import types as T

    from dynamic_etl_spark.io import read_table

    final = str(scratch / "kept")
    good = spark.range(5).withColumn("v", F.lit("good"))
    write_staging_swap(good, final, partition_by=partition_by)
    with open(_sidecar(final)) as fh:
        before = fh.read()

    def boom(_it):
        raise RuntimeError("writer died")
        yield

    schema = T.StructType([T.StructField(c, T.StringType()) for c in ("other", *partition_by)])
    with pytest.raises(Exception):
        write_staging_swap(
            spark.range(1).mapInPandas(boom, schema), final, partition_by=partition_by
        )
    with open(_sidecar(final)) as fh:
        assert fh.read() == before
    kept = read_table(spark, final)
    assert kept.columns == ["id", "v"] and kept.count() == 5
    assert not [n for n in os.listdir(scratch) if n.startswith(".staging")]


def test_compacting_a_partitioned_swap_keeps_string_partition_keys(spark, scratch):
    """A zero-padded string partition key survives a partitioned swap and
    a compaction: the sidecar, not the directory names, types the key."""
    from dynamic_etl_spark.io import read_table
    from dynamic_etl_spark.io.sinks import compact_table

    path = str(scratch / "by_store")
    df = spark.createDataFrame(
        [(i, f"r{i}", f"{i % 3 + 1:03d}") for i in range(30)],
        "id long, v string, store_code string",
    )
    write_staging_swap(df.repartition(6), path, partition_by=("store_code",))
    compact_table(spark, path)
    assert sorted(n for n in os.listdir(path) if not n.startswith(("_", "."))) == [
        "store_code=001", "store_code=002", "store_code=003",
    ]
    back, jobs = jobs_of(spark, lambda: read_table(spark, path))
    assert jobs == 0
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compact_table_writes_a_correct_sidecar(spark, scratch):
    from dynamic_etl_spark.io import read_table
    from dynamic_etl_spark.io.sinks import compact_table

    path = str(scratch / "fragmented")
    spark.range(1_000).selectExpr("id", "CAST(id % 7 AS INT) AS k").repartition(6) \
        .write.parquet(path)
    assert not os.path.exists(_sidecar(path))
    assert compact_table(spark, path, target_file_bytes=1 << 30) == 1
    assert os.path.isfile(_sidecar(path))
    assert read_table(spark, path).schema == spark.read.parquet(path).schema
    assert read_table(spark, path).count() == 1_000


def test_available_now_drain_timeout_raises_naming_the_query(spark, tmp_path):
    """A drain that outlives its timeout raises instead of handing back a
    still-running query whose memory-sink results are partial."""
    from dynamic_etl_spark.streaming import file_stream
    from dynamic_etl_spark.streaming.incremental import await_drain

    src = str(tmp_path / "feed")
    spark.range(10).write.parquet(src)
    stream = file_stream(spark, src, spark.read.parquet(src).schema)
    try:
        query = (
            stream.writeStream.format("memory")
            .queryName("drain_timeout_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(TimeoutError, match="'drain_timeout_probe'"):
            await_drain(query, 0.001, "query 'drain_timeout_probe'")
    finally:
        for q in spark.streams.active:
            if q.name == "drain_timeout_probe":
                q.stop()
