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
from tests.conftest import SF_SMALL
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
    write_csv(src, out, sep="|", header=True, single_file=True)

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


def test_path_glob_filter(spark, scratch):
    raw = scratch / "feed"
    raw.mkdir()
    (raw / "sales_1.csv").write_text("a\n1\n")
    (raw / "other_2.csv").write_text("a\n2\n")
    df = read_csv_schema_on_read(spark, str(raw), sep="|", path_glob="sales_*.csv")
    assert [r["a"] for r in df.collect()] == ["1"]


def test_latest_file_and_diagnostics(scratch):
    d = scratch / "in"
    d.mkdir()
    for name in ("snap_20240101.csv", "snap_20240301.csv", "snap_20240201.csv"):
        (d / name).write_text("x\n")
    assert latest_file(str(d), prefix="snap_").endswith("snap_20240301.csv")
    with pytest.raises(FileNotFoundError, match="Directory contains"):
        latest_file(str(d), prefix="nope_")


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


def test_split_valid_side_channel(spark):
    from pyspark.sql import functions as F2

    from dynamic_etl_spark.ops.clean import clean_numeric, split_valid

    df = spark.createDataFrame(
        [("1", "₹10.50"), ("2", "abc"), ("3", None), ("4", "99")], ["k", "raw"]
    )
    parsed = df.withColumn("amt", clean_numeric(F2.col("raw"), min_value=None))
    valid, rejected = split_valid(parsed, F2.col("amt").isNotNull())
    assert {r["k"] for r in valid.collect()} == {"1", "4"}
    assert {r["k"] for r in rejected.collect()} == {"2", "3"}
    # nothing lost, nothing duplicated
    assert valid.count() + rejected.count() == df.count()


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
    # non-parquet formats without reader options are rejected, not mangled
    with pytest.raises(ValueError, match="options"):
        compact_table(spark, path, fmt="csv")


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


def test_jsonl_round_trip_with_corrupt_accounting(spark, scratch):
    """write_jsonl -> read_jsonl: clean rows round-trip exactly; a
    malformed line lands whole in _corrupt_record (not dropped, not a
    crash) so ingestion can count and route it — the file-level F25."""
    from dynamic_etl_spark.io.sinks import write_jsonl
    from dynamic_etl_spark.io.sources import read_jsonl

    path = str(scratch / "jsonl")
    rows = [(1, "alpha", 1.5), (2, "beta", -0.25), (3, None, 2.0)]
    df = spark.createDataFrame(rows, "id long, name string, score double")
    write_jsonl(df, path)
    # plant one corrupt line next to the clean part files
    with open(f"{path}/zz_corrupt.json", "w") as fh:
        fh.write('{"id": 4, "name": "broken"\n')  # unterminated object
    back = read_jsonl(spark, path, "id long, name string, score double")
    clean = back.filter(F.col("_corrupt_record").isNull())
    # Spark disallows plans referencing ONLY the corrupt column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep a data column in the
    # projection, as read_jsonl's docstring instructs
    bad = back.filter(F.col("_corrupt_record").isNotNull()).select(
        "id", "_corrupt_record"
    ).collect()
    assert sorted(
        (r["id"], r["name"], r["score"]) for r in clean.collect()
    ) == sorted(rows)
    assert len(bad) == 1
    assert "broken" in bad[0]["_corrupt_record"]


def test_orc_round_trip_and_pushdown(spark, scratch):
    """write_orc -> read_orc: values round-trip and a filter reaches the
    ORC scan as a pushed predicate (columnar pruning parity with
    parquet)."""
    from dynamic_etl_spark.io.sinks import write_orc
    from dynamic_etl_spark.io.sources import read_orc

    path = str(scratch / "orc")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    write_orc(df, path)
    back = read_orc(spark, path).filter(F.col("k") == 3).select("id", "v")
    assert back.count() == df.filter(F.col("id") % 7 == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:80]


def _sidecar(path) -> str:
    return os.path.join(str(path), "_schema.json")


def test_read_table_sidecar_matches_inference_for_every_retail_table(spark, scratch):
    """Every table a retail day commits carries a ``_schema.json`` that
    reads back as exactly the schema footer inference would find — and
    reading through it schedules no Spark job."""
    from dynamic_etl_spark.io import read_table
    from dynamic_etl_spark.pipelines import retail_daily_run

    retail_daily_run(
        spark, str(scratch), date_id=20240617,
        n_stores=5, n_products=10, n_distributors=5, rows_per_day=30,
    )
    tables = [
        scratch / "source" / n
        for n in ("dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales")
    ] + [
        scratch / "dw" / n
        for n in ("dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales_dw")
    ]
    sc = spark.sparkContext
    for path in map(str, tables):
        assert os.path.isfile(_sidecar(path)), path
        sc.setJobGroup("read-table-sidecar", "read-table-sidecar")
        try:
            df = read_table(spark, path)
        finally:
            sc.setJobGroup(None, None)
        assert not sc.statusTracker().getJobIdsForGroup("read-table-sidecar"), path
        assert df.schema == spark.read.parquet(path).schema, path
        assert df.count() == spark.read.parquet(path).count()


def test_read_table_without_sidecar_falls_back_to_inference(spark, scratch):
    from dynamic_etl_spark.io import read_table

    path = str(scratch / "foreign")
    spark.range(4).withColumn("v", F.lit("x")).write.parquet(path)
    assert not os.path.exists(_sidecar(path))
    df = read_table(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3]


def test_failed_swap_keeps_old_table_and_sidecar(spark, scratch):
    from pyspark.sql import types as T

    from dynamic_etl_spark.io import read_table

    final = str(scratch / "kept")
    write_staging_swap(spark.range(5).withColumn("v", F.lit("good")), final)
    with open(_sidecar(final)) as fh:
        before = fh.read()

    def boom(_it):
        raise RuntimeError("writer died")
        yield

    schema = T.StructType([T.StructField("other", T.StringType())])
    with pytest.raises(Exception):
        write_staging_swap(spark.range(1).mapInPandas(boom, schema), final)
    with open(_sidecar(final)) as fh:
        assert fh.read() == before
    kept = read_table(spark, final)
    assert kept.columns == ["id", "v"] and kept.count() == 5
    assert not [n for n in os.listdir(scratch) if n.startswith(".staging")]


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
