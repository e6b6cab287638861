"""CSV sinks + physical-write protocols (SURVEY.md §2.1 S3, S4, S7, S9,
S10).

Batched-insert atomicity (S9) needs no code: Spark's file committer
stages task output and publishes on job commit, which is the reference's
batch-then-single-commit (load_fact_sales_dw.py:376-387) at executor
scale. The staging-table + MERGE + drop dance (S10) becomes
write-new-then-atomic-swap on plain parquet/CSV.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Committed-schema sidecar written into every unpartitioned parquet table
#: ``write_staging_swap`` publishes; ``io.sources.read_table`` reads it.
SCHEMA_SIDECAR = "_schema.json"


def _hive_partition_cols(path: str) -> list[str]:
    """Discover the ``k=v`` partition-directory chain under ``path``
    (empty list for flat layouts). Only the first branch is walked —
    Hive layouts are uniform by construction."""
    cols: list[str] = []
    cur = path
    while os.path.isdir(cur):
        subs = sorted(
            d
            for d in os.listdir(cur)
            if "=" in d
            and not d.startswith((".", "_"))
            and os.path.isdir(os.path.join(cur, d))
        )
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return cols


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = "|",
    header: bool = True,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    """S3/S4 — comma or pipe ("DW best practice" in the reference,
    extract_sales_snapshot.py:104) delimited CSV.

    ``single_file`` reproduces the reference's one-file-per-extract shape
    (coalesce(1) — fine for extracts, wrong for bulk data; default keeps
    one file per partition)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("sep", sep).option("header", str(header).lower()).csv(path)


def rotate_current_to_archive(current_dir: str, archive_dir: str) -> list[str]:
    """S7 — move Current/* -> Archive/ before writing the new extract
    (reference extract_sales_daily.py:19-23). On object stores prefer
    partitioned paths (.../date=YYYYMMDD/); this reproduces the
    reference's directory protocol for local/posix layouts."""
    os.makedirs(current_dir, exist_ok=True)
    os.makedirs(archive_dir, exist_ok=True)
    moved = []
    for name in sorted(os.listdir(current_dir)):
        shutil.move(os.path.join(current_dir, name), os.path.join(archive_dir, name))
        moved.append(name)
    return moved


def write_staging_swap(
    df: DataFrame,
    final_path: str,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """S10 — staging + atomic swap: write the full new table next to the
    old one, then rename into place (the reference's staging-table +
    MERGE + DROP, minus the database). Readers see the old table or the
    new one; the only non-atomic window is the two renames of the swap
    itself, and a hard crash inside it is repaired on the next call.

    Crash protocol (ADVICE r2): ``final.old`` is the last good copy until
    a swap COMPLETES. On entry, a missing ``final`` with a surviving
    backup (crash between the two renames) restores the backup first —
    both so readers and the ``df`` computation (which usually derives
    from ``final_path``) see the table again, and so the last good copy
    is never deleted before the replacement is safely on disk. The backup
    is only removed (a) right before rotating a fresh ``final`` into it,
    at which point the new table already exists in staging, or (b) after
    a completed swap.

    Unpartitioned parquet tables also get ``_schema.json`` (the written
    ``df.schema``) in staging before the rename, so the schema commits
    atomically with the data and ``io.sources.read_table`` can skip the
    footer-inference job every plain ``spark.read.parquet`` runs. The
    ``_`` prefix keeps it out of Spark's file listing."""
    parent = os.path.dirname(os.path.abspath(final_path))
    os.makedirs(parent, exist_ok=True)
    staging = os.path.join(parent, f".staging-{uuid.uuid4().hex}")
    backup = final_path + ".old"
    if not os.path.exists(final_path) and os.path.exists(backup):
        os.rename(backup, final_path)
    try:
        writer = df.write.mode("overwrite").format(fmt).options(**(options or {}))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(staging)
        if fmt == "parquet" and not partition_by:
            with open(os.path.join(staging, SCHEMA_SIDECAR), "w") as fh:
                fh.write(df.schema.json())
        if os.path.exists(final_path):
            # a completed-swap crash can orphan the backup; clear it only
            # NOW (new table safely in staging) — renaming onto a
            # non-empty dir fails on POSIX and would wedge every swap
            shutil.rmtree(backup, ignore_errors=True)
            os.rename(final_path, backup)
        try:
            os.rename(staging, final_path)
        except OSError:
            if os.path.exists(backup):
                os.rename(backup, final_path)
            raise
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    shutil.rmtree(backup, ignore_errors=True)


def compact_table(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    rebalance: bool = False,
    options: dict[str, str] | None = None,
) -> int:
    """Small-file compaction: rewrite a table directory toward
    ``ceil(total_bytes / target_file_bytes)`` files via the crash-safe
    staging swap. Incremental appends (the streaming merge sink, the
    file queue) accrete files whose per-file overhead — task scheduling,
    footer reads, open/close — dominates scans long before data size
    does; periodic compaction is the maintenance half of any
    incremental-write design.

    Non-parquet formats MUST pass the same reader ``options`` the table
    was written with (a pipe-delimited header CSV read with defaults
    would be re-persisted mangled); they are applied to both the read
    and the rewrite. ``rebalance=False`` (default) uses ``coalesce``: no
    shuffle, but the file count cannot EXCEED the scan's parallelism and
    sizes follow the original layout; ``rebalance=True`` pays one
    round-robin shuffle for evenly-sized output at exactly the target
    count. Returns the ACTUAL post-swap data-file count (coalesce may
    deliver fewer files than the target — the return value is the
    truth, not the goal).

    Hive-partitioned layouts (``.../date=20240101/...``) are detected
    and PRESERVED (ADVICE r3): partition discovery folds the partition
    columns into the data, so a naive rewrite would flatten the layout
    and break downstream partition pruning. Here the rewrite hashes on
    the discovered partition columns and re-emits ``partitionBy`` dirs —
    one data file per partition value, which is the right compaction
    shape for date-partitioned incremental tables (many small appends
    per partition → one file). ``rebalance``/``target_file_bytes`` are
    ignored for partitioned layouts.
    """
    if fmt != "parquet" and not options:
        raise ValueError(
            f"compacting fmt={fmt!r} requires the reader options the "
            f"table was written with (sep/header/...); defaults would "
            f"corrupt it"
        )
    pcols = _hive_partition_cols(path)
    df = spark.read.format(fmt).options(**(options or {})).load(path)
    if pcols:
        shaped = df.repartition(*[F.col(c) for c in pcols])
        write_staging_swap(shaped, path, fmt=fmt, options=options, partition_by=tuple(pcols))
    else:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        n = max(1, -(-total // int(target_file_bytes)))
        shaped = df.repartition(n) if rebalance else df.coalesce(n)
        write_staging_swap(shaped, path, fmt=fmt, options=options)
    return sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    salt: int = 0,
    shard_col: str = "shard",
) -> dict:
    """Deterministic training-shard export: every row lands in
    ``shard=K/`` (Hive layout) by ``ops.sample.assign_shard`` of its key,
    plus a ``_manifest.json`` recording per-shard rows / files / bytes and
    the assignment recipe. A training loader can consume shards
    independently, restart per shard, and RECOMPUTE any row's shard from
    its key (the manifest pins n_shards/salt/key_col — no stored mapping).

    Scale: the shard id is row-local codegen, and the write keeps the
    scan's parallelism — each task fans its rows across shard dirs, so no
    repartition funnels a whole shard through one executor (a shard of a
    100 TB corpus is itself huge). Many files per shard dir is the
    intended layout; compact per-partition later via ``compact_table``
    if a consumer needs fewer. Row counts come from ONE distributed agg
    (n_shards bounded rows to the driver — repo bounded-scalar rule).
    """
    import json

    from dynamic_etl_spark.ops.sample import assign_shard

    out = df.withColumn(shard_col, assign_shard(key_col, n_shards, salt))
    out.write.mode("overwrite").partitionBy(shard_col).parquet(path)
    rows = {
        r[shard_col]: r["n_rows"]
        for r in out.groupBy(shard_col).agg(F.count(F.lit(1)).alias("n_rows")).collect()
    }
    shards = []
    for k in range(n_shards):
        shard_dir = os.path.join(path, f"{shard_col}={k}")
        files = (
            sorted(
                f for f in os.listdir(shard_dir) if not f.startswith(("_", "."))
            )
            if os.path.isdir(shard_dir)
            else []
        )
        shards.append(
            {
                "shard": k,
                "rows": int(rows.get(k, 0)),
                "files": len(files),
                "bytes": sum(os.path.getsize(os.path.join(shard_dir, f)) for f in files),
            }
        )
    manifest = {
        "n_shards": n_shards,
        "key_col": key_col,
        "salt": salt,
        "shard_col": shard_col,
        "total_rows": int(sum(s["rows"] for s in shards)),
        "shards": shards,
    }
    # underscore prefix: Spark/Hadoop file indexes skip _-prefixed
    # files, so re-reading the shard directory as parquet stays clean
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> None:
    """S9's database arm — the reference batches INSERTs 10k at a time
    inside one transaction per batch (load_fact_sales_dw.py:376-387);
    Spark's JDBC sink does exactly that per partition (``batchsize``
    rows per executeBatch), with executor-side parallel connections
    instead of the reference's single cursor. ``mode="overwrite"``
    truncates-or-recreates first — for the staging-table protocol pair
    it with a MERGE on the database side or use io/versioned for
    file-backed tables."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .options(**(options or {}))
        .mode(mode)
        .save()
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    path: str | None = None,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Persist a table BUCKETED by its join/aggregation key: rows are
    hash-partitioned into ``n_buckets`` files per write-partition and
    the layout is recorded in the catalog, so a join or aggregation on
    the bucket key needs NO shuffle at read time — the co-location was
    paid once at write. This is the table-design half of SCALE.md's
    "pre-partition the big joins": at 100 TB, re-shuffling a fact table
    per query dwarfs every other cost; bucket both sides of a recurring
    fact-dim or fact-fact join identically (same cols, same count) and
    the exchange disappears from every downstream plan
    (tests/test_bucketing.py proves the plan shape).

    ``sort_cols`` additionally sorts within buckets (merge-join-ready
    files). ``path`` makes it an external table (data outlives a DROP).
    Bucketing only helps keys you join/group on REPEATEDLY — it fixes
    the partitioning at write time, the opposite trade of letting AQE
    pick per query."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line — the interchange format of
    most corpus-curation tooling). Scan-parallel: one file per
    partition, no coalesce; downstream re-reads with read_jsonl and an
    explicit schema."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar interchange with Hive-era warehouses."""
    df.write.mode(mode).orc(path)
