"""CSV sinks + physical-write protocols (SURVEY.md §2.1 S3, S4, S7, S9,
S10).

Batched-insert atomicity (S9) needs no code: Spark's file committer
stages task output and publishes on job commit, which is the reference's
batch-then-single-commit (load_fact_sales_dw.py:376-387) at executor
scale. The staging-table + MERGE + drop dance (S10) becomes
write-new-then-atomic-swap on plain parquet.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_spark.io.table import read_table, write_schema, write_table


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


def write_csv(df: DataFrame, path: str, sep: str = "|") -> None:
    """S3/S4 — comma or pipe ("DW best practice" in the reference,
    extract_sales_snapshot.py:104) delimited CSV with a header row,
    overwriting ``path`` with ONE file: the reference's one-file-per-
    extract shape (coalesce(1) — fine for extracts, wrong for bulk data).

    The header is also committed as the directory's schema sidecar
    (``io.table.write_schema``): its names as an all-string schema, which
    ``io.read_csv_schema_on_read``
    reads instead of running a header-inference job. A header Spark's
    reader would rename — an empty name, or one repeated
    case-insensitively — is refused before anything is written, so the
    sidecar's names are the names every reader sees."""
    folded = [c.lower() for c in df.columns]
    unsafe = sorted({c for c in df.columns if c == "" or folded.count(c.lower()) > 1})
    if unsafe:
        raise ValueError(
            f"write_csv: header names must be non-empty and unique "
            f"case-insensitively; rename {unsafe}"
        )
    df.coalesce(1).write.mode("overwrite").option("sep", sep).option("header", "true").csv(path)
    write_schema(path, T.StructType([T.StructField(c, T.StringType()) for c in df.columns]))


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


def restore_interrupted_swap(final_path: str) -> None:
    """Repair the one non-atomic window of :func:`write_staging_swap`: a
    crash between its two renames leaves no ``final`` but a surviving
    ``final.old`` backup, which moves back into place. Call it before
    deciding from ``final``'s existence that a table is absent."""
    backup = final_path + ".old"
    if not os.path.exists(final_path) and os.path.exists(backup):
        os.rename(backup, final_path)


def write_staging_swap(
    df: DataFrame,
    final_path: str,
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

    The staging directory is written by ``io.table.write_table``, flat
    or partitioned, so its ``_schema.json`` sidecar commits atomically
    with the data and ``io.table.read_table`` needs no inference."""
    parent = os.path.dirname(os.path.abspath(final_path))
    os.makedirs(parent, exist_ok=True)
    staging = os.path.join(parent, f".staging-{uuid.uuid4().hex}")
    backup = final_path + ".old"
    restore_interrupted_swap(final_path)
    try:
        write_table(df, staging, partition_by)
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


def write_counted(df: DataFrame, path: str, where: Column | None = None) -> int:
    """Commit ``df`` via :func:`write_staging_swap` and return the
    committed row count (only rows matching ``where``, if given),
    observed by the write job itself — the same number a post-commit
    re-read would count, without the re-read's two extra jobs."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count(F.when(where, 1))
    write_staging_swap(df.observe(obs, n.alias("n")), path)
    return obs.get["n"]


def compact_table(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    rebalance: bool = False,
) -> int:
    """Small-file compaction: rewrite a table directory toward
    ``ceil(total_bytes / target_file_bytes)`` files via the crash-safe
    staging swap. Incremental appends (the streaming merge sink, the
    file queue) accrete files whose per-file overhead — task scheduling,
    footer reads, open/close — dominates scans long before data size
    does; periodic compaction is the maintenance half of any
    incremental-write design.

    The table is read through ``io.table.read_table``, so a table this
    package committed keeps its written schema, partition-column types
    included. ``rebalance=False`` (default) uses ``coalesce``: no
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
    pcols = _hive_partition_cols(path)
    df = read_table(spark, path)
    if pcols:
        shaped = df.repartition(*[F.col(c) for c in pcols])
        write_staging_swap(shaped, path, partition_by=tuple(pcols))
    else:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        n = max(1, -(-total // int(target_file_bytes)))
        shaped = df.repartition(n) if rebalance else df.coalesce(n)
        write_staging_swap(shaped, path)
    return sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


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
