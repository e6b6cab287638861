"""CSV sources + file-selection utilities (SURVEY.md §2.1 S5, S6, S11;
§2.2 P10).

The reference's schema-on-read contract (scripts2/load_fact_sales_dw.py:
84-90): everything ingests as STRING with sentinel nulls
(na_values=['', 'NULL', 'null', 'NA']), and types are re-derived by the
cleaning layer (ops/clean). Spark's CSV reader takes a single nullValue,
so the sentinel set is applied as a post-read column expression — still
codegen, still one scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_spark.io.sinks import SCHEMA_SIDECAR

#: Reference na_values (load_fact_sales_dw.py:85-88).
NULL_SENTINELS = ("", "NULL", "null", "NA")


def read_csv_schema_on_read(
    spark: SparkSession,
    path: str,
    sep: str = "|",
    header: bool = True,
    sentinels: tuple[str, ...] = NULL_SENTINELS,
    path_glob: str | None = None,
) -> DataFrame:
    """S5 — all-string CSV ingest with sentinel nulls; P10 — filename
    predicate via pathGlobFilter (pushed to the file listing, so excluded
    files are never opened)."""
    reader = (
        spark.read.option("sep", sep)
        .option("header", str(header).lower())
        .option("inferSchema", "false")
    )
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    df = reader.csv(path)
    cleaned = [
        F.when(F.trim(F.col(c)).isin(*[s for s in sentinels if s != ""]) | (F.trim(F.col(c)) == ""), None)
        .otherwise(F.col(c))
        .alias(c)
        for c in df.columns
    ]
    return df.select(*cleaned)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet table read that takes its schema from the ``_schema.json``
    sidecar ``write_staging_swap`` commits with the data, instead of the
    one-task footer-inference job a plain ``spark.read.parquet`` runs per
    read (a fixed ~0.1 s of planning and scheduling that dominates small
    daily tables). Tables without the sidecar — partitioned layouts,
    tables some other writer produced — fall back to inference.

    The sidecar is authoritative only while every write of the table
    goes through ``write_staging_swap``; a table appended to in place
    with a different schema must not be read through here."""
    try:
        with open(os.path.join(path, SCHEMA_SIDECAR)) as fh:
            schema = T.StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def latest_file(directory: str, suffix: str = ".csv", prefix: str = "") -> str:
    """S6/W3 — lexicographic newest (timestamped names sort naturally;
    reference read_extract_snapshot.py:9-21)."""
    names = [
        f
        for f in os.listdir(directory)
        if f.startswith(prefix) and f.endswith(suffix)
    ]
    if not names:
        raise FileNotFoundError(
            f"no '{prefix}*{suffix}' files in {directory}. "
            + list_dir_diagnostics(directory)
        )
    return os.path.join(directory, sorted(names)[-1])


def resolve_file(
    pattern: str,
    search_days_back: int = 0,
    allow_missing: bool = False,
) -> str | None:
    """V8 — resolve a concrete file from a glob pattern: newest match
    wins (reverse sort); on miss, rewind the first 8-digit yyyyMMdd token
    in the BASENAME up to ``search_days_back`` days; still nothing ->
    None with ``allow_missing`` else FileNotFoundError with a directory
    listing (reference validate_table.py:71-125)."""
    import glob as _glob
    import re
    from datetime import datetime, timedelta

    if "*" in pattern or "?" in pattern:
        files = sorted(_glob.glob(pattern), reverse=True)
        if not files and search_days_back > 0:
            basename = os.path.basename(pattern)
            dirpart = os.path.dirname(pattern)
            m = re.search(r"(\d{8})", basename)
            if m:
                token = m.group(1)
                day0 = datetime.strptime(token, "%Y%m%d")
                for back in range(1, search_days_back + 1):
                    prev = (day0 - timedelta(days=back)).strftime("%Y%m%d")
                    prev_pattern = os.path.join(dirpart, basename.replace(token, prev, 1))
                    prev_files = sorted(_glob.glob(prev_pattern), reverse=True)
                    if prev_files:
                        files = prev_files
                        break
        if files:
            return files[0]
        if allow_missing:
            return None
        raise FileNotFoundError(
            f"No file found matching pattern: {pattern}. "
            + list_dir_diagnostics(os.path.dirname(pattern) or ".")
        )
    if os.path.exists(pattern):
        return pattern
    if allow_missing:
        return None
    raise FileNotFoundError(f"File not found: {pattern}")


def list_dir_diagnostics(directory: str, limit: int = 10) -> str:
    """S11 — first-N directory listing for error messages
    (reference validate_table.py:98-107)."""
    try:
        names = sorted(os.listdir(directory))[:limit]
    except OSError as exc:
        return f"(listing failed: {exc})"
    return f"Directory contains (first {limit}): {names}"


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: tuple[str, ...] = (),
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """S1 external-DB source — the reference reads Oracle row-at-a-time
    through a cursor (scripts/extract_sales_daily.py:39-53, one process,
    one connection); Spark's JDBC source is the distributed form of the
    same extract, and this wrapper pins the two decisions that matter:

    - **parallelism**: a bare JDBC read is ONE task holding one
      connection — fine for a mini-dim, a serialization point for a fact
      table. Pass either ``predicates`` (one partition per WHERE clause,
      e.g. per day — the reference's daily-extract shape) or
      ``partition_column`` + bounds for stride partitioning. The two are
      mutually exclusive by Spark's API.
    - **pushdown**: filters/column pruning on the returned DataFrame
      compile into the remote SQL (PushedFilters in the scan), so
      ``read_jdbc(...).filter(...)`` ships predicates to the database —
      don't pre-build filtered views per extract.

    ``table`` may be a table name or a ``(SELECT ...) alias`` subquery.
    Tested against the Derby embedded driver bundled with Spark
    (tests/test_io.py); any JDBC-4 driver jar on the classpath works the
    same way (url swap only).
    """
    if predicates and partition_column:
        raise ValueError("pass predicates OR partition_column, not both")
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
        .options(**(options or {}))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partition_column needs lower_bound, upper_bound and num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    if predicates:
        return reader.jdbc(url, table, predicates=list(predicates))
    return reader.load()


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema and PERMISSIVE
    corrupt-record accounting — the file-level sibling of the coercion
    accounting the cleaning layer does per column (F25/P9): malformed
    lines land whole in ``corrupt_col`` instead of killing the read or
    silently vanishing, so ingestion can route them to a reject sink
    with exact counts.

    Never inferSchema: inference is a SECOND full scan of the input
    before the real one — at 100 TB that doubles ingest cost and pins
    the types to whatever the first day's data looked like. The schema
    string is the contract; drift shows up as corrupt/NULL rows the
    validator counts, not as a silently changed column type.

    Spark caveat: a downstream plan may not reference ONLY the corrupt
    column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep at least one data
    column in the projection when counting/routing rejects.
    """
    full_schema = f"{schema}, {corrupt_col} STRING"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source: columnar like parquet (predicate pushdown + column
    pruning both apply; tests pin PushedFilters on the scan), here for
    interchange with Hive-era warehouses that standardized on ORC."""
    return spark.read.orc(path)
