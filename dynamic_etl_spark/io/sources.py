"""CSV sources + file-selection utilities (SURVEY.md §2.1 S5, S6, S11).

The reference's schema-on-read contract (scripts2/load_fact_sales_dw.py:
84-90): everything ingests as STRING with sentinel nulls
(na_values=['', 'NULL', 'null', 'NA']), and types are re-derived by the
cleaning layer (ops/clean). Spark's CSV reader takes a single nullValue,
so the sentinel set is applied as a post-read column expression — still
codegen, still one scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dynamic_etl_spark.io.table import read_schema

#: Reference na_values (load_fact_sales_dw.py:85-88).
NULL_SENTINELS = ("", "NULL", "null", "NA")


def read_csv_schema_on_read(spark: SparkSession, path: str, sep: str = "|") -> DataFrame:
    """S5 — all-string ingest of a CSV with a header row, sentinel nulls.

    A directory ``io.write_csv`` wrote carries the header it wrote as an
    all-string schema (``io.table.read_schema``), so the read runs no
    header-inference job (``write_csv`` refuses the empty and repeated
    names inference would rename). The sidecar assumes the file is read
    with the separator it was written with. Without a sidecar the header
    is inferred."""
    reader = spark.read.option("sep", sep).option("header", "true").option("inferSchema", "false")
    schema = read_schema(path)
    df = reader.csv(path) if schema is None else reader.schema(schema).csv(path)
    names = df.columns
    # one SQL projection: built from Column objects it costs about 11
    # py4j calls per column
    listed = ", ".join(_sql_string(s) for s in NULL_SENTINELS if s != "")

    def null_sentinels(q: str) -> str:
        t = f"trim({q})"
        return f"CASE WHEN {t} IN ({listed}) OR {t} = '' THEN NULL ELSE {q} END AS {q}"

    return df.selectExpr(*[null_sentinels(_sql_ident(n)) for n in names])


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_string(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def latest_file(directory: str, prefix: str) -> str:
    """S6/W3 — lexicographic newest entry named ``prefix*`` (timestamped
    names sort naturally; reference read_extract_snapshot.py:9-21)."""
    names = [f for f in os.listdir(directory) if f.startswith(prefix)]
    if not names:
        raise FileNotFoundError(
            f"no '{prefix}*' entries in {directory}. " + list_dir_diagnostics(directory)
        )
    return os.path.join(directory, sorted(names)[-1])


def list_dir_diagnostics(directory: str) -> str:
    """S11 — first-10 directory listing for error messages
    (reference validate_table.py:98-107)."""
    try:
        names = sorted(os.listdir(directory))[:10]
    except OSError as exc:
        return f"(listing failed: {exc})"
    return f"Directory contains (first 10): {names}"


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
