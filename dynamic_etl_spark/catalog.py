"""Table catalog for the testdata corpus.

Testdata (TESTDATA.md): deterministic TPC-H-ish star schema + `events`
stream table + `documents`/`embeddings` LLM-pipeline tables, one parquet
file per table under /root/testdata/sf{0.001,0.01,0.1}/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark.io.table import read_table

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into
    it. Reads through :func:`io.read_table`, so each corpus file's
    footer is inferred once per process, not once per reference."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return read_table(spark, path)
    # events.ts can be Parquet TIMESTAMP(NANOS) (the TESTDATA.md corpora
    # store micros, read as timestamp_ntz either way); without this
    # (runtime-settable) conf a nanos scan fails with PARQUET_TYPE_ILLEGAL.
    # Set it around the read only — the resolved schema is captured at
    # read time, and the conf is part of read_table's inference memo
    # key — and restore, so a caller-provided session's behavior on its
    # OWN nanos parquet files is left untouched.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = read_table(spark, path)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    if dict(df.dtypes).get("ts") == "bigint":
        # ts is Parquet TIMESTAMP(NANOS,isAdjustedToUTC=false), surfaced as
        # nanos-since-epoch via nanosAsLong (session.py). `div 1000` floors
        # to micros exactly like DuckDB's nanos->micros conversion; integer
        # division avoids the double-precision loss of `/` (2024 epoch-nanos
        # exceed 2^53).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df
