"""The committed-table format: parquet plus a ``_schema.json`` sidecar.
Every table ``io.sinks`` swaps in or ``io.versioned`` commits is written
by :func:`write_table` and read by :func:`read_table`."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: The ``_`` prefix keeps the sidecar out of Spark's file listing.
SCHEMA_SIDECAR = "_schema.json"


def write_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Write ``df`` as parquet under ``path`` (Hive ``k=v`` directories
    for ``partition_by``), then its schema as the sidecar. Call it on a
    directory readers cannot see yet, so the schema commits with the
    data. The sidecar lists partition columns last, the order a reader
    sees them in."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    fields = [f for f in df.schema if f.name not in partition_by]
    schema = T.StructType(fields + [df.schema[c] for c in partition_by])
    with open(os.path.join(path, SCHEMA_SIDECAR), "w") as fh:
        fh.write(schema.json())


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet table read that takes its schema from the sidecar
    :func:`write_table` committed with the data, instead of the one-task
    footer-inference job a plain ``spark.read.parquet`` runs per read (a
    fixed ~0.1 s that dominates small daily tables) and instead of typing
    partition columns from directory names (``k=001`` would read as 1).
    Tables without the sidecar fall back to inference.

    The sidecar is authoritative only while every write of the table
    goes through :func:`write_table`; a table appended to in place with
    a different schema must not be read through here."""
    try:
        with open(os.path.join(path, SCHEMA_SIDECAR)) as fh:
            schema = T.StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)
