"""The committed-table format: parquet plus a ``_schema.json`` sidecar.
Every table ``io.sinks`` swaps in or ``io.versioned`` commits is written
by :func:`write_table` and read by :func:`read_table`, which also reads
foreign parquet that carries no sidecar (the catalog's one-file corpus
tables). The CSV extracts commit their header through the same sidecar
(:func:`write_schema`, :func:`read_schema`), so this module alone owns
its format."""

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
    write_schema(path, T.StructType(fields + [df.schema[c] for c in partition_by]))


def write_schema(path: str, schema: T.StructType) -> None:
    """Commit ``schema`` as the sidecar of the directory ``path``."""
    with open(os.path.join(path, SCHEMA_SIDECAR), "w") as fh:
        fh.write(schema.json())


def read_schema(path: str) -> T.StructType | None:
    """The schema committed with the directory ``path``, or None for a
    file or a directory without a sidecar."""
    try:
        return _sidecar(path)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _sidecar(path: str) -> T.StructType:
    with open(os.path.join(path, SCHEMA_SIDECAR)) as fh:
        return T.StructType.fromJson(json.load(fh))


#: Session confs that change what footer inference returns for a file;
#: part of the memo key of :func:`_file_schema`.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (path, size, mtime_ns, inode, inference confs) -> inferred schema
_INFERRED: dict[tuple, T.StructType] = {}


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet table read that takes its schema from the sidecar
    :func:`write_table` committed with the data, instead of the one-task
    footer-inference job a plain ``spark.read.parquet`` runs per read (a
    fixed ~0.1 s that dominates small daily tables and short queries)
    and instead of typing partition columns from directory names
    (``k=001`` would read as 1).

    Without a sidecar, the schema is inferred. A single parquet file (the
    catalog's corpus tables) is inferred once per process: the result is
    remembered under the file's path, size, mtime and inode and the
    session confs that change inference, so a rewritten file or a
    changed conf infers afresh. A directory without a sidecar infers on
    every read, since files can land in it without changing its own
    stat.

    The sidecar is authoritative only while every write of the table
    goes through :func:`write_table`; a table appended to in place with
    a different schema must not be read through here."""
    try:
        schema = _sidecar(path)
    except NotADirectoryError:
        schema = _file_schema(spark, path)
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _file_schema(spark: SparkSession, path: str) -> T.StructType:
    """The footer-inferred schema of the single parquet file ``path``,
    inferred at most once per file version and inference conf."""
    st = os.stat(path)
    key = (
        os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _INFERRED.get(key)
    if schema is None:
        schema = _INFERRED[key] = spark.read.parquet(path).schema
    return schema
