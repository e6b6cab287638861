"""The reference's four daily DAGs as NAMED, user-callable pipelines
(SURVEY.md §3; VERDICT r8 #8) — until now the lifecycle existed only as
the e2e test's inline composition (tests/test_pipeline_e2e.py).

Each factory returns a :class:`dynamic_etl_spark.pipeline.Pipeline`
whose steps mirror one reference DAG task-for-task:

1. :func:`generation_pipeline`  — dags/retail_daily_pipeline.py:12-47
   (``dim_store >> dim_product >> dim_distributor >> dim_date >>
   fact_sales``, high-water-mark continuation, dim_date precondition).
2. :func:`extract_pipeline`     — dags/retail_daily_extract_pipeline.py:11-46
   (Current→Archive rotation, comma fact extract, pipe star-join
   snapshot ORDER BY sales_id, read-back smoke tasks).
3. :func:`validation_pipeline`  — dags/retail_daily_validation_pipeline.py:23-97
   (the generic validator with the production thresholds as defaults).
4. :func:`dw_load_pipeline`     — dags/retail_target_dw_load_pipeline.py:12-62
   (dim SCD-1 refreshes, then the fact loader: file queue, alias
   resolution, numeric cleanse, FK resolution, grain dedup, SCD-1
   MERGE, staged swap).

Where the reference sequences the four DAGs by WALL CLOCK only
(09:30→11:30 UTC, no sensors — a late upstream silently starves
downstream), :func:`retail_daily_run` chains them through explicit
context passing: each pipeline's outputs become the next one's initial
context, so ordering is structural, not temporal. Airflow/cron can
still own the outer daily schedule.

Each piece of work runs once: a day is bound by its Spark job count,
not its data, so every fact a step needs comes from the job that
already computes it. Every table commits through ``io.write_counted``
(staging+swap), whose row count is observed by the committing write,
never re-read; parquet tables are read through ``io.read_table``,
whose committed ``_schema.json`` sidecar replaces a footer-inference
job per read; the CSVs the day writes commit their header the same way
(``io.write_csv``), so reading them back runs no header-inference job;
the fact load's empty-dim guard reads the dim counts the ``load_dim_*``
steps published in the pipeline context; each validator gate is one
scan (``validate``).

Storage layout under the caller's roots (all commits atomic via
staging+swap, io/sinks):

    source_root/dim_store|dim_product|dim_distributor|dim_date|fact_sales
    extract_root/Current/fact_sales_<date_id>.csv       (comma)
    extract_root/Archive/...                            (rotated)
    extract_root/snapshots/sales_snapshot_<date_id>.csv (pipe)
    dw_root/dim_*  dw_root/fact_sales_dw               (targets)
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_spark import generate as G
from dynamic_etl_spark.io import (
    FileQueue,
    PoisonPill,
    SkipRetry,
    latest_file,
    read_csv_schema_on_read,
    read_table,
    restore_interrupted_swap,
    rotate_current_to_archive,
    write_counted,
    write_csv,
)
from dynamic_etl_spark.ops.agg import high_water_mark
from dynamic_etl_spark.ops.clean import clean_numeric, resolve_aliases
from dynamic_etl_spark.ops.dates import build_date_dimension
from dynamic_etl_spark.ops.dedup import dedup_keep_last
from dynamic_etl_spark.ops.merge import scd1_merge_into
from dynamic_etl_spark.pipeline import Pipeline, Step
from dynamic_etl_spark.validate import ValidationSpec, validate


def _table(root: str, name: str) -> str:
    return str(Path(root) / name)


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    restore_interrupted_swap(path)
    return read_table(spark, path) if Path(path).exists() else None


# --------------------------------------------------------------------------
# DAG 1 — generation (dags/retail_daily_pipeline.py:12-47)
# --------------------------------------------------------------------------

def generation_pipeline(
    spark: SparkSession,
    source_root: str,
    *,
    date_id: int,
    n_stores: int = 50,
    n_products: int = 100,
    n_distributors: int = 20,
    rows_per_day: int = 1000,
    seed: int = 42,
    calendar_start: str | None = None,
    calendar_end: str | None = None,
) -> Pipeline:
    """``dim_store >> dim_product >> dim_distributor >> dim_date >>
    fact_sales`` — the reference's linear chain (:47), each step the
    Spark re-expression of one generator script. The fact step keeps
    the reference lifecycle stages: high-water-mark continuation from
    ``NVL(MAX(sales_id),0)`` (fact_sales_daily.py:16-17), the dim_date
    precondition probe (``SystemExit`` there, ``ValueError`` here —
    :22-33), atomic commit, and a post-insert verification count
    (:228-233) returned as the step output — observed on the committed
    write (the day's rows of ``existing ∪ new``) rather than re-read."""

    def _gen_dim(name: str, fn) -> Callable[[dict], int]:
        def step(ctx):
            return write_counted(fn(), _table(source_root, name))
        return step

    def gen_date(ctx):
        # calendar horizon defaults to the target date's year; an
        # explicit shorter horizon models the reference failure mode the
        # fact step's precondition probe exists for (dim_date generation
        # hasn't caught up to today)
        year = date_id // 10000
        cal = build_date_dimension(
            spark,
            calendar_start or f"{year}-01-01",
            calendar_end or f"{year}-12-31",
        )
        return write_counted(cal, _table(source_root, "dim_date"))

    def gen_fact(ctx):
        cal = read_table(spark, _table(source_root, "dim_date"))
        # precondition probe: today must exist in dim_date; the same
        # one-row probe carries the day's weekend flag
        today = (
            cal.filter(F.col("date_id") == date_id)
            .select(F.col("is_weekend") == "Y")
            .limit(1)
            .collect()
        )
        if not today:
            raise ValueError(
                f"generation precondition failed: date_id {date_id} not in "
                "dim_date (fact_sales_daily.py:22-33 exits here)"
            )
        is_weekend = bool(today[0][0])
        stores = read_table(spark, _table(source_root, "dim_store"))
        products = read_table(spark, _table(source_root, "dim_product"))
        dists = read_table(spark, _table(source_root, "dim_distributor"))
        fact_path = _table(source_root, "fact_sales")
        existing = _read_if_exists(spark, fact_path)
        hwm = 0 if existing is None else high_water_mark(existing, "sales_id")
        new = G.generate_fact_sales(
            spark, stores, products, dists,
            date_id=date_id, rows=rows_per_day, seed=seed,
            start_sales_id=hwm, is_weekend=is_weekend,
            month=(date_id // 100) % 100,
        )
        out = new if existing is None else existing.unionByName(new)
        # post-insert verification aggregate (the reference's step 7)
        return write_counted(out, fact_path, where=F.col("date_id") == date_id)

    return Pipeline(
        "retail_daily_generation",
        [
            Step("dim_store", _gen_dim("dim_store", lambda: G.generate_stores(spark, n_stores, seed))),
            Step("dim_product", _gen_dim("dim_product", lambda: G.generate_products(spark, n_products, seed)), depends_on=("dim_store",)),
            Step("dim_distributor", _gen_dim("dim_distributor", lambda: G.generate_distributors(spark, n_distributors, seed)), depends_on=("dim_product",)),
            Step("dim_date", gen_date, depends_on=("dim_distributor",)),
            Step("fact_sales", gen_fact, depends_on=("dim_date",)),
        ],
    )


# --------------------------------------------------------------------------
# DAG 2 — extract (dags/retail_daily_extract_pipeline.py:11-46)
# --------------------------------------------------------------------------

def extract_pipeline(
    spark: SparkSession,
    source_root: str,
    extract_root: str,
    *,
    date_id: int,
) -> Pipeline:
    """``extract_fact_sales >> extract_sales_snapshot >>
    read_extract_snapshot >> read_current >> read_archive`` (:46).
    The fact extract rotates Current→Archive then writes the day's
    comma CSV (extract_sales_daily.py:18-59); the snapshot runs the
    flagship 4-way star join ORDER BY sales_id and spools it pipe-
    delimited (extract_sales_snapshot.py:32-106) — executed by Spark
    instead of spooled from Oracle. The read tasks are the reference's
    smoke checks: pick the latest file, parse, count. (The reference's
    read_current_file.py:15-19 reads the comma file with delimiter='|'
    — a latent bug SURVEY §3 documents; this one parses with the
    delimiter the file was written with.)"""
    current = str(Path(extract_root) / "Current")
    archive = str(Path(extract_root) / "Archive")
    snapshots = str(Path(extract_root) / "snapshots")

    def extract_fact(ctx):
        rotate_current_to_archive(current, archive)
        day = (
            read_table(spark, _table(source_root, "fact_sales"))
            .filter(F.col("date_id") == date_id)
        )
        out = str(Path(current) / f"fact_sales_{date_id}")
        write_csv(day, out, sep=",")
        return out

    def extract_snapshot(ctx):
        # both sides carry a unit_price: alias them apart as the reference
        # does (extract_sales_snapshot.py:32-96), so the header has no
        # repeated name
        facts = (
            read_table(spark, _table(source_root, "fact_sales"))
            .filter(F.col("date_id") == date_id)
            .withColumnRenamed("unit_price", "sales_unit_price")
        )
        stores = read_table(spark, _table(source_root, "dim_store"))
        products = read_table(spark, _table(source_root, "dim_product")).withColumnRenamed(
            "unit_price", "product_unit_price"
        )
        dists = read_table(spark, _table(source_root, "dim_distributor"))
        cal = read_table(spark, _table(source_root, "dim_date"))
        snap = (
            facts.join(F.broadcast(stores), "store_id")
            .join(F.broadcast(products), "product_id")
            .join(F.broadcast(dists), "distributor_id")
            .join(F.broadcast(cal.select("date_id", "full_date", "is_weekend")), "date_id")
            # the extract is one file: sorting inside its one partition
            # writes the bytes a global sort would, without the global
            # sort's sampling job and shuffle
            .coalesce(1)
            .sortWithinPartitions("sales_id")
        )
        out = str(Path(snapshots) / f"sales_snapshot_{date_id}")
        write_csv(snap, out, sep="|")
        return out

    def read_snapshot(ctx):
        path = latest_file(snapshots, "sales_snapshot_")
        return read_csv_schema_on_read(spark, path, sep="|").count()

    def read_current(ctx):
        path = latest_file(current, "fact_sales_")
        return read_csv_schema_on_read(spark, path, sep=",").count()

    def read_archive(ctx):
        if not Path(archive).exists() or not any(Path(archive).iterdir()):
            return 0
        path = latest_file(archive, "fact_sales_")
        return read_csv_schema_on_read(spark, path, sep=",").count()

    return Pipeline(
        "retail_daily_extract",
        [
            Step("extract_fact_sales", extract_fact),
            Step("extract_sales_snapshot", extract_snapshot, depends_on=("extract_fact_sales",)),
            Step("read_extract_snapshot", read_snapshot, depends_on=("extract_sales_snapshot",)),
            Step("read_current", read_current, depends_on=("read_extract_snapshot",)),
            Step("read_archive", read_archive, depends_on=("read_current",)),
        ],
    )


# --------------------------------------------------------------------------
# DAG 3 — DQ validation (dags/retail_daily_validation_pipeline.py:23-97)
# --------------------------------------------------------------------------

def production_thresholds() -> dict:
    """The production validation DAG's invocation contract, verbatim
    and callable (VERDICT r9 #8 — SURVEY §2.10):
    ``validation_pipeline(**production_thresholds(), ...)`` runs the
    exact gates dags/retail_daily_validation_pipeline.py:23-97
    schedules — dims and fact min_rows=1000, dim_date 700 (a year of
    calendar), extract file 1, and the fact freshness check demoted to
    a WARNING: the DAG passes ``--skip_freshness_check`` for
    fact_sales because its load runs in a separate pipeline, and the
    reference validator (scripts/validate_table.py:336-390) still RUNS
    the check under that flag, printing a warning instead of failing."""
    return {
        "min_dim_rows": 1000,
        "min_date_rows": 700,
        "min_fact_rows": 1000,
        "min_file_rows": 1,
        "fact_freshness_warn_only": True,
    }


def validation_pipeline(
    spark: SparkSession,
    source_root: str,
    extract_root: str,
    *,
    date_id: int,
    min_dim_rows: int = 1000,
    min_date_rows: int = 700,
    min_fact_rows: int = 1000,
    min_file_rows: int = 1,
    fact_freshness_warn_only: bool = False,
) -> Pipeline:
    """One validator task per target, thresholds defaulting to the
    production DAG's values (SURVEY §2.10 invocation contracts:
    dims/fact min_rows=1000, dim_date 700, file 1 —
    :func:`production_thresholds` names the full contract including
    the fact task's warn-only freshness). A FAIL row raises, failing
    the step — the DAG-task semantics; the report DataFrame is the
    step output either way. The fixture-sized defaults in tests pass
    smaller thresholds, same as pointing the reference CLI at a dev
    schema."""

    def _gate(name: str, df_fn, spec: ValidationSpec, warn_checks=()):
        def step(ctx):
            import warnings

            report = validate(spark, df_fn(), spec)
            fails = [r for r in report.collect() if r["status"] == "FAIL"]
            warned = [r for r in fails if r["check_name"] in warn_checks]
            fails = [r for r in fails if r["check_name"] not in warn_checks]
            for r in warned:
                # the reference's --skip_freshness_check semantics: the
                # check runs, a miss warns instead of failing the task
                warnings.warn(f"DQ gate {name}: {r['check_name']} "
                              f"missed (demoted to warning): {r}")
            if fails:
                raise ValueError(f"DQ gate {name} failed: {fails}")
            return report
        return step

    def src(name: str):
        return lambda: read_table(spark, _table(source_root, name))

    def snapshot_df():
        path = latest_file(str(Path(extract_root) / "snapshots"), "sales_snapshot_")
        return read_csv_schema_on_read(spark, path, sep="|")

    return Pipeline(
        "retail_daily_validation",
        [
            Step("validate_dim_store", _gate(
                "dim_store", src("dim_store"),
                ValidationSpec(min_rows=min_dim_rows, pk_column="store_id",
                               mandatory_columns=("store_id", "store_name")),
            )),
            Step("validate_dim_product", _gate(
                "dim_product", src("dim_product"),
                ValidationSpec(min_rows=min_dim_rows, pk_column="product_id",
                               mandatory_columns=("product_id", "product_name")),
            )),
            Step("validate_dim_distributor", _gate(
                "dim_distributor", src("dim_distributor"),
                ValidationSpec(min_rows=min_dim_rows, pk_column="distributor_id",
                               mandatory_columns=("distributor_id", "distributor_name"),
                               flag_columns=("active_flag",)),
            )),
            Step("validate_dim_date", _gate(
                "dim_date", src("dim_date"),
                ValidationSpec(min_rows=min_date_rows, pk_column="date_id",
                               mandatory_columns=("date_id", "full_date")),
            )),
            Step("validate_fact_sales", _gate(
                "fact_sales", src("fact_sales"),
                ValidationSpec(min_rows=min_fact_rows, pk_column="sales_id",
                               mandatory_columns=("sales_id", "date_id", "net_amount"),
                               freshness=("date_id", F.lit(date_id))),
                warn_checks=("freshness",) if fact_freshness_warn_only else (),
            )),
            Step("validate_snapshot_file", _gate(
                "snapshot_file", snapshot_df,
                ValidationSpec(min_rows=min_file_rows,
                               mandatory_columns=("sales_id", "net_amount",
                                                  "store_name", "product_name",
                                                  "full_date"),
                               numeric_columns=("quantity_sold", "net_amount"),
                               flag_columns=("is_chain", "active_flag",
                                             "is_weekend")),
            )),
        ],
    )


# --------------------------------------------------------------------------
# DAG 4 — DW load (dags/retail_target_dw_load_pipeline.py:12-62)
# --------------------------------------------------------------------------

def dw_load_pipeline(
    spark: SparkSession,
    source_root: str,
    extract_root: str,
    dw_root: str,
) -> Pipeline:
    """``load_dim_store >> load_dim_product >> load_dim_distributor >>
    load_dim_date >> load_fact_sales`` (:56-62). Dim loads are SCD-1
    refreshes on the dim's natural id (union + keep-last, incoming
    wins — the scripts2/load_dim_*_dw.py MERGE semantics) committed by
    staging+swap. The fact loader replays the reference's richest
    lifecycle (scripts2/load_fact_sales_dw.py): oldest-unprocessed file
    via the processed-log queue (:65-77), header canonicalization +
    alias resolution (:98,178-210; a missing required column is a
    PoisonPill — the file is marked processed, then the error surfaces,
    :204-210), empty-dim guard -> leave the file
    unprocessed for retry (:156-175, U6 SkipRetry; the dim counts come
    from the ``load_dim_*`` step outputs in the context), per-row key
    resolution with drop-on-miss (:213-261), numeric cleanse
    (:283-297), then ``ops.merge.scd1_merge_into``: fact-grain dedup,
    SCD-1 MERGE with tolerance 0.01 + MAX+1+i surrogates (:299-357),
    staged swap (:368-423) and the verification count (:428-439;
    observed on the committing write); then mark processed (:425)."""
    current = str(Path(extract_root) / "Current")
    processed_log = str(Path(dw_root) / "processed.log")
    dw_fact = _table(dw_root, "fact_sales_dw")

    def _load_dim(name: str, key: str):
        def step(ctx):
            incoming = read_table(spark, _table(source_root, name))
            existing = _read_if_exists(spark, _table(dw_root, name))
            if existing is None:
                merged = incoming
            else:
                merged = dedup_keep_last(
                    existing.withColumn("__gen", F.lit(0)).unionByName(
                        incoming.withColumn("__gen", F.lit(1))
                    ),
                    keys=[key],
                    order=["__gen"],
                ).drop("__gen")
            return write_counted(merged, _table(dw_root, name))
        return step

    def load_fact(ctx):
        queue = FileQueue(current, processed_log, "fact_sales_")
        dims = {
            n: read_table(spark, _table(dw_root, n))
            for n in ("dim_store", "dim_product", "dim_distributor")
        }

        def load_one(path):
            # empty-dim guard: exit without consuming the file (U6); the
            # load_dim_* steps published each committed dim's row count
            for n in dims:
                if ctx[f"load_{n}"] == 0:
                    raise SkipRetry(f"dimension {n} is empty; retry next run")
            raw = read_csv_schema_on_read(spark, path, sep=",")
            try:
                resolved = resolve_aliases(
                    raw,
                    {
                        "SALES_ID": ["SALES_ID", "SALE_ID"],
                        "DATE_ID": ["DATE_ID"],
                        "STORE_ID": ["STORE_ID"],
                        "PRODUCT_ID": ["PRODUCT_ID"],
                        "DISTRIBUTOR_ID": ["DISTRIBUTOR_ID", "DIST_ID"],
                        "QUANTITY_SOLD": ["QUANTITY_SOLD", "QUANTITY", "QTY"],
                        "NET_AMOUNT": ["NET_AMOUNT", "NET_SALES", "NET"],
                    },
                )
            except ValueError as exc:
                # a structural defect no retry can fix: the queue marks
                # the file processed, then the error surfaces (U6,
                # load_fact_sales_dw.py:204-210), so it cannot wedge
                # every later run
                raise PoisonPill(f"{path}: {exc}") from exc
            typed = resolved.select(
                F.col("SALES_ID").cast("long").alias("sales_id"),
                F.col("DATE_ID").cast("int").alias("date_id"),
                F.col("STORE_ID").cast("long").alias("store_id"),
                F.col("PRODUCT_ID").cast("long").alias("product_id"),
                F.col("DISTRIBUTOR_ID").cast("long").alias("distributor_id"),
                F.col("QUANTITY_SOLD").cast("long").alias("quantity_sold"),
                clean_numeric(
                    F.col("NET_AMOUNT"), dtype="decimal(12,2)", min_value=None
                ).cast("double").alias("net_amount"),
            )
            # the resolved batch feeds both the probe and the merge:
            # materialize it once (shared-intermediate rule)
            typed = (
                typed.join(dims["dim_store"].select("store_id"), "store_id", "left_semi")
                .join(dims["dim_product"].select("product_id"), "product_id", "left_semi")
                .join(dims["dim_distributor"].select("distributor_id"), "distributor_id", "left_semi")
                .localCheckpoint()
            )
            if typed.isEmpty():
                raise SkipRetry("no rows survived key resolution")
            # fact-grain dedup keeps the latest sales_id per grain key
            return scd1_merge_into(
                dw_fact,
                typed,
                natural_key=["date_id", "store_id", "product_id", "distributor_id"],
                surrogate_col="sales_id",
                exact_cols=["quantity_sold"],
                tolerance_cols=["net_amount"],
                batch_order_col="sales_id",
            )

        return queue.process_next(load_one)

    return Pipeline(
        "retail_target_dw_load",
        [
            Step("load_dim_store", _load_dim("dim_store", "store_id")),
            Step("load_dim_product", _load_dim("dim_product", "product_id"), depends_on=("load_dim_store",)),
            Step("load_dim_distributor", _load_dim("dim_distributor", "distributor_id"), depends_on=("load_dim_product",)),
            Step("load_dim_date", _load_dim("dim_date", "date_id"), depends_on=("load_dim_distributor",)),
            # the reference DAG default_args: retries=1
            # (dags/retail_target_dw_load_pipeline.py:5-10); a
            # deterministic failure raises after 2 attempts
            Step("load_fact_sales", load_fact, depends_on=("load_dim_date",), retries=1),
        ],
    )


# --------------------------------------------------------------------------
# The daily chain — explicit ordering where the reference trusts cron
# --------------------------------------------------------------------------

def retail_daily_run(
    spark: SparkSession,
    root: str,
    *,
    date_id: int,
) -> dict:
    """Run the four pipelines in the reference's daily order with
    STRUCTURAL sequencing (each stage runs only after the previous
    returned) instead of the reference's wall-clock cadence. Returns
    {pipeline_name: RunResult}. The day is dev-sized (50 stores, 100
    products, 20 distributors, 1000 fact rows) and its row-count gates
    are permissive (1 row); production runs the four factories with the
    DAG's 1000/700 thresholds (``production_thresholds``)."""
    source_root = _table(root, "source")
    extract_root = _table(root, "extract")
    dw_root = _table(root, "dw")
    results = {}
    gen = generation_pipeline(spark, source_root, date_id=date_id)
    results[gen.name] = gen.run()
    ext = extract_pipeline(spark, source_root, extract_root, date_id=date_id)
    results[ext.name] = ext.run()
    val = validation_pipeline(
        spark, source_root, extract_root, date_id=date_id,
        min_dim_rows=1, min_date_rows=1, min_fact_rows=1,
    )
    results[val.name] = val.run()
    load = dw_load_pipeline(spark, source_root, extract_root, dw_root)
    results[load.name] = load.run()
    return results
