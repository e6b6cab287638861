"""retail_daily_etl: the daily retail lifecycle on a fresh root.

One operation is one day: the four public pipeline factories in order —
generation, extract, validation (production thresholds), DW load — on a
root of its own, so the day creates every table. The first day runs in
the session's first seconds, as a daily batch job does; further days,
each on a new root, run while the measured window lasts. After each day
an untimed check verifies its outputs.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import time
import warnings

from pyspark.sql import functions as F

from dynamic_etl_spark.pipeline import Pipeline
from dynamic_etl_spark.pipelines import retail as R

from perfbench.common import DAGS, STEPS, Ops, median
from perfbench.tracer import duration

#: rows of fact_sales generated per day
SIZES = {"full": 20_000, "tiny": 1_000}
#: every dimension needs >= 1000 rows to pass the production gates
DIM_ROWS = 1000
#: dim_date must hold >= 700 days to pass the production gates
CALENDAR = ("2023-01-01", "2024-12-31")
FIRST_DAY = datetime.date(2024, 3, 1)
GRAIN = ["date_id", "store_id", "product_id", "distributor_id"]


@dataclasses.dataclass(frozen=True)
class Roots:
    src: str
    ext: str
    dw: str

    @property
    def dw_fact(self) -> str:
        return os.path.join(self.dw, "fact_sales_dw")


def _pipelines(spark, roots: Roots, date_id: int, rows: int, seed: int):
    return (
        ("generation", lambda: R.generation_pipeline(
            spark, roots.src, date_id=date_id, n_stores=DIM_ROWS,
            n_products=DIM_ROWS, n_distributors=DIM_ROWS, rows_per_day=rows,
            seed=seed, calendar_start=CALENDAR[0], calendar_end=CALENDAR[1],
        )),
        ("extract", lambda: R.extract_pipeline(spark, roots.src, roots.ext, date_id=date_id)),
        ("validation", lambda: R.validation_pipeline(
            spark, roots.src, roots.ext, date_id=date_id, **R.production_thresholds(),
        )),
        ("dw_load", lambda: R.dw_load_pipeline(spark, roots.src, roots.ext, roots.dw)),
    )


def _traced(pipe: Pipeline, tracer) -> Pipeline:
    """The same pipeline rebuilt from its public steps, each step's
    function wrapped in a span."""

    def wrap(step):
        def fn(ctx, _fn=step.fn, _name=step.name):
            with tracer.span(f"pipeline.step.{_name}"):
                return _fn(ctx)
        return dataclasses.replace(step, fn=fn)

    return Pipeline(pipe.name, [wrap(s) for s in pipe.steps.values()])


def _run_day(spark, roots, date_id, rows, seed, tracer) -> None:
    for dag, factory in _pipelines(spark, roots, date_id, rows, seed):
        with tracer.span(f"pipelines.retail.{dag}"):
            pipe = factory()
            if tracer.enabled:
                pipe = _traced(pipe, tracer)
            pipe.run()


def _check(spark, roots: Roots, date_ids: list[int], rows: int) -> None:
    """Every gate passed (the validation pipeline raises otherwise); the
    source holds days x rows facts; the DW fact holds one row per grain
    key with unique sales ids; the queue ledger lists one file per day."""
    src = spark.read.parquet(os.path.join(roots.src, "fact_sales"))
    n_src = src.count()
    if n_src != len(date_ids) * rows:
        raise AssertionError(f"source fact rows {n_src} != {len(date_ids)} x {rows}")
    grains = src.select(*GRAIN).distinct().count()
    n_dw, n_ids = spark.read.parquet(roots.dw_fact).agg(
        F.count(F.lit(1)), F.countDistinct("sales_id")
    ).first()
    if n_ids != n_dw:
        raise AssertionError(f"DW sales_id not unique: {n_ids} distinct of {n_dw}")
    if n_dw != grains:
        raise AssertionError(f"DW fact rows {n_dw} != distinct grain keys {grains}")
    with open(os.path.join(roots.dw, "processed.log")) as f:
        ledger = [line.split("|", 1)[0] for line in f.read().splitlines() if line]
    if ledger != [f"fact_sales_{d}" for d in date_ids]:
        raise AssertionError(f"queue ledger {ledger} != one file per day")


def _bytes_since(root: str, since: float) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, fs in os.walk(path) for n in fs
    )


def _plant_duplicate(spark, roots: Roots) -> None:
    """Self-test fault: one DW fact row written twice."""
    spark.read.parquet(roots.dw_fact).limit(1).write.mode("append").parquet(roots.dw_fact)


def run(spark, bench) -> tuple[Ops, dict, dict]:
    rows = SIZES[bench.scale]
    base = os.path.join(bench.work, "retail")
    os.makedirs(base)
    setup_s = time.perf_counter() - bench.t0
    tracer = bench.tracer
    warnings.filterwarnings("ignore", message="DQ gate")
    date_id = int(FIRST_DAY.strftime("%Y%m%d"))

    ops = Ops()
    days: list[dict] = []  # successful days
    window = 0.0
    while True:
        root = os.path.join(base, str(ops.attempted))
        roots = Roots(*(os.path.join(root, p) for p in ("source", "extract", "dw")))
        ops.attempted += 1
        t_wall = time.time()
        t = time.perf_counter()
        c = bench.cpu_s()
        try:
            with tracer.span("day", date_id=date_id) as span:
                _run_day(spark, roots, date_id, rows, bench.seed, tracer)
            day = {"cpu": bench.cpu_s() - c, "span": span}
            if bench.plant_fault:
                _plant_duplicate(spark, roots)
            _check(spark, roots, [date_id], rows)
        except Exception as exc:
            ops.fail(f"day {ops.attempted}", exc)
        else:
            if tracer.enabled:
                day["bytes"] = _bytes_since(root, t_wall)
                day["extract_bytes"] = _tree_bytes(
                    os.path.join(roots.ext, "Current", f"fact_sales_{date_id}")
                )
            days.append(day)
        elapsed = time.perf_counter() - t
        window += elapsed
        if window + elapsed > bench.seconds or not bench.time_left(elapsed):
            break

    e2e = {
        "setup_s": setup_s,
        "op_cpu_s": median([d["cpu"] for d in days]),
    }
    return ops, e2e, _layers(tracer, days)


def _layers(tracer, days: list[dict]) -> dict:
    if not tracer.enabled:
        return {}

    def dag_spans(day, dag):
        return [c for c in day["span"]["children"] if c["name"] == f"pipelines.retail.{dag}"]

    m: dict[str, float] = {}
    for dag in DAGS:
        m[f"pipelines.retail.{dag}_s"] = median(
            [sum(duration(s) for s in dag_spans(d, dag)) for d in days]
        )
        m[f"pipelines.retail.{dag}.jobs"] = median(
            [sum(s["jobs"] for s in dag_spans(d, dag)) for d in days]
        )
        m[f"pipelines.retail.{dag}.tasks"] = median(
            [sum(s["tasks"] for s in dag_spans(d, dag)) for d in days]
        )
    for step in STEPS:
        m[f"pipeline.step.{step}_s"] = median([
            sum(duration(st) for s in d["span"]["children"] for st in s["children"]
                if st["name"] == f"pipeline.step.{step}")
            for d in days
        ])
    m["io.sinks.bytes_written_per_day"] = median([d["bytes"] for d in days])
    m["io.sinks.write_amp"] = median([d["bytes"] / d["extract_bytes"] for d in days])
    m["trace.unattributed_frac"] = median([
        1.0 - sum(duration(c) for c in d["span"]["children"]) / duration(d["span"])
        for d in days
    ])
    return m
