"""star_query_mix: one analyst runs read-only registry queries.

The tables are the repository's sf0.01 test corpus, copied verbatim
into ``perfbench/data/sf0.01`` (see TESTDATA.md), so the queries run on
the data the repository's oracle checks use. Set-up ends after the
catalog loads. A warm-up pass then runs every query once, collected to
the driver, and checks it against its DuckDB oracle SQL; it keeps a few
queries in flight at once so that runs stay short. The measured window
then runs whole passes over the mix, one query at a time in a seeded
order, every query through a ``noop`` write.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np
import pandas as pd

from dynamic_etl_spark.catalog import TESTDATA_TABLES, load_table
from dynamic_etl_spark.plan import count_shuffle_exchanges
from dynamic_etl_spark.registry import all_queries
from tests.parity import run_oracle

from perfbench.common import QUERIES, Ops, median, p90

#: queries in flight at once during the warm-up pass, which is part of
#: set-up; the measured passes run one query at a time
WARM_UP_CLIENTS = 3
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _normal(col: pd.Series) -> pd.Series:
    """One result column in a form both engines agree on: numbers as
    float64 rounded to 9 significant digits, dates and timestamps as
    int64 nanoseconds, everything else as text."""
    sample = col.dropna()
    first = sample.iloc[0] if len(sample) else None
    if pd.api.types.is_datetime64_any_dtype(col) or hasattr(first, "isoformat"):
        ns = pd.to_datetime(col).astype("datetime64[ns]").to_numpy()
        return pd.Series(ns.view("int64"))
    if pd.api.types.is_numeric_dtype(col) or isinstance(first, (int, float, Decimal)):
        x = col.astype("float64").to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            digits = 8 - np.floor(np.log10(np.abs(x)))
            scale = np.where(np.isfinite(digits), 10.0 ** digits, 1.0)
            return pd.Series(np.where(x == 0, 0.0, np.round(x * scale) / scale))
    return col.map(lambda v: "\0null" if v is None or v is pd.NA else str(v))


def _row_hashes(df: pd.DataFrame) -> np.ndarray:
    cols = sorted(df.columns)
    norm = pd.DataFrame({c: _normal(df[c]).reset_index(drop=True) for c in cols})
    return np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from the oracle's ``want``, or None.

    Vectorised: the row-by-row ``tests.parity.compare`` adds tens of
    seconds to every run on the larger results."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    differ = int((_row_hashes(got) != _row_hashes(want)).sum())
    return f"values differ in about {differ} of {len(got)} rows" if differ else None


def _with_extra_row(fn):
    """Self-test fault: the query's first row is returned twice."""
    return lambda spark, sf: (lambda df: df.unionByName(df.limit(1)))(fn(spark, sf))


def run(spark, bench) -> tuple[Ops, dict, dict]:
    tracer = bench.tracer
    sf = SF_DIR

    load_s = []
    for name in TESTDATA_TABLES:
        t = time.perf_counter()
        load_table(spark, sf, name)
        load_s.append(time.perf_counter() - t)
    setup_s = time.perf_counter() - bench.t0

    registry = all_queries()
    fns = {q: registry[q].fn for q in QUERIES}
    if bench.plant_fault:
        fns["rollup_totals"] = _with_extra_row(fns["rollup_totals"])

    # warm-up pass: first executions, each checked against its oracle
    def warm_up(q: str) -> float:
        t = time.perf_counter()
        got = fns[q](spark, sf).toPandas()
        cold_s = time.perf_counter() - t
        why = mismatch(got, run_oracle(registry[q].oracle, sf))
        if why:
            raise AssertionError(why)
        return cold_s

    ops = Ops()
    cold: dict[str, float] = {}
    with ThreadPoolExecutor(WARM_UP_CLIENTS) as pool:
        futures = {q: pool.submit(warm_up, q) for q in QUERIES}
    for q, fut in futures.items():
        ops.attempted += 1
        try:
            cold[q] = fut.result()
        except Exception as exc:
            ops.fail(q, exc)

    good = [q for q in QUERIES if q in cold]
    samples: dict[str, list[float]] = {q: [] for q in good}
    jobs: dict[str, list[int]] = {q: [] for q in good}
    cpu: list[float] = []
    rng = random.Random(bench.seed)
    window = 0.0
    while good:
        order = list(good)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for q in order:
            ops.attempted += 1
            try:
                with tracer.span(f"registry.{q}") as span:
                    c = bench.cpu_s()
                    t = time.perf_counter()
                    fns[q](spark, sf).write.format("noop").mode("overwrite").save()
                    latency = time.perf_counter() - t
                    cpu.append(bench.cpu_s() - c)
            except Exception as exc:
                ops.fail(q, exc)
                continue
            samples[q].append(latency)
            if span is not None:
                jobs[q].append(span["jobs"])
        elapsed = time.perf_counter() - t_pass
        window += elapsed
        if window + elapsed > bench.seconds or not bench.time_left(elapsed):
            break

    e2e = {
        "setup_s": setup_s,
        "op_cpu_s": sum(cpu) / len(cpu) if cpu else 0.0,
    }
    layers = {}
    if tracer.enabled:
        lat = [x for q in good for x in samples[q]]
        layers["catalog.load_table_s"] = median(load_s)
        layers["registry.cold_query_s"] = median(list(cold.values()))
        layers["registry.query_p50_s"] = median(lat)
        layers["registry.query_p90_s"] = p90(lat)
        for q in QUERIES:
            layers[f"registry.{q}_s"] = median(samples.get(q, []))
            layers[f"registry.{q}.jobs"] = median(jobs.get(q, []))
            plan = fns[q](spark, sf)._jdf.queryExecution().executedPlan().toString()
            layers[f"registry.{q}.shuffles"] = count_shuffle_exchanges(plan)
    return ops, e2e, layers
