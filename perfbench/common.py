"""Metric catalogue and measurement helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import traceback
from dataclasses import dataclass, field

#: End-to-end metrics every untraced run prints, name -> unit.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

DAGS = ("generation", "extract", "validation", "dw_load")

#: Step names of the four retail pipelines, in DAG order.
STEPS = (
    "dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales",
    "extract_fact_sales", "extract_sales_snapshot", "read_extract_snapshot",
    "read_current", "read_archive",
    "validate_dim_store", "validate_dim_product", "validate_dim_distributor",
    "validate_dim_date", "validate_fact_sales", "validate_snapshot_file",
    "load_dim_store", "load_dim_product", "load_dim_distributor",
    "load_dim_date", "load_fact_sales",
)

#: The star-query mix, in registry names.
QUERIES = (
    "flagship_star_join", "pricing_summary", "scan_projection_filter",
    "top_part_types", "customer_order_sequence", "dedup_keep_last_line",
    "fallback_key_resolution", "validation_report", "date_key_lookup",
    "fk_integrity_report", "events_sessionization", "events_tumbling_window",
    "rollup_totals", "clean_store_feed", "scd1_merge_orders",
)


def _per_layer() -> dict[str, str]:
    m = {"session.get_spark_s": "s"}
    for dag in DAGS:
        m[f"pipelines.retail.{dag}_s"] = "s"
        m[f"pipelines.retail.{dag}.jobs"] = "count"
        m[f"pipelines.retail.{dag}.tasks"] = "count"
    for step in STEPS:
        m[f"pipeline.step.{step}_s"] = "s"
    m["io.sinks.bytes_written_per_day"] = "bytes"
    m["io.sinks.write_amp"] = "ratio"
    m["catalog.load_table_s"] = "s"
    m["registry.cold_query_s"] = "s"
    m["registry.query_p50_s"] = "s"
    m["registry.query_p90_s"] = "s"
    for q in QUERIES:
        m[f"registry.{q}_s"] = "s"
        m[f"registry.{q}.jobs"] = "count"
        m[f"registry.{q}.shuffles"] = "count"
    m["trace.unattributed_frac"] = "ratio"
    m["trace.overhead_frac"] = "ratio"
    return m


#: Per-layer metrics every traced run prints, name -> unit. A layer the
#: workload does not exercise reports 0.
PER_LAYER = _per_layer()


@dataclass
class Ops:
    """Closed-loop operation accounting: an operation that raises or
    fails its output check is attempted and failed, and its latency is
    never sampled."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        tb = "".join(traceback.format_exception(exc)[-3:])
        self.errors.append(f"{what}: {tb}")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """90th percentile (inclusive interpolation); the sample itself when
    there is only one."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                kids = []
            out += kids
            todo += kids
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime, cutime, cstime: every thread, plus reaped children
    return sum(int(x) for x in fields[11:15])


#: JIT compiler threads, by the first 15 characters of their name
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads. Their set is fixed
    for the JVM's life (run.py turns off dynamic compiler threads), so no
    compiler time leaves with an exited thread."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_COMPILER_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the thread ended
        total += int(fields[11]) + int(fields[12])
    return total


def cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this Python driver plus the driver JVM
    and anything it spawned, less the JVM's JIT compiler threads. Time
    the machine gave to other guests is not in it, so it moves far less
    than wall time on a shared host; JIT compilation is left out because
    how much of it lands in one operation depends on how warm the JVM
    happens to be, which makes it the noisiest share of the CPU time."""
    pids = [os.getpid()]
    if jvm_pid is not None:
        pids += [jvm_pid] + _descendants(jvm_pid)
    ticks = sum(_cpu_ticks(p) for p in pids)
    if jvm_pid is not None:
        ticks -= _compiler_ticks(jvm_pid)
    return ticks * _TICK_S


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the driver
    JVM and anything it spawned, in MB."""
    pids = [os.getpid()]
    if jvm_pid is not None:
        pids += [jvm_pid] + _descendants(jvm_pid)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    missing = units.keys() - values.keys()
    if missing:
        raise KeyError(f"workload did not produce metrics {sorted(missing)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}
