"""Benchmark entry point.

    python3 perfbench/run.py --workload retail_daily_etl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Pins the environment (one
``local[nproc]`` session, Spark scratch dirs and temp files under a
fresh per-run directory inside the checkout, removed afterwards), runs
one workload, checks its outputs, and prints one JSON object as the last
line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics (spans are then also written to
``.perfbench_traces/``). Exits non-zero without a result when the
checkout holds no program to measure.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run that is still going after this many seconds is killed
HARD_LIMIT_S = 170.0
#: no new operation starts unless it can end before this
SOFT_LIMIT_S = 150.0


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    scale: str
    plant_fault: bool
    work: str
    t0: float
    jvm_pid: int
    tracer: object = None

    def cpu_s(self) -> float:
        from perfbench.common import cpu_s

        return cpu_s(self.jvm_pid)

    def time_left(self, next_op_s: float) -> bool:
        return time.perf_counter() - self.t0 + next_op_s < SOFT_LIMIT_S


def _pin_env(work: str) -> None:
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": "1g",
        "TMPDIR": tmp,
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            "spark.sql.catalogImplementation=in-memory",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        ]),
    })
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _kill_jvm() -> None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["retail_daily_etl", "star_query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: 1,000-row ETL days, for the self-test")
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: corrupt one output so the check must fail")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dynamic_etl_spark", "__init__.py")):
        print(f"no dynamic_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_env(work)

    def on_alarm(signum, frame):
        print(f"run exceeded {HARD_LIMIT_S:.0f}s; killed", file=sys.stderr)
        _kill_jvm()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(int(HARD_LIMIT_S))
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there
    signal.alarm(0)
    print(json.dumps(result))
    return 0


def _run(args, work: str) -> dict:
    from perfbench import etl, star
    from perfbench.common import END_TO_END, PER_LAYER, metric_block, peak_rss_mb
    from perfbench.tracer import NullTracer, Tracer

    import dynamic_etl_spark
    from dynamic_etl_spark.session import get_spark

    if not os.path.abspath(dynamic_etl_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"dynamic_etl_spark imported from outside {ROOT}")

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    get_spark_s = time.perf_counter() - t
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        bench = Bench(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            scale=args.scale, plant_fault=args.plant_fault, work=work, t0=T0,
            jvm_pid=jvm_pid,
            tracer=Tracer(spark) if args.trace else NullTracer(),
        )
        workload = {"retail_daily_etl": etl, "star_query_mix": star}[args.workload]
        ops, e2e, layers = workload.run(spark, bench)
        e2e["peak_rss_mb"] = peak_rss_mb(jvm_pid)
    finally:
        _stop(spark)

    for err in ops.errors:
        print(f"FAILED {err}", file=sys.stderr)
    if args.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(layers)
        values["session.get_spark_s"] = get_spark_s
        values["trace.overhead_frac"] = bench.tracer.overhead_s / bench.tracer.root_time_s()
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        bench.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        metrics = metric_block(values, PER_LAYER)
    else:
        metrics = metric_block(e2e, END_TO_END)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
