"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dag_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the full run report (input sizes,
per-op samples, the contention anchor, errors). Scratch data lives
under ``.perfbench_work/`` and is removed at exit, except the reports
(and, for traced runs, the span files) in ``.perfbench_work/reports/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="least length of the measured part; further query rounds fill it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "nt_data_pipelines_spark" / "__init__.py").is_file():
        print(f"perfbench: no nt_data_pipelines_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    reports = base / "reports"
    tmp = work / "tmp"
    for d in (tmp, reports):
        d.mkdir(parents=True, exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in
    # the checkout; the workers import the package from it
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        # stage counters are read after each operation; keep every job
        # and stage of the largest one in the status store until then
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    from nt_data_pipelines_spark.session import get_spark
    from perfbench.trace import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        box = W.box_anchor(spark)
        run = W.Run(spark, work, args.seconds, Tracer(spark) if args.trace else None, T_PROCESS)
        run.mark("session and anchor")
        W.WORKLOADS[args.workload](run, args.seed)
        run.mark("workload done")
        run.layer.update({"session.start_s": start_s, "session.peak_rss_mb": W.peak_rss_mb(spark), **box})
        if run.tracer is not None:
            run.tracer.resolve()
            metrics = W.layer_metrics(run)
            units = W.PER_LAYER
            spans = reports / f"{args.workload}-seed{args.seed}-spans.json"
            spans.write_text(json.dumps(run.tracer.dump()))
        else:
            metrics = W.end_to_end(run)
            units = W.END_TO_END
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    stop_s = time.perf_counter() - t_stop

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]), "attempted": run.attempted, "failed": run.failed,
        "errors": run.errors, "box": box, "session_start_s": start_s, "stop_s": stop_s, "info": run.info,
        "samples": run.samples, "metrics": metrics,
    }
    (reports / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(report, default=str))
    print(json.dumps(report, default=str))
    correct = run.failed == 0 and all(metrics.get(k) is not None for k in units)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
