"""Seeded lakehouse benchmark: one workload per invocation.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 6 --trace 0

Runs from the repository root. Generates the workload's inputs from
``--seed`` (untimed), starts one Spark session with ``SPARK_GRAFT_CPUS``
set to the usable CPU count and an explicit ``SPARK_GRAFT_DRIVER_MEM``,
sets the workload up several times (``setup_s`` is the median), warms up,
then times its write and read steps (``--seconds`` sets the length of the
open-ended read and operator windows) and checks every output against the
generator's ground truth. A traced run also times an operator step. The
last stdout line is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

with the end-to-end metrics when ``--trace 0`` and the per-layer metrics
when ``--trace 1``. The line before it is the human-facing report with the
workload's own named metrics. All scratch state lives under
``.perfbench_tmp/`` in the working directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("medallion_daily", "delta_upsert")
DRIVER_MEM = "3g"
# Every traced run reports all of these; a layer the workload never calls
# reads 0 (no calls, no time).
PER_LAYER = {
    "readers.read_json.s": "s",
    "medallion.ingest_bronze.s": "s",
    "medallion.run.s": "s",
    "medallion.spark_jobs": "count",
    "medallion.spark_stages": "count",
    "medallion.spark_tasks": "count",
    "tables.merge.s": "s",
    "tables.merge.spark_jobs": "count",
    "tables.overwrite.s": "s",
    "tables.append.s": "s",
    "tables.write_amp": "ratio",
    "tables.data_dirs": "count",
    "tables.bytes_live": "bytes",
    "catalog.refresh.s": "s",
    "catalog.refresh.calls": "count",
    "serving.engine_ms": "ms",
    "serving.overhead_ms": "ms",
    "serving.spark_jobs": "count",
    "serving.spark_tasks": "count",
    "delta_lite.merge.s": "s",
    "delta_lite.merge.spark_jobs": "count",
    "delta_lite.delete.s": "s",
    "delta_lite.read.s": "s",
    "delta_lite.read.spark_tasks": "count",
    "delta_lite.optimize.s": "s",
    "delta_lite.vacuum.s": "s",
    "delta_lite.bytes_rewritten": "bytes",
    "delta_lite.dv_files": "count",
    "delta_lite.live_files": "count",
    "delta_lite.log_entries": "count",
    "delta_lite.commits_since_checkpoint": "count",
    "delta_lite.files_scanned_ratio": "ratio",
    "corpus.prepare.s": "s",
    "corpus.spark_jobs": "count",
    "corpus.spark_tasks": "count",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_precision": "ratio",
    "similarity.knn.s": "s",
    "similarity.knn.spark_tasks": "count",
    "trace.write_p50_ms": "ms",
    "trace.read_p50_ms": "ms",
    "trace.operator_p50_ms": "ms",
    "trace.spans": "count",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set of a process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _isolate(tmp: str) -> dict[str, str]:
    """Environment for a self-contained session: every scratch path inside
    ``tmp``, the engine's CPU and memory knobs pinned."""
    for sub in ("spark-local", "java-tmp", "warehouse", "py-tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "py-tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return env


def _start_spark(tmp: str, traced: bool):
    from lakehouse_architecture_for_realestatedata_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}",
    }
    if traced:  # keep every job/stage for the span resolution at the end
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "10"})
    return get_spark("perfbench", extra_conf=conf)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_launch = time.perf_counter()

    sys.path.insert(0, REPO)
    try:
        import lakehouse_architecture_for_realestatedata_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    import importlib

    from common import Context
    from tracing import Recorder

    mod = importlib.import_module(f"w_{args.workload}")
    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = _isolate(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = mod.generate(args.seed, os.path.join(tmp, "input"))
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = _start_spark(tmp, bool(args.trace))
        spark_start_s = time.perf_counter() - t0
        rec = Recorder(spark, enabled=False)
        ctx = Context(spark=spark, root=os.path.join(tmp, "work"), seed=args.seed,
                          seconds=args.seconds, rec=rec, traced=bool(args.trace),
                          inputs=inputs)
        res = mod.run(ctx)
        t_run = time.perf_counter()
        peak = _vm_hwm_mb("self") + _vm_hwm_mb(_jvm_pid())
        if args.trace:
            rec.enabled = False
            rec.resolve_spark_counts()
            layer = mod.layer_metrics(ctx, res)
            layer.update({"trace.write_p50_ms": statistics.median(res.write_ms),
                          "trace.read_p50_ms": statistics.median(res.read_ms),
                          "trace.operator_p50_ms": statistics.median(res.op_ms),
                          "trace.spans": len(rec.spans)})
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    attempted = max(res.attempted, 1)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"], "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "generate_s": round(gen_s, 3), "spark_start_s": round(spark_start_s, 3),
        "run_wall_s": round(time.perf_counter() - t_launch, 2),
        "phases_s": {**res.phases, "layers": round(t_stop - t_run, 2),
                     "stop": round(time.perf_counter() - t_stop, 2)},
        "setup_s": round(statistics.median(res.setup_s), 4),
        "error_rate": res.failed / attempted, "peak_rss_mb": round(peak, 1),
        "errors": res.errors[:10], **res.report,
        "write_ms": [round(x, 1) for x in res.write_ms],
        "read_ms": [round(x, 1) for x in res.read_ms],
        **({"operator_ms": [round(x, 1) for x in res.op_ms]} if res.op_ms else {}),
    }
    print(json.dumps({"report": report}, ensure_ascii=False))
    if args.trace:
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": (statistics.median(res.setup_s), "s"),
            "write_p50_ms": (statistics.median(res.write_ms), "ms"),
            "write_rows_per_s": (res.write_rows / res.write_s, "1/s"),
            "read_p50_ms": (statistics.median(res.read_ms), "ms"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
