"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Runs on ``local[nproc]`` from the root of a source checkout. Inputs are
generated from ``--seed`` into a fresh scratch directory under
``.perfbench_tmp/`` (Spark local dirs included), which is deleted at exit.
Prints the run configuration as one JSON line, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric (``--trace 1``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_challenge_aladia_spark"


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(scratch: str) -> None:
    """Keep every file the run writes inside ``scratch``; Python workers
    import the program from the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


def start_spark(scratch: str):
    from etl_pipeline_challenge_aladia_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    return get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf={
        # the traced run reads every job back from the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def execute(args, cfg, scratch: str, tamper=None, expected=None, spark=None) -> tuple[dict, dict]:
    """Run one workload; returns (run record, result line)."""
    import workloads
    from spans import Tracer

    owns = spark is None
    if owns:
        spark = start_spark(scratch)
    try:
        run = workloads.Run(spark=spark, root=scratch, seed=args.seed, seconds=args.seconds,
                            cfg=cfg, t0=T0, tracer=Tracer() if args.trace else None,
                            expected=expected, tamper=tamper)
        run.mark("session")
        workloads.WORKLOADS[args.workload](run)
    finally:
        if owns:
            stop_spark(spark)
    if args.trace:
        metrics = {k: (run.layer.get(k, 0.0), u) for k, u in workloads.PER_LAYER.items()}
    else:
        metrics = run.end_to_end()
    record = {"workload": args.workload, "nproc": len(os.sched_getaffinity(0)),
              "trace": args.trace,
              **workloads.config_record(run)}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": workloads.metric_line(metrics)}
    return record, result


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a "
              "source checkout", file=sys.stderr)
        return 2
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_root)
    try:
        prepare_env(scratch)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        record, result = execute(args, workloads.FULL, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run's scratch is still there
    print(json.dumps({"run": record}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
