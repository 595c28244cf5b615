"""Benchmark entry point for the grepai_spark engine.

    python3 perfbench/run.py --workload index_refresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``
inside ``.perfbench_work/`` (removed when the run ends), drives the
workload through the package's public functions, checks every output
outside the timed region, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; ``--trace 1``
installs span wrappers on the package's modules and reports the per-layer
metrics instead (spans are written to ``.perfbench_out/``). Workloads,
metric definitions and the layer -> end-to-end predictions are in
``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_env(work: str) -> int:
    """Fit the session to this host from the benchmark side: every core,
    a quarter of RAM for the driver (the package defaults assume 32 cores
    and 48 GB), workers able to import the package, and every scratch
    file inside the checkout."""
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        raise SystemExit(
            "refusing to run: SPARK_GRAFT_EXTRA_CONF is set, so the session "
            "would not be the one the benchmark defines"
        )
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    driver_mb = min(max(total_kb // 1024 // 4, 1024), 8192)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pypath = [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        PYTHONPATH=os.pathsep.join(pypath),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # HotSpot keeps its perf-data file under /tmp whatever
        # java.io.tmpdir says; the launcher JVM of spark-submit and the
        # driver JVM both run without it
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    return nproc


def session_conf(work: str) -> dict[str, str]:
    # identical in traced and untraced runs, so the two differ only by the
    # span wrappers; retention is raised so no job of a run is evicted
    # from the status store before the traced run reads it back
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # a run measures one cold repetition whatever this says (DESIGN.md)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be importable before anything is created
    sys.path.insert(0, ROOT)
    import grepai_spark  # noqa: F401

    # the oracle gate's row normalization (tools/check_oracles.py)
    sys.path.append(os.path.join(ROOT, "tools"))

    import index_refresh
    import corpus_dedup
    from common import Context

    workloads = {"index_refresh": index_refresh.run, "corpus_dedup": corpus_dedup.run}
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}")

    work_parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_parent, f"{args.workload}-{os.getpid()}")
    nproc = host_env(work)
    spark = None
    try:
        from grepai_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            extra_conf=session_conf(work),
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(
            spark=spark,
            seed=args.seed,
            work=work,
            nproc=nproc,
            t_start=T_START,
            traced=bool(args.trace),
            session_conf=session_conf(work),
        )
        result = workloads[args.workload](ctx)
        spark = ctx.spark  # a traced run may have restarted the session
        if ctx.tracer is not None:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(out, f"spans-{args.workload}-{args.seed}.json")
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_parent) and not os.listdir(work_parent):
            os.rmdir(work_parent)

    for line in result.info:
        print(line)
    for op, why in sorted(result.failures.items()):
        print(f"FAILED {op}: {why}")
    metrics = result.per_layer if args.trace else result.end_to_end
    print(
        json.dumps(
            {
                "correct": not result.failures,
                "attempted": result.attempted,
                "failed": len(result.failures),
                "metrics": {
                    k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())
                },
            }
        )
    )


if __name__ == "__main__":
    main()
