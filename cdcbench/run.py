#!/usr/bin/env python3
"""The benchmark's one command.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 cdcbench/run.py --self-test

Runs one workload in this fresh process and prints, as the last line of
standard output, one JSON object: whether the outputs were correct, the
operations attempted and failed, and the metrics (end-to-end ones with
--trace 0, per-layer ones with --trace 1). A query that raises counts as a
failed operation; a feed drain, or in a traced run a probe, that raises
ends the run with a non-zero exit code and no result, since the stream or
the stores it leaves behind cannot be checked. `--self-test` checks, without
Spark, that every output check rejects a corrupted output.
"""

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".cdcbench_out")
WORKLOADS = ("feed_backlog", "batch_queries")
DRIVER_MEMORY = "2g"
# Spark task slots. Each task also runs a Python worker, and the driver,
# its Python process and the JVM's own threads need cores beside them, so
# two slots leave a 4-core host headroom instead of a queue; the workloads
# are bound by per-batch and per-job overhead, and ran no slower than at 4.
CPUS = 2


def pin_env(scratch: str) -> None:
    """Fix the run environment before the JVM starts: local[k] with k at
    most the usable cores and at most CPUS, a driver heap well below host
    RAM, Spark's scratch space and every temporary file inside the
    checkout, and a PYTHONPATH through which executor Python workers
    import the program and the benchmark's publish client."""
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(scratch, "warehouse"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    )


def stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes) and
    wait for it; the Python workers it started end with it."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


class Ctx:
    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.spark = self.tracer = None
        self.start_s = 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    if args.self_test:
        import checks

        broken = checks.self_test()
        print(json.dumps({"self_test": "fail" if broken else "ok", "broken": broken}))
        return 1 if broken else 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "cdc_rs_spark", "__init__.py")):
        print(f"cdcbench: the program's source (cdc_rs_spark/) is not in {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    pin_env(os.path.join(work, "scratch"))
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import Tracer

    ctx = Ctx(os.path.join(work, "data"), args.seed, args.seconds)
    os.makedirs(ctx.work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    wl.generate()  # input generation counts in no metric
    gen_s = time.perf_counter() - t

    from cdc_rs_spark.session import get_spark

    t = time.perf_counter()
    ctx.spark = get_spark("cdcbench")
    ctx.start_s = time.perf_counter() - t
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer = Tracer(ctx.spark, bool(args.trace))
    try:
        if args.trace:
            import layers

            layers.instrument_load(ctx.tracer)
        ctx.tracer.warm = True
        wl.setup()
        ctx.tracer.warm = False
        setup_s = time.perf_counter() - T0 - gen_s
        ctx.tracer.harvest()
        book0 = ctx.tracer.bookkeeping_s
        wall_s, ops, jobs = wl.run()
        book = ctx.tracer.bookkeeping_s - book0
        if not ops:
            raise RuntimeError(f"all {wl.attempted} operations failed")
        errors = wl.check()
        if args.trace:
            metrics, probe_errors = layers.collect(ctx, wl, book, wall_s)
            errors += probe_errors
            ctx.tracer.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "op_p50_ms": (statistics.median(ops), "ms"),
                "spark_jobs": (jobs, "count"),
            }
    finally:
        wl.close()
        stop(ctx.spark)
    for e in errors:
        print(f"cdcbench: incorrect output: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
