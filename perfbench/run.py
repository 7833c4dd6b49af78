#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed (untimed), sets up a ``local[nproc]`` session once from the cold
process (``setup_s``), then runs the workload's job in a closed
loop -- one job at a time from one driver thread -- for ``--seconds``,
checking every output.  With ``--trace 1`` it instead runs the traced
per-layer sequence and writes its spans to
``.perfbench_work/traces/``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

RUN_DEADLINE_S = 140  # stop starting jobs past this (the run must end by 180 s)
# get_spark's default 8g driver heap let a traced corpus run grow to 7.6 GB
# resident; 2g keeps the process tree near 2.5 GB
DRIVER_MEMORY = "2g"


def _unit(name: str) -> str:
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "skew", "precision")):
        return "ratio"
    return "count"


def _configure_env(root: str, work: str) -> None:
    """Keep Spark, its Python workers and the JVM inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _warm_up(spark, scratch: str) -> None:
    """What a long-running job has already paid: the first JVM job, a
    Python/Arrow worker on every core, and the parquet write path."""
    from pyspark.sql.functions import pandas_udf

    from perfbench.workloads import noop

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    cores = spark.sparkContext.defaultParallelism
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    noop(spark.range(cores * 64).repartition(cores).select(plus_one("id")))
    spark.range(1000).write.mode("overwrite").parquet(os.path.join(scratch, "warm.parquet"))


def _set_up(scratch: str, untimed_s: float):
    """→ (spark, start_s, warm_s).  ``start_s`` counts from process
    start, less the ``untimed_s`` spent generating inputs."""
    from wikiextractor_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm_up(spark, scratch)
    return spark, t1 - PROCESS_START - untimed_s, time.perf_counter() - t1


def _shut_down(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, 9)
        except OSError:
            pass


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - PROCESS_START:6.1f}s] {msg}", file=sys.stderr)


def run(args, root: str, work: str) -> dict:
    from perfbench.probes import RssSampler, Tracer
    from perfbench.workloads import PER_LAYER, WORKLOADS, checked_job, median, timed_jobs

    w = WORKLOADS[args.workload]
    deadline = time.monotonic() + RUN_DEADLINE_S - (time.perf_counter() - PROCESS_START)
    out_dir = os.path.join(work, "output")
    t0 = time.perf_counter()
    w.generate(os.path.join(work, "input"), args.seed)
    w.prepare()
    inputs_s = time.perf_counter() - t0
    _log(f"inputs ready: {w.input_mb:.1f} MB in {inputs_s:.1f} s")

    failures = []
    spark = None
    try:
        spark, start_s, warm_s = _set_up(work, inputs_s)
        session = {"session.start_s": start_s, "session.warm_s": warm_s}
        _log(f"set-up: {start_s + warm_s:.2f} s")
        # the first jobs pay JIT and codegen warm-up: untimed, but checked
        warm_jobs = 1 if args.trace else w.warm_jobs
        for i in range(warm_jobs):
            elapsed, failure = checked_job(spark, w, os.path.join(out_dir, f"warm-{i}"))
            session.setdefault("session.first_job_s", elapsed)
            if failure:
                failures.append(f"warm-up job {i}: {failure}")
            _log(f"warm-up job {i + 1}: {elapsed:.2f} s")

        if not args.trace:
            times, timed_failures = timed_jobs(spark, w, out_dir, args.seconds, deadline)
            _log(f"{len(times)} timed jobs: {', '.join(f'{t:.2f}' for t in times)}")
            metrics = {
                "job_s": median(times),
                "input_mb_per_s": w.input_mb / median(times),
                "setup_s": start_s + warm_s,
            }
        else:
            rss = RssSampler().start()
            tracer = Tracer(w.name)
            traced = w.trace(spark, tracer, os.path.join(out_dir, "traced"))
            # the untraced jobs run after the traced passes, so both sides
            # of the overhead are as warm
            times, timed_failures = timed_jobs(spark, w, out_dir, 0, deadline, min_jobs=2)
            if traced.pop("_failure"):
                timed_failures.append("traced job output")
            full_s = traced.pop("_full_s")
            metrics = {name: 0.0 for name in PER_LAYER}
            metrics.update(session)
            metrics.update(traced)
            metrics["process.peak_rss_mb"] = rss.stop()
            metrics["trace.job_s"] = median(times)
            metrics["trace.overhead_s"] = full_s - median(times)
            times.append(full_s)  # the checked traced job
            tracer.write(
                os.path.join(root, ".perfbench_work", "traces", f"{w.name}-seed{args.seed}.json")
            )
    finally:
        if spark is not None:
            _shut_down(spark)
    failures += timed_failures
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": warm_jobs + len(times),
        "failed": len(failures),
        "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "wikiextractor_spark", "__init__.py")):
        print("perfbench: wikiextractor_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(root, work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
