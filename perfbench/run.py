"""arcticdb_spark benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload tick_store --seed 1 --seconds 30 --trace 0

Workloads: tick_store, corpus_dedup (see README.md). The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The run's
environment and full detail (per op type, and with ``--trace 1`` every span)
go to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
WARMUP_SEED_OFFSET = 7919
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tick_store", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Everything the session and its Python workers read from the
    environment, fixed before pyspark is imported."""
    nproc = len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    driver_mb = max(1024, min(4096, total_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        # Spark's Python workers import arcticdb_spark for UDF pipelines
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return {"nproc": nproc, "driver_mem": f"{driver_mb}m",
            "spark_conf": {
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # the JVM's perf-data file would go to /tmp otherwise
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                # keep every job and stage readable until the run ends
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000",
            }}


def source_id() -> dict:
    """Identify the code measured: the commit when the checkout is a git
    work tree, and always a hash of the package sources."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "arcticdb_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(path):
                with open(path) as fh:
                    commit = fh.read().strip()
    return {"commit": commit, "source_sha1": h.hexdigest()}


def start_session(conf: dict):
    from arcticdb_spark import get_spark
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, work: str, env: dict) -> dict:
    from perfbench.trace import Tracer, median
    from perfbench.workloads import WORKLOADS, Runner
    from perfbench import metrics

    t0 = time.perf_counter()
    spark = start_session(env["spark_conf"])
    session_s = time.perf_counter() - t0
    try:
        cls = WORKLOADS[args.workload]
        tracer = Tracer(spark, tracing=bool(args.trace))
        warm_runner = Runner(Tracer(spark, tracing=False))

        # warm-up: cycles of every op type on inputs no timed op reads, in a
        # library of its own. Until the JVM's JIT settles, its compiler
        # threads slow every op, the pure-Python ones too; a measurement that
        # starts on that curve lands on a different point of it each run.
        warm = cls(spark, args.seed + WARMUP_SEED_OFFSET, warm_runner.tracer,
                   warm_runner)
        for attr, value in cls.WARMUP_SIZES.items():
            setattr(warm, attr, value)
        t = time.perf_counter()
        warm.setup(os.path.join(work, "lib-warmup"))
        for k in range(cls.WARMUP_CYCLES):
            warm.cycle(k)
        warmup_s = time.perf_counter() - t

        # set-up, several times on fresh library roots; the last one is kept
        setup_s = []
        for rep in range(SETUP_REPS):
            runner = Runner(tracer)
            wl = cls(spark, args.seed, tracer, runner)
            root = os.path.join(work, f"lib-{rep}")
            t = time.perf_counter()
            wl.setup(root)
            setup_s.append(time.perf_counter() - t)
            if rep + 1 < SETUP_REPS:
                shutil.rmtree(root)

        # the whole cycles nearest to --seconds at the workload's nominal
        # cycle time, so every run measures the same op sequence: with a
        # deadline instead, a run on a slow stretch of the host ended a cycle
        # sooner and lost its fastest, last cycle, which widened the spread.
        # Every op type needs two samples; a traced run needs an untraced
        # cycle after the first to compare against (the first runs slower)
        n_cycles = max(4 if args.trace else 2,
                       round(args.seconds / cls.CYCLE_S))
        cycles = {False: [], True: []}
        for k in range(n_cycles):
            traced = bool(args.trace) and k % 2 == 1
            tracer.enabled = traced
            t = time.perf_counter()
            wl.cycle(k)
            cycles[traced].append(time.perf_counter() - t)
            tracer.enabled = False

        samples = runner.samples
        failed = (sum(not s.ok for s in samples)
                  + sum(not s.ok for s in warm_runner.samples))
        attempted = len(samples) + len(warm_runner.samples)
        detail = {"env": {**source_id(), "master": spark.sparkContext.master,
                          "parallelism":
                              spark.sparkContext.defaultParallelism,
                          "nproc": env["nproc"],
                          "driver_mem": env["driver_mem"]},
                  "workload": args.workload, "seed": args.seed,
                  "session_s": session_s, "setup_s": setup_s,
                  "warmup_s": warmup_s,
                  "cycles_s": {"untraced": cycles[False],
                               "traced": cycles[True]},
                  "by_op": metrics.by_op(samples)}
        if args.trace:
            jobs = tracer.attribute_jobs()
            detail["layer_detail"] = wl.layer_detail()
            values = metrics.per_layer(
                tracer, cycles, jobs, spark.sparkContext.defaultParallelism,
                detail["layer_detail"])
            detail["traced_ops"] = metrics.traced_by_op(tracer)
            name = f"{args.workload}-seed{args.seed}-trace.json"
            tracer.dump(os.path.join(OUT_DIR, name),
                        {**detail, "metrics": values, "jobs": jobs})
        else:
            values = metrics.end_to_end(samples,
                                        session_s + warmup_s + median(setup_s))
            detail["metrics"] = values
            os.makedirs(OUT_DIR, exist_ok=True)
            name = f"{args.workload}-seed{args.seed}.json"
            with open(os.path.join(OUT_DIR, name), "w") as f:
                json.dump(detail, f, indent=1)
        return {"env": detail["env"], "failed": failed,
                "attempted": attempted, "values": values}
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arcticdb_spark", "__init__.py")):
        print("perfbench: run from the root of an arcticdb_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        res = measure(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass
    from perfbench.metrics import UNITS
    print(json.dumps({"env": res["env"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in res["values"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
