"""Checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selfcheck.py

1. Every output check can fail: one small cycle of each workload runs with
   its normal checks, then every check that passed is run again with its
   expected value perturbed and must raise ``CheckFailed``.
2. Traced job counts are right: a write, an append, an update and pandas
   reads run once untraced under a job group of their own, counted through
   ``SparkContext.statusTracker()``, and once through the workloads' traced
   path on an identical symbol; the tracer's per-op job count must equal
   the direct count.

Prints one line per check and exits 1 if any fails.
"""

from __future__ import annotations

import os
import shutil
import sys
from contextlib import contextmanager

sys.path.insert(0, os.getcwd())

from perfbench import run  # noqa: E402  (sets ROOT from the working dir)


def _bump(want):
    if isinstance(want, bool):
        return not want
    if isinstance(want, (int, float)):
        return want * 1.01 + 1
    return f"{want}~"


@contextmanager
def perturbed():
    """Shift the expected value of every comparison the checks make."""
    from perfbench import checks, workloads
    orig = {n: getattr(checks, n) for n in ("equal", "close", "at_least")}
    patched = {
        "equal": lambda got, want, what: orig["equal"](got, _bump(want), what),
        "close": lambda got, want, what, rel=1e-9: orig["close"](
            got, _bump(want), what, rel),
        "at_least": lambda got, floor, what: orig["at_least"](
            got, max(floor, got) * 1.01 + 1e-6, what),
    }
    mods = (checks, workloads)
    saved = [(m, n, getattr(m, n)) for m in mods for n in patched
             if hasattr(m, n)]
    for m, n, _ in saved:
        setattr(m, n, patched[n])
    try:
        yield
    finally:
        for m, n, f in saved:
            setattr(m, n, f)


def check_checks(spark, work: str) -> list[str]:
    from perfbench.checks import CheckFailed
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Runner

    class PerturbingRunner(Runner):
        def __init__(self, tracer):
            super().__init__(tracer)
            self.caught: dict[str, int] = {}
            self.missed: dict[str, int] = {}

        def run(self, name, cls, fn, check=None, **kw):
            out = super().run(name, cls, fn, check, **kw)
            if check is not None and self.samples[-1].ok:
                try:
                    with perturbed():
                        check(out)
                    self.missed[name] = self.missed.get(name, 0) + 1
                except CheckFailed:
                    self.caught[name] = self.caught.get(name, 0) + 1
            return out

    problems = []
    for name, cls in WORKLOADS.items():
        runner = PerturbingRunner(Tracer(spark, tracing=False))
        wl = cls(spark, 1, runner.tracer, runner)
        for attr, value in cls.WARMUP_SIZES.items():
            setattr(wl, attr, value)
        wl.setup(os.path.join(work, name))
        wl.cycle(0)
        failed = [s.name for s in runner.samples if not s.ok]
        print(f"{name}: {len(runner.samples)} ops, unperturbed failures "
              f"{failed}, perturbed checks caught {runner.caught}, "
              f"missed {runner.missed}")
        if failed or runner.missed or not runner.caught:
            problems.append(name)
    return problems


def check_job_counts(spark, work: str) -> list[str]:
    import numpy as np
    import pandas as pd
    from perfbench import data
    from perfbench.trace import Tracer
    from perfbench.workloads import Runner, Workload

    tracer = Tracer(spark, tracing=True)
    wl = Workload(spark, 0, tracer, Runner(tracer))
    lib = wl.open_library(os.path.join(work, "jobs"), "jobs")
    base = data.tick_frame(np.random.default_rng(0), data.TICK_START, 5000)
    for sym in ("direct", "traced"):
        lib.write(sym, base)
    new = data.tick_frame(np.random.default_rng(1),
                          base.index[-1] + pd.Timedelta(seconds=1), 60)
    patch = data.tick_frame(np.random.default_rng(2), base.index[100], 30)
    lo, hi = base.index[4000], base.index[-1]
    # name -> (plain call, traced call through the workload's own path)
    ops = {
        "write": (lambda s: lib.write(s + "_w", base),
                  lambda: wl.write_op("write",
                                      lambda: lib.write("traced_w", base),
                                      base)),
        "append": (lambda s: lib.append(s, new),
                   lambda: wl.write_op("append",
                                       lambda: lib.append("traced", new), new)),
        "update": (lambda s: lib.update(s, patch),
                   lambda: wl.runner.run("update",
                                         "rewrite",
                                         lambda: lib.update("traced", patch))),
        "read.date_range": (
            lambda s: lib.read(s, date_range=(lo, hi), output_format="pandas"),
            lambda: wl.read(lib, "traced", "read.date_range", None, 0,
                            date_range=(lo, hi))),
        "read.as_of": (
            lambda s: lib.read(s, as_of=0, output_format="pandas"),
            lambda: wl.read(lib, "traced", "read.as_of", None, 0, as_of=0)),
    }
    sc = spark.sparkContext
    direct = {}
    for i, (name, (plain, traced)) in enumerate(ops.items()):
        group = f"selfcheck-direct-{i}"
        sc.setJobGroup(group, name)
        plain("direct")
        sc.setLocalProperty("spark.jobGroup.id", None)
        direct[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        tracer.enabled = True
        traced()
        tracer.enabled = False
    tracer.attribute_jobs()
    problems = []
    for rec in tracer.ops:
        traced = tracer.op_totals(rec.op_id)["jobs"]
        ok = traced == direct[rec.name]
        print(f"jobs {rec.name}: traced {traced}, status tracker "
              f"{direct[rec.name]} {'ok' if ok else 'MISMATCH'}")
        if not ok:
            problems.append(rec.name)
    return problems


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "arcticdb_spark",
                                       "__init__.py")):
        print("selfcheck: run from the root of an arcticdb_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(run.WORK_DIR, f"selfcheck-{os.getpid()}")
    os.makedirs(work)
    try:
        env = run.pin_environment(work)
        spark = run.start_session(env["spark_conf"])
        try:
            problems = (check_checks(spark, work)
                        + check_job_counts(spark, work))
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(run.WORK_DIR)
        except OSError:
            pass
    print("selfcheck:", "FAILED " + ", ".join(problems) if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
