"""Attribute one perfbench operation's Spark jobs to its public calls.

    python3 tools/job_census.py --workload link_ab_batch --seed 1

Run from the repository root. Sets up the workload exactly as
``perfbench/run.py`` does (same inputs for the seed, same session
settings), runs ONE operation with a job group per public call —
``estimate``, ``score``, ``cluster`` on the linkage workloads, ``build``
(``CorpusPipeline.run``) and ``sink`` (the parquet write) on
``corpus_prepare`` — and prints every job of those groups from the status
store's job list: id, group, task count and call site, then the job
count per group. Comparing the listings of repeated runs names the jobs
that come and go between them. perfbench is imported, never changed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _phases(wl):
    """``(group, call)`` pairs that together make one ``wl.op()``."""
    if not hasattr(wl, "linker"):  # corpus_prepare: op() is _write(_run())
        built = []
        return [
            ("build", lambda: built.append(wl._run())),
            ("sink", lambda: wl._write(built[0])),
        ]
    lk = wl.linker()
    return [
        ("estimate", lk.estimate),
        ("score", lambda: wl._score_plan(lk).collect()),
        ("cluster", lambda: wl.clusters(lk)),
    ]


def census(spark, groups: list[str]) -> list[tuple[int, str, int, str]]:
    """``(job id, group, tasks, call site)`` of every retained job in
    ``groups``, by job id."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    rows = []
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
        if group in groups:
            rows.append((int(jd.jobId()), group, int(jd.numTasks()), str(jd.name())))
    return sorted(rows)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    from perfbench import gen
    from perfbench.run import _configure_env, _stop
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"census-{args.workload}-{os.getpid()}")
    _configure_env(work)
    paths = gen.generate(args.seed, os.path.join(work, "inputs"), cls.tables)

    import ppack_spark as pp

    spark = pp.get_spark("job_census", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"})
    try:
        wl = cls(spark, paths, work)
        phases = _phases(wl)
        for group, call in phases:
            spark.sparkContext.setJobGroup(group, group)
            call()
        spark.sparkContext.setJobGroup("census", "census")
        rows = census(spark, [g for g, _ in phases])
        for jid, group, tasks, site in rows:
            print(f"{jid:5d}  {group:8s}  {tasks:5d}  {site}")
        per = Counter(group for _, group, _, _ in rows)
        print("jobs per call: " + ", ".join(f"{g} {per[g]}" for g, _ in phases)
              + f"; total {len(rows)}")
        wl.close()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
