"""Profile one or more declared gates: time the noop-sink execution
(min-of-N in THIS process) and write ``plans/r14/<gate>_<tag>.txt``
with the ``explain("formatted")`` output.

Each gate prints one line: the min time, then the fastest sample's
Spark job count (delta of the scheduler's next job id, construction
included) and plan fingerprint (sha1 of the optimized plan with the
``#<n>`` expression ids stripped and the lambda variables renumbered,
see ``_normalize``), so two checkouts' lines show at a glance whether
a change kept the plan and the jobs.

Usage::

    python tools/profile_gate.py [--tag before|after] [--iters 2] g1 g2 ...

Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS``. This is a measurement aid for the optimization
rounds (guide §1.1/§1.4), not part of the bench contract — the
canonical numbers stay in bench.py's artifacts.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _normalize(plan: str) -> str:
    """The plan with its run-dependent names made canonical: ``#<n>``
    expression ids are stripped, and lambda variables, which PySpark
    names ``x_<n>`` / ``y_<n>`` / ``z_<n>`` from a JVM-wide counter, are
    renumbered in order of first appearance (``x_35`` -> ``x_0``)."""
    plan = re.sub(r"#\d+", "", plan)
    names: dict[str, str] = {}

    def _renumber(m: re.Match) -> str:
        return names.setdefault(m.group(0), f"{m.group(1)}_{len(names)}")

    return re.sub(r"\b([xyz])_\d+\b", _renumber, plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("gates", nargs="+")
    ap.add_argument("--tag", default=None, help="write plans/<round>/<gate>_<tag>.txt")
    ap.add_argument("--round", default="r15", help="plans/ subdirectory for --tag output")
    ap.add_argument("--iters", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from ppack_spark.session import get_spark

    spark = get_spark("profile_gate")
    spark.sparkContext.setLogLevel("ERROR")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    qs = entry.queries()
    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    for name in args.gates:
        fn = qs.get(name)
        if fn is None:
            print(f"?? no such gate: {name}")
            continue
        if args.tag:
            plan = spark._sc._jvm.PythonSQLUtils.explainString(
                fn(spark, sf_dir)._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"   plan -> {path}")
        samples = []
        for i in range(args.iters):
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            # construct INSIDE the timed region — gates with eager
            # internal actions (iterative loops, trainer collects) do
            # real work at construction, and bench.py times
            # fn(spark, sf_dir) + noop together
            job0 = int(sched.nextJobId())
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(
                (time.monotonic() - t0, int(sched.nextJobId()) - job0, df)
            )
        spark.sparkContext.setJobDescription(None)
        best, jobs, df = min(samples, key=lambda s: s[0])
        fp = hashlib.sha1(
            _normalize(df._jdf.queryExecution().optimizedPlan().toString()).encode()
        ).hexdigest()[:12]
        print(
            f"{name}: min {best:.3f}s  jobs {jobs}  plan {fp}  "
            f"samples {[round(s[0], 3) for s in samples]}"
        )


if __name__ == "__main__":
    main()
