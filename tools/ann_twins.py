"""Rerun the trained-index twin rule of ``operators/ann.py`` and print
its table.

    python3 tools/ann_twins.py <sf_dir>

Run from the repository root; ``<sf_dir>`` holds ``embeddings.parquet``
(the rule was set on the sf0.1 fixture, 2,000 vectors). Each trained
index has two twins (see the ``ann.py`` module docstring). For each
pair at its gate config the tool builds the index and answers the
``QUERIES`` queries (ids ``< QUERIES``) end to end — build+query,
collected — once as a warm-up and then ``RUNS`` times, the twins
interleaved. Per twin it prints recall@10 against :func:`cosine_topk`, the Spark
jobs of one build+query (scheduler job-id delta; a range when runs
differ) and min / median / IQR of the wall time.

The rule: a twin goes unless it beats the other by more than the
other's IQR on median time, or by more than 0.02 on recall, in some
measured regime. The last column names what keeps each twin by that
rule; a twin that wins nothing here may still be kept by a regime the
table does not measure (a hash-checked gate, a parameter range the
other twin refuses), which the module docstring records.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

K = 10
# the rule was set on 7 runs of 20 queries; fixed so every rerun is
# comparable with the recorded table
RUNS = 7
QUERIES = 20


def _twins():
    """``(pair, [(twin, fn(queries, corpus) -> DataFrame), ...])`` at
    the configs the recall tests and gates use."""
    from ppack_spark.operators import ann

    return [
        ("IVF, 8 lists, probe 5", [
            ("ivf_index (Spark-ML)", lambda q, e: ann.cosine_topk_ivf(
                q, e, k=K, n_centroids=8, n_probe=5)),
            ("ivf_index_fixed", lambda q, e: ann.cosine_topk_ivf(
                q, e, k=K, n_probe=5,
                index=ann.ivf_index_fixed(e, dims=64, n_centroids=8, iters=2))),
        ]),
        ("PQ, m=8, k=16, shortlist 12k", [
            ("cosine_topk_pq (scan)", lambda q, e: ann.cosine_topk_pq(
                q, e, k=K, m=8, n_centroids=16, shortlist_mult=12)),
            ("cosine_topk_pq_fixed", lambda q, e: ann.cosine_topk_pq_fixed(
                q, e, k=K, m=8, n_centroids=16, shortlist_mult=12)),
        ]),
        ("IVF+PQ, 8/6, m=8, k=16, 12k", [
            ("cosine_topk_ivfpq (scan)", lambda q, e: ann.cosine_topk_ivfpq(
                q, e, k=K, n_centroids=8, n_probe=6, m=8, pq_centroids=16,
                shortlist_mult=12)),
            ("cosine_topk_ivfpq_fixed", lambda q, e: ann.cosine_topk_ivfpq_fixed(
                q, e, k=K, n_centroids=8, n_probe=6, m=8, pq_centroids=16,
                shortlist_mult=12)),
        ]),
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    args = ap.parse_args(argv)

    import numpy as np
    from pyspark.sql import functions as F

    from ppack_spark.operators.ann import cosine_topk
    from ppack_spark.session import get_spark

    spark = get_spark("ann_twins")
    spark.sparkContext.setLogLevel("ERROR")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    e = spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < QUERIES)
    exact = {
        (r[0], r[1])
        for r in cosine_topk(queries, e, k=K).select("query_id", "neighbor_id").collect()
    }

    pairs = _twins()
    stats = {t: {"s": [], "jobs": set(), "recall": None} for _, tw in pairs for t, _ in tw}
    for run in range(1 + RUNS):
        for _, twins in pairs:
            for name, fn in twins:
                job0 = int(sched.nextJobId())
                t0 = time.monotonic()
                got = {
                    (r[0], r[1])
                    for r in fn(queries, e).select("query_id", "neighbor_id").collect()
                }
                dt = time.monotonic() - t0
                if run == 0:  # warm-up: JVM, codegen and file caches
                    continue
                st = stats[name]
                st["s"].append(dt)
                st["jobs"].add(int(sched.nextJobId()) - job0)
                st["recall"] = len(got & exact) / len(exact)

    print(f"| pair | twin | recall@{K} | jobs | min / median / IQR (s) | kept by |")
    print("|---|---|---|---|---|---|")
    for pair, twins in pairs:
        summ = {}
        for name, _ in twins:
            s = np.asarray(stats[name]["s"])
            q1, q3 = np.percentile(s, [25, 75])
            summ[name] = (float(np.median(s)), float(q3 - q1), stats[name]["recall"])
        for name, _ in twins:
            st = stats[name]
            med, iqr, rec = summ[name]
            (other,) = [o for o, _ in twins if o != name]
            o_med, o_iqr, o_rec = summ[other]
            wins = []
            if med < o_med - o_iqr:
                wins.append("time")
            if rec > o_rec + 0.02:
                wins.append("recall")
            jobs = "–".join(str(j) for j in sorted({min(st["jobs"]), max(st["jobs"])}))
            print(
                f"| {pair} | {name} | {rec:.3f} | {jobs} | "
                f"{min(st['s']):.2f} / {med:.2f} / {iqr:.2f} | "
                f"{', '.join(wins) or '—'} |"
            )
            pair = ""
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
