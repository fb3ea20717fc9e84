"""Linker estimation robustness (ADVICE round-1 fixes) and the
evaluation layer (reference scratch.R:130-139: precision at threshold,
glm calibration, posterior probability)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

import ppack_spark as pp
from ppack_spark.em import FSParams, run_em
from ppack_spark.eval import calibration_curve, fit_calibration, precision_at_threshold
from ppack_spark.patterns import pattern_counts
from ppack_spark.scoring import label_with_truth, posterior_probability, score_pairs

from conftest import SF_DIR


COUNTS = pd.DataFrame(
    {
        "seg": ["agree", "agree", "disagree", "disagree"],
        "bal": ["close", "far", "close", "far"],
        "n": [900, 100, 100, 8900],
    }
)
LEVELS = {"seg": ["agree", "disagree"], "bal": ["close", "far"]}


# ------------------------------------------------------------------ EM


def test_run_em_fills_missing_u_levels():
    """A supplied u dict lacking a spec level (e.g. a rare JW bucket
    never hit by the Monte-Carlo sample) must not crash EM."""
    u = {"seg": {"agree": 0.2, "disagree": 0.8}, "bal": {"far": 1.0}}  # 'close' missing
    params = run_em(COUNTS, total_pairs=2e4, u_probabilities=u, maxiter=5, levels=LEVELS)
    assert "close" in params.u_probabilities["bal"]
    assert params.u_probabilities["bal"]["close"] > 0


def test_run_em_empty_u_dict_falls_back_to_marginals():
    params = run_em(COUNTS, total_pairs=2e4, u_probabilities={}, maxiter=5, levels=LEVELS)
    for name in LEVELS:
        for level in LEVELS[name]:
            assert params.u_probabilities[name][level] > 0


def test_run_em_unknown_observed_level_raises():
    bad = COUNTS.copy()
    bad.loc[0, "seg"] = "typo-level"
    with pytest.raises(ValueError, match="typo-level"):
        run_em(bad, total_pairs=2e4, maxiter=2, levels=LEVELS)


# ------------------------------------------------------------- Linker


def _spec():
    bal_diff = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    return pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        # two passes so the nationkey pseudo-truth has both label
        # classes (the prefix pass admits cross-nation pairs)
        blocking_rules=[
            pp.BlockingRule.on("c_nationkey"),
            pp.BlockingRule.where(
                (F.substring("c_name_left", 1, 12) == F.substring("c_name_right", 1, 12))
                & (F.col("c_mktsegment_left") == F.col("c_mktsegment_right"))
            ),
        ],
        comparisons=[
            pp.Comparison.exact("c_mktsegment"),
            pp.Comparison.buckets(
                "acctbal",
                bal_diff,
                [(bal_diff < 100, "close"), (bal_diff < 1000, "near")],
                "far",
            ),
        ],
    )


def test_estimate_u_with_one_based_ids(spark, tables):
    """c_custkey is 1-based: sampling must mint synthetic contiguous
    ids (scratch.R:63-69), so no phantom null-joined pairs bias u —
    every sampled pair joins to real rows and every comparator's
    frequencies sum to 1."""
    customer = tables["customer"]
    linker = pp.Linker(spark, customer, None, _spec())
    u = linker.estimate_u(size=2000, seed=7)
    for name in ("c_mktsegment", "acctbal"):
        total = sum(u[name].values())
        assert total == pytest.approx(1.0, abs=1e-9)
    # phantom pairs would fall through to the bucket default 'far'
    # AND produce NULL exact levels; the exact comparator must have
    # observed both levels on a real sample of this size.
    assert set(u["c_mktsegment"]) == {"agree", "disagree"}


# captured once from the hashed sample; pins u across core counts
# (run this file under SPARK_GRAFT_CPUS=2 and =4)
GOLDEN_U_SEED7 = {
    "acctbal": {"close": 0.027, "far": 0.823, "near": 0.15},
    "c_mktsegment": {"agree": 0.192, "disagree": 0.808},
}


def test_estimate_u_independent_of_partitioning(spark, tables):
    """The u-sample is a pure function of (seed, row id) and the id
    map a pure function of the id set, so u must not move with the
    input's partition count or the session's core count."""
    customer = tables["customer"]
    u1, u7 = (
        pp.Linker(spark, customer.repartition(k), None, _spec()).estimate_u(
            size=2000, seed=7
        )
        for k in (1, 7)
    )
    assert u1 == u7
    for name, levels in GOLDEN_U_SEED7.items():
        assert u1[name] == pytest.approx(levels, abs=1e-12)
    assert set(u1) == set(GOLDEN_U_SEED7)


def test_self_link_builds_one_id_map(spark, tables, monkeypatch):
    """A self-link's B side is its A side: estimate_u mints one
    synthetic-id map and reuses it; an A-B link mints one per side."""
    customer = tables["customer"]
    real = pp.Linker._synthetic_ids
    calls = []

    def spy(self, df, unique_id):
        calls.append(unique_id)
        return real(self, df, unique_id)

    monkeypatch.setattr(pp.Linker, "_synthetic_ids", spy)
    pp.Linker(spark, customer, None, _spec()).estimate_u(size=200, seed=7)
    assert calls == ["c_custkey"]
    calls.clear()
    a = customer.filter(F.col("c_custkey") % 2 == 0)
    b = customer.filter(F.col("c_custkey") % 2 == 1)
    pp.Linker(spark, a, b, _spec()).estimate_u(size=200, seed=7)
    assert calls == ["c_custkey", "c_custkey"]


def test_estimate_two_dataset_denominator(spark, tables):
    """Two-dataset linkage uses n_a*n_b, not the self-link n^2/2."""
    customer = tables["customer"]
    a = customer.filter(F.col("c_custkey") % 2 == 0)
    b = customer.filter(F.col("c_custkey") % 2 == 1)
    spec = _spec()
    linker = pp.Linker(spark, a, b, spec)
    params = linker.estimate(maxiter=2, u_sample_size=500)
    assert params.total_pairs == pytest.approx(a.count() * b.count())


def test_jw_comparison_end_to_end(spark, tables):
    """Comparison.jw drives the full estimate+score path; the missing
    'full agreement' u level (never sampled) is filled, not a crash."""
    customer = tables["customer"]
    spec = pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        blocking_rules=[pp.BlockingRule.on("c_nationkey")],
        comparisons=[pp.Comparison.jw("c_name"), pp.Comparison.exact("c_mktsegment")],
    )
    linker = pp.Linker(spark, customer, None, spec)
    params = linker.estimate(maxiter=3, u_sample_size=1000)
    assert set(params.m_probabilities["c_name"]) == set(
        ["full agreement", "strong partial agreement", "weak partial agreement", "no agreement"]
    )
    scored = linker.score()
    assert "weight" in scored.columns
    assert scored.count() > 0


# ------------------------------------------------- compare once per fit


def _count_comparisons(monkeypatch):
    """Record every ``Linker.comparisons`` plan build."""
    real = pp.Linker.comparisons
    calls = []

    def spy(self, *a, **kw):
        calls.append(kw)
        return real(self, *a, **kw)

    monkeypatch.setattr(pp.Linker, "comparisons", spy)
    return calls


def _hand_params(close: float) -> FSParams:
    return FSParams(
        m_probabilities={
            "c_mktsegment": {"agree": 0.9, "disagree": 0.1},
            "acctbal": {"close": close, "near": 0.3, "far": 0.7 - close},
        },
        u_probabilities={
            "c_mktsegment": {"agree": 0.2, "disagree": 0.8},
            "acctbal": {"close": 0.05, "near": 0.15, "far": 0.8},
        },
        lam=1e-3,
        total_pairs=1e4,
    )


def test_fit_compares_once(spark, tables, monkeypatch):
    """estimate() → score() → cluster() build the comparison plan once
    and read its cut frame afterwards."""
    calls = _count_comparisons(monkeypatch)
    linker = pp.Linker(spark, tables["customer"], None, _spec())
    linker.estimate(maxiter=3, u_sample_size=500)
    linker.score(threshold=0.0).collect()
    linker.cluster(threshold=1.5).collect()
    assert len(calls) == 1


def test_ab_link_compares_once(spark, tables, monkeypatch):
    """The same on an A-B link, ending in cluster_links()."""
    calls = _count_comparisons(monkeypatch)
    customer = tables["customer"]
    a = customer.filter(F.col("c_custkey") % 2 == 0)
    b = customer.filter(F.col("c_custkey") % 2 == 1)
    linker = pp.Linker(spark, a, b, _spec())
    linker.estimate(maxiter=3, u_sample_size=500)
    linker.score(threshold=0.0).collect()
    linker.cluster_links(threshold=1.0).collect()
    assert len(calls) == 1


def test_gammas_frame_holds_no_parameters(spark, tables):
    """Replacing ``params`` after the frame is built scores with the new
    parameters, exactly as the lazy comparison plan does."""
    linker = pp.Linker(spark, tables["customer"], None, _spec())
    linker.params = _hand_params(0.5)
    linker.score().collect()
    params = _hand_params(0.1)
    linker.params = params
    ids = ["c_custkey_left", "c_custkey_right"]
    gammas = {c.name: c.name for c in linker.spec.comparisons}
    lazy = score_pairs(linker.comparisons(), params, gammas)
    got = sorted(linker.score().select(*ids, "weight").collect())
    assert got == sorted(lazy.select(*ids, "weight").collect())


def test_pattern_counts_read_the_frame(spark, tables):
    linker = pp.Linker(spark, tables["customer"], None, _spec())
    names = [c.name for c in linker.spec.comparisons]
    lazy = pattern_counts(linker.comparisons(keep_ids=False), names)
    assert sorted(linker.pattern_counts().collect()) == sorted(lazy.collect())


def test_gammas_checkpoint_costs_no_job_of_its_own(spark, tables):
    """The gammas frame is materialized by the first action that reads
    it: building it on a fresh Linker and collecting its pattern counts
    runs no more jobs than collecting the lazy pattern counts once (an
    eager cut runs one more)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(action) -> int:
        first = sched.nextJobId()
        action()
        return sched.nextJobId() - first

    linker = pp.Linker(spark, tables["customer"], None, _spec())
    names = [c.name for c in linker.spec.comparisons]
    lazy = jobs(lambda: pattern_counts(linker.comparisons(keep_ids=False), names).collect())
    assert jobs(lambda: linker.pattern_counts().collect()) <= lazy


# ---------------------------------------------------------- eval layer


@pytest.fixture(scope="module")
def labelled(spark, tables):
    """Scored customer self-link with c_nationkey as pseudo-truth."""
    customer = tables["customer"]
    linker = pp.Linker(spark, customer, None, _spec())
    params = linker.estimate(maxiter=5, u_sample_size=2000)
    scored = linker.score()
    truth = customer.select("c_custkey", F.col("c_nationkey").alias("cluster"))
    return label_with_truth(scored, truth, "c_custkey"), params


def test_precision_at_threshold(labelled):
    df, _ = labelled
    p_low = precision_at_threshold(df, threshold=-1e9)
    assert 0.0 <= p_low <= 1.0
    # blocking on nationkey makes every pair a "true match" under the
    # nationkey pseudo-truth only when both sides share the key — the
    # first blocking pass guarantees a positive base rate
    assert p_low > 0.0


def test_fit_calibration_monotone(labelled):
    """glm(true_match ~ weight): the weight coefficient must be
    positive — FS weights are monotone in match probability."""
    df, _ = labelled
    intercept, coef = fit_calibration(df)
    assert math.isfinite(intercept)
    assert coef > 0.0


def test_calibration_curve_shape(labelled):
    df, _ = labelled
    curve = calibration_curve(df).toPandas()
    assert {"weight_bin", "match_rate", "n_pairs"} <= set(curve.columns)
    assert (curve["match_rate"] >= 0).all() and (curve["match_rate"] <= 1).all()


def test_posterior_probability_bounds_and_monotonicity(labelled):
    df, params = labelled
    post = posterior_probability(df, params).select("weight", "match_probability").toPandas()
    assert ((post["match_probability"] >= 0) & (post["match_probability"] <= 1)).all()
    ordered = post.sort_values("weight")
    assert ordered["match_probability"].is_monotonic_increasing


def test_threshold_sweep_metrics_hand_computed(spark):
    """Six pairs with known weights/truth: per-threshold n_pred /
    n_true_pos / precision / recall / F1 match hand computation;
    a threshold whose bucket is empty still appears (inheriting the
    higher buckets' cumulative counts); recall's denominator includes
    true pairs below every threshold; NULL precision when nothing is
    predicted."""
    from ppack_spark.eval import threshold_sweep_metrics

    rows = [
        # (weight, true_match)
        (10.0, 1.0),
        (6.0, 1.0),
        (6.0, 0.0),
        (1.0, 1.0),
        (-3.0, 0.0),
        (-50.0, 1.0),  # true pair below EVERY threshold: recall denom = 4
    ]
    df = spark.createDataFrame(rows, "weight double, true_match double")
    out = {
        r["threshold"]: r
        for r in threshold_sweep_metrics(
            df, thresholds=[20.0, 5.0, 5.0, 0.0, -10.0]  # dup deduped
        ).collect()
    }
    assert set(out) == {20.0, 5.0, 0.0, -10.0}
    # tau=20: nothing predicted
    assert out[20.0]["n_pred"] == 0 and out[20.0]["precision"] is None
    assert out[20.0]["recall"] == 0.0 and out[20.0]["f1"] is None
    # tau=5: pairs {10, 6, 6}, 2 true -> p=2/3, r=2/4
    assert out[5.0]["n_pred"] == 3 and out[5.0]["n_true_pos"] == 2.0
    assert out[5.0]["precision"] == round(2 / 3, 6)
    assert out[5.0]["recall"] == 0.5
    p, r = 2 / 3, 0.5
    assert out[5.0]["f1"] == round(2 * p * r / (p + r), 6)
    # tau=0: adds the (1.0, true) pair -> 4 pred, 3 true
    assert out[0.0]["n_pred"] == 4 and out[0.0]["n_true_pos"] == 3.0
    assert out[0.0]["recall"] == 0.75
    # tau=-10: adds (-3, false) -> 5 pred, 3 true; (-50, true) stays out
    assert out[-10.0]["n_pred"] == 5 and out[-10.0]["n_true_pos"] == 3.0

    # no true pairs at all -> recall NULL everywhere, precision defined
    df0 = spark.createDataFrame(
        [(3.0, 0.0), (-1.0, 0.0)], "weight double, true_match double"
    )
    r0 = {
        r["threshold"]: r
        for r in threshold_sweep_metrics(df0, thresholds=[0.0]).collect()
    }
    assert r0[0.0]["recall"] is None and r0[0.0]["precision"] == 0.0

    import pytest

    with pytest.raises(ValueError):
        threshold_sweep_metrics(df, thresholds=[])


def test_bcubed_metrics_hand_computed(spark):
    """Pred {a,b,c},{d,e} vs truth {a,b},{c,d},{e}: B3 precision =
    (4/3 + 1/3 + 1/2 + 1/2)/5 = 8/15, recall = (2 + 1/2 + 1/2 + 1)/5
    = 0.8, F1 = 0.64; a record present only in pred is excluded by
    the inner join; empty intersection -> n_records 0, NULL metrics."""
    from ppack_spark.eval import bcubed_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2), ("f", 3)],
        "doc_id string, cluster int",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t2"), ("d", "t2"), ("e", "t3")],
        "doc_id string, truth string",
    )
    row = bcubed_metrics(pred, truth).collect()[0]
    assert row["n_records"] == 5
    assert row["precision"] == round(8 / 15, 6)
    assert row["recall"] == 0.8
    assert row["f1"] == 0.64

    # perfect clustering -> all 1.0
    perfect = truth.select("doc_id", F.col("truth").alias("cluster"))
    r2 = bcubed_metrics(perfect, truth).collect()[0]
    assert (r2["precision"], r2["recall"], r2["f1"]) == (1.0, 1.0, 1.0)

    # disjoint ids -> empty intersection
    none = spark.createDataFrame([("zz", 1)], "doc_id string, cluster int")
    r3 = bcubed_metrics(none, truth).collect()[0]
    assert r3["n_records"] == 0 and r3["precision"] is None
    assert r3["recall"] is None and r3["f1"] is None


def test_best_threshold_by_f1_hand_computed(spark):
    """Weights {10:T, 6:T, 6:F, 1:T, -3:F}: candidates are the four
    distinct weights; F1 at tau=1 (4 pred, 3 TP, p=.75, r=1) beats
    tau=6 (3 pred, 2 TP) and tau=10 (1/1); the argmax row is
    returned. Equal-F1 ties break toward the larger threshold."""
    from ppack_spark.eval import best_threshold_by_f1

    df = spark.createDataFrame(
        [(10.0, 1.0), (6.0, 1.0), (6.0, 0.0), (1.0, 1.0), (-3.0, 0.0)],
        "weight double, true_match double",
    )
    row = best_threshold_by_f1(df).collect()[0]
    p, r = 3 / 4, 1.0
    assert row["threshold"] == 1.0
    assert row["n_pred"] == 4 and row["n_true_pos"] == 3.0
    assert row["f1"] == round(2 * p * r / (p + r), 6)

    # tie on F1: weights {5:T, 3:T} -> tau=5 (p=1, r=.5, f1=2/3) and
    # tau=3 (p=1, r=1, f1=1) differ; make a REAL tie: single true pair
    # at each weight with a false partner so both taus give p=.5, r=.5
    tie = spark.createDataFrame(
        [(5.0, 1.0), (5.0, 0.0), (3.0, 0.0), (3.0, 1.0)],
        "weight double, true_match double",
    )
    # tau=5: pred 2, tp 1 -> p=.5, r=.5, f1=.5 ; tau=3: pred 4, tp 2
    # -> p=.5, r=1, f1=2/3 -> tau=3 wins (not a tie; assert argmax)
    rt = best_threshold_by_f1(tie).collect()[0]
    assert rt["threshold"] == 3.0 and rt["f1"] == round(2 / 3, 6)

    # genuine tie: one pair per weight, all true -> every tau has p=1;
    # r grows downward so the lowest tau wins on F1 alone; restrict to
    # equal-F1 by a single row: one distinct weight -> that weight
    one = spark.createDataFrame([(2.0, 1.0)], "weight double, true_match double")
    assert best_threshold_by_f1(one).collect()[0]["threshold"] == 2.0

    # empty input -> empty result
    assert best_threshold_by_f1(one.filter("weight > 99")).collect() == []


def test_evaluation_report_matches_standalone_metrics(spark):
    """The one-execution facade must return EXACTLY the standalone
    sweep rows plus the standalone argmax row — sharing the counts
    table is an execution optimization, not a semantics change."""
    from ppack_spark.eval import (
        best_threshold_by_f1,
        evaluation_report,
        threshold_sweep_metrics,
    )

    df = spark.createDataFrame(
        [(10.0, 1.0), (6.0, 1.0), (6.0, 0.0), (1.0, 1.0), (-3.0, 0.0)],
        "weight double, true_match double",
    )
    ts = [0.0, 5.0]
    rep = {
        (r["metric"], r["threshold"]): r.asDict()
        for r in evaluation_report(df, ts).collect()
    }
    for r in threshold_sweep_metrics(df, ts).collect():
        want = dict(r.asDict(), metric="sweep")
        assert rep[("sweep", r["threshold"])] == want
    best = best_threshold_by_f1(df).collect()[0]
    assert rep[("best", best["threshold"])] == dict(best.asDict(), metric="best")
    # shape: one row per tau + one best row
    assert len(rep) == len(ts) + 1

    # empty input: sweep axis rows survive, best row is absent
    empty = evaluation_report(df.filter("weight > 99"), ts).collect()
    assert sorted(r["threshold"] for r in empty) == ts
    assert all(r["metric"] == "sweep" and r["n_pred"] == 0 for r in empty)


def test_linker_evaluate_single_execution_facade(spark, tables):
    """Linker.evaluate wires the truth Column through the comparison
    projection and returns the same rows as scoring + the standalone
    metrics on the identical labelled frame."""
    from ppack_spark.eval import best_threshold_by_f1, threshold_sweep_metrics

    customer = tables["customer"]
    linker = pp.Linker(spark, customer, None, _spec())
    linker.estimate(maxiter=3, u_sample_size=1000)
    truth = (F.col("c_nationkey_left") == F.col("c_nationkey_right")).cast("double")
    got = {
        (r["metric"], r["threshold"]): r.asDict()
        for r in linker.evaluate(truth, thresholds=[0.0, 2.0]).collect()
    }
    # rebuild the identical labelled frame by hand
    from ppack_spark.patterns import do_comparisons
    from ppack_spark.scoring import score_pairs

    exprs = dict(linker.spec.comparator_exprs(), true_match=truth)
    cmp = do_comparisons(
        linker.pairs_dataset(), exprs,
        keep=["c_custkey_left", "c_custkey_right"],
    )
    labelled = score_pairs(
        cmp, linker.params, {c.name: c.name for c in linker.spec.comparisons}
    )
    for r in threshold_sweep_metrics(labelled, [0.0, 2.0]).collect():
        assert got[("sweep", r["threshold"])] == dict(r.asDict(), metric="sweep")
    b = best_threshold_by_f1(labelled).collect()[0]
    assert got[("best", b["threshold"])] == dict(b.asDict(), metric="best")


def test_adjusted_rand_index_hand_computed(spark):
    """sklearn's doc example: truth [0,0,1,1] vs pred [0,0,1,2] has
    ARI = 4/7; identical partitions score 1; all-singleton pred vs
    paired truth scores 0; degenerate identical-trivial partitions
    follow the sklearn convention (1.0); empty intersection is NULL."""
    from ppack_spark.eval import adjusted_rand_index

    truth = spark.createDataFrame(
        [(1, "t0"), (2, "t0"), (3, "t1"), (4, "t1")], "doc_id int, truth string"
    )
    pred = spark.createDataFrame(
        [(1, "c0"), (2, "c0"), (3, "c1"), (4, "c2")], "doc_id int, cluster string"
    )
    r = adjusted_rand_index(pred, truth).collect()[0]
    assert r["n_records"] == 4
    assert r["ari"] == round(4 / 7, 6)
    # rand index: agreements = cn2 + 2*idx - sc - st = 6 + 2 - 1 - 2 = 5
    assert r["rand_index"] == round(5 / 6, 6)

    same = truth.select("doc_id", F.col("truth").alias("cluster"))
    assert adjusted_rand_index(same, truth).collect()[0]["ari"] == 1.0

    singles = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "doc_id int, cluster string"
    )
    assert adjusted_rand_index(singles, truth).collect()[0]["ari"] == 0.0

    # both all-singletons: expected == max index -> convention 1.0
    struth = singles.select("doc_id", F.col("cluster").alias("truth"))
    assert adjusted_rand_index(singles, struth).collect()[0]["ari"] == 1.0

    none = spark.createDataFrame([(99, "z")], "doc_id int, cluster string")
    r0 = adjusted_rand_index(none, truth).collect()[0]
    assert r0["n_records"] == 0 and r0["ari"] is None and r0["rand_index"] is None


def test_evaluation_report_randomized_consistency(spark):
    """Seeded random weights/labels: the facade's sweep and best rows
    must equal the standalone metrics at every probe — the sharing
    refactor can never change a number, whatever the distribution."""
    import random

    from ppack_spark.eval import (
        best_threshold_by_f1,
        evaluation_report,
        threshold_sweep_metrics,
    )

    rng = random.Random(77)
    rows = [
        (round(rng.uniform(-30, 10), 1), float(rng.random() < 0.3))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, "weight double, true_match double").repartition(9)
    ts = [-20.0, -5.0, 0.0, 5.0]
    rep = {
        (r["metric"], r["threshold"]): r.asDict()
        for r in evaluation_report(df, ts).collect()
    }
    for r in threshold_sweep_metrics(df, ts).collect():
        assert rep[("sweep", r["threshold"])] == dict(r.asDict(), metric="sweep")
    b = best_threshold_by_f1(df).collect()[0]
    assert rep[("best", b["threshold"])] == dict(b.asDict(), metric="best")
    # strict-boundary variant stays consistent too
    ex = {
        (r["metric"], r["threshold"]): r.asDict()
        for r in evaluation_report(df, ts, inclusive=False).collect()
    }
    for r in threshold_sweep_metrics(df, ts, inclusive=False).collect():
        assert ex[("sweep", r["threshold"])] == dict(r.asDict(), metric="sweep")


# ----------------------------------- TF-adjusted match weights (E168)

from ppack_spark.scoring import (  # noqa: E402
    TFAdjustment,
    term_frequency_table,
    tf_adjusted_weights,
)


def _tf_fixture(spark):
    """Scored pairs over a toy surname comparator: u_agree = 0.25 on
    average, but 'smith' covers half the records and 'tregunter' one
    tenth."""
    records = spark.createDataFrame(
        [(i, "smith") for i in range(5)]
        + [(5, "tregunter"), (6, "jones"), (7, "jones"), (8, "lee"), (9, "lee")],
        "rid long, surname string",
    )
    pairs = spark.createDataFrame(
        [
            (0, "agree", "smith", 2.0),
            (1, "agree", "tregunter", 2.0),
            (2, "disagree", "smith", -1.0),
            (3, None, None, 0.0),
            (4, "agree", "unseen-name", 2.0),
        ],
        "pair_id long, surname string, surname_left string, weight double",
    )
    tf = term_frequency_table(records, "surname")
    return records, pairs, tf


def test_term_frequency_table_shares(spark):
    records, _, tf = _tf_fixture(spark)
    got = {r["value"]: r["tf"] for r in tf.collect()}
    assert got == {"smith": 0.5, "tregunter": 0.1, "jones": 0.2, "lee": 0.2}


def test_tf_adjustment_values_and_untouched_rows(spark):
    _, pairs, tf = _tf_fixture(spark)
    out = tf_adjusted_weights(
        pairs,
        [
            TFAdjustment(
                gamma_col="surname",
                value_col="surname_left",
                u_agree=0.25,
                tf_table=tf,
            )
        ],
    )
    got = {r["pair_id"]: r for r in out.collect()}
    # agree on the common value: evidence weakens (ln(0.25/0.5) < 0)
    assert got[0]["weight_tf"] == pytest.approx(2.0 + math.log(0.25 / 0.5))
    # agree on the rare value: evidence strengthens
    assert got[1]["weight_tf"] == pytest.approx(2.0 + math.log(0.25 / 0.1))
    # disagree / missing-gamma / unseen-value rows are untouched
    assert got[2]["weight_tf"] == got[2]["weight"]
    assert got[3]["weight_tf"] == got[3]["weight"]
    assert got[4]["weight_tf"] == got[4]["weight"]
    # input columns survive, helper columns don't
    assert "__tf_0" not in out.columns


def test_tf_adjustment_min_tf_floor_and_damping(spark):
    _, pairs, tf = _tf_fixture(spark)
    out = tf_adjusted_weights(
        pairs,
        [
            TFAdjustment(
                gamma_col="surname",
                value_col="surname_left",
                u_agree=0.25,
                tf_table=tf,
                min_tf=0.2,
                tf_weight=0.5,
            )
        ],
    )
    got = {r["pair_id"]: r for r in out.collect()}
    # tregunter's tf=0.1 floors at 0.2; the correction is then damped
    assert got[1]["weight_tf"] == pytest.approx(
        2.0 + 0.5 * math.log(0.25 / 0.2)
    )
    # smith's tf=0.5 is above the floor: only damping applies
    assert got[0]["weight_tf"] == pytest.approx(
        2.0 + 0.5 * math.log(0.25 / 0.5)
    )


def test_tf_adjustment_multiple_comparators_sum(spark):
    records, _, tf = _tf_fixture(spark)
    cities = spark.createDataFrame(
        [(0, "york"), (1, "york"), (2, "york"), (3, "leeds")],
        "rid long, city string",
    )
    ctf = term_frequency_table(cities, "city")
    pairs = spark.createDataFrame(
        [(0, "agree", "smith", "agree", "leeds", 1.0)],
        "pair_id long, surname string, surname_left string,"
        " city string, city_left string, weight double",
    )
    out = tf_adjusted_weights(
        pairs,
        [
            TFAdjustment("surname", "surname_left", 0.25, tf),
            TFAdjustment("city", "city_left", 0.5, ctf),
        ],
    )
    row = out.collect()[0]
    assert row["weight_tf"] == pytest.approx(
        1.0 + math.log(0.25 / 0.5) + math.log(0.5 / 0.25)
    )


# --------------------------------- supervised m/u estimation (E171)

from ppack_spark.patterns import mu_from_labels  # noqa: E402


def test_mu_from_labels_hand_counts(spark):
    rows = [
        # (truth, name_gamma)
        (True, "agree"), (True, "agree"), (True, "agree"), (True, "disagree"),
        (False, "agree"), (False, "disagree"), (False, "disagree"),
        (False, "disagree"),
    ]
    df = spark.createDataFrame(rows, "true_match boolean, name string")
    got = {r["level"]: r for r in mu_from_labels(df).collect()}
    assert got["agree"]["n_match"] == 3 and got["agree"]["n_nonmatch"] == 1
    assert got["agree"]["m"] == 0.75 and got["agree"]["u"] == 0.25
    assert got["disagree"]["m"] == 0.25 and got["disagree"]["u"] == 0.75


def test_mu_from_labels_null_gamma_and_label_excluded(spark):
    rows = [
        (True, "agree"), (True, None),       # NULL gamma: excluded
        (None, "agree"),                     # NULL label: excluded
        (False, "disagree"),
    ]
    df = spark.createDataFrame(rows, "true_match boolean, name string")
    got = {r["level"]: r for r in mu_from_labels(df).collect()}
    assert got["agree"]["n_match"] == 1 and got["agree"]["n_nonmatch"] == 0
    assert got["disagree"]["n_match"] == 0
    assert got["agree"]["m"] == 1.0 and got["disagree"]["u"] == 1.0


def test_mu_from_labels_empty_class_yields_null(spark):
    df = spark.createDataFrame(
        [(True, "agree"), (True, "disagree")],
        "true_match boolean, name string",
    )
    got = {r["level"]: r for r in mu_from_labels(df).collect()}
    # no labeled non-matches: u is NULL, not a division blowup
    assert got["agree"]["u"] is None and got["disagree"]["u"] is None
    assert got["agree"]["m"] == 0.5


def test_mu_from_labels_validates_columns(spark):
    df = spark.createDataFrame([(True,)], "true_match boolean")
    with pytest.raises(ValueError, match="gamma"):
        mu_from_labels(df)


def test_bcubed_null_labels_match_join_semantics(spark):
    """The r14 window-sum rewrite of bcubed_metrics must keep the old
    inner-join NULL semantics: a NULL-labeled cell never reaches the
    precision/recall sums (equi-join on NULL matched nothing) but
    still counts into the OTHER label's marginal (each old groupBy
    marginal summed over all cells of its key)."""
    from ppack_spark.eval import bcubed_metrics

    a = spark.createDataFrame(
        [(1, "c1"), (2, "c1"), (3, "c2"), (4, None), (5, "c2"), (6, "c3")],
        "doc_id long, cluster string",
    )
    t = spark.createDataFrame(
        [(1, "t1"), (2, "t1"), (3, "t1"), (4, "t2"), (5, None), (6, "t2")],
        "doc_id long, truth string",
    )
    got = bcubed_metrics(a, t).collect()[0]
    # hand-computed with the join form: cells (c1,t1)=2 (c2,t1)=1
    # (c3,t2)=1 survive; (None,t2) and (c2,None) are dropped from the
    # sums but (c2,None) still inflates n_c(c2) to 2 and (None,t2)
    # still inflates n_t(t2) to 2.
    assert got["n_records"] == 4
    assert got["precision"] == pytest.approx(0.875)
    assert got["recall"] == pytest.approx(0.541667)
