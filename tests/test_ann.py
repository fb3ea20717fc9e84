"""ANN quality gate: recall of the hyperplane-LSH bucketed top-k
against the exact brute-force baseline on the embeddings fixture.

The fixture vectors are near-random (weak cluster structure), which is
the adversarial case for sign-sketch LSH — the asserted config
(n_planes=4, multi_probe=2) is the one the registry query
``ann_lsh_topk`` ships with."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ppack_spark.operators.ann import cosine_topk, cosine_topk_lsh

N_QUERIES = 20
K = 10


@pytest.fixture(scope="module")
def embeddings(spark, tables):
    return tables["embeddings"].withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


@pytest.fixture(scope="module")
def exact_pairs(embeddings):
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    rows = cosine_topk(q, embeddings, k=K).select("query_id", "neighbor_id").collect()
    return {(r[0], r[1]) for r in rows}


def _recall(embeddings, exact_pairs, **kw):
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    rows = (
        cosine_topk_lsh(q, embeddings, dims=64, k=K, **kw)
        .select("query_id", "neighbor_id")
        .collect()
    )
    got = {(r[0], r[1]) for r in rows}
    return len(got & exact_pairs) / len(exact_pairs)


def test_lsh_recall_at_10(embeddings, exact_pairs):
    """The shipped config must reach recall@10 >= 0.8 vs exact."""
    recall = _recall(embeddings, exact_pairs, n_planes=4, multi_probe=2)
    assert recall >= 0.8, f"recall@10 = {recall:.3f}"


def test_ivf_recall_at_10(embeddings, exact_pairs):
    """IVF (k-means inverted lists, n_probe of n_centroids scanned)
    must reach recall@10 >= 0.8 at the shipped config. The fixture
    vectors are near-random — the worst case for any partition-based
    index — so the probe fraction is necessarily high; on clustered
    real embeddings the same recall needs far fewer probes."""
    from ppack_spark.operators.ann import cosine_topk_ivf

    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    rows = (
        cosine_topk_ivf(q, embeddings, k=K, n_centroids=8, n_probe=5)
        .select("query_id", "neighbor_id")
        .collect()
    )
    got = {(r[0], r[1]) for r in rows}
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVF recall@10 = {recall:.3f}"


def test_ivf_fixed_recall_and_determinism(embeddings, exact_pairs):
    """The deterministic (oracle-replayable) quantizer must match the
    Spark-ML-trained IVF's recall bar at the gate config, and building
    the index twice must yield identical inverted lists (the property
    the SQL oracle depends on)."""
    from ppack_spark.operators.ann import cosine_topk_ivf, ivf_index_fixed

    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    idx = ivf_index_fixed(embeddings, dims=64, n_centroids=8, iters=2)
    rows = (
        cosine_topk_ivf(q, embeddings, k=K, n_probe=5, index=idx)
        .select("query_id", "neighbor_id")
        .collect()
    )
    got = {(r[0], r[1]) for r in rows}
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"fixed-IVF recall@10 = {recall:.3f}"

    a1, _ = ivf_index_fixed(embeddings, dims=64, n_centroids=8, iters=2)
    a2, _ = ivf_index_fixed(embeddings, dims=64, n_centroids=8, iters=2)
    l1 = {(r["vec_id"], r["centroid"]) for r in a1.collect()}
    l2 = {(r["vec_id"], r["centroid"]) for r in a2.collect()}
    assert l1 == l2


def test_multi_probe_improves_recall(embeddings, exact_pairs):
    r0 = _recall(embeddings, exact_pairs, n_planes=4, multi_probe=0)
    r2 = _recall(embeddings, exact_pairs, n_planes=4, multi_probe=2)
    assert r2 > r0


def test_lsh_topk_shape(embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    out = cosine_topk_lsh(q, embeddings, dims=64, k=K, n_planes=4, multi_probe=2)
    pdf = out.toPandas()
    assert set(pdf.columns) == {"query_id", "neighbor_id", "cos_sim", "rank"}
    per_q = pdf.groupby("query_id")
    assert (per_q.size() <= K).all()
    # ranks are 1..n with descending similarity within each query
    for _, g in per_q:
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["cos_sim"].diff().dropna() <= 1e-12).all()
    # no self matches, no duplicate candidates
    assert (pdf["query_id"] != pdf["neighbor_id"]).all()
    assert not pdf.duplicated(["query_id", "neighbor_id"]).any()


def test_pq_recall_at_10(embeddings, exact_pairs):
    """PQ ADC scan + exact re-rank must reach recall@10 >= 0.8 at the
    shipped config (m=8 subspaces, 32 centroids, shortlist 8k). The
    near-random fixture is PQ's worst case too — quantization error is
    maximal without cluster structure — hence the generous shortlist;
    the re-rank stage makes precision exact for whatever the shortlist
    catches."""
    from ppack_spark.operators.ann import cosine_topk_pq

    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    rows = (
        cosine_topk_pq(q, embeddings, k=K)
        .select("query_id", "neighbor_id")
        .collect()
    )
    got = {(r[0], r[1]) for r in rows}
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"PQ recall@10 = {recall:.3f}"


def test_pq_result_invariant_under_partitioning(embeddings):
    """The ADC shortlist cut must not depend on the physical layout:
    duplicated vectors share pq codes, so their ADC scores TIE exactly
    and a position-based cut (argpartition) would emit different
    shortlist members per partitioning. With the (-score, id) lexsort
    cut, the full (query, neighbor, rank) result is identical across
    partition counts."""
    from ppack_spark.operators.ann import cosine_topk_pq

    n = embeddings.count()
    # plant guaranteed ADC ties: every vector appears twice (new ids)
    doubled = embeddings.select("vec_id", "embedding").unionByName(
        embeddings.select(
            (F.col("vec_id") + F.lit(n)).alias("vec_id"), "embedding"
        )
    )
    q = embeddings.filter(F.col("vec_id") < 5).select("vec_id", "embedding")

    def run(parts):
        rows = (
            cosine_topk_pq(q, doubled.repartition(parts), k=K)
            .select("query_id", "neighbor_id", "rank")
            .collect()
        )
        return {(r[0], r[1], r[2]) for r in rows}

    assert run(3) == run(17)


def test_pq_codes_shape_and_determinism(embeddings):
    """Codes are m small ints per vector (the 8-byte index invariant)
    and encoding is deterministic across physical layouts."""
    from ppack_spark.operators.ann import pq_encode, pq_train

    cb = pq_train(embeddings, m=8, k=16)
    assert cb.shape == (8, 16, 8)
    a = {
        r["vec_id"]: tuple(r["pq_code"])
        for r in pq_encode(embeddings, cb).collect()
    }
    b = {
        r["vec_id"]: tuple(r["pq_code"])
        for r in pq_encode(embeddings.repartition(13), cb).collect()
    }
    assert a == b
    assert all(len(c) == 8 and max(c) < 16 and min(c) >= 0 for c in a.values())


def test_ivfpq_recall_at_10(embeddings, exact_pairs):
    """IVF+PQ combined must reach recall@10 >= 0.8 at the shipped
    config (8 lists / probe 6, m=8 codes, shortlist 12k). Near-random
    fixture = worst case for both index layers at once, hence the high
    probe fraction; clustered real embeddings need far less."""
    from ppack_spark.operators.ann import cosine_topk_ivfpq

    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    rows = (
        cosine_topk_ivfpq(
            q, embeddings, k=K, n_centroids=8, n_probe=6, shortlist_mult=12
        )
        .select("query_id", "neighbor_id")
        .collect()
    )
    got = {(r[0], r[1]) for r in rows}
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVFPQ recall@10 = {recall:.3f}"


def test_pq_encode_null_and_empty_vectors(spark, embeddings):
    """NULL / empty / wrong-dim embeddings must encode to a NULL code
    (not crash the Arrow batch) and be inert in the PQ scan."""
    from pyspark.sql import types as T

    from ppack_spark.operators.ann import pq_encode, pq_train

    cb = pq_train(embeddings, m=8, k=16)
    good = [float(i % 7) / 7.0 for i in range(64)]
    extra = spark.createDataFrame(
        [(900_001, None), (900_002, []), (900_003, [1.0, 2.0]), (900_004, good)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    out = {
        r["vec_id"]: r["pq_code"] for r in pq_encode(extra, cb).collect()
    }
    assert out[900_001] is None
    assert out[900_002] is None
    assert out[900_003] is None
    assert out[900_004] is not None and len(out[900_004]) == 8


def test_pq_self_hit_excluded_before_shortlist(embeddings):
    """A query that is a corpus member must not see itself at rank 1
    by default; with exclude_self=False (cross-namespace contract) the
    self id IS a legitimate neighbor and comes back at cos 1.0. Both
    scan paths drop the self-hit before the shortlist and nowhere
    after it, so this is the only guard on their exclusion."""
    from ppack_spark.operators.ann import cosine_topk_ivfpq, cosine_topk_pq

    q = embeddings.filter(F.col("vec_id") == 3)
    for fn in (cosine_topk_pq, cosine_topk_ivfpq):
        top = fn(q, embeddings, k=5, shortlist_mult=2).collect()
        assert top and all(r["neighbor_id"] != 3 for r in top), fn.__name__
        kept = fn(q, embeddings, k=5, shortlist_mult=2, exclude_self=False).collect()
        r1 = [r for r in kept if r["rank"] == 1][0]
        assert r1["neighbor_id"] == 3 and r1["cos_sim"] == 1.0, fn.__name__


def test_empty_queries_over_nonempty_corpus(embeddings):
    """Every query path returns an empty top-k frame for a query set
    that matches nothing, while the corpus still trains its index —
    the driver-side lookup tables must not be built from zero rows."""
    from ppack_spark.operators.ann import (
        cosine_topk_ivf,
        cosine_topk_ivfpq,
        cosine_topk_ivfpq_fixed,
        cosine_topk_pq,
        cosine_topk_pq_fixed,
    )

    q = embeddings.filter(F.col("vec_id") < 0)
    for fn in (cosine_topk_ivf, cosine_topk_pq, cosine_topk_ivfpq,
               cosine_topk_pq_fixed, cosine_topk_ivfpq_fixed):
        out = fn(q, embeddings, k=5)
        assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"], fn.__name__
        assert out.count() == 0, fn.__name__


def test_semantic_dedup_planted_duplicates(spark, embeddings):
    """SemDeDup drops planted near-identical embeddings and keeps the
    originals; distinct vectors all survive. Exercises BOTH bucketing
    paths: the deterministic hyperplane sketch and a k-means cluster
    assignment from ivf_index (the paper's own clustering)."""
    from ppack_spark.operators.ann import ivf_index, semantic_dedup_corpus

    base = embeddings.filter(F.col("vec_id") < 50)
    # plant: copies of vec 0..4 with a tiny perturbation (cos ~ 1.0)
    dups = (
        base.filter(F.col("vec_id") < 5)
        .select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
            F.col("label"),
        )
    )
    corpus = base.unionByName(dups)

    kept_hp = semantic_dedup_corpus(corpus, dims=64, n_planes=6, eps=0.99)
    ids_hp = {r[0] for r in kept_hp.select("vec_id").collect()}
    # scaled copies have cosine exactly ~1 with their source: the copy
    # (min-id loser is the 1000+ id) must go, every original stays
    assert ids_hp == {r[0] for r in base.select("vec_id").collect()}

    assigned, _ = ivf_index(corpus, n_centroids=4)
    clusters = assigned.select("vec_id", F.col("centroid").alias("cluster"))
    kept_km = semantic_dedup_corpus(
        corpus, dims=64, eps=0.99, clusters=clusters
    )
    ids_km = {r[0] for r in kept_km.select("vec_id").collect()}
    assert ids_km == ids_hp


def test_semantic_dedup_no_pairs_is_identity(spark, embeddings):
    """With an impossible eps the corpus passes through untouched
    (CC over an empty edge set must not drop anything)."""
    from ppack_spark.operators.ann import semantic_dedup_corpus

    base = embeddings.filter(F.col("vec_id") < 30)
    kept = semantic_dedup_corpus(base, dims=64, n_planes=4, eps=1.5)
    assert kept.count() == 30


def test_hyperplane_literals_match_md5_expression(spark, embeddings):
    """_hyperplane emits driver-computed literals (Catalyst does not
    fold the md5 chain, which made the in-plan form re-hash per row);
    the literal values must stay bit-identical to the symbolic
    md5/conv/substring derivation the oracle replays."""
    from ppack_spark.operators.ann import _hyperplane

    sym = []
    for d in range(8):
        h = F.conv(
            F.substring(F.md5(F.lit(f"3:{d}")), 1, 8), 16, 10
        ).cast("double")
        sym.append(h / F.lit(float(2**31)) - F.lit(1.0))
    row = (
        spark.range(1)
        .select(
            F.array(*sym).alias("symbolic"),
            _hyperplane(3, 8).alias("literal"),
        )
        .collect()[0]
    )
    assert row["symbolic"] == row["literal"]


def test_topk_recall_measures_overlap(spark, tables):
    """recall(identical)=1, recall(disjoint)=0, missing queries score
    0; applied to the real LSH variant it reproduces the suite's
    recall floor."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.ann import (
        cosine_topk,
        cosine_topk_lsh,
        topk_recall,
    )

    ex = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], ["query_id", "neighbor_id"]
    )
    same = {r["query_id"]: r["recall"] for r in topk_recall(ex, ex).collect()}
    assert same == {1: 1.0, 2: 1.0}
    disjoint = ex.withColumn("neighbor_id", F.col("neighbor_id") + 100)
    zero = {
        r["query_id"]: r["recall"]
        for r in topk_recall(disjoint, ex).collect()
    }
    assert zero == {1: 0.0, 2: 0.0}
    # approx missing query 2 entirely -> recall 0 for it
    partial = ex.filter(F.col("query_id") == 1)
    got = {r["query_id"]: r["recall"] for r in topk_recall(partial, ex).collect()}
    assert got == {1: 1.0, 2: 0.0}

    e = tables["embeddings"].withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, e, k=10)
    approx = cosine_topk_lsh(queries, e, dims=64, k=10, n_planes=6, multi_probe=8)
    recalls = [r["recall"] for r in topk_recall(approx, exact).collect()]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.8


def test_ivf_fixed_assignment_paths_agree_across_threshold(embeddings, monkeypatch):
    """A k > LITERAL_ASSIGN_MAX_K index must route through the
    broadcast-join assignment and produce EXACTLY the assignments and
    centroids the literal-projection path would have: both score with
    the same zip_with+aggregate fold, so distances are bit-identical
    and the (d2, centroid) tie-break picks identical winners."""
    from ppack_spark.operators import ann

    kw = dict(dims=64, n_centroids=280, iters=1, id_col="vec_id",
              vec_col="embedding")
    assert kw["n_centroids"] > ann.LITERAL_ASSIGN_MAX_K
    a_bc, c_bc = ann.ivf_index_fixed(embeddings, **kw)
    # plan proof this really was the join path: assignment contains a
    # broadcast join, which the literal projection never builds
    assert "Broadcast" in a_bc._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(ann, "LITERAL_ASSIGN_MAX_K", 10_000)
    a_lit, c_lit = ann.ivf_index_fixed(embeddings, **kw)
    assert sorted(map(tuple, c_bc.collect())) == sorted(map(tuple, c_lit.collect()))
    got_bc = {r["vec_id"]: r["centroid"] for r in a_bc.collect()}
    got_lit = {r["vec_id"]: r["centroid"] for r in a_lit.collect()}
    assert got_bc == got_lit


def test_pq_fixed_and_ivfpq_fixed_recall(embeddings, exact_pairs):
    """The oracle-grade fixed PQ paths must still be decent ANN, not
    just replayable: recall@10 >= 0.8 vs exact at the gate configs
    (the same bar the production scan paths are held to)."""
    from ppack_spark.operators.ann import (
        cosine_topk_ivfpq_fixed,
        cosine_topk_pq_fixed,
    )

    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    for fn, kw in [
        (cosine_topk_pq_fixed, dict(k=K, m=8, n_centroids=16, shortlist_mult=12)),
        (cosine_topk_ivfpq_fixed,
         dict(k=K, n_centroids=8, n_probe=6, m=8, pq_centroids=16,
              shortlist_mult=12)),
    ]:
        rows = fn(q, embeddings, **kw).select("query_id", "neighbor_id").collect()
        got = {(r[0], r[1]) for r in rows}
        recall = len(got & exact_pairs) / len(exact_pairs)
        assert recall >= 0.8, f"{fn.__name__} recall@10 = {recall:.3f}"


def test_pq_fixed_trainer_bounds():
    import numpy as np
    import pytest

    from ppack_spark.operators import ann

    with pytest.raises(ValueError, match="not divisible"):
        ann.pq_train_fixed(None, m=7, k=4, dims=64)
    with pytest.raises(ValueError, match="literal projection bounded"):
        ann.pq_train_fixed(None, m=8, k=1000, dims=64)


# ---------------------------------------------------------- ivf append
def test_ivf_append_preserves_centroids_and_old_assignments(spark):
    from pyspark.sql import functions as F

    from ppack_spark.operators.ann import ivf_index_append, ivf_index_fixed

    from conftest import SF_DIR

    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    train = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    idx = ivf_index_fixed(train, dims=64, n_centroids=4, iters=1)
    asg2, cents2 = ivf_index_append(idx, delta)
    # centroids frozen
    assert sorted(
        (r["centroid"], tuple(r["centroid_vec"])) for r in idx[1].collect()
    ) == sorted(
        (r["centroid"], tuple(r["centroid_vec"])) for r in cents2.collect()
    )
    # original assignments unchanged, delta fully routed
    old = {r["vec_id"]: r["centroid"] for r in idx[0].collect()}
    new = {r["vec_id"]: r["centroid"] for r in asg2.collect()}
    assert all(new[k] == v for k, v in old.items())
    assert set(new) == {r["vec_id"] for r in e.collect()}


def test_ivf_append_matches_trainer_assignment(spark):
    """Appending a vector routes it to the SAME list the trainer's
    final assignment pass would pick against the same centroids —
    bit-identical argmin, not merely close."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.ann import ivf_index_append, ivf_index_fixed

    from conftest import SF_DIR

    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
    )
    idx_full = ivf_index_fixed(e, dims=64, n_centroids=4, iters=0)
    # iters=0: centroids are the raw seeds on any subset containing
    # the same seed winners -> build on full, re-append a slice
    sl = e.filter(F.col("vec_id") % 5 == 0)
    base_wo = (idx_full[0].join(sl, "vec_id", "left_anti"), idx_full[1])
    asg, _ = ivf_index_append(base_wo, sl)
    full = {r["vec_id"]: r["centroid"] for r in idx_full[0].collect()}
    got = {r["vec_id"]: r["centroid"] for r in asg.collect()}
    assert got == full


def test_ivf_append_empty_index_raises(spark):
    import pytest

    from ppack_spark.operators.ann import ivf_index_append

    e = spark.createDataFrame(
        [(1, [0.0] * 4)], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [], "centroid int, centroid_vec array<double>"
    )
    with pytest.raises(ValueError):
        ivf_index_append((e, cents), e)


def test_cluster_balanced_sample_caps_and_determinism(embeddings):
    from ppack_spark.operators.ann import cluster_balanced_sample, ivf_index_fixed

    idx = ivf_index_fixed(embeddings, dims=64, n_centroids=8, iters=2)
    out = cluster_balanced_sample(idx, cap=10)
    per = out.groupBy("centroid").count().collect()
    assert per and all(r["count"] <= 10 for r in per)
    # picks come FROM the assigned frame, with its columns + pick
    assert {"vec_id", "centroid", "pick"} <= set(out.columns)
    assert out.filter((F.col("pick") < 1) | (F.col("pick") > 10)).count() == 0
    # deterministic across runs
    a = {tuple(r) for r in out.select("vec_id", "centroid", "pick").collect()}
    b = {
        tuple(r)
        for r in cluster_balanced_sample(idx, cap=10)
        .select("vec_id", "centroid", "pick")
        .collect()
    }
    assert a == b
    # a different salt picks a different sample (decorrelated draws)
    c = {
        r["vec_id"]
        for r in cluster_balanced_sample(idx, cap=10, salt="other").collect()
    }
    assert c != {r["vec_id"] for r in out.collect()} or len(c) == out.count()


def test_cluster_balanced_sample_small_cluster_kept_whole(spark):
    from ppack_spark.operators.ann import cluster_balanced_sample

    assigned = spark.createDataFrame(
        [(i, i % 3) for i in range(9)] + [(100, 7)],
        "vec_id long, centroid int",
    )
    cents = spark.createDataFrame(
        [], "centroid int, centroid_vec array<double>"
    )
    out = cluster_balanced_sample((assigned, cents), cap=5)
    # every cluster under the cap survives entirely
    assert out.count() == 10
    with pytest.raises(ValueError, match="cap"):
        cluster_balanced_sample((assigned, cents), cap=0)


def test_hard_negatives_excludes_same_label_and_matches_brute_force(embeddings):
    from ppack_spark.operators.ann import cosine, hard_negatives

    q = embeddings.filter(F.col("vec_id") < 3)
    out = hard_negatives(q, embeddings, k=5)
    labels = {r["vec_id"]: r["label"] for r in q.collect()}
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["neighbor_label"] != labels[r["query_id"]]
        assert r["rank"] <= 5
    # brute-force parity: per query, the top-5 cosine among
    # different-label corpus rows
    brute = (
        q.alias("q")
        .crossJoin(embeddings.alias("c"))
        .filter(
            (F.col("q.vec_id") != F.col("c.vec_id"))
            & (F.col("q.label") != F.col("c.label"))
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(
                cosine(F.col("q.embedding"), F.col("c.embedding")), 6
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    expect = {
        (r["query_id"], r["neighbor_id"])
        for r in brute.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert {(r["query_id"], r["neighbor_id"]) for r in rows} == expect


def test_hard_negatives_null_labels_yield_nothing(spark):
    from ppack_spark.operators.ann import hard_negatives

    df = spark.createDataFrame(
        [(1, None, [1.0, 0.0]), (2, None, [1.0, 0.1]), (3, 0, [0.9, 0.1])],
        "vec_id long, label int, embedding array<double>",
    )
    out = hard_negatives(df.filter("vec_id = 1"), df, k=5)
    # NULL-label query: label <> x is never true -> no negatives
    assert out.count() == 0
