"""Connected-components cluster resolution (operators/cluster.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import distributed, spy_driver_paths

import ppack_spark as pp
import ppack_spark.operators.cluster as cluster
from ppack_spark.operators.cluster import (
    attach_cluster_ids,
    connected_components,
    connected_components_adaptive,
    connected_components_star,
)


def _components_dict(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_chain_triangle_and_separate_components(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ edge 11-12), isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_left long, id_right long",
    )
    got = _components_dict(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges(spark):
    n = 40  # diameter >> typical dedup components; exercises the loop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_left long, id_right long"
    )
    got = _components_dict(connected_components(edges, max_iter=60))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_cut_lineage_keeps_stats_flat_across_self_join_rounds(spark):
    """The iterative-loop lineage cut must reset Catalyst's size
    estimate, not just the plan tree: a bare localCheckpoint stamps
    the new leaf with the origin plan's stats, and a self-join loop
    then SQUARES sizeInBytes every round (digits 20 → 2514 in 7 rounds
    measured) until BigInteger.multiply inside the stats visitor burns
    CPU-minutes per planning pass — a 54k-edge graph wedged the
    round-6 bench for 26+ CPU-minutes this way. cut_lineage re-wraps
    the checkpointed RDD with default leaf stats, so the digit count
    must stay flat no matter how many rounds run."""
    from ppack_spark.operators.util import cut_lineage

    labels = cut_lineage(
        spark.range(50).select(
            F.col("id").alias("node"), F.col("id").alias("component")
        )
    )
    for _ in range(6):
        ptr = (
            labels.alias("l")
            .join(labels.alias("m"), F.col("l.component") == F.col("m.node"))
            .select(
                F.col("l.node").alias("node"),
                F.col("m.component").alias("component"),
            )
        )
        labels = cut_lineage(ptr)
        digits = len(
            str(labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        # bare localCheckpoint reaches 640+ digits by round 5; the cut
        # must hold the leaf at the (constant) session default
        assert digits < 60, f"stats sizeInBytes digits exploded: {digits}"
    assert labels.count() == 50


def test_star_variant_matches_label_propagation(spark):
    """large-star/small-star must produce the identical (node,
    component) mapping as min-label propagation on a mixed fixture."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21), (7, 7)],
        "id_left long, id_right long",
    )
    assert _components_dict(connected_components_star(edges)) == _components_dict(
        connected_components(edges)
    )


def test_star_variant_long_chain_logarithmic_rounds(spark):
    """A diameter-300 chain: min-label propagation needs ~300 rounds
    (and raises at max_iter=30); the star variant converges within a
    logarithmic round budget."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_left long, id_right long"
    )
    got = _components_dict(connected_components_star(edges, max_iter=15))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star_variant_random_graph_parity(spark):
    """Deterministic pseudo-random graph: both algorithms agree."""
    rows = [((i * 131 + 7) % 97, (i * 31 + 3) % 97) for i in range(120)]
    edges = spark.createDataFrame(rows, "id_left long, id_right long")
    assert _components_dict(connected_components_star(edges)) == _components_dict(
        connected_components(edges, max_iter=60)
    )


def test_chain_of_blobs_star_within_log_rounds(spark):
    """The round-7 scale-proof topology, minimized: replicated dup
    groups welded into chain-of-blob components (the sf0.2 media graph
    had three ~2000-node components of BFS diameter ~34, on which
    min-label propagation left 48 labels moving at round 30). 40
    4-cliques chained by bridges, ids scattered: the star kernel must
    resolve it within its logarithmic round budget and agree with
    (slow, high-budget) label propagation."""
    k, c = 4, 40  # clique size, clique count → diameter ~2c
    perm = {i: (i * 73) % (k * c) for i in range(k * c)}  # id scatter
    edges = []
    for b in range(c):
        ids = [perm[b * k + j] for j in range(k)]
        edges += [(a, bb) for a in ids for bb in ids if a < bb]
        if b:
            edges.append((perm[(b - 1) * k], perm[b * k]))  # bridge
    df = spark.createDataFrame(edges, "id_left long, id_right long")
    star = _components_dict(connected_components_star(df, max_iter=15))
    assert set(star.values()) == {0}
    assert len(star) == k * c
    assert star == _components_dict(connected_components(df, max_iter=200))


def test_production_dedup_chains_default_to_adaptive_kernel():
    """Every production dedup/cluster entry point must default to the
    ADAPTIVE kernel (use_star=None / algorithm="adaptive"): cheap
    min-label rounds with star escalation on non-convergence — both
    diameter-proof (regression pin for the round-7 sf0.2 media-chain
    non-convergence) and free of the always-star ~2× bench tax the
    round-7 near-dedup family paid. Pure min-label and always-star
    stay opt-in."""
    import inspect

    from ppack_spark.operators.ann import semantic_dedup_corpus
    from ppack_spark.operators.dedup import (
        near_dedup_corpus,
        near_dedup_keep_best,
        near_dup_components,
    )
    from ppack_spark.operators.multimodal import media_near_dedup
    from ppack_spark.plans.linker import Linker

    for fn in (
        near_dup_components,
        near_dedup_corpus,
        near_dedup_keep_best,
        media_near_dedup,
        semantic_dedup_corpus,
    ):
        assert inspect.signature(fn).parameters["use_star"].default is None, fn
    for fn in (Linker.cluster, Linker.cluster_links):
        assert (
            inspect.signature(fn).parameters["algorithm"].default == "adaptive"
        ), fn


def test_adaptive_kernel_shallow_graph_skips_star(spark, monkeypatch):
    """On a near-clique graph the adaptive kernel must finish inside
    its min-label prefix and NEVER call the star kernel — that is the
    entire point of the hybrid (the round-7 bench paid ~2× for star
    on graphs like this)."""
    from ppack_spark.operators import cluster as C

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("star kernel called for a near-clique graph")

    monkeypatch.setattr(C, "connected_components_star", _boom)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)],
        "id_left long, id_right long",
    )
    got = _components_dict(C.connected_components_adaptive(edges))
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_adaptive_kernel_deep_chain_escalates_and_agrees(spark):
    """The round-7 scale-proof topology again (chain of 4-cliques,
    diameter ~80): the adaptive kernel's min-label prefix cannot
    finish in 3 rounds, so it must contract and escalate to star —
    and the composed result must equal both reference kernels."""
    k, c = 4, 40
    perm = {i: (i * 73) % (k * c) for i in range(k * c)}
    edges = []
    for b in range(c):
        ids = [perm[b * k + j] for j in range(k)]
        edges += [(a, bb) for a in ids for bb in ids if a < bb]
        if b:
            edges.append((perm[(b - 1) * k], perm[b * k]))
    df = spark.createDataFrame(edges, "id_left long, id_right long")
    got = _components_dict(connected_components_adaptive(df))
    assert set(got.values()) == {0}
    assert len(got) == k * c
    assert got == _components_dict(connected_components_star(df, max_iter=15))


def test_adaptive_kernel_random_graph_parity(spark):
    """Deterministic pseudo-random graph: adaptive agrees with both
    reference kernels even when label_rounds=1 forces escalation on a
    partially-collapsed labelling."""
    rows = [((i * 131 + 7) % 97, (i * 31 + 3) % 97) for i in range(120)]
    edges = spark.createDataFrame(rows, "id_left long, id_right long")
    expect = _components_dict(connected_components_star(edges))
    assert _components_dict(connected_components_adaptive(edges)) == expect
    assert (
        _components_dict(connected_components_adaptive(edges, label_rounds=1))
        == expect
    )


def test_non_convergence_raises(spark):
    """Exhausting max_iter before the fixpoint must raise — silent
    partial propagation hands out wrong (split) component ids."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_left long, id_right long"
    )
    # pin the DISTRIBUTED kernel's contract — the driver union-find
    # path (which cannot fail to converge) would otherwise absorb a
    # graph this small
    with pytest.raises(RuntimeError, match="did not converge"):
        distributed(connected_components, edges, max_iter=2)


def test_driver_kernel_matches_distributed(spark, monkeypatch):
    """The small-graph driver union-find must agree bit-for-bit with
    every distributed kernel — on a long chain (worst case for
    min-label), a pseudo-random multigraph (duplicate + reversed
    edges), string node ids, and a graph with isolated self-loop
    nodes. At the bound: a graph of exactly PPACK_DRIVER_MAX_EDGES
    compared rows takes the driver path, one of bound+1 rows the
    distributed path, with identical output; the bound is set after
    import, so this also pins that it is read at call time. Each kernel
    compares its own row count: symmetrized rows for label/adaptive
    (10 for a 5-edge chain), oriented rows for star (5)."""
    cases = [
        spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_left long, id_right long"
        ),
        spark.createDataFrame(
            [((i * 131 + 7) % 53, (i * 31 + 3) % 53) for i in range(150)],
            "id_left long, id_right long",
        ),
        spark.createDataFrame(
            [("a:1", "b:2"), ("b:2", "a:3"), ("a:9", "a:9"), ("b:7", "b:8")],
            "id_left string, id_right string",
        ),
    ]
    for df in cases:
        driver = _components_dict(connected_components_star(df))
        assert driver == _components_dict(
            distributed(connected_components_star, df, max_iter=15)
        )
        assert driver == _components_dict(
            distributed(connected_components, df, max_iter=200)
        )
        assert driver == _components_dict(
            distributed(connected_components_adaptive, df)
        )
        # the label/adaptive kernels' driver paths agree too
        assert driver == _components_dict(connected_components(df))
        assert driver == _components_dict(connected_components_adaptive(df))

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_left long, id_right long"
    )
    want = {i: 0 for i in range(6)}
    paths = spy_driver_paths(monkeypatch, cluster)
    for kernel, n_rows in (
        (connected_components, 10),
        (connected_components_adaptive, 10),
        (connected_components_star, 5),
    ):
        for bound, path in ((n_rows, "driver"), (n_rows - 1, "distributed")):
            monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", str(bound))
            paths.clear()
            assert _components_dict(kernel(edges)) == want, (kernel, bound)
            # adaptive's escalation may add a star call on the
            # contracted graph; the first decision is the kernel's own
            assert paths[0] == path, (kernel, bound, paths)


@pytest.mark.parametrize("raw", ["abc", "-1"])
def test_driver_bound_malformed_raises_at_call(spark, monkeypatch, raw):
    """A malformed bound fails the call that reads it, naming the
    variable — not the import of the module."""
    edges = spark.createDataFrame([(1, 2)], "id_left long, id_right long")
    monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", raw)
    with pytest.raises(ValueError, match="PPACK_DRIVER_MAX_EDGES"):
        connected_components_adaptive(edges)


def test_collated_string_ids_take_distributed_path(spark, monkeypatch):
    """Under a non-binary collation Spark orders and compares ids
    differently from Python ("A" == "a", "a" < "B" under UTF8_LCASE),
    so the driver union-find would answer differently: such ids must
    get the distributed kernels' answer. Node values that are equal
    under the collation may come back in either case, so outputs are
    compared lower-cased."""
    edges = spark.createDataFrame(
        [("A", "a"), ("a", "B"), ("c", "D")],
        "id_left string collate UTF8_LCASE, id_right string collate UTF8_LCASE",
    )

    def lowered(df):
        return sorted(
            {(r["node"].lower(), r["component"].lower()) for r in df.collect()}
        )

    want = lowered(distributed(connected_components_adaptive, edges))
    assert want == [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")]
    paths = spy_driver_paths(monkeypatch, cluster)
    assert lowered(connected_components_adaptive(edges)) == want
    assert set(paths) == {"distributed"}


def test_linker_cluster_two_dataset_raises(spark, tables):
    """Two-dataset link edges span two id namespaces; untagged
    connected components would conflate A's record k with B's record
    k — cluster() must refuse, not corrupt."""
    customer = tables["customer"]
    a = customer.filter(F.col("c_custkey") % 2 == 0)
    b = customer.filter(F.col("c_custkey") % 2 == 1)
    spec = pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        blocking_rules=[pp.BlockingRule.on("c_nationkey")],
        comparisons=[pp.Comparison.exact("c_mktsegment")],
    )
    linker = pp.Linker(spark, a, b, spec)
    with pytest.raises(NotImplementedError, match="self-link"):
        linker.cluster()


def test_cluster_links_disambiguates_overlapping_id_domains(spark, tables):
    """cluster_links: A and B both 0-based-ish (overlapping c_custkey
    values after renumbering) — records from different sources sharing
    an id value must NOT be conflated into one node, and every record
    of both sides gets a cluster_id."""
    customer = tables["customer"]
    # force heavy id overlap: both sides renumbered into 0..n/2
    a = customer.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_custkey", F.col("c_custkey") / 2
    )
    b = customer.filter(F.col("c_custkey") % 2 == 1).withColumn(
        "c_custkey", (F.col("c_custkey") - 1) / 2
    )
    spec = pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        blocking_rules=[pp.BlockingRule.on("c_nationkey")],
        comparisons=[pp.Comparison.exact("c_mktsegment")],
    )
    linker = pp.Linker(spark, a, b, spec)
    linker.estimate(maxiter=3, u_sample_size=500)
    out = linker.cluster_links(threshold=0.5)
    assert out.count() == a.count() + b.count()
    rows = out.collect()
    # a record's cluster label always originates from a tagged node,
    # so an A-singleton can never carry a B-record's id (and vice versa)
    for r in rows:
        assert r["cluster_id"].startswith(("a:", "b:"))
    # same (source, id) maps to exactly one cluster; and the edge set
    # being cross-source only, any multi-member cluster contains at
    # most one record per (source, id)
    seen = {}
    for r in rows:
        key = (r["source"], r["c_custkey"])
        assert key not in seen
        seen[key] = r["cluster_id"]


def test_attach_cluster_ids_singletons(spark):
    records = spark.createDataFrame([(i,) for i in range(6)], "rid long")
    comps = connected_components(
        spark.createDataFrame([(0, 1), (2, 3)], "id_left long, id_right long")
    )
    out = attach_cluster_ids(records, comps, "rid").toPandas().set_index("rid")
    assert out.loc[0, "cluster_id"] == 0 and out.loc[1, "cluster_id"] == 0
    assert out.loc[2, "cluster_id"] == 2 and out.loc[3, "cluster_id"] == 2
    # records with no accepted pair are their own cluster
    assert out.loc[4, "cluster_id"] == 4 and out.loc[5, "cluster_id"] == 5


def test_linker_cluster_end_to_end(spark, tables):
    bal_diff = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    spec = pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        blocking_rules=[pp.BlockingRule.on("c_nationkey")],
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
    customer = tables["customer"]
    linker = pp.Linker(spark, customer, None, spec)
    linker.estimate(maxiter=3, u_sample_size=1000)
    clustered = linker.cluster(threshold=1.5)
    assert "cluster_id" in clustered.columns
    assert clustered.count() == customer.count()
    # cluster ids are the min member id, so every id >= its cluster id
    assert clustered.filter(F.col("cluster_id") > F.col("c_custkey")).count() == 0


def test_cluster_size_report_hand_fixture(spark):
    """{a,a,a,b,b,c} -> one size-3, one size-2, one size-1 cluster;
    n_records per row = size * n_clusters; ordered by size."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.cluster import cluster_size_report

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",), ("c",)], "cluster_id string"
    )
    rows = [r.asDict() for r in cluster_size_report(df).collect()]
    assert rows == [
        {"cluster_size": 1, "n_clusters": 1, "n_records": 1},
        {"cluster_size": 2, "n_clusters": 1, "n_records": 2},
        {"cluster_size": 3, "n_clusters": 1, "n_records": 3},
    ]
    assert cluster_size_report(df.filter("cluster_id = 'zz'")).collect() == []
