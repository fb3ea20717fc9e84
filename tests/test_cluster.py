"""Connected-components cluster resolution (operators/cluster.py)."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark.sql import functions as F

from conftest import distributed, spy_driver_paths

import ppack_spark as pp
import ppack_spark.operators.cluster as cluster
from ppack_spark.operators.cluster import attach_cluster_ids, connected_components


def _components_dict(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _reference_components(edges):
    """Independent reference: breadth-first search over the undirected
    edge list, mapping every node to the min id of its component."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict = {}
    for start in adj:
        if start in out:
            continue
        comp, frontier = {start}, deque([start])
        while frontier:
            for nb in adj[frontier.popleft()]:
                if nb not in comp:
                    comp.add(nb)
                    frontier.append(nb)
        root = min(comp)
        out.update((v, root) for v in comp)
    return out


def _assert_matches_reference(spark, rows, schema="id_left long, id_right long"):
    """The kernel's output equals the reference on the driver path
    (default), on the distributed path with the default label rounds,
    and on the distributed path with ``label_rounds=1``, which sends
    any graph one round does not finish through the star finisher."""
    df = spark.createDataFrame(rows, schema)
    want = _reference_components(rows)
    assert _components_dict(connected_components(df)) == want
    assert _components_dict(distributed(connected_components, df)) == want
    assert (
        _components_dict(distributed(connected_components, df, label_rounds=1))
        == want
    )


def _chain_of_blobs(k=4, c=40):
    """The round-7 scale-proof topology, minimized: ``c`` ``k``-cliques
    chained by bridges, ids scattered (diameter ~2c)."""
    perm = {i: (i * 73) % (k * c) for i in range(k * c)}  # id scatter
    edges = []
    for b in range(c):
        ids = [perm[b * k + j] for j in range(k)]
        edges += [(a, bb) for a in ids for bb in ids if a < bb]
        if b:
            edges.append((perm[(b - 1) * k], perm[b * k]))  # bridge
    return edges


def test_chain_triangle_and_separate_components(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ edge 11-12), isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_left long, id_right long",
    )
    got = _components_dict(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges(spark):
    """A diameter-40 chain, far past the label rounds: the distributed
    path must escalate to the star finisher and still agree."""
    _assert_matches_reference(spark, [(i, i + 1) for i in range(40)])


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


def test_kernel_matches_reference_with_self_loops(spark):
    """Mixed components plus a self-loop-only node (7, 7), which must
    come back as its own component."""
    _assert_matches_reference(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21), (7, 7)],
    )


def test_star_variant_long_chain_logarithmic_rounds(spark, monkeypatch):
    """A diameter-300 chain: min-label propagation would need ~300
    rounds; after one label round the star finisher must resolve the
    contracted chain within a logarithmic round cap."""
    monkeypatch.setattr(cluster, "_STAR_MAX_ROUNDS", 15)
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_left long, id_right long"
    )
    got = _components_dict(distributed(connected_components, edges, label_rounds=1))
    assert got == {i: 0 for i in range(n + 1)}


def test_star_variant_random_graph_parity(spark):
    """Deterministic pseudo-random multigraph (duplicate and reversed
    edges, self-loops)."""
    _assert_matches_reference(
        spark, [((i * 131 + 7) % 53, (i * 31 + 3) % 53) for i in range(150)]
    )


def test_chain_of_blobs_star_within_log_rounds(spark, monkeypatch):
    """The round-7 scale-proof topology (the sf0.2 media graph had
    three ~2000-node chain-of-blob components of BFS diameter ~34, on
    which min-label propagation left 48 labels moving at round 30):
    the kernel must resolve it with the star finisher held to a
    logarithmic round cap."""
    monkeypatch.setattr(cluster, "_STAR_MAX_ROUNDS", 15)
    edges = _chain_of_blobs()
    assert set(_reference_components(edges).values()) == {0}
    _assert_matches_reference(spark, edges)


def test_adaptive_kernel_shallow_graph_skips_star(spark, monkeypatch):
    """On a near-clique graph the distributed path must finish inside
    its min-label rounds and NEVER call the star finisher — the round-7
    bench paid ~2× for star on graphs like this."""

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("star finisher called for a near-clique graph")

    monkeypatch.setattr(cluster, "_star_finish", _boom)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)],
        "id_left long, id_right long",
    )
    got = _components_dict(distributed(connected_components, edges))
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_adaptive_kernel_deep_chain_escalates_and_agrees(spark, monkeypatch):
    """Chain of 4-cliques, diameter ~80: three label rounds cannot
    finish it, so the distributed path must contract and hand the
    result to the star finisher (a second driver-or-distributed
    decision), and the composed result must equal the reference."""
    edges = _chain_of_blobs()
    df = spark.createDataFrame(edges, "id_left long, id_right long")
    paths = spy_driver_paths(monkeypatch, cluster)
    got = _components_dict(distributed(connected_components, df))
    assert got == _reference_components(edges)
    assert paths == ["distributed", "distributed"]


def test_adaptive_kernel_random_graph_parity(spark):
    """A second deterministic pseudo-random graph (97 ids, 120
    edges)."""
    _assert_matches_reference(
        spark, [((i * 131 + 7) % 97, (i * 31 + 3) % 97) for i in range(120)]
    )


def test_label_round_observed_count_matches_filter_count(spark):
    """The changed-count ``_label_round`` observes on its lineage-cut
    job equals a separate count of nodes whose label fell, round by
    round, on a 6-node chain whose labels move for four rounds."""
    chain = [(i, i + 1) for i in range(5)]
    e = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    labels = spark.createDataFrame([(i, i) for i in range(6)], "node long, component long")
    seen = []
    while True:
        new, changed = cluster._label_round(e, labels)
        old = labels.select("node", F.col("component").alias("__old"))
        assert changed == new.join(old, "node").filter(F.col("component") < F.col("__old")).count()
        seen.append(changed)
        labels = new
        if changed == 0:
            break
    assert seen == [5, 4, 3, 1, 0]
    assert _components_dict(labels) == {i: 0 for i in range(6)}


def test_non_convergence_raises(spark, monkeypatch):
    """Exhausting the star round cap before the fixpoint must raise —
    silent partial propagation hands out wrong (split) component ids.
    The cap is lowered so a 12-edge chain, which one label round does
    not finish, cannot converge."""
    monkeypatch.setattr(cluster, "_STAR_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_left long, id_right long"
    )
    # pin the DISTRIBUTED path's contract — the driver union-find
    # (which cannot fail to converge) would otherwise absorb a graph
    # this small
    with pytest.raises(RuntimeError, match="did not converge"):
        distributed(connected_components, edges, label_rounds=1)


def test_driver_kernel_matches_distributed(spark, monkeypatch):
    """String node ids agree with the reference on every path. Then
    the two driver-or-distributed decisions at their bounds, on a
    5-edge chain: the kernel's own (10 symmetrized rows) and the star
    finisher's (4 oriented rows in the graph contracted by one label
    round). A frame of exactly PPACK_DRIVER_MAX_EDGES rows takes the
    driver path, one of bound+1 rows the distributed path, with
    identical output; the bound is set after import, so this also pins
    that it is read at call time."""
    _assert_matches_reference(
        spark,
        [("a:1", "b:2"), ("b:2", "a:3"), ("a:9", "a:9"), ("b:7", "b:8")],
        "id_left string, id_right string",
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_left long, id_right long"
    )
    want = {i: 0 for i in range(6)}
    paths = spy_driver_paths(monkeypatch, cluster)
    for bound, expect in (
        (10, ["driver"]),
        (9, ["distributed", "driver"]),
        (4, ["distributed", "driver"]),
        (3, ["distributed", "distributed"]),
    ):
        monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", str(bound))
        paths.clear()
        got = _components_dict(connected_components(edges, label_rounds=1))
        assert got == want, bound
        assert paths == expect, (bound, paths)


@pytest.mark.parametrize("raw", ["abc", "-1"])
def test_driver_bound_malformed_raises_at_call(spark, monkeypatch, raw):
    """A malformed bound fails the call that reads it, naming the
    variable — not the import of the module."""
    edges = spark.createDataFrame([(1, 2)], "id_left long, id_right long")
    monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", raw)
    with pytest.raises(ValueError, match="PPACK_DRIVER_MAX_EDGES"):
        connected_components(edges)


def test_collated_string_ids_take_distributed_path(spark, monkeypatch):
    """Under a non-binary collation Spark orders and compares ids
    differently from Python ("A" == "a", "a" < "B" under UTF8_LCASE),
    so the driver union-find would answer differently: such ids must
    get the distributed path's answer. Node values that are equal
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

    want = lowered(distributed(connected_components, edges))
    assert want == [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")]
    paths = spy_driver_paths(monkeypatch, cluster)
    assert lowered(connected_components(edges)) == want
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
