"""Link-graph operators (operators/graph.py): fixed-iteration
PageRank and the degree census. The registry gates hash-check the
derived-graph chains against DuckDB; these tests pin the graph-theory
properties on hand-built graphs: mass conservation, symmetry, the
dangling-node convention, weighted edges, and hardening."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import (
    distributed,
    row_number_windows_without_partition,
    spy_driver_paths,
)

import ppack_spark.operators.graph as graph
from ppack_spark.operators.graph import degree_report, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_mass_conserved(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    pr = pagerank(e, iters=3)
    total = pr.agg(F.sum("pagerank")).collect()[0][0]
    # rounding to 6 per node per iteration bounds drift at ~n*5e-7
    assert abs(total - 1.0) < 1e-4


def test_pagerank_symmetric_cycle_is_uniform(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    rows = pagerank(e, iters=5).collect()
    vals = {r["pagerank"] for r in rows}
    assert len(vals) == 1
    assert abs(next(iter(vals)) - 1 / 3) < 1e-6


def test_pagerank_authority_ordering(spark):
    """Everyone links to 'hub'; hub links to one spoke. The hub must
    outrank every spoke, and the linked spoke outranks the others.
    The hub↔s1 2-cycle makes finite power iteration oscillate with
    period 2 (even counts transiently favor the spoke), so assert at
    an odd count where the decayed amplitude keeps hub on top."""
    e = _edges(
        spark,
        [("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "s1")],
    )
    got = {r["node"]: r for r in pagerank(e, iters=11).collect()}
    assert got["hub"]["rank"] == 1
    assert got["s1"]["pagerank"] > got["s2"]["pagerank"]
    assert got["s2"]["pagerank"] == got["s3"]["pagerank"]


def test_pagerank_dangling_mass_redistributed(spark):
    """'sink' has no out-edges: its rank mass must recirculate (total
    stays 1) instead of leaking."""
    e = _edges(spark, [("a", "sink"), ("b", "sink"), ("a", "b")])
    pr = pagerank(e, iters=8)
    total = pr.agg(F.sum("pagerank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-4
    got = {r["node"]: r["pagerank"] for r in pr.collect()}
    assert got["sink"] > got["a"]


def test_pagerank_weights_and_parallel_edges_agree(spark):
    """One weight-2 edge == the same edge twice."""
    dup = pagerank(
        _edges(spark, [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")]),
        iters=4,
    )
    w = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    weighted = pagerank(w, weight="w", iters=4)
    assert {tuple(r) for r in dup.collect()} == {
        tuple(r) for r in weighted.collect()
    }


def test_pagerank_empty_and_validation(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty)
    assert out.count() == 0
    assert out.columns == ["node", "pagerank", "rank"]
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="iters"):
        pagerank(e, iters=0)


def test_pagerank_null_endpoints_dropped(spark):
    e = spark.createDataFrame(
        [("a", "b"), (None, "b"), ("a", None), ("b", "a")],
        "src string, dst string",
    )
    nodes = {r["node"] for r in pagerank(e, iters=2).collect()}
    assert nodes == {"a", "b"}


def test_degree_report(spark):
    e = _edges(
        spark,
        [("a", "b"), ("a", "b"), ("a", "c"), ("c", "b"), ("b", "a")],
    )
    got = {r["node"]: r for r in degree_report(e).collect()}
    b = got["b"]
    assert (b["in_edges"], b["in_neighbors"], b["out_edges"]) == (3, 2, 1)
    a = got["a"]
    assert (a["out_edges"], a["out_neighbors"], a["in_edges"]) == (3, 2, 1)
    assert b["rank"] == 1  # most linked-to
    # source-only / sink-only nodes still appear with zero fills
    c = got["c"]
    assert (c["in_edges"], c["out_edges"]) == (1, 1)


def test_degree_report_empty(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    out = degree_report(empty)
    assert out.count() == 0
    assert "in_neighbors" in out.columns


# -------------------------------------------------- seeded pagerank

def test_pagerank_uniform_seeds_degenerate_to_unseeded(spark):
    """Personalized PageRank with a uniform all-node seed table must
    reproduce the classic result EXACTLY (same fixed-point
    trajectory), not just approximately."""
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    base = sorted(tuple(r) for r in pagerank(e, iters=3).collect())
    seeds = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "node string"
    )
    seeded = sorted(
        tuple(r) for r in pagerank(e, iters=3, seeds=seeds).collect()
    )
    assert base == seeded


def test_pagerank_seeded_mass_conserved_and_concentrated(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    seeds = spark.createDataFrame([("d", 1.0)], "node string, w double")
    pr = pagerank(e, iters=5, seeds=seeds, seed_weight="w")
    got = {r["node"]: r["pagerank"] for r in pr.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # the seed keeps its teleport floor; compare vs unseeded
    un = {r["node"]: r["pagerank"] for r in pagerank(e, iters=5).collect()}
    assert got["d"] > un["d"]


def test_pagerank_seed_weights_scale_invariant(spark):
    """Seed weights are normalized: (2, 1) == (4, 2)."""
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")])
    s1 = spark.createDataFrame(
        [("a", 2.0), ("b", 1.0)], "node string, w double"
    )
    s2 = spark.createDataFrame(
        [("a", 4.0), ("b", 2.0)], "node string, w double"
    )
    r1 = sorted(tuple(r) for r in
                pagerank(e, iters=3, seeds=s1, seed_weight="w").collect())
    r2 = sorted(tuple(r) for r in
                pagerank(e, iters=3, seeds=s2, seed_weight="w").collect())
    assert r1 == r2


def test_pagerank_seed_hardening(spark):
    e = _edges(spark, [("a", "b")])
    # no positive-weight seed matching a graph node -> raise
    with pytest.raises(ValueError, match="seed"):
        pagerank(e, seeds=spark.createDataFrame([("zz",)], "node string"))
    neg = spark.createDataFrame(
        [("a", -1.0), ("zz", 5.0)], "node string, w double"
    )
    with pytest.raises(ValueError, match="seed"):
        pagerank(e, seeds=neg, seed_weight="w")
    # duplicated seed rows sum, non-graph seeds are ignored
    dup = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("zz", 9.0)], "node string, w double"
    )
    single = spark.createDataFrame([("a", 2.0)], "node string, w double")
    assert sorted(
        tuple(r)
        for r in pagerank(e, iters=2, seeds=dup, seed_weight="w").collect()
    ) == sorted(
        tuple(r)
        for r in pagerank(e, iters=2, seeds=single, seed_weight="w").collect()
    )


# ------------------------------------------- distributed rank plans

def test_pagerank_rank_is_distributed(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert row_number_windows_without_partition(pagerank(e, iters=2)) == 0


def test_degree_report_rank_is_distributed(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    assert row_number_windows_without_partition(degree_report(e)) == 0


def test_distributed_rank_matches_global_window(spark):
    """distributed_rank == the single-partition row_number it
    replaces, on a frame big enough to span several range buckets."""
    from pyspark.sql import Window

    from ppack_spark.operators.util import distributed_rank

    df = spark.range(10_000).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000003).alias("score"),
    )
    got = {
        r["id"]: r["rank"]
        for r in distributed_rank(
            df, [F.desc("score"), F.asc("id")], "rank"
        ).collect()
    }
    want = {
        r["id"]: r["rank"]
        for r in df.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("id")))
            .cast("long"),
        ).collect()
    }
    assert got == want


# ----------------------------------------------------- HITS (E167)

from ppack_spark.operators.graph import hits  # noqa: E402


def test_hits_bipartite_separates_hubs_from_authorities(spark):
    """Pure hubs (out-edges only) get authority 0; pure authorities
    (in-edges only) get hub 0; both sides' scores are positive on
    their own axis."""
    e = _edges(
        spark,
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h3", "a2")],
    )
    got = {r["node"]: r for r in hits(e, iters=3).collect()}
    for h in ("h1", "h2", "h3"):
        assert got[h]["authority"] == 0.0
        assert got[h]["hub"] > 0.0
    for a in ("a1", "a2"):
        assert got[a]["hub"] == 0.0
        assert got[a]["authority"] > 0.0
    # h1 points at both authorities: the best hub
    assert got["h1"]["hub"] > got["h2"]["hub"]
    # a1 is cited by the two best hubs (h1, h2) vs a2's (h1, h3)
    assert got["a1"]["rank"] == 1


def test_hits_l1_mass_conserved(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    row = hits(e, iters=4).agg(
        F.sum("hub").alias("h"), F.sum("authority").alias("a")
    ).collect()[0]
    # fixed-point grid drift is bounded at ~n per-node half-ulps
    assert abs(row["h"] - 1.0) < 1e-4
    assert abs(row["a"] - 1.0) < 1e-4


def test_hits_symmetric_cycle_is_uniform(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    rows = hits(e, iters=5).collect()
    assert len({r["hub"] for r in rows}) == 1
    assert len({r["authority"] for r in rows}) == 1


def test_hits_parallel_edges_act_as_weights(spark):
    """Two parallel h1->a1 edges must beat a single h2->a2 edge on
    authority — multiplicity is weight, as in pagerank."""
    e = _edges(
        spark,
        [("h1", "a1"), ("h1", "a1"), ("h2", "a2")],
    )
    got = {r["node"]: r for r in hits(e, iters=3).collect()}
    assert got["a1"]["authority"] > got["a2"]["authority"]


def test_hits_weight_column(spark):
    e = spark.createDataFrame(
        [("h1", "a1", 3.0), ("h2", "a2", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r for r in hits(e, weight="w", iters=3).collect()}
    assert got["a1"]["authority"] > got["a2"]["authority"]


def test_hits_empty_edges_is_wellformed_empty(spark):
    e = _edges(spark, []).filter(F.lit(False))
    out = hits(e, iters=2)
    assert out.columns == ["node", "hub", "authority", "rank"]
    assert out.count() == 0


def test_hits_validates_iters(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="iters"):
        hits(e, iters=0)


def test_hits_rank_is_distributed(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert row_number_windows_without_partition(hits(e, iters=2)) == 0


# ------------------------------------------- triangle census (E172)

from ppack_spark.operators.graph import triangle_report  # noqa: E402


def test_triangles_k3_and_k4(spark):
    k3 = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    got = {r["node"]: r for r in triangle_report(k3).collect()}
    for n in "abc":
        assert got[n]["degree"] == 2
        assert got[n]["triangles"] == 1
        assert got[n]["clustering"] == 1.0
    k4 = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
    )
    got = {r["node"]: r for r in triangle_report(k4).collect()}
    for n in "abcd":
        assert got[n]["degree"] == 3
        assert got[n]["triangles"] == 3
        assert got[n]["clustering"] == 1.0


def test_triangles_path_has_none(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    got = {r["node"]: r for r in triangle_report(e).collect()}
    assert all(r["triangles"] == 0 for r in got.values())
    assert all(r["clustering"] == 0.0 for r in got.values())
    assert got["b"]["degree"] == 2


def test_triangles_k4_minus_edge(spark):
    """K4 minus (c,d): a and b sit in 2 triangles at degree 3
    (clustering 2/3); c and d in 1 at degree 2 (clustering 1)."""
    e = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")],
    )
    got = {r["node"]: r for r in triangle_report(e).collect()}
    assert got["a"]["triangles"] == 2 and got["b"]["triangles"] == 2
    assert got["c"]["triangles"] == 1 and got["d"]["triangles"] == 1
    assert got["a"]["clustering"] == pytest.approx(2 / 3, abs=1e-6)
    assert got["c"]["clustering"] == 1.0


def test_triangles_ignore_direction_parallels_loops(spark):
    """(a,b)+(b,a)+(a,a) collapse to ONE undirected simple edge; the
    reversed-closure triangle is still found once per corner."""
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("c", "a")],
    )
    got = {r["node"]: r for r in triangle_report(e).collect()}
    for n in "abc":
        assert got[n]["degree"] == 2
        assert got[n]["triangles"] == 1


def test_triangles_empty_edges(spark):
    e = _edges(spark, []).filter(F.lit(False))
    out = triangle_report(e)
    assert out.columns == ["node", "degree", "triangles", "clustering"]
    assert out.count() == 0


def _by_node(df):
    return {r["node"]: tuple(r)[1:] for r in df.collect()}


def test_graph_driver_loops_match_distributed(spark, monkeypatch):
    """The small-graph driver iteration paths must reproduce the
    distributed trajectories BIT-FOR-BIT (same Spark-computed shares /
    teleport / initial state, op-for-op float arithmetic) — weighted
    multigraph with dangling nodes, a seeded variant, and HITS — and
    the bound is inclusive: 5 collapsed edges run on the driver at
    bound 5 and distributed at bound 4, set after import."""
    from ppack_spark.operators.graph import hits

    rows = [
        ("a", "b", 2.0), ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 4.0),
        ("d", "a", 1.0), ("b", "e", 3.0),  # e is dangling
    ]
    e = spark.createDataFrame(rows, "src string, dst string, w double")

    for kw in ({}, {"weight": "w"}, {"iters": 5}):
        assert _by_node(pagerank(e, **kw)) == _by_node(
            distributed(pagerank, e, **kw)
        ), kw
    seeds = spark.createDataFrame([("a", 3.0), ("d", 1.0)], "node string, w double")
    assert _by_node(pagerank(e, seeds=seeds, seed_weight="w")) == _by_node(
        distributed(pagerank, e, seeds=seeds, seed_weight="w")
    )
    want_hits = _by_node(distributed(hits, e, weight="w"))
    assert _by_node(hits(e, weight="w")) == want_hits
    assert _by_node(hits(e)) == _by_node(distributed(hits, e))

    paths = spy_driver_paths(monkeypatch, graph)
    for bound, path in (("5", "driver"), ("4", "distributed")):
        monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", bound)
        paths.clear()
        assert _by_node(hits(e, weight="w")) == want_hits, bound
        assert paths == [path], (bound, paths)


@pytest.mark.parametrize("raw", ["abc", "-1"])
def test_graph_driver_bound_malformed_raises_at_call(spark, monkeypatch, raw):
    """A malformed bound fails the PageRank/HITS call that reads it,
    naming the variable; importing the modules with it set does not."""
    import subprocess
    import sys

    from ppack_spark.operators.graph import hits

    env = {**os.environ, "PPACK_DRIVER_MAX_EDGES": raw}
    subprocess.run(
        [sys.executable, "-c", "import ppack_spark.operators.graph"],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True,
    )
    e = _edges(spark, [("a", "b")])
    monkeypatch.setenv("PPACK_DRIVER_MAX_EDGES", raw)
    for fn in (pagerank, hits):
        with pytest.raises(ValueError, match="PPACK_DRIVER_MAX_EDGES"):
            fn(e)


def test_graph_collated_string_ids_take_distributed_path(spark, monkeypatch):
    """Under UTF8_LCASE Spark merges "A" and "a" into one node; the
    driver loops would keep two. PageRank and HITS must give the
    distributed answer (compared with lower-cased node names, since
    either spelling may represent the merged node)."""
    from ppack_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("A", "b"), ("a", "b"), ("b", "A"), ("b", "c")],
        "src string collate UTF8_LCASE, dst string collate UTF8_LCASE",
    )

    def lowered(df):
        return sorted((r["node"].lower(),) + tuple(r)[1:] for r in df.collect())

    paths = spy_driver_paths(monkeypatch, graph)
    for fn in (pagerank, hits):
        want = lowered(distributed(fn, e))
        assert [r[0] for r in want] == ["a", "b", "c"], fn
        paths.clear()
        assert lowered(fn(e)) == want, fn
        assert paths == ["distributed"], fn
