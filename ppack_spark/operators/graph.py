"""Link-graph operators: fixed-iteration PageRank and degree reports.

A web-scale corpus build ranks its crawl frontier and weights its
host mix by LINK AUTHORITY, not just document counts — a host cited
by many other hosts outranks a crawler trap with a million self-made
pages. These operators take an edge list (host→host, url→url,
doc→doc — anything with src/dst columns) and compute:

* :func:`pagerank` — PageRank (Page, Brin, Motwani & Winograd 1999)
  run for a FIXED number of power iterations, with the standard
  damping-factor teleport and dangling-mass redistribution. Fixed
  iterations (not convergence-tested) keep the operator
  deterministic and engine-replayable: the trajectory is carried in
  FIXED-POINT integer units of 10^-``round_digits``, so every
  cross-node sum is an exact, order-independent integer sum — a
  strictly stronger determinization than the IVF trainer's rounded
  Lloyd means (operators/ann.py:ivf_index_fixed): decimal rounding
  alone still flips at .5 boundaries the sparse seeded trajectory
  systematically produces. A SQL oracle walks the identical
  trajectory with plain floor/sum arithmetic. Pass ``seeds`` for PERSONALIZED PageRank
  (Haveliwala 2002): teleport and dangling mass land on the seed
  distribution instead of uniformly — the crawl-frontier operator
  that ranks hosts by proximity to a trusted/topical seed set; with
  uniform seeds it degenerates exactly to the unseeded result.
* :func:`degree_report` — in/out degree and distinct-neighbor counts
  per node, the cheap pre-flight before trusting PageRank output
  (a node with out-degree 10^6 is an extraction bug signal).

Scale shape: per iteration, PageRank is one equi-join of the rank
vector with the normalized edge list plus one groupBy(dst) — both
shuffle on node keys only (ranks are (node, double, seed-share)
rows; the edge list is re-used with its share precomputed once). The
rank frame is lineage-cut between iterations
(operators/util.py:cut_lineage — the E112 iterative-loop contract)
so the plan does not grow with ``iters``. The final ``rank`` column
is minted by operators/util.py:distributed_rank — range-partitioned
local ranks plus bucket offsets — so NO node-table-sized frame ever
crosses a single-partition window (the r13 advisor's doc→doc-scale
concern). Graphs within the driver bound
(operators/util.py:bounded_collect) run the PageRank/HITS iteration
loops on the driver instead, bit-identically; above it the only driver
transfer is the seed-sum guard's 1-row action when ``seeds`` is passed.

Reference parity: the reference engine (nerskin/ppack) has no graph
surface; this extends the SURVEY.md §2e pipeline families with the
crawl-authority operators a 100 TB web-corpus build needs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import bounded_collect, cut_lineage, distributed_rank


def _edge_weights(
    edges: DataFrame, src: str, dst: str, weight: str | None
) -> DataFrame:
    """Collapse parallel edges to (src, dst, w): multiplicity counts
    (or weight sums) — one groupBy on the edge key."""
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    return (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .groupBy(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
        .agg(F.sum(w).alias("__w"))
        .filter(F.col("__w") > 0)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 3,
    round_digits: int = 9,
    seeds: DataFrame | None = None,
    seed_node: str = "node",
    seed_weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration (optionally personalized) PageRank over an
    edge list.

    Nodes are the union of sources and destinations; parallel edges
    act as weights (or pass ``weight``). Each iteration computes

        r'(v) = (1-d)·s(v) + d · (Σ_{u→v} r(u)·w(u,v)/out(u) + D·s(v))

    where s is the teleport distribution and D the total rank mass
    sitting on dangling nodes (no out-edges) — both land on s, so Σr
    stays 1 every iteration. Without ``seeds``, s is uniform (1/N —
    classic PageRank). With ``seeds`` (a frame of ``seed_node``
    [+ ``seed_weight``, default 1.0 each] rows), s is the seed
    weights normalized over the seeds that exist in the graph and 0
    elsewhere — personalized PageRank (Haveliwala 2002); a uniform
    all-node seed table reproduces the unseeded result exactly.
    Iteration 0 starts at s. Non-positive seed weights are ignored;
    if no positive-weight seed matches a graph node, raises
    ``ValueError`` (checked with one bounded 1-row action). The
    trajectory is carried in
    fixed-point integer units of 10^-``round_digits`` (see the inline
    comment — cross-engine determinism with no rounding-boundary
    luck); the returned ``pagerank`` is the integer rank divided back
    to a double.

    Returns ``(node, pagerank, rank)`` with rank the dense ordering
    by descending pagerank (node tie-break), minted by
    :func:`~ppack_spark.operators.util.distributed_rank` — no
    single-partition window over the node table (see module
    docstring). Empty edge input returns an empty, well-formed frame.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"pagerank: damping must be in (0, 1), got {damping}")
    if iters < 1:
        raise ValueError(f"pagerank: need iters >= 1, got {iters}")

    # Lazy local checkpoint of the collapsed edge list: every loop
    # iteration's jobs (the dang aggregate, the inflow join inside the
    # eager cut_lineage) re-execute their FULL upstream lineage, so
    # without the cut a caller-supplied edge derivation (e.g. the
    # authority-mix gate's regex URL canonicalization + two joins) is
    # recomputed 2×iters+2 times — the threshold_sweep_metrics /
    # key_skew_report pattern (eval.py), applied to the iterative loop.
    # ``shares`` and ``has_out`` are checkpointed too (edge-/node-
    # keyed, (key, double) rows) so per-iteration jobs scan
    # materialized RDDs instead of re-joining; the optimization guide's
    # "decide with small rows" shape — payload never persists, only
    # the share table any PageRank must hold per iteration anyway.
    ew = _edge_weights(edges, src, dst, weight).localCheckpoint(eager=False)
    nodes = (
        ew.select(F.col("__src").alias("node"))
        .unionByName(ew.select(F.col("__dst").alias("node")))
        .distinct()
    )
    outw = ew.groupBy("__src").agg(F.sum("__w").alias("__outw"))
    # Per-edge share of its source's rank — computed once, reused by
    # every iteration (the division happens edge-side so the join in
    # the loop is rank ⋈ shares, nothing else). Small share tables are
    # also collected for the driver loop (see _driver_pagerank).
    shares, share_rows = bounded_collect(
        ew.join(outw, "__src").select(
            "__src", "__dst", (F.col("__w") / F.col("__outw")).alias("__share")
        ),
        "__src",
        "__dst",
    )
    if seeds is None:
        # N rides along as a column: no driver-side count, the same
        # 1-row broadcast pattern as corpus_mix_report.
        ncnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
        svec = nodes.crossJoin(F.broadcast(ncnt)).select(
            "node", (F.lit(1.0) / F.col("__n")).alias("__s")
        )
    else:
        wcol = (
            F.col(seed_weight).cast("double")
            if seed_weight
            else F.lit(1.0)
        )
        sw = (
            seeds.filter(F.col(seed_node).isNotNull())
            .select(F.col(seed_node).alias("node"), wcol.alias("__w"))
            .filter(F.col("__w") > 0)
            .groupBy("node")
            .agg(F.sum("__w").alias("__w"))
        )
        matched = nodes.join(F.broadcast(sw), "node", "left")
        tot = matched.agg(
            F.coalesce(F.sum("__w"), F.lit(0.0)).alias("__tot")
        )
        # bounded 1-row guard action: an all-miss seed table would
        # otherwise produce a silent all-NULL rank vector. An EMPTY
        # graph is not an error — everything downstream is empty and
        # the well-formed empty frame falls out of the normal plan.
        if (tot.collect()[0]["__tot"] or 0.0) <= 0.0 and not nodes.isEmpty():
            raise ValueError(
                "pagerank: no positive-weight seed matches a graph node"
            )
        # the normalizing sum stays IN-PLAN (same 1-row broadcast as
        # the unseeded N) so the oracle's SQL sum sees the identical
        # arithmetic, not a driver-collected Python float
        svec = matched.crossJoin(F.broadcast(tot)).select(
            "node",
            (F.coalesce(F.col("__w"), F.lit(0.0)) / F.col("__tot")).alias(
                "__s"
            ),
        )
    # The trajectory is carried in INTEGER units of 10^-round_digits
    # (fixed-point): every cross-node SUM (inflow, dangling mass) is
    # an integer sum — exact and order-independent — and every float
    # step is a single correctly-rounded IEEE op on inputs both
    # engines hold bit-identically (s from one division, share from
    # one division, products of those). Rounding each value to a
    # shared decimal grid is NOT enough: a sparse seeded trajectory
    # systematically parks rank×share products ON the .5 rounding
    # boundary, where engines' summation order (or their round()
    # internals) flip the last digit — measured, not hypothetical.
    sc = float(10**round_digits)
    # the initial state is read by up to three subtrees of iteration
    # 1's jobs (rank side, inflow side, dangling aggregate) before the
    # first in-loop cut materializes anything — checkpoint it so the
    # seed/teleport derivation runs once
    ranks = svec.select(
        "node",
        F.floor(F.col("__s") * F.lit(sc) + F.lit(0.5))
        .cast("long")
        .alias("pr_i"),
        "__s",
    ).localCheckpoint(eager=False)
    if share_rows is not None:
        solved = _driver_pagerank(ranks, share_rows, damping, iters, sc)
        if solved is not None:
            return distributed_rank(
                solved, [F.desc("pagerank"), F.asc("node")], "rank"
            ).select("node", "pagerank", "rank")
    has_out = outw.select(F.col("__src").alias("node")).localCheckpoint(
        eager=False
    )
    for _ in range(iters):
        dang = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("pr_i"), F.lit(0).cast("long")).alias("__dang"))
        )
        # per-edge contribution floored to an integer BEFORE the sum —
        # the floor costs at most in-degree × 10^-round_digits of mass
        # per node and buys an order-independent integer aggregation
        inflow = (
            ranks.join(shares, ranks["node"] == shares["__src"])
            .groupBy(F.col("__dst").alias("node"))
            .agg(
                F.sum(
                    F.floor(F.col("pr_i") * F.col("__share")).cast("long")
                ).alias("__in")
            )
        )
        pre = F.lit(1.0 - damping) * F.col("__s") * F.lit(sc) + F.lit(
            damping
        ) * (
            F.coalesce(F.col("__in"), F.lit(0).cast("long")).cast("double")
            + F.col("__dang").cast("double") * F.col("__s")
        )
        ranks = cut_lineage(
            ranks.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.floor(pre + F.lit(0.5)).cast("long").alias("pr_i"),
                "__s",
            )
        )
    return distributed_rank(
        ranks.select("node", (F.col("pr_i") / F.lit(sc)).alias("pagerank")),
        [F.desc("pagerank"), F.asc("node")],
        "rank",
    ).select("node", "pagerank", "rank")


def _driver_pagerank(
    ranks: DataFrame,
    share_rows: list,
    damping: float,
    iters: int,
    sc: float,
) -> DataFrame | None:
    """The pagerank iteration loop on the driver, over the SAME
    Spark-computed (node, pr_i, __s) state and collected
    (__src, __dst, __share) rows: the trajectories are integer
    fixed-point by design, and every expression below mirrors the
    distributed loop's Column tree op for op (long sums exact either
    way; each float step one IEEE multiply/add/divide on bit-identical
    operands), so the trajectory is reproduced bit-for-bit. Everything
    before the loop (edge collapse, share division, seed
    normalization) stays in Spark. Returns ``None`` — caller continues
    with the distributed loop — on NULL state values."""
    import pyspark.sql.types as T

    pr: dict = {}
    s: dict = {}
    for r in ranks.collect():
        n, p, sv = r[0], r[1], r[2]
        if n is None or p is None or sv is None:
            return None
        pr[n] = p
        s[n] = sv
    # every source with positive out-weight has a share row
    out_nodes = {u for u, _, _ in share_rows}
    for _ in range(iters):
        dang = 0
        for n, p in pr.items():
            if n not in out_nodes:
                dang += p
        infl: dict = {}
        for u, v, share in share_rows:
            infl[v] = infl.get(v, 0) + math.floor(pr[u] * share)
        dang_d = float(dang)
        pr = {
            n: math.floor(
                (1.0 - damping) * sv * sc
                + damping * (float(infl.get(n, 0)) + dang_d * sv)
                + 0.5
            )
            for n, sv in s.items()
        }
    schema = T.StructType(
        [
            T.StructField("node", ranks.schema["node"].dataType, True),
            T.StructField("pagerank", T.DoubleType(), True),
        ]
    )
    return ranks.sparkSession.createDataFrame(
        [(n, pr[n] / sc) for n in pr], schema
    )


def degree_report(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node degree census over an edge list: total out/in edge
    counts (parallel edges counted) and distinct out/in neighbor
    counts. Returns ``(node, out_edges, in_edges, out_neighbors,
    in_neighbors, rank)`` ranked by descending in_edges (node
    tie-break) — the "who gets linked to" pre-flight. Two node-keyed
    aggregations + one outer merge; shuffles node keys only, and the
    rank is minted by ``distributed_rank`` (no single-partition
    window over the node table — see module docstring)."""
    e = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    out_d = e.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_edges"),
        F.countDistinct(F.col(dst)).alias("out_neighbors"),
    )
    in_d = e.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_edges"),
        F.countDistinct(F.col(src)).alias("in_neighbors"),
    )
    merged = out_d.join(in_d, "node", "full_outer").select(
        "node",
        F.coalesce("out_edges", F.lit(0)).cast("long").alias("out_edges"),
        F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
        F.coalesce("out_neighbors", F.lit(0)).cast("long").alias("out_neighbors"),
        F.coalesce("in_neighbors", F.lit(0)).cast("long").alias("in_neighbors"),
    )
    return distributed_rank(
        merged, [F.desc("in_edges"), F.asc("node")], "rank"
    ).select(
        "node", "out_edges", "in_edges", "out_neighbors", "in_neighbors", "rank"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 3,
    round_digits: int = 9,
) -> DataFrame:
    """Fixed-iteration HITS hubs & authorities (Kleinberg 1999) over
    an edge list — PageRank's companion readout for a crawl frontier:
    ``authority`` scores pages many good HUBS point at (content worth
    fetching), ``hub`` scores pages that point at many good
    AUTHORITIES (directory/index pages worth re-crawling for new
    links). Nodes are the union of sources and destinations; parallel
    edges act as weights (or pass ``weight``).

    Each iteration runs the two standard mutual updates, L1-normalized
    (the sum-to-1 variant — same fixed point direction as Kleinberg's
    L2 up to scale, but exactly replayable in integer arithmetic):

        a'(v) = Σ_{u→v} w(u,v)·h(u) / Σ_all   (authority <- hubs)
        h'(u) = Σ_{u→v} w(u,v)·a'(v) / Σ_all  (hub <- authorities)

    starting from the uniform hub vector. Like :func:`pagerank`, the
    trajectory is carried in FIXED-POINT integer units of
    10^-``round_digits``: per-edge contributions are floored to
    bigint before every cross-node sum (exact, order-independent in
    any engine), and each normalization is a single IEEE division of
    two bit-identical integers — so a SQL oracle replays the
    identical trajectory with plain floor/sum arithmetic.

    Scale shape: per iteration, two node-keyed equi-joins + two
    node-keyed groupBys over (node, bigint) rows — the same shuffle
    budget as two PageRank iterations; the state frame is
    lineage-cut between iterations (the E112 contract). Returns
    ``(node, hub, authority, rank)`` with rank the dense ordering by
    descending authority (node tie-break), minted by
    :func:`~ppack_spark.operators.util.distributed_rank`. Empty edge
    input returns an empty, well-formed frame. Reference parity: the
    reference engine (nerskin/ppack) has no graph surface; this
    extends the §2e crawl-authority family (E160/E165).
    """
    if iters < 1:
        raise ValueError(f"hits: need iters >= 1, got {iters}")
    # ``ew`` and ``nodes`` are read twice per iteration (both updates)
    # and the per-iteration inflow/next frames twice each (their
    # normalizing total + the next state) — all with lazy lineage, so
    # without checkpoints every reference re-executes the caller's
    # whole edge-derivation chain. Same cut discipline as
    # :func:`pagerank`: only edge-/node-keyed (key, long) frames ever
    # persist, never a payload.
    sc = float(10**round_digits)
    ew, edge_rows = bounded_collect(
        _edge_weights(edges, src, dst, weight), "__src", "__dst"
    )
    if edge_rows is not None:
        solved = _driver_hits(ew, edge_rows, iters, sc)
        if solved is not None:
            return distributed_rank(
                solved, [F.desc("authority"), F.asc("node")], "rank"
            ).select("node", "hub", "authority", "rank")
    nodes = (
        ew.select(F.col("__src").alias("node"))
        .unionByName(ew.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ncnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    # h0: uniform over ALL nodes (integer grid); a0 rides along as 0
    # until the first authority update overwrites it.
    state = nodes.crossJoin(F.broadcast(ncnt)).select(
        "node",
        F.floor(F.lit(sc) / F.col("__n") + F.lit(0.5)).cast("long").alias("h_i"),
        F.lit(0).cast("long").alias("a_i"),
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        araw = (
            state.join(ew, state["node"] == ew["__src"])
            .groupBy(F.col("__dst").alias("node"))
            .agg(
                F.sum(F.floor(F.col("__w") * F.col("h_i")).cast("long")).alias("__raw")
            )
            .localCheckpoint(eager=False)
        )
        atot = araw.agg(F.sum("__raw").alias("__tot"))
        a_next = (
            nodes.join(araw, "node", "left")
            .crossJoin(F.broadcast(atot))
            .select(
                "node",
                F.floor(
                    F.lit(sc)
                    * (
                        F.coalesce(F.col("__raw"), F.lit(0).cast("long")).cast("double")
                        / F.col("__tot").cast("double")
                    )
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("a_i"),
            )
            .localCheckpoint(eager=False)
        )
        hraw = (
            a_next.join(ew, a_next["node"] == ew["__dst"])
            .groupBy(F.col("__src").alias("node"))
            .agg(
                F.sum(F.floor(F.col("__w") * F.col("a_i")).cast("long")).alias("__raw")
            )
            .localCheckpoint(eager=False)
        )
        htot = hraw.agg(F.sum("__raw").alias("__tot"))
        h_next = (
            nodes.join(hraw, "node", "left")
            .crossJoin(F.broadcast(htot))
            .select(
                "node",
                F.floor(
                    F.lit(sc)
                    * (
                        F.coalesce(F.col("__raw"), F.lit(0).cast("long")).cast("double")
                        / F.col("__tot").cast("double")
                    )
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("h_i"),
            )
        )
        state = cut_lineage(h_next.join(a_next, "node"))
    scored = state.select(
        "node",
        (F.col("h_i") / F.lit(sc)).alias("hub"),
        (F.col("a_i") / F.lit(sc)).alias("authority"),
    )
    return distributed_rank(
        scored, [F.desc("authority"), F.asc("node")], "rank"
    ).select("node", "hub", "authority", "rank")


def _driver_hits(
    ew: DataFrame, edge_rows: list, iters: int, sc: float
) -> DataFrame | None:
    """The HITS iteration loop on the driver over the SAME
    Spark-computed collapsed (__src, __dst, __w) rows of ``ew`` —
    op-for-op mirror of the distributed loop (long contribution sums;
    one IEEE divide + multiply per normalized value), bit-identical
    trajectory. The node set is the edge endpoints (``_edge_weights``
    already dropped NULL ids). Returns ``None`` to fall back on a zero
    normalization total (the distributed NaN path is not worth
    replicating)."""
    import pyspark.sql.types as T

    node_list = list({n for u, v, _ in edge_rows for n in (u, v)})
    n_d = float(len(node_list))
    h0 = math.floor(sc / n_d + 0.5) if node_list else 0
    h = {n: h0 for n in node_list}
    a = {n: 0 for n in node_list}
    for _ in range(iters):
        araw: dict = {}
        for u, v, w in edge_rows:
            araw[v] = araw.get(v, 0) + math.floor(w * h[u])
        atot = sum(araw.values())
        if edge_rows and atot <= 0:
            return None
        atot_d = float(atot)
        a = {
            n: math.floor(sc * (float(araw.get(n, 0)) / atot_d) + 0.5)
            for n in node_list
        } if edge_rows else a
        hraw: dict = {}
        for u, v, w in edge_rows:
            hraw[u] = hraw.get(u, 0) + math.floor(w * a[v])
        htot = sum(hraw.values())
        if edge_rows and htot <= 0:
            return None
        htot_d = float(htot)
        h = {
            n: math.floor(sc * (float(hraw.get(n, 0)) / htot_d) + 0.5)
            for n in node_list
        } if edge_rows else h
    schema = T.StructType(
        [
            T.StructField("node", ew.schema["__src"].dataType, True),
            T.StructField("hub", T.DoubleType(), True),
            T.StructField("authority", T.DoubleType(), True),
        ]
    )
    return ew.sparkSession.createDataFrame(
        [(n, h[n] / sc, a[n] / sc) for n in node_list], schema
    )


def triangle_report(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts and local clustering
    coefficient over an edge list, treated as a simple UNDIRECTED
    graph (direction, parallel edges, and self-loops dropped) — the
    link-farm detector next to :func:`degree_report`: a crawler-trap
    ring links densely among itself (clustering ≈ 1 at high degree),
    while organically-cited hosts sit in sparse neighborhoods.

    Triangles are counted with the degree-ordered orientation
    (Suri & Vassilvitskii 2011's "last reducer" fix): every edge is
    oriented from its lower-(degree, node) endpoint to the higher, so
    each triangle has exactly one source node and is found once, and
    the wedge fan-out is bounded by the graph's arboricity-sized
    ORIENTED out-degrees instead of raw degrees — a high-degree hub
    generates no wedges at all (its edges all point toward it). Plan:
    two node-keyed joins build (u→v→w) paths, one edge-keyed join
    closes them, one groupBy counts per-node incidences; everything
    shuffles on node/edge keys only.

    Returns ``(node, degree, triangles, clustering)`` with
    ``clustering = 2·triangles / (degree·(degree−1))`` (0 when degree
    < 2), rounded to 6 decimals — plain integer-ratio arithmetic a
    SQL oracle replays exactly. Empty input returns a well-formed
    empty frame.
    """
    e = edges.filter(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    # ``und`` feeds both the degree count and the orientation join,
    # ``deg`` three consumers, and the oriented edge set ``o`` its
    # THREE self-join legs — with lazy lineage each leg re-executes
    # the whole dedup + degree + orientation chain. Checkpoint the
    # three (edge- and node-keyed id pairs only — the same per-edge
    # state any degree-ordered triangle count holds; Suri &
    # Vassilvitskii's oriented edge list IS the algorithm's working
    # set).
    und = e.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).distinct().localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    ed = und.join(da, "a").join(db, "b")
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=False)
    path = o.alias("o1").join(
        o.alias("o2"), F.col("o1.v") == F.col("o2.u")
    ).select(
        F.col("o1.u").alias("x"),
        F.col("o1.v").alias("y"),
        F.col("o2.v").alias("z"),
    )
    tri = path.join(
        o.alias("o3"),
        (F.col("x") == F.col("o3.u")) & (F.col("z") == F.col("o3.v")),
    ).select("x", "y", "z")
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(tcnt, "node", "left")
    t = F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
    d = F.col("degree")
    return out.select(
        "node",
        d.cast("long").alias("degree"),
        t.cast("long").alias("triangles"),
        F.round(
            F.when(
                d >= 2,
                F.lit(2.0) * t / (d * (d - F.lit(1.0))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering"),
    )
