"""Cluster resolution: connected components over candidate-pair edges.

The reference stops at scored pairs and consumes ground-truth
``cluster`` ids for evaluation only (scratch.R:131-133) — it never
builds clusters itself. Resolving accepted pairs into entity clusters
(every record in a component is the same entity) is the standard final
step of a linkage/dedup pipeline (splink's ``cluster_pairwise_
predictions_at_threshold``), so the engine provides it.

Algorithm: iterative min-label propagation over the undirected edge
set — each node repeatedly adopts the smallest component id among
itself and its neighbours until a fixpoint. Convergence is
O(component diameter) joins; every iteration is a shuffle on the node
id and the lineage is cut with ``cut_lineage`` (localCheckpoint +
flat-stats reset — see operators/util.py) so neither the plan tree nor
Catalyst's sizeInBytes estimate grows
unboundedly. Min-label propagation suits graphs KNOWN to be
near-cliques (diameter 2-3 — e.g. exact-hash collision groups),
terminating in a handful of rounds; but real near-dup graphs grow
long transitive chains (copy-of-a-copy drift), where convergence is
O(diameter) and the loop exhausts ``max_iter``. The alternating
large-star/small-star variant (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014) converges in O(log n) rounds
regardless of diameter — provided as
:func:`connected_components_star` with the identical
(node, component) contract, and since round 7 it is the DEFAULT
kernel for every production dedup chain (near_dedup_corpus,
media_near_dedup, semantic_dedup_corpus, linkage clustering).

Oracle: a DuckDB recursive CTE computes the reachability closure and
takes min(reachable) per node — exponentially worse than the Spark
plan but exact on fixture-sized inputs (plans/registry_data.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import bounded_collect, cut_lineage

__all__ = [
    "connected_components",
    "connected_components_star",
    "connected_components_adaptive",
    "components_kernel",
    "attach_cluster_ids",
    "cluster_size_report",
]


def components_kernel(use_star: bool | None):
    """Shared kernel selector for the dedup/linkage chains' tri-state
    ``use_star`` flag: ``None`` (the default everywhere) →
    :func:`connected_components_adaptive`; ``True`` → always star;
    ``False`` → min-label propagation only."""
    if use_star is None:
        return connected_components_adaptive
    return connected_components_star if use_star else connected_components


def _label_round(e: DataFrame, labels: DataFrame) -> tuple[DataFrame, int]:
    """One min-label propagation round (neighbour min + pointer chase
    comp[comp[v]]), returning (new_labels, changed-count). Shared by
    :func:`connected_components` and the adaptive kernel's cheap
    prefix rounds. ``new_labels`` is lineage-cut.

    The changed-count rides THROUGH the aggregation instead of joining
    new labels back to old (r14 optimization, guide §2.4): each node's
    old label is tagged onto its own ``labels`` row as ``__old`` (the
    nbr/ptr rows carry NULL, and every node has exactly one labels
    row, so ``min(__old)`` recovers it per group), making the
    convergence check a narrow filter-count over the checkpointed
    aggregate — the old formulation re-shuffled BOTH node-sized label
    tables once per round, because the lineage cut drops the
    partitioning Catalyst would need to elide the join exchanges."""
    nbr = (
        e.join(labels, e["dst"] == labels["node"])
        .select(e["src"].alias("node"), F.col("component"))
    )
    ptr = (
        labels.alias("l")
        .join(labels.alias("m"), F.col("l.component") == F.col("m.node"))
        .select(
            F.col("l.node").alias("node"),
            F.col("m.component").alias("component"),
        )
    )
    merged = (
        labels.withColumn("__old", F.col("component"))
        .unionByName(nbr, allowMissingColumns=True)
        .unionByName(ptr, allowMissingColumns=True)
    )
    agg = cut_lineage(
        merged.groupBy("node").agg(
            F.min("component").alias("component"),
            F.min("__old").alias("__old"),
        )
    )
    changed = agg.filter(F.col("component") < F.col("__old")).count()
    return agg.select("node", "component"), changed


def connected_components(
    edges: DataFrame,
    id_left: str = "id_left",
    id_right: str = "id_right",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns ``(node, component)`` where ``component`` is the smallest
    node id in the node's connected component. Only nodes appearing in
    at least one edge are returned (singletons are their own component
    by definition and need no resolution).

    Symmetrized edge sets within the driver bound
    (:func:`~ppack_spark.operators.util.bounded_collect`) are solved
    with the driver union-find (:func:`_driver_components`) instead of
    distributed rounds — identical output, none of the per-round job
    overhead.
    """
    # materialize the narrow edge projection once: the symmetrizing
    # union's two legs (and nothing else) would otherwise each
    # re-execute the caller's whole edge-derivation chain — for the
    # dedup gates that is the LSH/verify pipeline, twice
    raw = edges.select(
        F.col(id_left).alias("src"), F.col(id_right).alias("dst")
    ).localCheckpoint(eager=False)
    # symmetrize once; propagation then only needs one direction
    e, rows = bounded_collect(
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        "src",
        "dst",
    )
    if rows is not None:
        solved = _driver_components(e, rows)
        if solved is not None:
            return solved

    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    changed = -1
    # pointer chasing (comp[comp[v]], inside _label_round): one extra
    # equi-join of the (tiny, checkpointed) label table per round.
    # Helps when label chains align with the min-id gradient (measured
    # 10 → 4 rounds on the sf0.1 semantic-dedup chain graph) but does
    # NOT guarantee O(log d): where labels rest at local minima the
    # chase gains little, and convergence trends back toward
    # O(diameter). The round-7 scale proof hit this on a replicated
    # media corpus — three ~2000-node chain-of-blob components of
    # BFS diameter ~34 left 48 labels still moving at round 30.
    # Production chains therefore default to the ADAPTIVE kernel
    # (:func:`connected_components_adaptive`), which pays these cheap
    # rounds only while they converge and escalates to star otherwise.
    for _ in range(max_iter):
        labels, changed = _label_round(e, labels)
        if changed == 0:
            break
    if changed != 0:
        # Silent partial propagation would hand out WRONG (split)
        # component ids for any component with diameter > max_iter.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"iterations ({changed} labels still changing); raise max_iter "
            "(diameter-bound) or switch to the large-star/small-star variant"
        )
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): every strictly-larger neighbour of u links to
    m = min(Γ(u) ∪ {u}) (Kiveris et al. SoCC'14, Alg. 2 map/reduce as
    a groupBy-min + self-join — no per-node neighbour lists).

    PRECONDITION (maintained by the star loop, established by the
    caller's up-front orientation pass): ``e`` is strictly oriented
    (src > dst on every row) and duplicate-free. The symmetrized
    union is then duplicate-free BY CONSTRUCTION — the original half
    has src > dst, the reversed half src < dst, so the r14
    optimization drops the per-round ``distinct`` exchange that used
    to re-dedup it. The OUTPUT keeps its distinct (different centers
    u can emit the same (v, m) edge) and is itself strictly oriented:
    v > u ≥ m for every emitted (v, m)."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mv")).select(
        "src", F.least("src", F.col("mv")).alias("m")
    )
    return (
        sym.join(mins, on="src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): all of u's ≤-neighbours (and u itself) link to
    the minimum of that set.

    PRECONDITION: ``e`` strictly oriented (src > dst) and
    duplicate-free — true for :func:`_large_star` output and for the
    star loop's normalized input, so the greatest/least
    re-orientation + ``distinct`` this step used to pay per round is
    a no-op and was dropped (r14). Output rows are strictly oriented
    (every emitted dst is a group minimum strictly below the src) and
    deduped by the final distinct."""
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = (
        e.join(mins, on="src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    own = mins.select("src", F.col("m").alias("dst"))
    return nbr.unionByName(own).distinct()


def _driver_components(
    e: DataFrame, edges: list, nodes: list | tuple = ()
) -> DataFrame | None:
    """Solve a SMALL component graph on the driver: path-compressed
    union-find with union-by-min, so each root is the minimum id seen
    in its tree and the output is exactly the distributed kernels'
    (node, min-member-id) contract. ``edges`` are the collected
    ``(src, dst)`` rows of ``e``; ``nodes`` contributes extra isolated
    nodes beyond the edge endpoints (the star kernel's self-loop-only
    nodes).

    Returns ``None`` — caller falls back to the distributed kernel —
    when any endpoint is NULL (equi-join NULL semantics are not worth
    replicating here).
    """
    import pyspark.sql.types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for v in nodes:
        if v is None:
            return None
        parent.setdefault(v, v)
    for a, b in edges:
        if a is None or b is None:
            return None
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    dtype = e.schema["src"].dataType
    rows = [(v, find(v)) for v in parent]
    schema = T.StructType(
        [
            T.StructField("node", dtype, True),
            T.StructField("component", dtype, True),
        ]
    )
    return e.sparkSession.createDataFrame(rows, schema)


def _edge_signature(e: DataFrame) -> tuple:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components_star(
    edges: DataFrame,
    id_left: str = "id_left",
    id_right: str = "id_right",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log n) rounds regardless of component
    DIAMETER, unlike min-label propagation's O(diameter) rounds —
    the swap-in for adversarial long-chain graphs.

    Same contract as :func:`connected_components`: returns
    ``(node, component)`` with component = min node id, only for nodes
    appearing in an edge; raises on non-convergence. Each round is two
    groupBy-min + self-join passes over the (shrinking) edge set, with
    ``cut_lineage`` lineage cuts (localCheckpoint + flat-stats reset)."""
    # materialize the narrow edge projection once: the node census and
    # the orientation pass below are separate jobs, and each would
    # otherwise re-execute the caller's whole edge-derivation chain
    raw = edges.select(
        F.col(id_left).alias("src"), F.col(id_right).alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        raw.select("src")
        .unionByName(raw.select(F.col("dst").alias("src")))
        .distinct()
        .transform(cut_lineage)
    )
    # strict (greatest, least) orientation up front: the loop's
    # _large_star/_small_star passes rely on it to skip their
    # per-round re-orientation/dedup exchanges (see their docstrings);
    # for undirected edges the orientation changes nothing semantically
    e, rows = bounded_collect(
        raw.select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "src",
        "dst",
    )
    if rows is not None:
        solved = _driver_components(e, rows, [r[0] for r in nodes.collect()])
        if solved is not None:
            return solved
    sig = _edge_signature(e)
    converged = False
    for _ in range(max_iter):
        e = cut_lineage(_small_star(_large_star(e)))
        new_sig = _edge_signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds"
        )
    # fixpoint edges are stars (node → component-min); roots and
    # isolated-after-dedup nodes map to themselves
    labels = e.select("src", F.col("dst").alias("component"))
    return (
        nodes.join(labels, on="src", how="left")
        .select(
            F.col("src").alias("node"),
            F.coalesce(F.col("component"), F.col("src")).alias("component"),
        )
    )


def connected_components_adaptive(
    edges: DataFrame,
    id_left: str = "id_left",
    id_right: str = "id_right",
    label_rounds: int = 3,
    max_iter: int = 50,
) -> DataFrame:
    """Hybrid components kernel: a few min-label rounds first, star
    only on demand.

    Real dedup graphs are overwhelmingly entity-sized near-cliques
    (diameter 2–3) where min-label propagation converges in 2–3 of its
    cheap rounds — always paying the star kernel's two groupBy-min +
    self-join passes per round there cost the round-7 bench ~1.8–2.0×
    across the near-dedup family. But adversarial chain components
    (copy-of-a-copy drift; the round-7 scale proof's diameter-34 media
    chains) make pure min-label O(diameter). This kernel takes both
    ends of the trade:

    1. run ``label_rounds`` rounds of min-label propagation (the
       common case converges here and never touches star);
    2. if labels still move, CONTRACT the graph through the partial
       labels — map each edge ``(u, v)`` to ``(label[u], label[v])``,
       drop self-loops, distinct — and finish with the O(log n)
       :func:`connected_components_star` on the contracted edge set,
       which is smaller by the factor the label rounds already
       collapsed (near-clique regions shrink to single nodes, so only
       the chain skeleton pays star rounds).

    Correctness of the composition: labels are minima over observed
    member ids, so every partial label IS a node id inside its
    component, and the component's global min node m always keeps
    ``label[m] = m`` (labels start at the own id, only decrease, and
    never go below the component min). The contracted graph therefore
    has the same component structure over a subset of node ids that
    includes each component's min, star returns that min, and
    ``final[node] = star_component[label[node]]`` (coalesced to the
    label itself where its group was already fully collapsed) is the
    exact (node, min-member-id) contract of the other two kernels —
    gated against the same recursive-CTE oracle.
    """
    # same single-evaluation cut as connected_components: both
    # symmetrizing legs read the materialized projection
    raw = edges.select(
        F.col(id_left).alias("src"), F.col(id_right).alias("dst")
    ).localCheckpoint(eager=False)
    e, rows = bounded_collect(
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        "src",
        "dst",
    )
    if rows is not None:
        solved = _driver_components(e, rows)
        if solved is not None:
            return solved

    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    changed = -1
    for _ in range(max(label_rounds, 1)):
        labels, changed = _label_round(e, labels)
        if changed == 0:
            return labels

    lab_src = labels.select(
        F.col("node").alias("src"), F.col("component").alias("__ls")
    )
    lab_dst = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("__ld")
    )
    contracted = (
        e.join(lab_src, "src")
        .join(lab_dst, "dst")
        .select(F.col("__ls").alias("src"), F.col("__ld").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(cut_lineage)
    )
    meta = connected_components_star(
        contracted, "src", "dst", max_iter=max_iter
    ).select(
        F.col("node").alias("__lbl"), F.col("component").alias("__meta")
    )
    return (
        labels.join(meta, labels["component"] == meta["__lbl"], "left")
        .select(
            "node",
            F.coalesce(F.col("__meta"), F.col("component")).alias("component"),
        )
    )


def attach_cluster_ids(
    records: DataFrame,
    components: DataFrame,
    unique_id: str,
) -> DataFrame:
    """Join resolved component ids back to the record table; records
    with no accepted pair keep their own id as a singleton cluster."""
    comp = components.select(
        F.col("node").alias(unique_id), F.col("component").alias("cluster_id")
    )
    return records.join(comp, on=unique_id, how="left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(unique_id))
    )


def cluster_size_report(
    assignments: DataFrame,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Cluster-size distribution — the pre-flight a dedup/linkage run
    reads BEFORE acting on its closure: one row per observed cluster
    size with how many clusters have it and how many records they
    hold. A mega-cluster (transitive chaining through borderline
    pairs — the failure verified-LSH candidates exist to prevent)
    shows up as a large ``cluster_size`` row holding a visible share
    of ``n_records``; a healthy dedup shows mass at size 1-3. Read it
    next to :func:`ppack_spark.eval.bcubed_metrics` / ARI: those score
    against a truth label, this one needs none.

    Plan shape: one groupBy on the cluster label (map-side partial
    agg, O(records) shuffle keyed on labels — the same key the
    closure already shuffled on), then a groupBy on the SIZE — a
    size-distribution-sized frame (≤ distinct sizes, in practice
    dozens of rows at any corpus scale). Nothing pair-sized, nothing
    collected.

    Returns ``cluster_size, n_clusters, n_records`` (``n_records`` =
    size × n_clusters), ordered by size. Pass the output of
    :func:`attach_cluster_ids` / ``Linker.cluster()`` (or any frame
    with one row per record carrying its cluster label — coalesce
    singletons to the record id first if they are absent)."""
    sizes = assignments.groupBy(F.col(cluster_col).alias("__c")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_records"),
        )
        .orderBy("cluster_size")
    )
