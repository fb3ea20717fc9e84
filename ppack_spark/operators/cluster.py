"""Cluster resolution: connected components over candidate-pair edges.

The reference stops at scored pairs and consumes ground-truth
``cluster`` ids for evaluation only (scratch.R:131-133) — it never
builds clusters itself. Resolving accepted pairs into entity clusters
(every record in a component is the same entity) is the standard final
step of a linkage/dedup pipeline (splink's ``cluster_pairwise_
predictions_at_threshold``), so the engine provides it.

One kernel, :func:`connected_components`, serves every chain. It
observes the graph and picks its own path:

* edge sets within the driver bound
  (:func:`~ppack_spark.operators.util.bounded_collect`) are solved by
  a driver union-find;
* otherwise it runs a few rounds of min-label propagation (each node
  adopts the smallest id among itself, its neighbours and its label's
  label). Entity-sized near-cliques (diameter 2–3), the common case,
  converge there;
* if labels still move, the graph is contracted through the partial
  labels and the alternating large-star/small-star algorithm (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
  finishes it in O(log n) rounds regardless of diameter. Real near-dup
  graphs grow long transitive chains (copy-of-a-copy drift), where
  min-label alone is O(diameter).

Every distributed round is a shuffle on the node id, and the lineage
is cut with ``cut_lineage`` (localCheckpoint + flat-stats reset — see
operators/util.py) so neither the plan tree nor Catalyst's
sizeInBytes estimate grows unboundedly.

Oracle: a DuckDB recursive CTE computes the reachability closure and
takes min(reachable) per node — exponentially worse than the Spark
plan but exact on fixture-sized inputs (plans/registry_data.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .util import bounded_collect, cut_lineage

__all__ = [
    "connected_components",
    "attach_cluster_ids",
    "cluster_size_report",
]

# Round cap of the star finisher. Star converges in O(log n) rounds,
# so hitting the cap means something is wrong; the finisher raises
# rather than hand out split components.
_STAR_MAX_ROUNDS = 50


def _label_round(e: DataFrame, labels: DataFrame) -> tuple[DataFrame, int]:
    """One min-label propagation round (neighbour min + pointer chase
    comp[comp[v]]), returning (new_labels, changed-count).
    ``new_labels`` is lineage-cut.

    The changed-count rides THROUGH the aggregation instead of joining
    new labels back to old (r14 optimization, guide §2.4): each node's
    old label is tagged onto its own ``labels`` row as ``__old`` (the
    nbr/ptr rows carry NULL, and every node has exactly one labels
    row, so ``min(__old)`` recovers it per group), and the count of
    ``component < __old`` is observed on the aggregate's own
    lineage-cut job — no join of new labels back to old (which
    re-shuffled BOTH node-sized label tables, the lineage cut having
    dropped the partitioning Catalyst needs to elide the exchanges)
    and no separate filter-count job.

    An observed metric can over-count when a stage is retried, never
    under-count: a spurious non-zero costs one more round, but the
    loop can never stop while a label still moves."""
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
    obs = Observation()
    agg = cut_lineage(
        merged.groupBy("node")
        .agg(
            F.min("component").alias("component"),
            F.min("__old").alias("__old"),
        )
        .observe(obs, F.count_if(F.col("component") < F.col("__old")).alias("changed"))
        .select("node", "component")
    )
    return agg, obs.get["changed"]


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): every strictly-larger neighbour of u links to
    m = min(Γ(u) ∪ {u}) (Kiveris et al. SoCC'14, Alg. 2 map/reduce as
    a groupBy-min + self-join — no per-node neighbour lists).

    PRECONDITION (maintained by the star loop, established by the
    finisher's orientation of its input): ``e`` is strictly oriented
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
    star loop's oriented input, so the greatest/least
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


def _driver_components(e: DataFrame, edges: list) -> DataFrame | None:
    """Solve a SMALL component graph on the driver: path-compressed
    union-find with union-by-min, so each root is the minimum id seen
    in its tree and the output is exactly the distributed path's
    (node, min-member-id) contract. ``edges`` are the collected
    ``(src, dst)`` rows of ``e``.

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


def _star_finish(oriented: DataFrame) -> DataFrame:
    """Finish a contracted graph with alternating large-star/small-star
    rounds: returns ``(node, component)`` with component = the min
    node id of its component, for at least every node that is not its
    component's min (the distributed fixpoint leaves the min out; the
    caller's coalesce maps it to itself).

    ``oriented`` must be strictly oriented (src > dst) and
    duplicate-free, as :func:`_large_star` requires. Each round is two
    groupBy-min + self-join passes over the (shrinking) edge set, with
    ``cut_lineage`` lineage cuts; at the fixpoint every edge is a star
    edge node → component-min. Raises if the fixpoint is not reached
    within ``_STAR_MAX_ROUNDS``."""
    e, rows = bounded_collect(oriented, "src", "dst")
    if rows is not None:
        solved = _driver_components(e, rows)
        if solved is not None:
            return solved
    sig = _edge_signature(e)
    for _ in range(_STAR_MAX_ROUNDS):
        e = cut_lineage(_small_star(_large_star(e)))
        new_sig = _edge_signature(e)
        if new_sig == sig:
            return e.select(
                F.col("src").alias("node"), F.col("dst").alias("component")
            )
        sig = new_sig
    raise RuntimeError(
        f"connected_components: the star finisher did not converge within "
        f"{_STAR_MAX_ROUNDS} rounds"
    )


def connected_components(
    edges: DataFrame,
    id_left: str = "id_left",
    id_right: str = "id_right",
    label_rounds: int = 3,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns ``(node, component)`` where ``component`` is the smallest
    node id in the node's connected component. Only nodes appearing in
    at least one edge are returned (singletons are their own component
    by definition and need no resolution).

    The kernel picks its path from what it observes (see the module
    docstring):

    1. a symmetrized edge set within the driver bound is solved by the
       driver union-find (:func:`_driver_components`) — identical
       output, none of the per-round job overhead;
    2. otherwise run up to ``label_rounds`` rounds of min-label
       propagation; the common near-clique case converges here;
    3. if labels still move, CONTRACT the graph through the partial
       labels — map each edge ``(u, v)`` to ``(label[u], label[v])``,
       drop self-loops, orient, distinct — and finish with the
       O(log n) star rounds (:func:`_star_finish`) on the contracted
       edge set, which is smaller by the factor the label rounds
       already collapsed (near-clique regions shrink to single nodes,
       so only the chain skeleton pays star rounds).

    Correctness of the composition: labels are minima over observed
    member ids, so every partial label IS a node id inside its
    component, and the component's global min node m always keeps
    ``label[m] = m`` (labels start at the own id, only decrease, and
    never go below the component min). The contracted graph therefore
    has the same component structure over a subset of node ids that
    includes each component's min, star returns that min, and
    ``final[node] = star_component[label[node]]`` (coalesced to the
    label itself where the label is a component min) is the exact
    (node, min-member-id) contract — gated against the recursive-CTE
    oracle by ``dedup_clusters`` (default rounds) and
    ``dedup_clusters_adaptive`` (``label_rounds=1``, which forces the
    contract-then-star path).
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
    # pointer chasing (comp[comp[v]], inside _label_round): one extra
    # equi-join of the (tiny, checkpointed) label table per round.
    # Helps when label chains align with the min-id gradient (measured
    # 10 → 4 rounds on the sf0.1 semantic-dedup chain graph) but does
    # NOT guarantee O(log d): where labels rest at local minima the
    # chase gains little, and convergence trends back toward
    # O(diameter) — the round-7 scale proof's ~2000-node chain-of-blob
    # media components (BFS diameter ~34) left 48 labels moving at
    # round 30. Hence only a few rounds, then star.
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
    # e is symmetrized, so both orientations of a contracted edge
    # appear; strict orientation + distinct keeps one
    contracted = (
        e.join(lab_src, "src")
        .join(lab_dst, "dst")
        .select(
            F.greatest("__ls", "__ld").alias("src"),
            F.least("__ls", "__ld").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    meta = _star_finish(contracted).select(
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
