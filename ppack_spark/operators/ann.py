"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force cosine top-k: correctness
  baseline, O(|queries| × |corpus|). The dot product is a JVM
  higher-order ``aggregate(zip_with(...))`` — no Python, codegen'd.
  Queries are broadcast (they are the small side by construction).
* :func:`hyperplane_lsh_buckets` / :func:`cosine_topk_lsh` — the scale
  path: random-hyperplane LSH (sign sketch). Vectors that share a
  bucket are cosine-close with high probability; top-k search then
  only scans the query's bucket (and optionally its Hamming-1
  neighbors). Hyperplanes are derived deterministically from md5 of
  (plane, dim) so the whole operator stays seedless-reproducible and
  oracle-friendly.
* :func:`embedding_near_dup_pairs` — near-duplicate detection by
  cosine threshold within blocks (the embedding analogue of
  dedup.ngram_jaccard_pairs).
* :func:`cosine_topk_ivf` / :func:`cosine_topk_pq` /
  :func:`cosine_topk_ivfpq` — the trained-index family: k-means
  inverted lists bound the scan fraction, product-quantization codes
  bound bytes-per-candidate (ADC lookup-table scoring + exact re-rank
  of the shortlist), and the combined IVF+PQ form shrinks both
  multiplicatively — the FAISS-IVFPQ architecture, recall-gated in
  tests/test_ann.py.

Each trained index has two twins, and both stay for a measured reason
(sf0.1 ``embeddings``, 20 queries, recall@10 against
:func:`cosine_topk`; ``tools/ann_twins.py`` reruns the measurement):

* :func:`ivf_index` (Spark-ML k-means) / :func:`pq_train` (numpy on a
  driver sample) and the scan query paths :func:`cosine_topk_pq` /
  :func:`cosine_topk_ivfpq` beat their ``_fixed`` twins on build+query
  time and on recall, by more than the twins' IQR and 0.02; and only
  :func:`pq_train` serves ``m*k > 4 * LITERAL_ASSIGN_MAX_K``.
* :func:`ivf_index_fixed` / :func:`pq_train_fixed` and the ``_fixed``
  query paths are md5-seeded, rounded-Lloyd and literal-argmin, so a
  SQL oracle replays them bit-for-bit: they are the only hash-gated
  rows of the trained-index family.

The twins differ in trainers, encoders and ADC scorers only. Every
query tail after them is written once: :func:`_probes` (query → its
nearest lists), :func:`_rerank` (ADC shortlist → exact-cosine
re-rank, the filter-then-verify shape of compressed-index search) and
:func:`_topk` (the per-query ``row_number`` cut every search path
ends with).

At 100 TB the corpus side streams through executors partition-by-
partition while the query side is broadcast; for corpus×corpus
problems use the LSH bucketing so the join is on bucket ids, never a
cross product.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import spread

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "hyperplane_lsh_buckets",
    "cosine_topk_lsh",
    "ivf_index",
    "cosine_topk_ivf",
    "pq_train",
    "pq_encode",
    "cosine_topk_pq",
    "cosine_topk_ivfpq",
    "ivf_index_fixed",
    "ivf_index_append",
    "assign_to_centroids",
    "pq_train_fixed",
    "cosine_topk_pq_fixed",
    "cosine_topk_ivfpq_fixed",
    "semantic_dedup_corpus",
    "topk_recall",
]


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk(df: DataFrame, k: int, score: str, tie: str, rank: str = "rank") -> DataFrame:
    """The per-query cut: number each ``query_id``'s rows by
    (``score`` desc, ``tie`` asc) into ``rank`` and keep ranks ≤ ``k``.
    The id tie-break makes every top-k, shortlist and probe set
    deterministic and oracle-replayable (the SQL side is the same
    ``row_number``)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(tie))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _probes(
    queries: DataFrame, cent_df: DataFrame, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """Query → its ``n_probe`` nearest centroids by cosine
    (centroid-id tie-break): a broadcast cross join on the tiny
    centroid table. Returns (query_id, __qv, centroid)."""
    qc = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("__cd", cosine(F.col("__qv"), F.col("centroid_vec")))
    )
    return _topk(qc, n_probe, "__cd", "centroid", "__cr").select(
        "query_id", "__qv", "centroid"
    )


def _rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Second stage of every PQ path: cut each query's ADC candidates
    (query_id, __nid, adc_score) to its ``shortlist`` best, fetch the
    true vectors of the shortlist only — O(queries · shortlist)
    vectors, never the corpus — and return the exact-cosine top-k
    (query_id, neighbor_id, cos_sim, rank)."""
    short = _topk(cand, shortlist, "adc_score", "__nid", "__r").select(
        "query_id", "__nid"
    )
    cvec = corpus.select(F.col(id_col).alias("__nid"), F.col(vec_col).alias("__cv"))
    qvec = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    rer = (
        short.join(cvec, "__nid")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            F.col("__nid").alias("neighbor_id"),
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    return _topk(rer, k, "cos_sim", "neighbor_id")


def _empty_topk(queries: DataFrame, corpus: DataFrame, id_col: str) -> DataFrame:
    """The (query_id, neighbor_id, cos_sim, rank) result of an empty
    query set, for the paths that collect queries to the driver and
    cannot build a lookup table from none. Neighbor ids come from the
    CORPUS side: query and corpus id types may differ, and the schema
    must match the non-empty path's."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    return queries.sparkSession.createDataFrame([], StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("neighbor_id", corpus.schema[id_col].dataType),
        StructField("cos_sim", DoubleType()),
        StructField("rank", IntegerType()),
    ]))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Returns (query_id, neighbor_id, cos_sim, rank). Self-matches are
    excluded. Ranking uses the rounded similarity with id tie-break so
    results are deterministic and oracle-comparable across engines.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    cos = cosine(F.col("__qv"), F.col("__cv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    return _topk(scored, k, "cos_sim", "neighbor_id")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """Pairs with cosine similarity above ``threshold`` (embedding
    near-dup dedup). Block on ``block_col`` at scale."""
    df = spread(df)
    left = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_left"), F.col(vec_col).alias("__vl"),
    )
    right = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_right"), F.col(vec_col).alias("__vr"),
    )
    joined = (
        left.join(right, on=[block_col]) if block_col else left.crossJoin(right)
    ).filter(F.col("id_left") < F.col("id_right"))
    cos = F.round(cosine(F.col("__vl"), F.col("__vr")), round_digits)
    return (
        joined.select("id_left", "id_right", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") > threshold)
    )


def _hyperplane(plane: int, dims: int) -> Column:
    """Deterministic pseudo-random hyperplane: component d is
    md5(plane:d) mapped to [-1, 1). Stateless, reproducible, and
    expressible in oracle SQL with the same md5/hex arithmetic.

    The components are computed DRIVER-SIDE with hashlib (bit-identical
    to Spark's md5/conv/substring chain) and emitted as literals:
    Catalyst does not constant-fold the md5 expression tree, so the
    in-plan form re-hashed every (plane, dim) pair PER ROW — ~384
    md5 calls per row at 64 dims × 6 planes, a 6× slowdown measured at
    sf0.1 and a per-row scan tax at 100 TB. The oracle replays the
    same derivation symbolically; equality of the two forms is
    asserted in tests/test_ann.py."""
    import hashlib

    comps = []
    for d in range(dims):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16)
        comps.append(float(h) / float(2**31) - 1.0)
    # one array literal, not `dims` unrolled F.lit nodes — same
    # values, a fraction of the Catalyst analysis work per plane
    return F.lit(comps)


def hyperplane_lsh_buckets(
    df: DataFrame,
    dims: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-sketch bucket id per vector: bit b = 1 iff v·plane_b > 0."""
    bucket = F.lit(0).cast("long")
    for b in range(n_planes):
        s = dot(F.col(vec_col), _hyperplane(b, dims))
        bucket = bucket + F.when(s > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids over the corpus, each
    vector assigned to its nearest centroid's inverted list.

    Returns ``(assigned, centroids)``: the corpus with a ``centroid``
    bucket column, and the centroid table ``(centroid, centroid_vec)``.
    Training samples/aggregates are Spark ML's distributed k-means;
    at 100 TB one trains on a sample and assigns the full corpus with
    the broadcast centroid set (exactly what the model transform does).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
    if feat.limit(1).count() == 0:
        raise ValueError(
            "ivf_index: cannot train a coarse quantizer on an empty "
            "corpus — the index-build contract requires data (score an "
            "empty corpus with cosine_topk instead)"
        )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__features", predictionCol="centroid"
    ).fit(feat)
    assigned = model.transform(feat).drop("__features")
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        centroids, f"centroid int, centroid_vec array<double>"
    )
    return assigned, cent_df


# Above this list count, ivf_index_fixed assigns vectors via a
# broadcast join instead of the unrolled literal-argmin projection:
# the literal expression tree is O(n_centroids * dims) nodes, and at
# IVF-realistic k (4k-65k lists) Catalyst analysis + codegen on it
# would dominate (or outright fail to compile to one method), while a
# broadcast hash join + map-side-combined min_by aggregation is the
# standard scale shape.
LITERAL_ASSIGN_MAX_K = 256


def _assign_broadcast(base: DataFrame, cents: dict[int, list[float]], id_col: str) -> DataFrame:
    """Nearest-centroid assignment for large centroid sets: broadcast
    the (k x dims) centroid table, score every (vector, centroid) pair
    with the SAME zip_with+aggregate squared-L2 fold as the literal
    path (identical fp evaluation order -> identical distances, so the
    two paths and the SQL oracle agree bit-for-bit), then keep each
    vector's lexicographic-min (d2, centroid) struct. The groupBy is
    partially aggregated map-side, so the shuffle carries one row per
    vector, not k."""
    spark = base.sparkSession
    cdf = spark.createDataFrame(
        sorted((cid, [float(x) for x in vec]) for cid, vec in cents.items()),
        "c int, cvec array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        base.join(F.broadcast(cdf))
        .select(F.col(id_col), F.struct(d2.alias("d"), F.col("c")).alias("__dc"))
        .groupBy(id_col)
        .agg(F.min("__dc").alias("__best"))
        .select(F.col(id_col), F.col("__best")["c"].alias("centroid"))
    )
    return base.join(best, id_col).select(id_col, "__v", "centroid")


def assign_to_centroids(
    base: DataFrame,
    cents: dict[int, list[float]],
    id_col: str,
) -> DataFrame:
    """Nearest-centroid assignment (argmin squared-L2, centroid-id
    tie-break) against a driver-side centroid dict, routed by
    ``len(cents)``: up to ``LITERAL_ASSIGN_MAX_K`` centroids the
    distances are a plan literal — a ZERO-SHUFFLE codegen projection
    (argmin via array_min over (d2, centroid) structs, whose
    lexicographic ordering IS the (d2 asc, centroid asc) tie-break the
    SQL oracle's row_number replays); above, the broadcast-join +
    map-side-combined min path (same zip_with+aggregate fold, so
    distances are bit-identical either way). ``base`` carries (id,
    ``__v`` array<double>); returns (id, __v, centroid)."""
    if len(cents) > LITERAL_ASSIGN_MAX_K:
        return _assign_broadcast(base, cents, id_col)
    return base.withColumn(
        "centroid", nearest_centroid_col(cents, F.col("__v"))
    ).select(id_col, "__v", "centroid")


def _with_centroid(
    df: DataFrame,
    cents: dict[int, list[float]],
    id_col: str,
    vec_col: str,
    base: DataFrame | None = None,
) -> DataFrame:
    """``df`` plus its nearest-centroid ``centroid`` column, routed
    like :func:`assign_to_centroids`: up to ``LITERAL_ASSIGN_MAX_K``
    centroids the argmin is stamped in place as a projection (no
    staging frame, no re-attach join); above, the broadcast
    assignment of ``base`` — ``df``'s (id, ``__v``) frame, built here
    unless the caller already holds it materialized — joins back by
    id."""
    vec = F.col(vec_col).cast("array<double>")
    if len(cents) <= LITERAL_ASSIGN_MAX_K:
        return df.withColumn("centroid", nearest_centroid_col(cents, vec))
    if base is None:
        base = df.select(F.col(id_col), vec.alias("__v"))
    return (
        assign_to_centroids(base, cents, id_col)
        .join(df, id_col)
        .select(*df.columns, "centroid")
    )


def _nearest(vec: Column, rows: list) -> Column:
    """Position of the vector in ``rows`` nearest to ``vec`` by
    squared L2, the lower position on ties: ``rows`` enters the plan
    as ONE nested-array literal scanned by a ``transform`` lambda, and
    the argmin is the array_min of (d², position) structs. The
    per-element fold is zip_with + left-to-right aggregate, the order
    the SQL oracle replays."""
    cb = F.lit([[float(x) for x in r] for r in rows])
    return F.array_min(
        F.transform(
            cb,
            lambda cvec, i: F.struct(
                F.aggregate(
                    F.zip_with(vec, cvec, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("c"),
            ),
        )
    )["c"]


def nearest_centroid_col(cents: dict[int, list[float]], vec) -> "F.Column":
    """The literal-path argmin as a plain Column over ``vec`` (an
    array<double> expression): lets consumers stamp the centroid as a
    zero-shuffle projection on ANY frame — no (id, __v) staging frame
    and no re-attach join. Same fold, same lexicographic (d2, c)
    tie-break as :func:`assign_to_centroids`.

    The centroid table enters the plan as ONE nested-array literal
    scanned by a ``transform`` lambda, NOT k unrolled struct
    subtrees: the unrolled form is O(k·dims) expression nodes and
    Catalyst analysis + codegen on it dominates small jobs (measured
    15.5 s -> 2.3 s for the k=16×8-subspace PQ encode on a 2 000-row
    corpus; identical codes). The per-element fp fold is unchanged
    (zip_with + left-to-right aggregate), so distances — and the
    argmin — are bit-identical to the unrolled form and to the SQL
    oracle's replay."""
    cids = sorted(cents)
    idx = _nearest(vec, [cents[c] for c in cids])
    if cids == list(range(len(cids))):
        return idx
    # non-contiguous centroid ids: positional order == sorted-cid
    # order, so the (d, position) min picks the same centroid; map
    # the position back to its id
    return F.element_at(F.lit(cids), idx + F.lit(1))


def ivf_index_fixed(
    corpus: DataFrame,
    dims: int,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
):
    """Deterministic, ENGINE-REPLAYABLE IVF coarse quantizer: the same
    inverted-list index as :func:`ivf_index`, but every step is a
    closed-form expression a SQL oracle can replay bit-for-bit —
    giving the IVF plan family a hash-checked driver row where the
    Spark-ML k-means (iterative, seed-dependent internals) cannot be
    followed by DuckDB.

    * Seeds: the ``n_centroids`` vectors ranked first by
      ``md5(id || ':ivfseed')`` (id tie-break) — a seedless,
      engine-neutral sample, same trick as the LSH hyperplanes.
      Selection is a global top-n (``orderBy().limit()`` lowers to
      TakeOrderedAndProject — no full sort) and the n seed rows are
      collected driver-side (bounded by n_centroids, like the PQ
      codebooks).
    * ``iters`` Lloyd rounds: assign = argmin squared-L2 against the
      centroids as plan LITERALS — a zero-shuffle codegen projection
      (fold evaluation order fixed by zip_with+aggregate, so distances
      are bit-identical across engines); update = per-dimension mean
      ROUNDED to
      ``round_digits`` — summation order is partition-dependent in
      any engine, the rounding collapses that last-ulp noise so Spark
      and the oracle walk identical centroid trajectories. Empty
      clusters keep their previous centroid.

    Returns ``(assigned, centroids)`` shaped exactly like
    :func:`ivf_index`. Scale shape: each round is one broadcast
    nearest-centroid map pass + one partial-aggregated groupBy of
    n_centroids×dims cells; the corpus never shuffles by centroid
    until a consumer asks it to. Assignment routes by the number of
    centroids (:func:`assign_to_centroids` in the Lloyd rounds,
    :func:`_with_centroid` for the returned lists, which
    :func:`ivf_index_append` shares): up to ``LITERAL_ASSIGN_MAX_K``
    lists it is the zero-shuffle literal projection; above, the
    broadcast-join + map-side-combined min_by path (same fold,
    bit-identical distances — agreement is regression-tested across
    the threshold).
    """
    if n_centroids < 1 or iters < 0:
        raise ValueError(f"need n_centroids >= 1, iters >= 0: {n_centroids}, {iters}")
    spark = corpus.sparkSession
    # materialize (id, cast vector) once: the seed job, every Lloyd
    # round, and (above LITERAL_ASSIGN_MAX_K lists) the final broadcast
    # assignment all re-read this narrow frame — without the cut each
    # of those jobs re-scans the source and re-casts the vectors
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).localCheckpoint(eager=False)
    seed_rows = (
        base.withColumn(
            "__h", F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":ivfseed")))
        )
        .orderBy("__h", id_col)
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        raise ValueError(
            "ivf_index_fixed: cannot seed a quantizer from an empty corpus"
        )
    prev = {i: list(r["__v"]) for i, r in enumerate(seed_rows)}
    for _ in range(iters):
        asg = assign_to_centroids(base, prev, id_col)
        means = asg.groupBy("centroid").agg(
            *[
                F.round(F.avg(F.col("__v").getItem(i)), round_digits).alias(f"__m{i}")
                for i in range(dims)
            ]
        )
        # materialize the n_centroids×dims table driver-side (tiny,
        # like the seeds and the PQ codebooks): each round's centroids
        # become plan LITERALS, so the returned index serves any
        # number of query batches without ever re-running the Lloyd
        # chain — without this, every consumer action re-trains from
        # scratch because the lazy plan embeds the whole iteration.
        got = {
            r["centroid"]: [r[f"__m{i}"] for i in range(dims)]
            for r in means.collect()
        }
        nxt = {}
        for cid, vec in prev.items():
            nv = got.get(cid)
            if nv is None or any(v is None for v in nv):
                nxt[cid] = vec  # empty cluster keeps its centroid
            else:
                nxt[cid] = [float(v) for v in nv]
        prev = nxt
    cent_df = spark.createDataFrame(
        sorted(prev.items()), "centroid int, centroid_vec array<double>"
    )
    return _with_centroid(corpus, prev, id_col, vec_col, base), cent_df


def ivf_index_append(
    index,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incremental IVF maintenance: extend an existing index with a
    batch of new vectors WITHOUT retraining — the FAISS ``add()``
    contract (centroids frozen, new vectors routed to their nearest
    existing list). A daily embedding ingest appends its delta in one
    broadcast nearest-centroid map pass over the DELTA ONLY, instead
    of re-running ``iters`` Lloyd rounds over the whole corpus — at
    100 TB the retrain is O(iters × corpus) full scans and the append
    is O(delta).

    The assignment is the SAME k-routed argmin stamp the trainer's
    final pass uses (:func:`_with_centroid` — identical fp fold,
    identical tie-break), so an appended index is bit-identical to what the
    trainer would have assigned for those vectors against the same
    centroids, and a SQL oracle can replay it. The quantizer does NOT
    adapt: after appending a distribution-shifted delta comparable in
    size to the training corpus, rebuild (standard IVF guidance; the
    recall gate in tests/test_ann.py covers the appended path).

    ``index`` is the ``(assigned, centroids)`` pair from
    :func:`ivf_index` / :func:`ivf_index_fixed` (or a previous
    append); returns the extended pair, centroids unchanged.
    """
    assigned, cent_df = index
    cents = {
        r["centroid"]: [float(x) for x in r["centroid_vec"]]
        for r in cent_df.collect()
    }
    if not cents:
        raise ValueError("ivf_index_append: index has no centroids")
    return (
        assigned.unionByName(_with_centroid(new_vectors, cents, id_col, vec_col)),
        cent_df,
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index=None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF index: each query scans only
    the inverted lists of its ``n_probe`` nearest centroids — an
    equi-join on the centroid id instead of the full cross product.
    Recall@k vs the exact baseline is asserted in tests/test_ann.py.
    The LSH variant (:func:`cosine_topk_lsh`) needs no training;
    IVF adapts to the data distribution, which wins when the corpus is
    clustered.

    ``index``: optional prebuilt ``(assigned, centroids)`` pair from
    :func:`ivf_index` or :func:`ivf_index_fixed` — build once, serve
    many query batches (and pick the deterministic trainer when the
    result must replay in a SQL oracle)."""
    assigned, cent_df = (
        index
        if index is not None
        else ivf_index(corpus, n_centroids, id_col, vec_col, seed)
    )
    cb = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "centroid"
    )
    scored = (
        _probes(queries, cent_df, n_probe, id_col, vec_col)
        .join(cb, on="centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    return _topk(scored, k, "cos_sim", "neighbor_id")


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: equi-join on LSH bucket, then exact
    cosine rank within the bucket. Trades recall for turning the cross
    product into a hash join on bucket ids — the 100 TB shape.

    ``multi_probe`` ≥ 1 additionally probes every bucket within that
    Hamming distance of the query's sketch (query side only: the
    corpus is stored once, queries fan out to 1 + C(n_planes,1) + …
    probe buckets). Multi-probe recovers the recall lost to sign-flip
    boundary noise at a small candidate-set cost — the standard
    alternative to multiplying hash tables (Lv et al., VLDB 2007).
    Recall@k vs the exact baseline is asserted in tests/test_ann.py.
    """
    from itertools import combinations

    qb = hyperplane_lsh_buckets(queries, dims, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "bucket"
    )
    if multi_probe > 0:
        masks = [0]
        for d in range(1, multi_probe + 1):
            for bits in combinations(range(n_planes), d):
                masks.append(sum(1 << b for b in bits))
        probes = F.array_distinct(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks])
        )
        qb = qb.select(
            "query_id", "__qv", F.explode(probes).alias("bucket")
        )
    cb = hyperplane_lsh_buckets(corpus, dims, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "bucket"
    )
    scored = (
        qb.join(cb, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
        # a neighbor can collide in several probe buckets — dedup
        # before ranking so row_number sees each candidate once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk(scored, k, "cos_sim", "neighbor_id")


def semantic_dedup_corpus(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 8,
    eps: float = 0.95,
    clusters: DataFrame | None = None,
    cluster_col: str = "cluster",
    round_digits: int = 6,
    target_bucket_size: int = 32,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop embedding-space near-
    duplicates, keeping one canonical document per semantic cluster.

    Pipeline: partition the corpus into semantic buckets → compute
    pairwise cosine WITHIN buckets only → pairs with
    ``round(cos, round_digits) >= eps`` are duplicates → connected
    components → keep the min-id member per component plus every
    singleton, via a left-anti join on the loser id set.

    Bucketing is pluggable:

    * default — deterministic random-hyperplane sign sketch
      (:func:`hyperplane_lsh_buckets`): seedless, engine-replayable
      (the oracle SQL replays the md5-derived hyperplanes bit-exactly),
      and training-free. Two vectors with cosine ≥ eps ≈ 0.95 disagree
      on a hyperplane sign with probability θ/π ≈ 0.10, so an 8-plane
      sketch keeps most true pairs co-bucketed while the expected
      bucket population drops 2⁸×. ``n_planes=None`` (round 9) scales
      the sketch with the corpus instead: ``clamp(ceil(log2(n /
      target_bucket_size)), 4, 24)`` planes, computed from one count.
      A FIXED plane count means expected bucket population grows ∝ n
      and within-bucket pair work ∝ n²/2^planes — SCALE_r08 measured
      the 8-plane config at exp 1.13 (59 s at sf1); log-scaling holds
      expected population at ~target_bucket_size so pair work stays
      ~n·target/2. The count is a driver-side scalar (one job over the
      id column), and the derived plane count is an integer both
      engines compute identically from the same n, so the oracle
      replays it with the same ``ceil(log2(...))`` expression.
    * ``clusters`` — a caller-supplied ``(id_col, cluster_col)``
      assignment, e.g. the k-means inverted lists from
      :func:`ivf_index` (the paper's own clustering). Data-adaptive,
      better recall on clustered corpora, but iterative training —
      gate-tested by planted-duplicate properties instead of a SQL
      oracle.

    Scale shape: the quadratic work is confined to within-bucket
    pairs (an equi-join on the bucket id, never a cross product); the
    components kernel iterates over candidate edges with
    localCheckpoint lineage cuts; the final anti-join touches ids
    only. The embedding column itself never shuffles except
    bucket-locally.
    """
    from .cluster import connected_components

    if clusters is None and n_planes is None:
        n = df.select(id_col).count()
        n_planes = max(
            4,
            min(24, math.ceil(math.log2(max(n, 1) / float(target_bucket_size)))),
        )
    if clusters is None:
        bk = hyperplane_lsh_buckets(df, dims, n_planes, id_col, vec_col).select(
            F.col(id_col), F.col(vec_col), F.col("bucket").alias("__ck")
        )
    else:
        bk = df.select(F.col(id_col), F.col(vec_col)).join(
            clusters.select(F.col(id_col), F.col(cluster_col).alias("__ck")),
            on=id_col,
        )
    # bucket once: both legs of the within-bucket self-join read this
    # frame, and without a cut each leg re-runs the hyperplane sign
    # sketch (n_planes dot products per vector) or the cluster join
    bk = bk.localCheckpoint(eager=False)
    left = bk.select(
        F.col("__ck"),
        F.col(id_col).alias("id_left"),
        F.col(vec_col).alias("__vl"),
    )
    right = bk.select(
        F.col("__ck"),
        F.col(id_col).alias("id_right"),
        F.col(vec_col).alias("__vr"),
    )
    cos = F.round(cosine(F.col("__vl"), F.col("__vr")), round_digits)
    pairs = (
        left.join(right, on="__ck")
        .filter(F.col("id_left") < F.col("id_right"))
        .select("id_left", "id_right", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(float(eps)))
        .select("id_left", "id_right")
        # a pair can co-occur in several buckets only with a caller
        # assignment that multi-assigns; harmless for CC but dedup
        # keeps the edge list minimal
        .dropDuplicates(["id_left", "id_right"])
    )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------- PQ
def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_limit: int = 100_000,
    seed: int = 42,
    iters: int = 10,
):
    """Train product-quantization codebooks (Jégou et al., TPAMI 2011):
    split the vector into ``m`` subvectors and k-means each subspace
    independently. Returns a numpy array of shape ``(m, k, d/m)``.

    Training runs on a driver-side sample (``sample_limit`` rows) —
    the standard practice at corpus scale: codebooks are tiny
    (m·k·d/m floats) and converge on a bounded sample, so the 100 TB
    corpus is never collected; only encode/scan touch it. Vectors are
    L2-normalized before training so ADC inner product approximates
    cosine."""
    import numpy as np

    rows = (
        corpus.select(vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .limit(sample_limit)
        .toPandas()[vec_col]
        .tolist()
    )
    if not rows:
        raise ValueError(
            "pq_train: cannot train codebooks on an empty (or all-NULL) "
            "corpus — the index-build contract requires data"
        )
    X = np.asarray(rows, dtype=np.float64)
    # canonical sample order: limit() returns rows in a PARTITIONING-
    # dependent order, and the seeded rng picks indices into X — so
    # without this sort the codebooks (and every downstream code/
    # score) change when the corpus layout changes. Lexsorting the
    # vectors pins the draw whenever the sample is the whole corpus
    # (every gate/test); above sample_limit the sample SET is still
    # layout-dependent, which is fine — codebooks only need to be
    # statistically equivalent there, and that caveat is the
    # documented price of bounded-sample training.
    X = X[np.lexsort(X.T[::-1])]
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    codebooks = np.empty((m, k, dsub))
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        cent = sub[rng.choice(n, size=k, replace=n < k)].copy()
        for _ in range(iters):
            # argmin_c ||x-c||² = argmin_c (||c||² - 2 x·c): one GEMM
            # plus an (n, k) temp — NOT the (n, k, dsub) broadcast cube
            # the naive form materializes. The cube (~41 MB at 20k
            # rows) fell off the cache cliff and made training the
            # superlinear phase of the whole PQ chain (sf0.5→1 grew
            # 3.4× for 2× rows; SCALE_r09 exp_hi 1.2 decomposed to
            # exactly this loop). ||x||² is constant per row and drops
            # out of the argmin.
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        codebooks[s] = cent
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (L2-normalized) vector as ``m`` one-byte codes —
    nearest centroid per subspace. 64-dim float vectors compress
    512 B → 8 B: the index for a 100 TB embedding corpus fits in a
    fraction of cluster memory, which is the entire point of PQ.

    Arrow-batched pandas UDF (vectorized argmin over the batch); the
    codebook array rides the UDF closure (broadcast once per
    executor, a few KB). NULL / empty / wrong-dimension vectors encode
    to a NULL code (they can't be scored, and a NULL code fails every
    downstream scan filter — the same keep-but-inert policy as the
    dedup family's NULL text); an empty Arrow batch yields an empty
    result instead of a 1-D-array indexing error."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks)
    m, k, dsub = cb.shape

    # no type annotations: PEP-563 stringified hints break pandas_udf
    # inference under `from __future__ import annotations`
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        vals = vecs.tolist()
        valid = np.fromiter(
            (v is not None and len(v) == m * dsub for v in vals),
            dtype=bool,
            count=len(vals),
        )
        out = [None] * len(vals)
        vidx = np.flatnonzero(valid)
        if len(vidx):
            X = np.asarray([vals[i] for i in vidx], dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(X), m), dtype=np.int64)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                d2 = -2.0 * sub @ cb[s].T + (cb[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = d2.argmin(axis=1)
            for j, i in enumerate(vidx):
                out[i] = [int(c) for c in codes[j]]
        return pd.Series(out)

    return corpus.select(id_col, _encode(F.col(vec_col)).alias("pq_code"))


def _numpy_luts(qrows: list, codebooks, vec_col: str):
    """The scan paths' per-query ADC lookup tables, ``LUT[q, s, c] =
    q_sub(s) · centroid(s, c)`` over the L2-normalized query rows, as
    one numpy einsum: shape ``(queries, m, k)``."""
    import numpy as np

    Q = np.asarray([r[vec_col] for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    mm, _, dsub = codebooks.shape
    return np.einsum("qsd,scd->qsc", Q.reshape(len(Q), mm, dsub), codebooks)


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 32,
    shortlist_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric-distance scan +
    exact re-rank — the memory-scale two-stage ANN:

    1. ADC scan: every corpus vector is an ``m``-byte code; each query
       precomputes an ``(m × n_centroids)`` lookup table of subspace
       inner products, so scoring a candidate is ``m`` table lookups
       (never a float-vector read). The scan runs as ``mapInPandas``
       over the code table — corpus scanned once, per-partition
       top-``shortlist_mult·k`` per query, no join fan-out.
    2. Re-rank: the shortlist (``shortlist_mult·k`` per query) joins
       back to the true vectors for exact cosine — only
       O(queries · shortlist) vectors are ever fetched.

    Queries are collected to the driver and broadcast in the scan
    closure — they are the small side by contract (same contract as
    :func:`cosine_topk`). Recall@k vs the exact baseline is asserted
    in tests/test_ann.py.

    ``exclude_self`` (default True) drops a candidate whose id equals
    the query id INSIDE the ADC scan — before it can consume a
    shortlist slot, so no self-hit reaches the re-rank. Set False when
    query and corpus ids come from different namespaces: there an id
    collision is a legitimate neighbor."""
    import numpy as np

    codebooks = pq_train(corpus, m=m, k=n_centroids, vec_col=vec_col, seed=seed)
    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col).filter(
        F.col("pq_code").isNotNull()
    )

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(queries, corpus, id_col)
    qids = np.asarray([r[id_col] for r in qrows])
    lut = _numpy_luts(qrows, codebooks, vec_col)
    mm = codebooks.shape[0]
    shortlist = shortlist_mult * k

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf["pq_code"].notna()]
            if not len(pdf):
                continue
            C = np.asarray(pdf["pq_code"].tolist(), dtype=np.int64)
            ids = pdf["__nid"].to_numpy()
            # scores[q, n] = Σ_s LUT[q, s, code[n, s]]
            scores = np.zeros((len(qids), len(ids)))
            for s in range(mm):
                scores += lut[:, s, :][:, C[:, s]]
            if exclude_self:
                # knock self-hits out BEFORE the shortlist cut so they
                # never consume a slot
                scores[ids[None, :] == qids[:, None]] = -np.inf
            top = min(shortlist, scores.shape[1])
            # deterministic per-partition cut: (-score, id) lexsort —
            # argpartition breaks score TIES by in-partition position,
            # so shortlist membership (and with it the final top-k
            # when a boundary candidate matters) would depend on the
            # physical partitioning; the id tie-break matches the
            # global merge window's ordering exactly, making the whole
            # two-stage shortlist reproducible across layouts — and
            # SQL-replayable, should the ADC chain ever gain an
            # oracle. Per-query sorts are fine: queries are the small
            # side by contract.
            idx = np.stack(
                [np.lexsort((ids, -scores[qi]))[:top] for qi in range(len(qids))]
            )
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, top),
                    "__nid": ids[idx].ravel(),
                    "adc_score": np.take_along_axis(scores, idx, 1).ravel(),
                }
            )
            # drop the -inf self-hit placeholders (small partitions can
            # have fewer candidates than the shortlist)
            yield out[np.isfinite(out["adc_score"].to_numpy())]

    scan_in = codes.select(F.col(id_col).alias("__nid"), "pq_code")
    cand = scan_in.mapInPandas(
        _scan,
        schema=f"query_id {queries.schema[id_col].dataType.simpleString()},"
        f" __nid {corpus.schema[id_col].dataType.simpleString()},"
        " adc_score double",
    )
    # the global shortlist merges the per-partition shortlists
    return _rerank(cand, queries, corpus, k, shortlist, id_col, vec_col)


def cosine_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 8,
    pq_centroids: int = 32,
    shortlist_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF + PQ combined — the FAISS-IVFPQ shape and the full 100 TB
    ANN architecture: an IVF coarse quantizer limits each query to its
    ``n_probe`` inverted lists, and within those lists candidates are
    scored from ``m``-byte PQ codes via per-query lookup tables (no
    float vector is read until the final exact re-rank of the
    shortlist). Search cost ≈ (n_probe/n_centroids) of the corpus
    CODES per query — both the scan fraction and the bytes-per-
    candidate shrink multiplicatively vs either index alone.

    Codebooks are shared across lists (no per-list residual training —
    the simpler variant; residual PQ is the refinement documented in
    Jégou et al. §IV). Recall@k vs exact is asserted in
    tests/test_ann.py. ``exclude_self`` as in :func:`cosine_topk_pq`:
    self-hits are dropped BEFORE the shortlist cut (set False for
    cross-namespace query/corpus ids)."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    assigned, cent_df = ivf_index(corpus, n_centroids, id_col, vec_col, seed)
    codebooks = pq_train(corpus, m=m, k=pq_centroids, vec_col=vec_col, seed=seed)
    codes = (
        pq_encode(assigned, codebooks, id_col=id_col, vec_col=vec_col)
        .filter(F.col("pq_code").isNotNull())
        .join(assigned.select(F.col(id_col), "centroid"), id_col)
    )

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(queries, corpus, id_col)
    lut = _numpy_luts(qrows, codebooks, vec_col)
    mm = codebooks.shape[0]
    qindex = {r[id_col]: i for i, r in enumerate(qrows)}

    # no annotations: PEP-563 stringified hints break pandas_udf
    # inference under `from __future__ import annotations`
    @pandas_udf(T.DoubleType())
    def _adc(qid_s, code_s):
        import pandas as pd

        if len(code_s) == 0:  # empty Arrow batch: C would be 1-D
            return pd.Series([], dtype="float64")
        C = np.asarray(code_s.tolist(), dtype=np.int64)
        qi = qid_s.map(qindex).to_numpy()
        scores = np.zeros(len(C))
        for s in range(mm):
            scores += lut[qi, s, C[:, s]]
        return pd.Series(scores)

    cand = _probes(queries, cent_df, n_probe, id_col, vec_col).join(codes, "centroid")
    if exclude_self:
        # before the shortlist window — a self-hit must not take a slot
        cand = cand.filter(F.col("query_id") != F.col(id_col))
    cand = cand.select(
        "query_id",
        F.col(id_col).alias("__nid"),
        _adc(F.col("query_id"), F.col("pq_code")).alias("adc_score"),
    )
    return _rerank(cand, queries, corpus, k, shortlist_mult * k, id_col, vec_col)


def _pq_encode_cols(cents, m: int, dsub: int, vec: str = "__nv") -> list:
    """Per-subspace PQ code columns (literal argmin over the subspace
    codebook). Each subspace codebook enters the plan as ONE
    nested-array literal scanned by a transform lambda — see
    nearest_centroid_col on why this beats k unrolled struct subtrees
    (identical codes, ~7x less Catalyst/codegen work). Shared by the
    trainer's Lloyd rounds and both fixed serve paths."""
    return [
        _nearest(F.slice(vec, s * dsub + 1, dsub), cents[s]).alias(f"__c{s}")
        for s in range(m)
    ]


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str, dims: int) -> DataFrame:
    """(__nid, __nv): the ``dims``-long vectors of ``df`` cast to
    double and L2-normalized via the left-to-right ``aggregate`` fold
    (NOT numpy's pairwise summation — both engines fold identically,
    so the normalized doubles are bit-equal to the oracle's). NULL and
    wrong-dimension vectors are dropped."""
    base = df.select(
        F.col(id_col).alias("__nid"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).filter(F.col("__v").isNotNull() & (F.size("__v") == dims))
    nrm = l2_norm(F.col("__v"))
    return base.select(
        "__nid",
        F.transform(
            F.col("__v"), lambda x: x / F.greatest(nrm, F.lit(1e-12))
        ).alias("__nv"),
    )


def _folded_luts(qrows: list, cents: list, dsub: int, vec_col: str) -> list:
    """The fixed paths' per-query ADC lookup tables, ``lut[s][c] =
    q_sub(s) · centroid(s, c)`` over the L2-normalized query, in
    PURE-PYTHON left-to-right folds (bit-equal to the oracle's
    ``list_reduce`` — NOT numpy dot products). One ``[m][k]`` table
    per row of ``qrows``, in order."""
    luts = []
    for r in qrows:
        v = [float(x) for x in r[vec_col]]
        acc = 0.0
        for x in v:
            acc += x * x
        n = math.sqrt(acc)
        n = n if n > 1e-12 else 1e-12
        nv = [x / n for x in v]
        lut_q = []
        for s, codebook in enumerate(cents):
            row = []
            for cvec in codebook:
                t = 0.0
                for i in range(dsub):
                    t += nv[s * dsub + i] * cvec[i]
                row.append(t)
            lut_q.append(row)
        luts.append(lut_q)
    return luts


def pq_train_fixed(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    dims: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
):
    """Deterministic, ENGINE-REPLAYABLE product-quantization codebooks
    — :func:`pq_train` re-derived with the :func:`ivf_index_fixed`
    recipe so a SQL oracle can replay the whole training bit-for-bit:

    * subspace ``s`` seeds = the ``k`` vectors ranked first by
      ``md5(id || ':pqseed:s')`` (id tie-break), sliced to the
      subspace — seedless, engine-neutral;
    * vectors L2-normalize via the left-to-right ``aggregate`` fold
      (NOT numpy's pairwise summation — both engines fold
      identically, so the normalized doubles are bit-equal);
    * ``iters`` Lloyd rounds per subspace, all subspaces advancing in
      ONE Spark job per round: assignment is the zero-shuffle literal
      argmin projection (same ``(d2, c)`` struct-min tie-break the
      oracle's row_number replays), update is a per-(subspace, code)
      mean ROUNDED to ``round_digits`` (collapses summation-order
      noise); empty codes keep their previous centroid.

    Returns an ``(m, k, d/m)`` numpy array shaped exactly like
    :func:`pq_train` (which remains the statistically-better trainer —
    more iterations, unrounded means — and the recall-gated default).
    The literal projection unrolls O(m·k·dsub) expression nodes, so
    this trainer is bounded to ``m*k <= 4 * LITERAL_ASSIGN_MAX_K``;
    realistic big-index training belongs to :func:`pq_train`.
    """
    import numpy as np

    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    if m * k > 4 * LITERAL_ASSIGN_MAX_K:
        raise ValueError(
            f"pq_train_fixed literal projection bounded to m*k <= "
            f"{4 * LITERAL_ASSIGN_MAX_K}, got {m * k}; use pq_train"
        )
    dsub = dims // m
    # normalize once: the seed job and every Lloyd round re-read this
    # frame; without the cut each job re-scans the source and re-runs
    # the cast + normalization folds (iters+1 evaluations)
    base = _unit_vectors(corpus, id_col, vec_col, dims).localCheckpoint(eager=False)

    # all m subspace seed draws in ONE windowed job (rank-pruned
    # top-k per subspace hash ordering — identical selection to m
    # separate orderBy().limit(k) passes, which cost m Spark jobs)
    hashes = F.array(
        *[
            F.md5(F.concat(F.col("__nid").cast("string"), F.lit(f":pqseed:{s}")))
            for s in range(m)
        ]
    )
    exploded = base.select(
        "__nid", "__nv", F.posexplode(hashes).alias("__s", "__h")
    )
    wseed = Window.partitionBy("__s").orderBy("__h", "__nid")
    seed_rows = (
        exploded.withColumn("__r", F.row_number().over(wseed))
        .filter(F.col("__r") <= k)
        .select("__s", "__r", "__nv")
        .collect()
    )
    if not seed_rows:
        raise ValueError(
            "pq_train_fixed: cannot seed codebooks from an empty corpus"
        )
    by_s: dict[int, list] = {}
    for r in seed_rows:
        by_s.setdefault(r["__s"], []).append((r["__r"], r["__nv"]))
    cents: dict[int, list[list[float]]] = {}
    for s in range(m):
        ordered = [nv for _, nv in sorted(by_s[s])]
        seeds = [
            [float(x) for x in nv[s * dsub : (s + 1) * dsub]] for nv in ordered
        ]
        # fewer vectors than codes: cycle (the fixed analogue of
        # pq_train's replace=True draw)
        cents[s] = [seeds[i % len(seeds)] for i in range(k)]

    for _ in range(iters):
        asg = base.select("__nv", *_pq_encode_cols(cents, m, dsub))
        # carry each subspace's OWN slice through the explode: the
        # update only reads dims/m of the vector per (s, code) group,
        # so averaging all `dims` positions (and shuffling the full
        # vector m times) was m-fold wasted aggregate width
        exploded = asg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"__c{s}").alias("c"),
                            F.slice("__nv", s * dsub + 1, dsub).alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("sc"),
        )
        means = exploded.groupBy(
            F.col("sc.s").alias("s"), F.col("sc.c").alias("c")
        ).agg(
            *[
                F.round(
                    F.avg(F.element_at(F.col("sc.sub"), i + 1)), round_digits
                ).alias(f"m{i}")
                for i in range(dsub)
            ]
        )
        got = {
            (r["s"], r["c"]): [r[f"m{i}"] for i in range(dsub)]
            for r in means.collect()
        }
        for s in range(m):
            for ci in range(k):
                sl = got.get((s, ci))
                if sl is None or any(v is None for v in sl):
                    continue
                cents[s][ci] = [float(v) for v in sl]

    return np.asarray([[cents[s][ci] for ci in range(k)] for s in range(m)])


def cosine_topk_pq_fixed(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 16,
    shortlist_mult: int = 8,
    dims: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`cosine_topk_pq` with every stage SQL-replayable — the
    oracle-grade PQ query path. Same two-stage architecture (ADC scan
    on m-byte codes → exact re-rank of the shortlist), but:

    * codebooks from :func:`pq_train_fixed` (engine-replayable);
    * encoding is the literal argmin projection (zero shuffle, no
      numpy — the pandas-UDF :func:`pq_encode` computes distances via
      BLAS matrix algebra whose summation order SQL cannot replay);
    * per-query ADC lookup tables are computed driver-side in PURE
      PYTHON left-to-right folds (bit-equal to the oracle's
      ``list_reduce``), inlined as plan literals, and summed across
      subspaces in subspace order;
    * the shortlist cut is a rank over (adc desc, id) — the global
      form of the (-score, id) lexsort the scan path uses.

    Corpus cost is one codegen projection + one rank + the re-rank
    join — fine at gate scale and structurally identical to the scan
    path; for the 100 TB regime keep :func:`cosine_topk_pq` (codes
    stay m BYTES, per-partition shortlists bound the window input).
    """
    # Collect queries BEFORE training: an empty query set should not pay
    # for (or double-train) codebooks just to return an empty result.
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(queries, corpus, id_col)

    codebooks = pq_train_fixed(
        corpus, m=m, k=n_centroids, dims=dims, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    dsub = dims // m
    cents = [[list(map(float, c)) for c in codebooks[s]] for s in range(m)]

    # cut: the per-query ADC explode below references every __c{s}
    # once per query — project collapse would inline the encode tree
    # into each of those references; after the cut the scoring plans
    # over a narrow (id, m codes) leaf
    codes = _unit_vectors(corpus, id_col, vec_col, dims).select(
        "__nid", *_pq_encode_cols(cents, m, dsub)
    ).localCheckpoint(eager=False)

    score_structs = []
    for r, lut_q in zip(qrows, _folded_luts(qrows, cents, dsub, vec_col)):
        terms = [
            F.element_at(F.lit([float(x) for x in lut_q[s]]), F.col(f"__c{s}") + 1)
            for s in range(m)
        ]
        score = terms[0]
        for t in terms[1:]:
            score = score + t
        score_structs.append(
            F.struct(F.lit(r[id_col]).alias("query_id"), score.alias("adc_score"))
        )
    long = codes.select(
        "__nid", F.explode(F.array(*score_structs)).alias("qs")
    ).select(F.col("qs.query_id"), "__nid", F.col("qs.adc_score"))
    if exclude_self:
        long = long.filter(F.col("query_id") != F.col("__nid"))
    return _rerank(long, queries, corpus, k, shortlist_mult * k, id_col, vec_col)


def cosine_topk_ivfpq_fixed(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 8,
    pq_centroids: int = 16,
    shortlist_mult: int = 8,
    dims: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`cosine_topk_ivfpq` with every stage SQL-replayable — the
    oracle-grade IVF+PQ path: coarse lists from
    :func:`ivf_index_fixed`, codebooks from :func:`pq_train_fixed`,
    literal argmin encoding, and ADC scoring via per-subspace
    BROADCAST JOINS against the driver-computed lookup tables (pure
    Python left-to-right folds), summed in subspace order. Candidates
    are restricted to each query's ``n_probe`` probed lists before any
    scoring. The production path stays :func:`cosine_topk_ivfpq`
    (m-BYTE codes, pandas-UDF ADC); this variant's per-subspace join
    columns cost m extra small joins — gate-scale economics.
    """
    spark = corpus.sparkSession
    assigned, cent_df = ivf_index_fixed(
        corpus, dims=dims, n_centroids=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codebooks = pq_train_fixed(
        corpus, m=m, k=pq_centroids, dims=dims, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    dsub = dims // m
    cents = [[list(map(float, c)) for c in codebooks[s]] for s in range(m)]

    # cut the plan here: without a boundary the encode trees re-appear
    # under every one of the m ADC join stages below — AQE re-plans
    # each stage over the whole duplicated tree and Catalyst analysis
    # dominates the query (measured 105 s on a 2 000-row corpus).
    # After the cut the code table is a narrow (id, m codes, centroid)
    # leaf the join pipeline plans over in milliseconds.
    codes = _unit_vectors(corpus, id_col, vec_col, dims).select(
        "__nid", *_pq_encode_cols(cents, m, dsub)
    ).join(
        assigned.select(F.col(id_col).alias("__nid"), "centroid"), "__nid"
    ).localCheckpoint(eager=False)

    cand = (
        _probes(queries, cent_df, n_probe, id_col, vec_col)
        .join(codes, "centroid")
        .select("query_id", "__nid", *[F.col(f"__c{s}") for s in range(m)])
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("__nid"))
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    qrows = queries.select(id_col, vec_col).collect()
    luts = _folded_luts(qrows, cents, dsub, vec_col)
    qid_type = queries.schema[id_col].dataType
    for s in range(m):
        lut_schema = StructType([
            StructField("query_id", qid_type),
            StructField(f"__c{s}", IntegerType()),
            StructField(f"__l{s}", DoubleType()),
        ])
        lut_df = spark.createDataFrame(
            [
                (r[id_col], ci, t)
                for r, lut_q in zip(qrows, luts)
                for ci, t in enumerate(lut_q[s])
            ],
            lut_schema,
        )
        cand = cand.join(F.broadcast(lut_df), ["query_id", f"__c{s}"])
    score = F.col("__l0")
    for s in range(1, m):
        score = score + F.col(f"__l{s}")
    long = cand.select("query_id", "__nid", score.alias("adc_score"))
    return _rerank(long, queries, corpus, k, shortlist_mult * k, id_col, vec_col)


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against an
    exact baseline: |approx ∩ exact| / |exact| — the acceptance
    metric every ANN deployment needs measured on ITS corpus and ITS
    parameters before trading accuracy for speed (recall depends on
    the data distribution, not just the algorithm; run it on a query
    sample, not folklore). Composes any two result sets with
    (query, neighbor) columns: ``cosine_topk`` vs ``cosine_topk_lsh``
    / ``_ivf`` / ``_pq`` / ``_ivfpq``, or two parameterizations of
    the same method. Queries with no approx hits score 0.

    Returns (query_col, recall). Scale shape: a left-semi join on the
    (query, neighbor) pair plus two query-keyed partial aggregations
    — result-set-sized work, never touches the corpus."""
    a = approx.select(F.col(query_col), F.col(neighbor_col))
    e = exact.select(F.col(query_col), F.col(neighbor_col))
    hits = (
        a.join(e, [query_col, neighbor_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    base = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("__n"))
    return (
        base.join(hits, query_col, "left")
        .select(
            F.col(query_col),
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__n"), 6
            ).alias("recall"),
        )
    )


def cluster_balanced_sample(
    index,
    cap: int,
    id_col: str = "vec_id",
    salt: str = "cbs",
) -> DataFrame:
    """Embedding-cluster-balanced (diversity) sampling: keep at most
    ``cap`` vectors per coarse-quantizer cluster, picked by a
    deterministic md5 order — the cluster-cap step of
    semantic-diversity corpus curation (cap the over-represented
    semantic neighborhoods instead of sampling uniformly, the idea
    behind SemDeDup-style pruning and DCLM's cluster-balanced picks).
    At 100 TB the cheap uniform sample keeps ten million near-copies
    of the same boilerplate neighborhood; capping per cluster bounds
    every neighborhood's share with one window over (cluster, hash).

    ``index`` is the ``(assigned, centroids)`` pair from
    :func:`ivf_index` / :func:`ivf_index_fixed` / append — the sample
    reuses the quantizer the ANN path already trained. The md5 pick
    order (id ∥ ':salt') is engine-neutral and decorrelated from the
    other samplers' hashes (see operators/pipeline.py:_id_hash on why
    composed selections need distinct salts).

    Returns the assigned frame's rows (id, original columns, centroid,
    pick) with pick ∈ [1, cap] the within-cluster rank. Scale shape:
    one hash projection + one window partitioned by centroid — a
    per-cluster top-k (WindowGroupLimit pushes the cap below the
    sort), shuffling (centroid, hash) keys only.
    """
    if cap < 1:
        raise ValueError(f"cluster_balanced_sample: need cap >= 1, got {cap}")
    assigned, _ = index
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy("centroid").orderBy(h.asc(), F.col(id_col).asc())
    return (
        assigned.withColumn("pick", F.row_number().over(w).cast("long"))
        .filter(F.col("pick") <= cap)
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining: per query, the top-k most similar corpus
    vectors whose ``label_col`` DIFFERS from the query's — the
    standard retrieval/contrastive-training step (the best negatives
    are the near-misses, not random draws). Self-matches are excluded
    independently of the label test.

    Returns (query_id, neighbor_id, neighbor_label, cos_sim, rank).
    NULL labels never match each other (SQL inequality semantics drop
    NULL-label rows from both sides) — a NULL-labeled vector has no
    defined positives, so it yields no negatives either; label it
    first. Scale shape: identical to :func:`cosine_topk` — broadcast
    query batch × corpus scan with a rank-pruned window (the label
    filter prunes before the sort); the corpus never self-joins.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        F.col(vec_col).alias("__qv"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cv"),
    )
    cos = cosine(F.col("__qv"), F.col("__cv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("__ql") != F.col("neighbor_label"))
        )
        .select("query_id", "neighbor_id", "neighbor_label", cos.alias("cos_sim"))
    )
    return _topk(scored, k, "cos_sim", "neighbor_id")
