"""Shared operator utilities."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "spread",
    "salted_join",
    "plan_cost_report",
    "cut_lineage",
    "bounded_collect",
    "distributed_rank",
]


def cut_lineage(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` + FLAT statistics — the lineage cut every
    ITERATIVE loop must use instead of a bare ``localCheckpoint``.

    ``localCheckpoint`` truncates the logical plan but stamps the new
    ``LogicalRDD`` leaf with the ORIGIN plan's estimated statistics
    (ExistingRDD.fromDataset → rewriteStatsAndConstraints). In a loop
    that joins its own checkpointed output with itself — pointer-
    doubling label propagation, star contraction — the join estimate
    is the PRODUCT of its children, so the leaf's ``sizeInBytes``
    SQUARES every round: measured digits 20 → 2514 in 7 rounds on a
    chain graph, and a 54k-edge component graph wedged a bench run
    with Catalyst burning 26+ CPU-minutes inside
    ``BigInteger.multiply`` (SizeInBytesOnlyStatsPlanVisitor) while
    planning round ~20. Re-wrapping the already-materialized RDD via
    ``internalCreateDataFrame`` resets the leaf to the session default
    size, breaking the recurrence; join-strategy quality is unharmed
    because AQE re-plans each stage from ACTUAL runtime sizes.
    """
    cp = df.localCheckpoint()
    jdf = cp._jdf
    spark = cp.sparkSession
    try:
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception:
        # private-API drift on a future Spark: the checkpoint itself
        # (correctness) still stands, only the stats reset is lost
        return cp
    return DataFrame(jnew, spark)


def _driver_max_edges() -> int:
    raw = os.environ.get("PPACK_DRIVER_MAX_EDGES", "200000")
    try:
        bound = int(raw)
    except ValueError:
        bound = -1
    if bound < 0:
        raise ValueError(
            "PPACK_DRIVER_MAX_EDGES must be a non-negative integer "
            f"(0 disables the driver path), got {raw!r}"
        )
    return bound


def bounded_collect(
    df: DataFrame, *id_cols: str
) -> tuple[DataFrame, list | None]:
    """The one driver-or-distributed decision of the graph kernels
    (connected components, PageRank, HITS): materialize ``df`` with
    :func:`cut_lineage` and return ``(cut, rows)``, where ``rows`` is
    ``cut.collect()`` when the frame may be solved on the driver and
    ``None`` when the caller must run its distributed kernel on
    ``cut``.

    Why the bound exists: below ``PPACK_DRIVER_MAX_EDGES`` rows
    (default 200000, ~a few MB collected; 0 disables; read at call
    time) a Python loop finishes in milliseconds what costs several
    checkpoint + aggregate jobs per distributed round, and above it the
    driver's memory, not Spark's scheduling, would become the limit.
    The row count rides on the materializing job as a
    ``DataFrame.observe`` metric, so the decision costs no extra job.

    The driver kernels order and hash ids in Python, which matches
    Spark only for integral ids and binary-collated strings; any other
    id type (a ``UTF8_LCASE`` string compares ``"A" == "a"`` in Spark)
    takes the distributed path."""
    bound = _driver_max_edges()
    safe = all(_driver_safe_type(df.schema[c].dataType) for c in id_cols)
    if not (bound and safe):
        return cut_lineage(df), None
    obs = Observation()
    cut = cut_lineage(df.observe(obs, F.count(F.lit(1)).alias("n")))
    if obs.get["n"] > bound:
        return cut, None
    return cut, cut.collect()


def _driver_safe_type(dtype) -> bool:
    if isinstance(dtype, T.StringType):
        return dtype.collation == "UTF8_BINARY"
    return isinstance(dtype, T.IntegralType)


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy per-row stage can use the whole cluster.

    Spark sizes scan splits by BYTES (``maxPartitionBytes``), but the
    hashing/similarity operators here are bound by per-row COMPUTE: a
    small parquet file (one split) would pin an entire
    signature-computation stage to a single core. When the input has
    fewer partitions than the cluster's default parallelism,
    round-robin repartition up to it — the shuffle of the raw input is
    cheap relative to the per-row work it unlocks.

    The ``getNumPartitions()`` probe is free on a scan or a cut, but on
    a plan with shuffles AQE runs those shuffle stages to learn the
    final partitioning and then discards them, so the caller's action
    runs them again. Pass a scan or a cut (``localCheckpoint``), as
    ``CorpusPipeline.run`` does before near dedup; see
    :func:`~ppack_spark.operators.dedup.near_dup_components` for the
    scale note.
    """
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_from: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit key salting — the two-table skew play
    for when one join key holds a disproportionate share of the left
    (big/probe) side and a single shuffle partition becomes the
    straggler. The left side gets a deterministic salt
    ``pmod(xxhash64(salt_from), s)``; the right side replicates each
    row to all ``s`` salts; the join runs on (keys…, salt), splitting
    every hot key's partition ``s`` ways at the cost of an ``s``×
    right-side replication — so use it when the RIGHT side is the
    smaller table but too big (or too skew-correlated) to broadcast.

    Complements :func:`ppack_spark.blocking.salted_block_pairs` (the
    SELF-join triangle decomposition, where both sides replicate
    ~s/2×) and AQE's skew-join splitting (which only kicks in for
    sort-merge joins above size thresholds and cannot split a
    single oversized hash-aggregate input). Salting is deterministic
    (``salt_from`` is hashed, not rand()), so retried tasks reproduce
    identical output. ``how`` supports 'inner' and 'left' — the
    replicated side is the match source in both.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    s = int(num_salts)
    if s < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    l = left.withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(s)))
    r = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(s - 1).cast("long"))),
    )
    return l.join(r, on=[*on, "__salt"], how=how).drop("__salt")


def plan_cost_report(df: DataFrame) -> dict:
    """Static cost census of a DataFrame's physical plan — the
    pre-flight check a pipeline author runs before submitting a
    100 TB job: how many shuffles will this pay, is anything about to
    cross-product, did the filters reach the scan?

    Returns a dict of counts read from the executed-plan string:
    ``n_shuffles`` (hash/range Exchanges — each is a full
    rewrite of the data over the network), ``n_broadcasts``
    (BroadcastExchange — driver-bounded build sides), ``n_sorts``,
    ``n_scans``, ``has_cartesian`` / ``has_bnlj`` (cross-join blowups:
    legal only for tiny broadcast builds), ``has_python_udf``
    (row-at-a-time Python in the plan — the slow path), and
    ``pushed_filters`` (whether any scan-level filter pushdown is
    present). Inspection only — triggers planning, never execution
    (which also means no WholeStageCodegen census: under AQE codegen
    spans exist only in the executed final plan).
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "n_shuffles": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "n_broadcasts": plan.count("BroadcastExchange"),
        "n_sorts": plan.count("Sort ["),
        "n_scans": plan.count("FileScan")
        or plan.count("Scan parquet"),  # FileScan lines also contain
        # "Scan parquet" — counting both would double every scan
        "has_cartesian": "CartesianProduct" in plan,
        "has_bnlj": "BroadcastNestedLoopJoin" in plan,
        "has_python_udf": "BatchEvalPython" in plan,
        # true iff at least ONE scan has a non-empty pushdown (a plan
        # can legitimately mix pushed and unpushed scans)
        "pushed_filters": plan.count("PushedFilters: [")
        > plan.count("PushedFilters: []"),
    }


def distributed_rank(df, order_cols, out_col: str = "rank"):
    """Exact global ``row_number`` over ``order_cols`` WITHOUT a
    single-partition window: range-repartition on the order keys,
    rank locally inside each range bucket, and add per-bucket
    cumulative offsets. The only empty-partition window left in the
    plan is the offset cumsum over the PER-BUCKET COUNT table — one
    row per shuffle partition, data-independent — never the ranked
    frame itself (the E129 distributed-order pattern; contrast
    ``Window.orderBy`` with no partitionBy, which funnels every row
    through one task).

    Correctness does not depend on where the sampled range boundaries
    fall: offsets come from the ACTUAL per-bucket counts, and rows
    with equal keys land in one bucket (RangePartitioner splits
    between distinct key values), so the ranks are the exact global
    row numbers for any boundary placement. Ties across ``order_cols``
    get an arbitrary-but-valid order — pass a tiebreaker column for
    full determinism.

    Cost: one range shuffle + one hash shuffle (the pid-partitioned
    local window) + a broadcast of the offset table — vs the
    single-task global sort it replaces. No eager checkpoint and no
    collect: the offsets stay in-plan.

    The package's only rank/offset mechanism. Callers: the graph
    rankings (``operators/graph.py``), sorted-neighborhood blocking's
    global rank (``blocking.sorted_neighborhood_pairs``) and the
    u-sample's synthetic ids (``Linker._synthetic_ids``).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = max(int(spark.sparkContext.defaultParallelism), 1)
    part = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    local = part.withColumn("__lrn", F.row_number().over(w))
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    # cumulative offsets over the bucket-count table: <= n rows, one
    # per shuffle partition — sketch-sized, not data-sized
    wo = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(wo), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn")
    )
