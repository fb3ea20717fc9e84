"""High-level linkage pipeline: the whole reference workflow as one
object (blocking → pairs → comparisons → pattern counts → EM →
scoring), mirroring the end-to-end driver script scratch.R:17-139.

Compare once per fit, like the reference (scratch.R:51-54, 128-134):
one ids + gammas frame per Linker sits behind a lazy checkpoint
(:meth:`Linker.gammas`), and pattern counts, scoring and clustering
read it; inputs and spec are fixed after construction, and the frame
holds no m, u or λ. Only the pattern-counts sufficient statistic
(≤ ∏ levels rows) is collected for the driver-side EM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..blocking import extract_blocks, ordered_pairs
from ..em import FSParams, run_em
from ..operators.util import distributed_rank
from ..pairs import compute_pairs_dataset, sample_pair_ids_inplan
from ..patterns import (
    collect_probabilities,
    do_comparisons,
    pattern_counts,
    u_probability_frequencies,
)
from ..scoring import score_pairs, threshold_and_rank
from ..spec import LinkerSpec

__all__ = ["Linker"]


class Linker:
    def __init__(
        self,
        spark: SparkSession,
        data_a: DataFrame,
        data_b: DataFrame | None,
        spec: LinkerSpec,
    ) -> None:
        self.spark = spark
        self.data_a = data_a
        self.data_b = data_b if data_b is not None else data_a
        self.self_link = data_b is None
        self.spec = spec
        self.params: FSParams | None = None
        self._gammas: DataFrame | None = None

    # --- plan builders (lazy) and the one checkpointed gammas frame --
    def candidate_pairs(self) -> DataFrame:
        pairs = extract_blocks(
            self.data_a,
            self.data_b,
            self.spec.unique_id_left,
            self.spec.unique_id_right,
            blocking_variables=self.spec.blocking_rules,
        )
        if self.self_link:
            pairs = ordered_pairs(pairs)  # scratch.R:28
        return pairs

    def pairs_dataset(self, pair_ids: DataFrame | None = None) -> DataFrame:
        ids = pair_ids if pair_ids is not None else self.candidate_pairs()
        return compute_pairs_dataset(
            self.data_a,
            self.data_b,
            self.spec.unique_id_left,
            self.spec.unique_id_right,
            ids,
        )

    def comparisons(self, keep_ids: bool = True, pair_ids: DataFrame | None = None) -> DataFrame:
        from ..exprs import suffixed

        keep = (
            [
                suffixed(self.spec.unique_id_left, "_left"),
                suffixed(self.spec.unique_id_right, "_right"),
            ]
            if keep_ids
            else None
        )
        return do_comparisons(self.pairs_dataset(pair_ids), self.spec.comparator_exprs(), keep=keep)

    def gammas(self) -> DataFrame:
        """:meth:`comparisons` (pair ids + one gamma per comparator)
        behind a lazy ``localCheckpoint``, built on first use and kept,
        so blocking, rehydration and the comparators run once per
        Linker. The checkpoint runs no job of its own: the first action
        that reads the frame computes and keeps its rows, and later
        reads hit them. No consumer joins the frame with itself (the
        pattern-count group-by, ``score_pairs``, the edge filter), so
        it needs no ``cut_lineage`` statistics reset."""
        if self._gammas is None:
            self._gammas = self.comparisons(keep_ids=True).localCheckpoint(eager=False)
        return self._gammas

    def pattern_counts(self) -> DataFrame:
        """Group-by-count over the gammas of :meth:`gammas`."""
        gammas = [c.name for c in self.spec.comparisons]
        return pattern_counts(self.gammas(), gammas)

    # --- estimation ---------------------------------------------------
    def _synthetic_ids(self, df: DataFrame, unique_id: str) -> DataFrame:
        """(unique_id, __sid) mapping with contiguous 0-based synthetic
        ids, serving the reference's ``row_number()`` pass
        (scratch.R:63-69) so uniform index sampling works for ANY id
        domain (1-based, non-contiguous, strings).

        ``__sid`` is the id's rank in sorted order, minted by
        :func:`~ppack_spark.operators.util.distributed_rank` in-plan
        (no single-task global sort, no eager checkpoint, no collect),
        so the map depends only on the id set, never on partitioning."""
        ranked = distributed_rank(df.select(unique_id).distinct(), [unique_id], "__sid")
        return ranked.select(unique_id, (F.col("__sid") - 1).alias("__sid"))

    def estimate_u(
        self,
        size: int = 1_000_000,
        seed: int = 42,
        n_a: int | None = None,
        n_b: int | None = None,
    ) -> dict:
        """Monte-Carlo u-probabilities from random pairs
        (reference calculate_u_probs, scratch.R:58-98). Samples over
        minted synthetic ids, not the user's id domain — sampling raw
        ids assumes 0-based contiguity and silently produces phantom
        null-joined pairs otherwise. Both the sample
        (:func:`sample_pair_ids_inplan`) and the id map are pure
        functions of the data and ``seed``, so u is the same on any
        core count. A self-link counts and maps its one table once."""
        n_a = n_a if n_a is not None else self.data_a.count()
        if n_b is None:
            n_b = n_a if self.self_link else self.data_b.count()
        id_l = f"{self.spec.unique_id_left}_left"
        id_r = f"{self.spec.unique_id_right}_right"
        sids = sample_pair_ids_inplan(
            self.spark, n_a, n_b, size=size, seed=seed,
            id_left="__sid_l", id_right="__sid_r",
        )
        map_a = self._synthetic_ids(self.data_a, self.spec.unique_id_left)
        map_b = (
            map_a
            if self.self_link
            else self._synthetic_ids(self.data_b, self.spec.unique_id_right)
        )
        # Equi-joins on __sid; AQE decides broadcast vs shuffle (the id
        # map is table-sized, so no unconditional broadcast hint here).
        random_ids = (
            sids.join(
                map_a.select(F.col(self.spec.unique_id_left).alias(id_l), F.col("__sid").alias("__sid_l")),
                on="__sid_l",
            )
            .join(
                map_b.select(F.col(self.spec.unique_id_right).alias(id_r), F.col("__sid").alias("__sid_r")),
                on="__sid_r",
            )
            .select(id_l, id_r)
        )
        cmp = do_comparisons(self.pairs_dataset(random_ids), self.spec.comparator_exprs())
        return collect_probabilities(u_probability_frequencies(cmp))

    def estimate(
        self,
        maxiter: int = 20,
        u_probabilities: dict | None = None,
        u_sample_size: int = 1_000_000,
        total_pairs: float | None = None,
        seed: int = 42,
        lambda_init: float = 1e-7,
    ) -> FSParams:
        n_a = self.data_a.count()
        n_b = n_a if self.self_link else self.data_b.count()
        if u_probabilities is None:
            u_probabilities = self.estimate_u(
                size=u_sample_size, seed=seed, n_a=n_a, n_b=n_b
            )
        if total_pairs is None:
            # self-link: n²/2 approximation (reference scratch.R:56);
            # two-dataset linkage: the true comparison space is n_a·n_b.
            total_pairs = n_a * n_a / 2.0 if self.self_link else float(n_a) * n_b
        counts = self.pattern_counts().toPandas()
        self.params = run_em(
            counts,
            total_pairs=total_pairs,
            u_probabilities=u_probabilities,
            maxiter=maxiter,
            levels=self.spec.comparator_levels(),
            lambda_init=lambda_init,
        )
        return self.params

    # --- scoring ------------------------------------------------------
    def score(self, threshold: float | None = None) -> DataFrame:
        """The ``weight`` column of the current ``params`` added to the
        :meth:`gammas` frame (optionally thresholded and ranked)."""
        if self.params is None:
            raise RuntimeError("call estimate() first")
        gamma_cols = {c.name: c.name for c in self.spec.comparisons}
        scored = score_pairs(self.gammas(), self.params, gamma_cols)
        if threshold is not None:
            scored = threshold_and_rank(scored, threshold)
        return scored

    def evaluate(
        self,
        truth,
        thresholds: list[float],
        round_digits: int = 6,
        inclusive: bool = True,
    ) -> DataFrame:
        """The whole pairwise eval family — threshold sweep at every
        requested τ plus the exact F1-argmax τ — from ONE execution of
        the scored pair chain (eval.py:evaluation_report; round-9
        verdict item 5: run as separate calls, each metric re-executes
        the blocking → rehydration → comparison → scoring plan, four
        26 M-pair runs for four ≤ k-row answers).

        ``truth`` is a Column evaluated against the REHYDRATED pair
        frame (suffixed ``_left``/``_right`` columns — e.g.
        ``F.col("nation_left") == F.col("nation_right")``), the same
        contract as the comparator expressions; it rides the
        comparison projection as an extra column, so no second pass
        over the inputs is ever made. That is also why this plan stays
        lazy instead of reading :meth:`gammas`: the checkpointed frame holds
        only ids and gammas, and the truth column needs the rehydrated
        pair rows. Returns one ``'sweep'`` row per τ and one ``'best'``
        row (see :func:`evaluation_report` for the schema and boundary
        semantics)."""
        from ..eval import evaluation_report
        from ..exprs import suffixed

        if self.params is None:
            raise RuntimeError("call estimate() first")
        exprs = dict(self.spec.comparator_exprs())
        exprs["true_match"] = F.col(truth) if isinstance(truth, str) else truth
        cmp = do_comparisons(
            self.pairs_dataset(),
            exprs,
            keep=[
                suffixed(self.spec.unique_id_left, "_left"),
                suffixed(self.spec.unique_id_right, "_right"),
            ],
        )
        gamma_cols = {c.name: c.name for c in self.spec.comparisons}
        scored = score_pairs(cmp, self.params, gamma_cols)
        return evaluation_report(
            scored,
            thresholds,
            round_digits=round_digits,
            inclusive=inclusive,
        )

    # --- cluster resolution -------------------------------------------
    def cluster(self, threshold: float = 5.0) -> DataFrame:
        """Resolve pairs with weight > ``threshold`` into entity
        clusters (connected components; the post-linkage step the
        reference leaves to its ground-truth ``cluster`` column,
        scratch.R:131-133). Returns data_a plus a ``cluster_id``
        column (the min member id); unmatched records are singleton
        clusters; the edges are read from :meth:`gammas`. The one
        components kernel,
        :func:`~ppack_spark.operators.cluster.connected_components`,
        picks its own path: driver union-find within the driver bound,
        otherwise min-label rounds with a star finish on the
        contracted graph when labels still move.

        Self-link (dedup) only: a two-dataset link's edge list mixes
        two id namespaces, and feeding it to connected_components
        would conflate A's record k with B's record k — silently
        merging unrelated entities. Cross-dataset clustering needs
        source-tagged node ids (splink-style) and a two-sided return
        shape; until that exists, refuse loudly rather than corrupt."""
        if not self.self_link:
            raise NotImplementedError(
                "Linker.cluster() supports self-link dedup only: a two-dataset "
                "link's (id_left, id_right) edges span two id namespaces, and "
                "untagged connected components would conflate records from "
                "data_a and data_b that share an id value"
            )
        from ..exprs import suffixed
        from ..operators.cluster import attach_cluster_ids, connected_components

        id_l = suffixed(self.spec.unique_id_left, "_left")
        id_r = suffixed(self.spec.unique_id_right, "_right")
        edges = self.score().filter(F.col("weight") > threshold).select(id_l, id_r)
        components = connected_components(edges, id_l, id_r)
        return attach_cluster_ids(self.data_a, components, self.spec.unique_id_left)

    def cluster_links(self, threshold: float = 5.0) -> DataFrame:
        """Two-dataset-safe cluster resolution. Node ids are prefixed
        with a source-dataset tag (``a:``/``b:``, the splink
        disambiguation) before connected components, so overlapping id
        domains can never conflate A's record k with B's record k. The
        edges are read from the :meth:`gammas` frame, like ``cluster()``.

        Returns ``(source, <unique_id>, cluster_id)`` covering every
        record of both inputs; ``cluster_id`` is an opaque string label
        (the min tagged node id of the component), singletons get their
        own tagged id. Works for self-link too (both sides then carry
        the ``a:`` tag and the result equals ``cluster()`` up to the
        label representation)."""
        from ..exprs import suffixed
        from ..operators.cluster import connected_components

        id_l = suffixed(self.spec.unique_id_left, "_left")
        id_r = suffixed(self.spec.unique_id_right, "_right")
        tag_r = "a:" if self.self_link else "b:"
        edges = (
            self.score()
            .filter(F.col("weight") > threshold)
            .select(
                F.concat(F.lit("a:"), F.col(id_l).cast("string")).alias("node_l"),
                F.concat(F.lit(tag_r), F.col(id_r).cast("string")).alias("node_r"),
            )
        )
        components = connected_components(edges, "node_l", "node_r")

        out_col = self.spec.unique_id_left  # both sides aligned on one name

        def _attach(df: DataFrame, uid: str, tag: str, source: str) -> DataFrame:
            tagged = F.concat(F.lit(tag), F.col(uid).cast("string"))
            comp = components.select(
                F.col("node").alias("__node"), F.col("component").alias("cluster_id")
            )
            return (
                df.select(
                    F.lit(source).alias("source"),
                    F.col(uid).alias(out_col),
                    tagged.alias("__node"),
                )
                .join(comp, on="__node", how="left")
                .select(
                    "source",
                    out_col,
                    F.coalesce(F.col("cluster_id"), F.col("__node")).alias("cluster_id"),
                )
            )

        out_a = _attach(self.data_a, self.spec.unique_id_left, "a:", "a")
        if self.self_link:
            return out_a
        out_b = _attach(self.data_b, self.spec.unique_id_right, tag_r, "b")
        return out_a.unionByName(out_b)
