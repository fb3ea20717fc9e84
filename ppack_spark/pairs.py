"""Pair rehydration and random-pair sampling.

``compute_pairs_dataset`` (reference linking.R:49-60; exported under
that name, NAMESPACE:10, though defined as ``compute_blocked_dataset``
— we keep the exported name): join the candidate ids back to both
tables' attributes, suffixed ``_left`` / ``_right``.

Scale note: the pair-id table is the large side; the entity tables are
joined to it on their unique ids. Catalyst broadcasts an entity table
when it fits (dimension-sized inputs) and otherwise shuffles on the id
— both sides hash-partitioned on the same key, so the second join
reuses the pairs' partitioning where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .exprs import suffixed, with_suffix

__all__ = ["compute_pairs_dataset", "sample_pair_ids_inplan"]


def compute_pairs_dataset(
    data_a: DataFrame,
    data_b: DataFrame,
    unique_id_a: str,
    unique_id_b: str,
    comparison_ids: DataFrame,
) -> DataFrame:
    """Left-join pair ids to A's then B's columns (linking.R:56-58).

    Accepts either raw or already-suffixed id names (the reference
    relies on ``add_suffix`` idempotence for this, scratch.R:49 /
    utils.R:14).
    """
    a = with_suffix(data_a, "_left")
    b = with_suffix(data_b, "_right")
    id_l = suffixed(unique_id_a, "_left")
    id_r = suffixed(unique_id_b, "_right")
    return comparison_ids.join(a, on=id_l, how="left").join(b, on=id_r, how="left")


def sample_pair_ids_inplan(
    spark: SparkSession,
    n_a: int,
    n_b: int | None = None,
    size: int = 1_000_000,
    seed: int = 42,
    id_left: str = "unique_id_left",
    id_right: str = "unique_id_right",
) -> DataFrame:
    """Uniform random id pairs **with replacement** for contiguous
    0-based ids (the reference samples driver-side then ``copy_to``s,
    scratch.R:68-69): row ``i`` of ``spark.range(size)`` draws
    ``pmod(xxhash64(seed, i), n_a)`` on the left and the same under
    ``seed + 1`` on the right. Each index is a pure function of
    (seed, row id), so the sample is the same at any partition count
    or core count; no id moves through the driver and ``size`` is
    exact at any scale."""
    n_b = n_b if n_b is not None else n_a

    def draw(s: int, n: int):
        return F.pmod(F.xxhash64(F.lit(s), F.col("id")), F.lit(n))

    return spark.range(size).select(
        draw(seed, n_a).alias(id_left), draw(seed + 1, n_b).alias(id_right)
    )
