"""Typed linkage-spec layer.

The reference declares S7 value classes ``blocking_rules`` /
``ppack_spec`` with pretty printers (s7_classes.R:11-44) but its
linking functions consume raw lists. Here the spec IS consumed: the
planner validates it against ``df.columns`` and compiles it to
DataFrame plans. Comparator levels live in the spec (fixing the
reference's "assumes every level appears in the data" limitation,
linking.R:82).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import Column

from .exprs import bucket_comparator, exact_comparator

EXACT_LEVELS = ["agree", "disagree"]
# comparators.R:9-12 — the four Jaro-Winkler buckets.
JW_LEVELS = [
    "full agreement",
    "strong partial agreement",
    "weak partial agreement",
    "no agreement",
]


@dataclass(frozen=True)
class BlockingRule:
    """One blocking pass (reference linking.R:21-29).

    * ``keys`` — equi pass: list of (left_col, right_col) pairs joined
      with AND (linking.R:25-27's renamed pass_spec).
    * ``expression`` — predicate pass over the conceptual cross
      product (linking.R:28-29); authored as a join condition so
      Catalyst can extract equality conjuncts into hash-join keys.
    Exactly one of the two is set.
    """

    keys: tuple[tuple[str, str], ...] = ()
    expression: Union[Column, str, None] = None

    @staticmethod
    def on(*cols: str) -> "BlockingRule":
        return BlockingRule(keys=tuple((c, c) for c in cols))

    @staticmethod
    def on_pairs(mapping: dict[str, str]) -> "BlockingRule":
        return BlockingRule(keys=tuple(mapping.items()))

    @staticmethod
    def where(expression: Union[Column, str]) -> "BlockingRule":
        return BlockingRule(expression=expression)

    def __repr__(self) -> str:  # pretty printer ≈ s7_classes.R:16-30
        if self.expression is not None:
            return f"BlockingRule(where {self.expression})"
        return "BlockingRule(" + " AND ".join(f"{l}=={r}" for l, r in self.keys) + ")"


@dataclass(frozen=True)
class Comparison:
    """A named comparator producing one categorical gamma column.

    ``levels`` enumerates every non-missing level (missing = SQL NULL);
    the EM uses this enumeration rather than observed data.
    """

    name: str
    expression: Union[Column, str]
    levels: tuple[str, ...]

    @staticmethod
    def exact(var: str, left: str | None = None, right: str | None = None) -> "Comparison":
        return Comparison(
            name=var,
            expression=exact_comparator(var, left, right),
            levels=tuple(EXACT_LEVELS),
        )

    @staticmethod
    def jw(var: str, left: str | None = None, right: str | None = None) -> "Comparison":
        """The reference's signature comparator (comparators.R:4-14):
        Jaro-Winkler buckets over ``var``; Arrow-vectorized UDF applied
        strictly post-blocking (SURVEY §7 UDF-placement policy)."""
        from .similarity import jw_comparator

        return Comparison(
            name=var,
            expression=jw_comparator(var, left, right),
            levels=tuple(JW_LEVELS),
        )

    @staticmethod
    def jw_approx(
        var: str,
        left: str | None = None,
        right: str | None = None,
        lev_floor: float = 0.4,
    ) -> "Comparison":
        """:meth:`jw` behind a JVM prefilter (similarity.jw_prefilter):
        equal pairs bucket without Python, pairs that provably or
        probably cannot reach the 0.85 bucket ship NULLs through
        Arrow, only contenders reach the numpy kernel — an explicit
        choice for large pair sets that the prefilter thins (measured
        in the similarity module docstring). Bucket-identical to
        :meth:`jw` except for pairs skipped by the approximate
        Levenshtein floor (empty at the default floor on both test
        corpora — see jw_prefilter)."""
        from .similarity import jw_approx_comparator

        return Comparison(
            name=var,
            expression=jw_approx_comparator(var, left, right, lev_floor),
            levels=tuple(JW_LEVELS),
        )

    @staticmethod
    def levenshtein(var: str, left: str | None = None, right: str | None = None) -> "Comparison":
        """JW-bucket thresholds over normalized Levenshtein similarity
        (similarity.levenshtein_similarity): the Spark builtin edit
        distance, JVM-side and codegen, with no Python in the plan.
        Its buckets are not JW's; use :meth:`jw` for the reference's
        comparator."""
        from pyspark.sql import functions as F

        from .exprs import bucket_comparator, suffixed
        from .similarity import levenshtein_similarity

        l = F.col(left if left is not None else suffixed(var, "_left"))
        r = F.col(right if right is not None else suffixed(var, "_right"))
        sim = levenshtein_similarity(l, r)
        full, strong, weak, none = JW_LEVELS
        return Comparison(
            name=var,
            expression=bucket_comparator(
                sim,
                [(sim == 1.0, full), (sim > 0.9, strong), (sim > 0.85, weak)],
                none,
            ),
            levels=tuple(JW_LEVELS),
        )

    @staticmethod
    def soundex(var: str, left: str | None = None, right: str | None = None) -> "Comparison":
        """Phonetic-agreement comparator: agree iff the American
        Soundex codes match, via the Spark *builtin* ``F.soundex``
        (JVM-side, codegen). Same NULL semantics as ``exact``: either
        input NULL → NULL gamma (the missing-data level). DuckDB has
        no soundex builtin, so the registry gates this against a
        VALUES fixture of known codes instead of a replayed oracle."""
        from pyspark.sql import functions as F

        from .exprs import suffixed

        l = F.soundex(F.col(left if left is not None else suffixed(var, "_left")))
        r = F.soundex(F.col(right if right is not None else suffixed(var, "_right")))
        agree, disagree = EXACT_LEVELS
        return Comparison(
            name=var,
            expression=F.when(l == r, agree).when(l != r, disagree),
            levels=tuple(EXACT_LEVELS),
        )

    @staticmethod
    def buckets(
        name: str,
        measure: Union[Column, str],
        conditions: list[tuple[Union[Column, str], str]],
        default: str,
    ) -> "Comparison":
        labels = [label for _, label in conditions] + [default]
        return Comparison(
            name=name,
            expression=bucket_comparator(measure, conditions, default),
            levels=tuple(labels),
        )

    def __repr__(self) -> str:
        return f"Comparison({self.name!r}, levels={list(self.levels)})"


@dataclass
class LinkerSpec:
    """Full linkage specification (≈ ppack_spec, s7_classes.R:34-44)."""

    unique_id_left: str
    unique_id_right: str
    blocking_rules: list[BlockingRule] = field(default_factory=list)
    comparisons: list[Comparison] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.blocking_rules:
            # s7_classes.R:24 warns: empty rules "will return all pairs!"
            import warnings

            warnings.warn("No blocking rules: candidate set is the full cross product")

    def comparator_exprs(self) -> dict[str, Union[Column, str]]:
        return {c.name: c.expression for c in self.comparisons}

    def comparator_levels(self) -> dict[str, list[str]]:
        return {c.name: list(c.levels) for c in self.comparisons}
