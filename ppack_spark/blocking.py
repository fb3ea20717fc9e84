"""Candidate-pair generation (blocking).

Re-expresses ``extract_blocks`` (reference linking.R:14-38) as a single
distributed DataFrame plan:

* per equi pass: an inner equi-join on the renamed key pairs
  (linking.R:25-27) — Catalyst chooses broadcast-hash / shuffle-hash /
  sort-merge; AQE handles skewed blocking keys at runtime;
* per expression pass: the reference literally builds the cartesian
  product and filters it (linking.R:28-29). We author
  ``a.join(b, predicate)`` instead, so any equality conjunct (e.g. the
  common-prefix rule ``substr(l,1,1) == substr(r,1,1)``) is extracted
  by Catalyst into a derived-key hash join — no nested-loop join at
  all unless the rule is truly non-equi;
* union of passes + distinct. The reference ``collect()``s every pass
  into R memory and dedups there (linking.R:35-37) — an O(pairs)
  driver bottleneck we deliberately do NOT replicate: the union and
  the dedup stay in Spark (one shuffle on the id pair).

At 100 TB the candidate set is the biggest intermediate in the whole
pipeline; everything downstream (rehydrate → compare → count) is one
plan over it, so no pass is ever materialized on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprs import as_column, suffixed, with_suffix
from .operators.util import distributed_rank
from .spec import BlockingRule

__all__ = [
    "extract_blocks",
    "ordered_pairs",
    "blocking_pass_counts",
    "estimate_blocking_counts",
    "choose_blocking_spec",
    "pick_blocking_spec",
    "key_skew_report",
    "sorted_neighborhood_pairs",
]

RuleLike = Union[BlockingRule, str, list, tuple, dict, Column]


def _coerce_rule(rule: RuleLike) -> BlockingRule:
    if isinstance(rule, BlockingRule):
        return rule
    if isinstance(rule, str):  # single equi column name
        return BlockingRule.on(rule)
    if isinstance(rule, (list, tuple)):  # multi-key equi pass
        return BlockingRule.on(*rule)
    if isinstance(rule, dict):  # left->right renamed keys
        return BlockingRule.on_pairs(rule)
    if isinstance(rule, Column):
        return BlockingRule.where(rule)
    raise TypeError(f"cannot interpret blocking rule: {rule!r}")


def extract_blocks(
    data_a: DataFrame,
    data_b: DataFrame,
    unique_id_a: str,
    unique_id_b: str,
    blocking_variables: Iterable[RuleLike] = (),
    blocking_expressions: Iterable[Union[Column, str]] = (),
) -> DataFrame:
    """Return the distinct candidate-pair ids ``(id_left, id_right)``.

    Signature mirrors reference linking.R:14 (equi passes and
    expression passes are separate arguments); both kinds may also be
    mixed freely in ``blocking_variables`` as :class:`BlockingRule`.

    The passes are DISJOINTIFIED rather than globally deduplicated:
    pass *i*'s join condition additionally requires that none of the
    conditions of passes 1..i−1 hold (``NOT coalesce(cond_j, false)``,
    so a NULL earlier-pass condition keeps the row — that pass did not
    produce it), which makes the union duplicate-free by construction.
    The result SET is identical to ``union-all → distinct`` — a pair
    dropped from pass *i* satisfies some earlier pass's condition and
    is emitted there — but the pair-keyed distinct exchange, the one
    O(pairs) shuffle in a multi-pass blocking plan, disappears: the
    union pipelines straight into downstream joins/aggregates inside
    one codegen stage. Requires ``unique_id_a``/``unique_id_b`` to be
    actually unique (each equi/theta pass then emits a pair at most
    once); that has always been this operator's contract.
    """
    passes = _pass_frames(
        data_a,
        data_b,
        unique_id_a,
        unique_id_b,
        blocking_variables,
        blocking_expressions,
        disjoint=True,
    )
    return reduce(DataFrame.unionByName, passes)


def _pass_frames(
    data_a: DataFrame,
    data_b: DataFrame,
    unique_id_a: str,
    unique_id_b: str,
    blocking_variables: Iterable[RuleLike] = (),
    blocking_expressions: Iterable[Union[Column, str]] = (),
    disjoint: bool = False,
) -> list[DataFrame]:
    """One (id_left, id_right) frame per blocking pass (pre-union).

    ``disjoint=False`` (the diagnostics default —
    :func:`blocking_pass_counts` documents raw pre-distinct per-pass
    sizes) emits each pass's full candidate stream; ``disjoint=True``
    ANDs each pass with the negation of every earlier pass's condition
    so the streams are pairwise disjoint (see :func:`extract_blocks`).

    The probe (left) side is ``spread()`` to full parallelism first:
    fixture-sized parquet arrives as a single input partition, and a
    broadcast join + partial-aggregate over the O(pairs) output would
    otherwise execute as ONE task pinned to one core (observed 38 s →
    ~8 s at sf0.1). On a real cluster the scan is already many
    partitions and the repartition collapses to a cheap no-op pass
    over table-sized (not pair-sized) rows."""
    from .operators.util import spread

    a = with_suffix(spread(data_a), "_left")
    b = with_suffix(data_b, "_right")
    id_l = suffixed(unique_id_a, "_left")
    id_r = suffixed(unique_id_b, "_right")

    rules = [_coerce_rule(r) for r in blocking_variables]
    rules += [BlockingRule.where(e) for e in blocking_expressions]
    if not rules:
        rules = [BlockingRule.where(F.lit(True))]  # full cross product

    passes = []
    prev_conds: list[Column] = []
    for rule in rules:
        if rule.expression is not None:
            cond = as_column(rule.expression)
        else:
            conds = [
                a[suffixed(l, "_left")] == b[suffixed(r, "_right")]
                for l, r in rule.keys
            ]
            cond = reduce(lambda x, y: x & y, conds)
        join_cond = cond
        if disjoint:
            for pc in prev_conds:
                join_cond = join_cond & ~F.coalesce(pc, F.lit(False))
            prev_conds.append(cond)
        passes.append(a.join(b, join_cond, "inner").select(id_l, id_r))
    return passes


def ordered_pairs(pairs: DataFrame, id_left: str | None = None, id_right: str | None = None) -> DataFrame:
    """Self-linkage dedup: keep each unordered pair once via
    ``id_left < id_right`` (reference scratch.R:28)."""
    cols = pairs.columns
    id_left = id_left or cols[0]
    id_right = id_right or cols[1]
    return pairs.filter(F.col(id_left) < F.col(id_right))


def salted_block_pairs(
    data: DataFrame,
    unique_id: str,
    block_col: str,
    num_salts: int = 8,
) -> DataFrame:
    """Self-link candidate pairs within ``block_col`` blocks via salted
    triangle decomposition — the explicit skew path for HOT blocking
    keys, beyond what AQE skew-join splitting can do for a self-join.

    A low-cardinality key (25 nations at 1B rows) makes one block's
    pair count quadratic and pins it to however many tasks hold that
    key. Salting splits each block into ``num_salts`` groups by
    ``pmod(xxhash64(id), s)`` and joins every unordered group pair
    (a ≤ b) as an equi-join on (block, a, b): each side replicates its
    rows ~s/2×, the shuffle grows s×, but the largest join partition
    shrinks s²× — turning one quadratic straggler into s·(s+1)/2
    uniform tasks. Every unordered id pair meets exactly once:
    within-group (a == b) pairs are deduplicated by ``id_l < id_r``,
    cross-group pairs are oriented with least/greatest.

    Exact-parity-gated against the unsalted pass (registry
    ``blocking_salted_pass`` + tests)."""
    s = int(num_salts)
    if s < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    base = data.select(
        F.col(unique_id).alias("__id"),
        F.col(block_col).alias("__blk"),
        F.pmod(F.xxhash64(F.col(unique_id)), F.lit(s)).alias("__g"),
    )
    # left leg: row with salt a participates in group-pairs (a, b≥a)
    left = base.select(
        "__id",
        "__blk",
        F.col("__g").alias("__a"),
        F.explode(F.sequence(F.col("__g"), F.lit(s - 1))).alias("__b"),
    )
    # right leg: row with salt b participates in group-pairs (a≤b, b)
    right = base.select(
        F.col("__id").alias("__id_r"),
        "__blk",
        F.explode(F.sequence(F.lit(0), F.col("__g"))).alias("__a"),
        F.col("__g").alias("__b"),
    )
    joined = left.join(right, on=["__blk", "__a", "__b"], how="inner")
    within = (F.col("__a") == F.col("__b")) & (F.col("__id") < F.col("__id_r"))
    cross = F.col("__a") != F.col("__b")
    return (
        joined.filter(within | cross)
        .select(
            F.least("__id", "__id_r").alias("id_left"),
            F.greatest("__id", "__id_r").alias("id_right"),
        )
    )


def sorted_neighborhood_pairs(
    data: DataFrame,
    unique_id: str,
    sort_key,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD '95 —
    the classic third member of the blocking family next to equi
    blocks and banded keys): sort the dataset by ``sort_key``, slide a
    ``window``-record window down the sort order, and emit every
    unordered record pair that co-occurs in some window — i.e. all
    pairs whose GLOBAL sort ranks differ by less than ``window``.
    Unlike equi blocking the pair budget is exactly ``(window-1)·n``
    regardless of key skew: a hot key value cannot produce a quadratic
    block, it just occupies a longer run of the sort order.

    Distributed shape — two places where the naive plan breaks at
    scale, both avoided:

    * **Global rank without a one-task sort.** A bare
      ``row_number() OVER (ORDER BY key)`` funnels the entire dataset
      through ONE task. Instead the rank comes from
      :func:`~ppack_spark.operators.util.distributed_rank` over
      ``(key NULLS FIRST, id)``: range buckets, a local ``row_number``
      per bucket and in-plan bucket offsets. Ties in the key break on
      the id, so the order is total and the rank (and every pair) is
      deterministic across layouts and engines.
    * **Neighbor join without a non-equi join.** ``0 < rank_r − rank_l
      < window`` is a band predicate; joined directly it is a nested
      loop. Ranks are bucketed into ``window``-sized blocks
      (``floor(rank/window)``) and each left row probes its own block
      and the next one — two equi passes (one join on an exploded
      2-element block array), each pair meeting exactly once, with the
      band predicate reduced to a residual filter. Per-row fan-out is
      ≤ 2, so the join input is ~2n rows whatever the data.

    Returns ``(<unique_id>_left, <unique_id>_right)`` with
    ``id_left < id_right`` (the dedup orientation shared by the other
    self-link blockers). Compose with :func:`extract_blocks` output by
    union + distinct for multi-pass SNM (the standard multi-key
    variant), and rehydrate via ``compute_pairs_dataset`` as usual.
    """
    w = int(window)
    if w < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    key = as_column(sort_key)
    keyed = data.select(F.col(unique_id).alias("__id"), key.alias("__k"))
    # NULLS FIRST pinned explicitly (Spark's default, but DuckDB's
    # ORDER BY defaults to NULLS LAST — an oracle replay must say
    # NULLS FIRST or ranks diverge on NULL keys)
    ranked = distributed_rank(
        keyed, [F.asc_nulls_first("__k"), F.col("__id")], "__r"
    ).select("__id", "__r")
    left = ranked.select(
        F.col("__id").alias("__id_l"),
        F.col("__r").alias("__rl"),
        F.explode(
            F.array(
                F.floor(F.col("__r") / w), F.floor(F.col("__r") / w) + 1
            )
        ).alias("__b"),
    )
    right = ranked.select(
        F.col("__id").alias("__id_r"),
        F.col("__r").alias("__rr"),
        F.floor(F.col("__r") / w).alias("__b"),
    )
    return (
        left.join(right, on="__b")
        .filter(
            (F.col("__rr") > F.col("__rl"))
            & (F.col("__rr") - F.col("__rl") < w)
        )
        .select(
            F.least("__id_l", "__id_r").alias(f"{unique_id}_left"),
            F.greatest("__id_l", "__id_r").alias(f"{unique_id}_right"),
        )
    )


def blocking_pass_counts(
    data_a: DataFrame,
    data_b: DataFrame,
    unique_id_a: str,
    unique_id_b: str,
    blocking_variables: Iterable[RuleLike],
) -> DataFrame:
    """Guardrail diagnostic: per-pass candidate-pair counts (pre-union,
    pre-distinct) as one DataFrame ``(pass_idx, n_pairs)`` — a SINGLE
    job (tagged union + groupBy), not one action per pass.

    Run this before committing to a blocking plan: a low-cardinality
    key (e.g. 25 nations) grows candidates quadratically per block at
    scale — the pass that explodes shows up here long before the join
    OOMs. The reference has no such guardrail; its passes are opaque
    until collected (linking.R:35)."""
    passes = _pass_frames(data_a, data_b, unique_id_a, unique_id_b, blocking_variables)
    tagged = [
        p.select(F.lit(i).cast("long").alias("pass_idx")) for i, p in enumerate(passes)
    ]
    counts = (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("pass_idx")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # A pass yielding ZERO pairs must still report an explicit
    # n_pairs=0 row — the diagnostic going silent exactly when a pass
    # is degenerate/misconfigured defeats its purpose.
    all_passes = data_a.sparkSession.range(len(passes)).select(
        F.col("id").alias("pass_idx")
    )
    return all_passes.join(counts, on="pass_idx", how="left").select(
        "pass_idx", F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs")
    )


def estimate_blocking_counts(
    data_a: DataFrame,
    data_b: DataFrame,
    blocking_variables: Iterable[RuleLike],
) -> DataFrame:
    """Predict each equi pass's candidate-pair count WITHOUT running
    the pair join: ``|A ⋈ B on k| = Σ_v cnt_A(v) · cnt_B(v)``, from one
    per-key aggregate per side — table-sized work instead of
    pair-sized. ``blocking_pass_counts`` measures the same number by
    materializing the pairs; this estimator is what you run FIRST at
    100 TB, where a bad pass is exactly the one you cannot afford to
    materialize even once (equality of the two is gate- and
    unit-tested). Expression passes (non-equi) are not estimable from
    key histograms and raise.

    Rows with a NULL in any blocking key are excluded on both sides,
    matching inner equi-join semantics exactly.
    """
    rules = [_coerce_rule(r) for r in blocking_variables]
    frames = []
    for i, rule in enumerate(rules):
        if rule.expression is not None:
            raise ValueError(
                f"pass {i} is an expression rule — only equi passes "
                "have histogram-predictable sizes"
            )
        keys_l = [l for l, _ in rule.keys]
        keys_r = [r for _, r in rule.keys]
        ca = (
            data_a.select(*[F.col(k).alias(f"__k{j}") for j, k in enumerate(keys_l)])
            .na.drop()
            .groupBy(*[f"__k{j}" for j in range(len(keys_l))])
            .agg(F.count(F.lit(1)).alias("__na"))
        )
        cb = (
            data_b.select(*[F.col(k).alias(f"__k{j}") for j, k in enumerate(keys_r)])
            .na.drop()
            .groupBy(*[f"__k{j}" for j in range(len(keys_r))])
            .agg(F.count(F.lit(1)).alias("__nb"))
        )
        est = ca.join(cb, on=[f"__k{j}" for j in range(len(keys_l))]).agg(
            F.coalesce(F.sum(F.col("__na") * F.col("__nb")), F.lit(0))
            .cast("long")
            .alias("est_pairs")
        )
        frames.append(est.select(F.lit(i).cast("long").alias("pass_idx"), "est_pairs"))
    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, frames)


def choose_blocking_spec(
    data_a: DataFrame,
    data_b: DataFrame,
    candidates: "dict[str, Iterable[RuleLike]]",
    budget_pairs: int,
) -> DataFrame:
    """Rank candidate blocking SPECS (named lists of passes) by their
    histogram-predicted pair budgets and mark the one to run — the
    estimator-driven workflow E120/`blocking_estimate_ab` demonstrate
    by hand, as a first-class operator.

    Policy: a spec's cost is the SUM of its passes' predicted pair
    counts (:func:`estimate_blocking_counts`) — an upper bound on the
    distinct union, and the actual join work paid, since every pass's
    equi-join runs before the dedup. Among specs within
    ``budget_pairs`` the CHOSEN one is the *largest* (candidate count
    is the recall proxy: blocking trades recall for cost, so within
    an affordable budget you want maximal coverage); if no spec fits,
    the cheapest overall is chosen (least-infeasible, and its
    ``within_budget=false`` row is the signal to re-spec). Ties break
    on spec name for engine-stable output.

    Returns one row per spec: ``spec, est_pairs, within_budget,
    chosen``. All work is table-sized (one per-key histogram per pass
    per side); the ranking window runs over a frame with one row per
    CANDIDATE SPEC — a handful — so the unpartitioned window is not a
    single-reducer risk. At 100 TB this is the pre-flight you run
    before materializing any pair set: the quadratic spec announces
    itself as a number, not as a dead cluster.
    """
    if not candidates:
        raise ValueError("choose_blocking_spec needs at least one candidate spec")
    frames = []
    for name, rules in candidates.items():
        est = estimate_blocking_counts(data_a, data_b, rules).agg(
            F.coalesce(F.sum("est_pairs"), F.lit(0)).cast("long").alias("est_pairs")
        )
        frames.append(est.select(F.lit(name).alias("spec"), "est_pairs"))
    report = reduce(DataFrame.unionByName, frames).withColumn(
        "within_budget", F.col("est_pairs") <= F.lit(int(budget_pairs))
    )
    from pyspark.sql.window import Window

    rank_key = (
        F.when(F.col("within_budget"), -F.col("est_pairs"))
        .otherwise(F.col("est_pairs"))
    )
    w = Window.orderBy(F.desc("within_budget"), rank_key.asc(), F.asc("spec"))
    return report.withColumn("chosen", F.row_number().over(w) == 1)


def pick_blocking_spec(
    data_a: DataFrame,
    data_b: DataFrame,
    candidates: "dict[str, Iterable[RuleLike]]",
    budget_pairs: int,
) -> "tuple[str, list[BlockingRule]]":
    """Driver-side convenience over :func:`choose_blocking_spec`:
    collect the (spec-count-sized) report and return ``(name, rules)``
    for the chosen spec, ready to hand to :func:`extract_blocks`.
    The collect is one row per candidate — never pair-sized."""
    row = (
        choose_blocking_spec(data_a, data_b, candidates, budget_pairs)
        .filter(F.col("chosen"))
        .select("spec")
        .head()
    )
    name = row["spec"]
    return name, [_coerce_rule(r) for r in candidates[name]]


def key_skew_report(
    df: DataFrame,
    cols: list[str],
    top_n: int = 20,
) -> DataFrame:
    """Heavy-hitter diagnostic for a prospective shuffle/join key:
    the ``top_n`` most frequent key values with their counts and
    corpus fraction — the rows that become stragglers when this key
    partitions a 100 TB shuffle (joins and groupBys are only as fast
    as their hottest key; a key holding >1/partitions of the data
    guarantees a straggler). Feed the result into salting decisions
    (``salted_block_pairs``) or AQE skew-join expectations BEFORE
    paying for the job.

    One partial-aggregated shuffle on the key + a global top-n
    (TakeOrderedAndProject — no full sort); ties broken by key value
    for engine-stable output. NULL keys count as a (reported) group —
    a mostly-NULL join key is itself a skew finding. The total-row
    denominator comes from a ROLLUP grand-total row in the SAME
    aggregation (disambiguated from genuine NULL keys by
    ``grouping_id``), so the input is scanned exactly once — a
    separate count() would be a second full pass at 100 TB.
    """
    counts = df.groupingSets([list(cols), []], *cols).agg(
        F.count(F.lit(1)).alias("n"), F.grouping_id().alias("__gid")
    )
    # both consumers below (top-n and the grand-total denominator)
    # read `counts`; without a materialization point each would re-run
    # the aggregation — i.e. re-scan the INPUT. A lazy local checkpoint
    # of the per-key count table (distinct-keys-sized, input-sized
    # never) makes the input scan happen exactly once.
    counts = counts.localCheckpoint(eager=False)
    grand = (1 << len(cols)) - 1
    total = counts.filter(F.col("__gid") == grand).select(
        F.col("n").cast("double").alias("__total")
    )
    ranked = (
        counts.filter(F.col("__gid") == 0)
        .orderBy(F.desc("n"), *[F.asc_nulls_last(c) for c in cols])
        .limit(top_n)
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        *cols,
        "n",
        F.round(F.col("n") / F.col("__total"), 6).alias("frac"),
    )
