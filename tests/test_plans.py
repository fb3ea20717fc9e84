"""Physical-plan regression tests: the scale properties the engine
relies on (filter pushdown, column pruning, broadcast joins, derived-
key extraction instead of nested-loop joins) asserted on the executed
plans, so they cannot silently regress."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, row_number_windows_without_partition

import __spark_entry__ as entrymod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_q1_filter_pushdown_and_column_pruning(spark, tables, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, SF_DIR))
    # the shipdate filter must reach the parquet scan...
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # ...and the scan must not read columns the query never touches
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema


def test_segment_revenue_broadcasts_dimension(spark, tables, queries):
    plan = _plan(queries["segment_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_blocking_expression_pass_is_hash_join(spark, tables, queries):
    """The prefix blocking rule is authored as a join predicate;
    Catalyst must extract the equality conjuncts into derived-key hash
    joins — never a nested-loop/cartesian plan (SURVEY §4)."""
    plan = _plan(queries["blocking_multi_pass"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_minhash_lsh_is_bucket_equi_join(spark, tables, queries):
    plan = _plan(queries["minhash_lsh_pairs"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scoring_weight_is_single_python_free_projection(spark, tables, queries):
    """Fitted params compile to an in-plan CASE expression: no Python
    UDF node may appear anywhere in the scoring plan."""
    plan = _plan(queries["match_weight_scoring"](spark, SF_DIR))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_jw_udf_evaluated_once(spark, tables, queries):
    """The JW pandas UDF feeds both the rounded similarity and the
    bucket CASE; Spark must deduplicate the equal UDF calls into a
    single ArrowEvalPython evaluation."""
    plan = _plan(queries["jw_comparator_buckets"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1
    assert "jw_similarity" in plan


def test_synthetic_ids_fully_parallel_and_contiguous(spark, tables):
    """u-sampling's synthetic-id minting must never funnel the id
    domain through one task (no row_number Window without a partition
    spec; ``distributed_rank``'s one single-partition exchange carries
    only its per-bucket count table), and must still be a bijection
    onto [0, n)."""
    import ppack_spark as pp

    spec = pp.LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="c_custkey",
        blocking_rules=[pp.BlockingRule.on("c_nationkey")],
        comparisons=[pp.Comparison.exact("c_mktsegment")],
    )
    linker = pp.Linker(spark, tables["customer"], None, spec)
    sids = linker._synthetic_ids(tables["customer"], "c_custkey")
    assert row_number_windows_without_partition(sids) == 0
    n = tables["customer"].select("c_custkey").distinct().count()
    stats = sids.agg(
        F.min("__sid").alias("lo"),
        F.max("__sid").alias("hi"),
        F.count_distinct("__sid").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["nd"], stats["n"]) == (0, n - 1, n, n)


def test_threshold_topk_is_rank_pruned(spark, tables, queries):
    """The per-group top-k scoring contract must rank-prune: Spark's
    WindowGroupLimit keeps only k rows per group in the sort buffer
    instead of fully sorting each group (the reason this variant
    replaces the global O(pairs) sort at scale)."""
    plan = _plan(queries["threshold_topk"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_threshold_global_topk_is_take_ordered(spark, tables):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), not a full distributed sort."""
    from ppack_spark.scoring import threshold_and_rank

    scored = tables["customer"].select(
        F.col("c_custkey"), F.col("c_acctbal").cast("double").alias("weight")
    )
    out = threshold_and_rank(scored, threshold=0.0, top_k=10,
                             tie_breakers=("c_custkey",))
    assert "TakeOrderedAndProject" in _plan(out)


def test_exact_dedup_has_partial_aggregation(spark, tables, queries):
    """Map-side partial agg must collapse duplicates before the
    shuffle (two HashAggregate phases around one Exchange)."""
    plan = _plan(queries["dedup_exact"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_temperature_mix_corpus_never_shuffles(spark, tables, queries):
    """The corpus side must reach the accept-filter via a broadcast
    join of the tiny rate table — no Exchange between the documents
    scan and the join (the window/agg Exchanges all sit on the
    few-rows-per-group rate side)."""
    plan = _plan(queries["temperature_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the probe (corpus) side of the broadcast join reads the scan
    # directly — no Exchange between them
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_quality_flags_zero_shuffle(spark, tables, queries):
    """Pure map pass: no Exchange anywhere in the plan."""
    plan = _plan(queries["quality_filter_flags"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_repetition_signals_zero_shuffle(spark, tables, queries):
    plan = _plan(queries["repetition_signals"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_line_dedup_shuffles_hashes_not_text(spark, tables, queries):
    """The duplicate-count aggregate must key on md5(line) — the
    32-byte hash — and do map-side partial aggregation before its
    Exchange; the raw line string must not be a shuffle key."""
    plan = _plan(queries["line_dedup_corpus"](spark, SF_DIR))
    # md5 computed below the aggregate (map-side), partial agg present
    assert "md5(cast(line" in plan
    assert "partial_count" in plan
    # the raw line string is never a shuffle key
    keys = [s.split(",")[0] for s in plan.split("Exchange hashpartitioning(")[1:]]
    assert not any(k.startswith("line#") for k in keys)


def test_repeated_spans_winnowed_hashes_shuffle(spark, tables, queries):
    """Only winnowed span hashes reach the count shuffle (the span
    text itself never appears in an Exchange key)."""
    plan = _plan(queries["repeated_spans"](spark, SF_DIR))
    keys = [s.split(",")[0] for s in plan.split("Exchange hashpartitioning(")[1:]]
    assert any("span_hash" in k for k in keys)


def test_doc_chunks_zero_shuffle(spark, tables, queries):
    """Chunking is a pure map fan-out (tokenize → posexplode → slice):
    no Exchange anywhere — it pipelines into the scan."""
    plan = _plan(queries["doc_chunks"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_corpus_upsample_zero_shuffle(spark, tables, queries):
    """Epoch upsampling is a map-side explode(sequence) with a literal
    CASE rate table: no Exchange, no join."""
    plan = _plan(queries["corpus_upsample"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_corpus_shuffle_single_exchange(spark, tables, queries):
    """The training-order shuffle pays exactly ONE shuffle (on the
    shard id) — never a global sort/total order."""
    plan = _plan(queries["corpus_shuffle"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_blocking_estimate_is_table_sized(spark, tables, queries):
    """The estimator must never materialize pairs: aggregates happen
    on per-key counts (partial_count before the exchange) and the
    per-pass total is a scalar aggregate — no pair-fan-out join output
    beyond the key-histogram join."""
    plan = _plan(queries["blocking_estimate"](spark, SF_DIR))
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_key_skew_report_no_full_sort(spark, tables, queries):
    """Top-n must be TakeOrderedAndProject (rank-pruned), not a global
    Sort of every key."""
    plan = _plan(queries["key_skew_report"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_zorder_key_pure_expression(spark, tables, queries):
    """The Morton key is shift/mask codegen over the scan — the gate
    plan's only exchange is the min/max stats aggregate feeding the
    literal bounds (computed before the plan is built), so the keyed
    projection itself has no Exchange and no UDF."""
    plan = _plan(queries["zorder_layout"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_pairs_are_bucket_equi_join(spark, tables):
    """The quadratic cosine work must be confined to a bucket
    equi-join — no cartesian product anywhere in the pair plan."""
    from ppack_spark.operators.ann import (
        cosine,
        hyperplane_lsh_buckets,
    )

    e = tables["embeddings"].withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    bk = hyperplane_lsh_buckets(e, 64, 6).select(
        F.col("vec_id"), F.col("embedding"), F.col("bucket").alias("__ck")
    )
    left = bk.select(
        "__ck", F.col("vec_id").alias("id_left"), F.col("embedding").alias("__vl")
    )
    right = bk.select(
        "__ck", F.col("vec_id").alias("id_right"), F.col("embedding").alias("__vr")
    )
    pairs = left.join(right, on="__ck").filter(F.col("id_left") < F.col("id_right"))
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_hamming_pairs_are_segment_equi_join(spark, tables, queries):
    """SimHash/phash near-dup candidates must come from the pigeonhole
    segment blocking (Manku WWW'07): the self-join is EQUI on the
    (__seg, __segval) columns — never a cross join, never a
    block-sized nested-loop fan-in — for the unblocked banded gates
    AND the source/kind-blocked variants (where the block column is
    just a further join key)."""
    for name in (
        "simhash_near_dup_banded",
        "phash_near_dup_banded",
        "simhash_near_dup",
        "media_phash_near_dup",
    ):
        plan = _plan(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        joins = [
            ln
            for ln in plan.splitlines()
            if "Join" in ln and "__segval" in ln and "__seg" in ln
        ]
        assert joins, f"{name}: no join keyed on (__seg, __segval)"


def test_budget_mix_corpus_never_shuffles(spark, tables, queries):
    """Same contract as temperature_mix: the corpus reaches the
    accept filter via a broadcast of the tiny per-group rate table —
    no Exchange between the documents scan and the join."""
    plan = _plan(queries["budget_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_quantile_filter_probe_side_unshuffled(spark, tables, queries):
    """The 2-value percentile row is broadcast back; the corpus side
    must be a plain filtered scan with no hash Exchange."""
    plan = _plan(queries["quantile_length_filter"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_near_dedup_keep_best_no_corpus_window(spark, tables, queries):
    """The per-cluster argmax is a struct max inside a groupBy on the
    component id — never a Window over the corpus; candidate joins
    stay equi-joins."""
    plan = _plan(queries["near_dedup_keep_best"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_leakage_safe_split_shape(spark, tables, queries):
    """Cluster-canonical assignment is a join + CASE over the salted
    hash: no window, no cartesian blowup anywhere in the chain."""
    plan = _plan(queries["corpus_split_leakage_safe"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_interp_no_forced_bigram_broadcast(spark, tables, queries):
    """The bigram ML table join must be left to the optimizer (its
    size grows with the corpus); only the vocab-bounded unigram and
    totals tables may carry explicit broadcast hints. The logical
    plan must contain no python UDF and no cartesian join."""
    df = queries["lm_interp_score"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_stratified_topk_is_rank_pruned(spark, tables, queries):
    """The per-stratum cap must hit Spark's WindowGroupLimit rewrite
    (O(k) sort buffers), not a full per-stratum sort."""
    plan = _plan(queries["stratified_topk"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_curriculum_order_no_global_window(spark, tables, queries):
    """Stage assignment must be a broadcast cut-array comparison —
    the only Window may partition by (stage, shard), never a global
    (unpartitioned) ntile that would serialize the corpus."""
    plan = _plan(queries["curriculum_order"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    for frag in plan.split("Window")[1:]:
        head = frag.splitlines()[0]
        # every window operator's partition spec must be non-empty
        assert "partitionBy" not in head or "partitionBy()" not in head
        assert "windowspecdefinition(stage" in head or "stage" in head


def test_registry_wide_plan_invariants(spark, tables, queries):
    """Blanket physical-plan sweep over EVERY registered query: no
    row-at-a-time Python UDF anywhere (the JW pandas UDF is the one
    sanctioned Arrow-batched kernel, strictly post-blocking), and no
    CartesianProduct (unhinted cross joins; broadcast single-row
    crossJoins lower to BroadcastNestedLoopJoin, which stays legal
    only for those tiny builds)."""
    allowed_pandas_udf = {
        # JW similarity: Arrow-batched, post-blocking by construction
        "jw_comparator_buckets", "jw_sql_buckets", "comparison_vectors",
        "match_weight_scoring", "threshold_rank", "threshold_topk",
        "posterior_probability", "calibration_curve", "calibration_glm",
        "linkage_em_params", "linkage_em_end_to_end", "pattern_counts",
        "u_prob_frequencies",
        # PQ encode/ADC scan: Arrow-batched by design
        "ann_pq_topk", "ann_ivfpq_topk",
        "ann_pq_topk_scan", "ann_ivfpq_topk_scan",
        # JW approx tier: prefilter feeds the same Arrow kernel
        "jw_approx_buckets", "jw_scaled_buckets",
        # Misra-Gries summary pass: Arrow-batched by design — the
        # bounded-memory candidate sweep IS the operator (E145); the
        # exact recount that follows is pure codegen
        "heavy_hitters",
    }
    failures = []
    for name, fn in queries.items():
        try:
            plan = _plan(fn(spark, SF_DIR))
        except Exception as exc:  # pragma: no cover - surfaced below
            failures.append(f"{name}: plan build failed: {exc!r}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "BatchEvalPython" in plan:  # row-at-a-time Python UDF
            failures.append(f"{name}: row-at-a-time Python UDF")
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan or
                "FlatMapGroupsInPandas" in plan):
            if name not in allowed_pandas_udf:
                failures.append(f"{name}: unexpected pandas UDF")
    assert not failures, "\n".join(failures)


def test_plan_cost_report_census(spark, tables, queries):
    """The pre-flight plan census reports the shapes the plan tests
    assert individually: a zero-shuffle map pass shows 0 shuffles, a
    broadcast-join sampler shows a broadcast and no cartesian, and the
    linkage chain shows its shuffles without any Python UDF rows."""
    from ppack_spark.operators.util import plan_cost_report

    flags = plan_cost_report(queries["quality_filter_flags"](spark, SF_DIR))
    assert flags["n_shuffles"] == 0 and not flags["has_cartesian"]

    mix = plan_cost_report(queries["temperature_mix"](spark, SF_DIR))
    assert mix["n_broadcasts"] >= 1 and not mix["has_cartesian"]

    # the disjoint passes need no pair-keyed distinct exchange: the
    # blocking joins broadcast and nothing shuffles
    blocking = plan_cost_report(queries["blocking_multi_pass"](spark, SF_DIR))
    assert blocking["n_shuffles"] == 0
    assert blocking["n_broadcasts"] >= 1
    assert not blocking["has_python_udf"]
    assert blocking["n_scans"] >= 1


def test_ten_pass_blocking_plan_builds_and_matches_union_distinct(spark):
    """Disjoint blocking ANDs every pass with the negation of all
    earlier passes, so a k-pass spec carries O(k²) negated predicates.
    At k=10 the plan must still build and run without a cartesian
    product, and return exactly the union-all → distinct pair set of
    the raw passes."""
    from ppack_spark.blocking import _pass_frames, extract_blocks
    from ppack_spark.operators.util import plan_cost_report

    data = spark.createDataFrame(
        [(i, *[(i * (k + 3)) % (k + 5) for k in range(10)]) for i in range(40)],
        "uid long, " + ", ".join(f"k{k} long" for k in range(10)),
    )
    rules = [f"k{k}" for k in range(10)]
    got = extract_blocks(data, data, "uid", "uid", blocking_variables=rules)
    assert not plan_cost_report(got)["has_cartesian"]
    raw = _pass_frames(data, data, "uid", "uid", rules)
    union = raw[0]
    for frame in raw[1:]:
        union = union.unionByName(frame)
    rows = got.collect()
    assert len(rows) == len(set(rows))  # duplicate-free by construction
    assert set(rows) == set(union.distinct().collect())


def test_bm25_plan_shape(spark, tables, queries):
    """BM25's top-k must be rank-pruned (WindowGroupLimit, never a
    full per-query sort); the query-term prune and the stats frames
    must arrive as broadcasts; no Python anywhere in the plan."""
    plan = _plan(queries["bm25_search"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_host_boilerplate_plan_broadcasts_host_totals(spark, tables, queries):
    """The per-host doc totals are a host-table-sized frame and must
    broadcast into the boilerplate filter, not shuffle the line
    table."""
    plan = _plan(queries["host_boilerplate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_recount_is_broadcast_semi(spark, tables, queries):
    """Pass 2's candidate recount must reach the token stream as a
    broadcast join (candidates are <= capacity x partitions rows) —
    the full-vocabulary shuffle this operator exists to avoid must
    not appear as a sort-merge join on the term."""
    plan = _plan(queries["heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scale_suspects_flags_top_endpoint():
    """The r12 endpoint rule: the TOP scale point is flagged for
    retry when its min implies a segment exponent > 1.2 (plus a 0.5 s
    absolute floor); interior rules and the bottom endpoint are
    unchanged."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "scale_proof",
        os.path.join(os.path.dirname(__file__), "..", "tools", "scale_proof.py"),
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    def raw(points):
        return {
            str(sf): {"samples": {"q": [t]}, "failed": [], "calib": [1.0]}
            for sf, t in points
        }

    # 3.13 -> 11.66 over 0.2 -> 0.5 is exp ~1.44: flagged at the top
    sus = sp._suspects(raw([(0.1, 2.0), (0.2, 3.13), (0.5, 11.66)]))
    assert sus.get(0.5) == ["q"]
    # a flat tail is not flagged
    sus = sp._suspects(raw([(0.1, 2.0), (0.2, 3.0), (0.5, 6.5)]))
    assert 0.5 not in sus
    # sub-second jitter stays under the 0.5 s floor
    sus = sp._suspects(raw([(0.5, 0.2), (1.0, 0.9)]))
    assert 1.0 not in sus
    # the interior non-monotone rule still fires
    sus = sp._suspects(raw([(0.1, 1.0), (0.2, 9.0), (0.5, 3.0)]))
    assert sus.get(0.2) == ["q"]
