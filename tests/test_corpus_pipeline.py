"""CorpusPipeline facade: the declarative spec must compose to exactly
the same result as hand-chaining the underlying gated operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from ppack_spark import CorpusPipeline, CorpusSpec


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_hygiene_stages_equal_manual_chain(spark, docs):
    from ppack_spark.operators.dedup import near_dedup_corpus
    from ppack_spark.operators.pipeline import prepare_corpus, temperature_mix

    spec = CorpusSpec(
        near_dedup={"num_hashes": 32, "band_size": 4, "verify_threshold": 0.6},
        mix={"group_col": "lang", "alpha": 0.5, "target_total": 300},
        sample_fraction=0.8,
    )
    eval_docs = docs.filter(F.col("doc_id") % 97 == 5).select("doc_id", "text")
    got = CorpusPipeline(spec).run(docs, eval_docs=eval_docs)

    manual = prepare_corpus(docs, eval_docs=eval_docs)
    manual = near_dedup_corpus(
        manual, num_hashes=32, band_size=4, verify_threshold=0.6
    )
    manual = temperature_mix(manual, "lang", alpha=0.5, target_total=300)
    from ppack_spark.operators.pipeline import hash_sample

    manual = hash_sample(manual, 0.8)
    g = {tuple(r) for r in got.select("doc_id", "lang").collect()}
    w = {tuple(r) for r in manual.select("doc_id", "lang").collect()}
    assert g == w and len(g) > 0


def test_trainer_stages_chunk_pack_shuffle(spark, docs):
    """With chunking on, pack/shuffle operate per CHUNK: every chunk
    gets exactly one (seq_id, seq_offset) and one (shard, shard_pos);
    chunk text round-trips; carried doc columns survive."""
    spec = CorpusSpec(
        line_dedup=False,
        chunk={"chunk_tokens": 32, "overlap": 0},
        pack={"budget": 128, "n_buckets": 4},
        shuffle={"n_shards": 4},
    )
    out = CorpusPipeline(spec).run(docs)
    rows = out.collect()
    assert len(rows) > 0
    uids = [r["__chunk_uid"] for r in rows]
    assert len(uids) == len(set(uids))
    for r in rows[:50]:
        assert r["seq_offset"] < 128 and r["seq_id"] >= 0
        assert 0 <= r["shard"] < 4 and r["shard_pos"] >= 1
        assert r["lang"] is not None  # carried through the chunk join
    # shard positions contiguous per shard
    per = {}
    for r in rows:
        per.setdefault(r["shard"], []).append(r["shard_pos"])
    for ps in per.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_default_spec_is_prepare_corpus(spark, docs):
    from ppack_spark.operators.pipeline import prepare_corpus, shuffle_corpus

    got = CorpusPipeline().run(docs)
    want = shuffle_corpus(prepare_corpus(docs))
    g = {tuple(r) for r in got.select("doc_id", "shard", "shard_pos").collect()}
    w = {tuple(r) for r in want.select("doc_id", "shard", "shard_pos").collect()}
    assert g == w


def test_round5_stages_equal_manual_chain(spark, docs):
    """quantile trim, keep-best near dedup, budget mix, leakage-safe
    split, and curriculum slots route through the facade identically
    to the manual operator chain."""
    from ppack_spark.operators.dedup import near_dedup_keep_best
    from ppack_spark.operators.pipeline import (
        budget_mix,
        curriculum_order,
        prepare_corpus,
        quantile_filter,
        split_corpus_leakage_safe,
    )

    scored = docs.withColumn("score", F.length("text").cast("double"))
    spec = CorpusSpec(
        quantile_trim={"col": "score", "lo": 0.01, "hi": 0.99},
        near_dedup={
            "num_hashes": 32, "band_size": 4,
            "verify_threshold": 0.6, "score_col": "score",
        },
        budget={"budget_tokens": 3000.0, "weights": {"en": 0.6, "fr": 0.4},
                "group_col": "lang"},
        split={"weights": {"train": 0.8, "test": 0.2}, "leakage_safe": True,
               "num_hashes": 32, "band_size": 4, "verify_threshold": 0.6},
        curriculum={"score_col": "score", "n_stages": 2, "n_shards": 4},
    )
    got = CorpusPipeline(spec).run(scored)

    from ppack_spark.operators.dedup import near_dup_components

    manual = prepare_corpus(scored)
    manual = quantile_filter(manual, "score", 0.01, 0.99)
    # the facade computes the components chain ONCE on the pre-dedup
    # corpus and shares it between dedup and the leakage-safe split
    comps = near_dup_components(
        manual, num_hashes=32, band_size=4, verify_threshold=0.6
    )
    manual = near_dedup_keep_best(
        manual, "score", num_hashes=32, band_size=4,
        verify_threshold=0.6, components=comps,
    )
    manual = budget_mix(
        manual, 3000.0, {"en": 0.6, "fr": 0.4}, group_col="lang"
    )
    manual = split_corpus_leakage_safe(
        manual, {"train": 0.8, "test": 0.2},
        num_hashes=32, band_size=4, verify_threshold=0.6,
        components=comps,
    )
    slots = curriculum_order(manual, "score", n_stages=2, n_shards=4)
    manual = manual.join(slots, on="doc_id", how="inner")

    cols = ["doc_id", "lang", "split", "stage", "shard", "shard_pos"]
    g = {tuple(r) for r in got.select(*cols).collect()}
    w = {tuple(r) for r in manual.select(*cols).collect()}
    assert g == w and len(g) > 0


def test_authority_mix_stage_equals_manual(spark, docs):
    """CorpusSpec.authority_mix == hand-chained authority_mix on the
    prepared corpus; omitting the authority frame raises."""
    from ppack_spark.operators.pipeline import authority_mix, prepare_corpus

    auth = docs.groupBy("lang").agg(F.avg("n_chars").alias("authority"))
    spec = CorpusSpec(
        authority_mix={"group_col": "lang", "target_total": 150},
        shuffle=None,
    )
    got = CorpusPipeline(spec).run(docs, authority=auth)
    manual = authority_mix(
        prepare_corpus(docs), auth, group_col="lang", target_total=150
    )
    g = sorted(r["doc_id"] for r in got.collect())
    w = sorted(r["doc_id"] for r in manual.collect())
    assert g == w and len(g) > 0
    with pytest.raises(ValueError, match="authority"):
        CorpusPipeline(spec).run(docs)


def test_span_decontaminate_stage_equals_manual(spark, docs):
    """CorpusSpec.span_decontaminate == hand-chained span_decontaminate
    on the prepared corpus (minus the diagnostic column); the stage is
    a no-op without eval_docs."""
    from ppack_spark.operators.pipeline import prepare_corpus, span_decontaminate

    eval_docs = docs.filter(F.col("doc_id") % 97 == 5).select("doc_id", "text")
    spec = CorpusSpec(span_decontaminate={"width": 8}, shuffle=None)
    got = CorpusPipeline(spec).run(docs, eval_docs=eval_docs)

    manual = span_decontaminate(
        prepare_corpus(docs, eval_docs=eval_docs), eval_docs, width=8
    ).drop("n_tokens_removed")
    g = {tuple(r) for r in got.select("doc_id", F.md5("text")).collect()}
    w = {tuple(r) for r in manual.select("doc_id", F.md5("text")).collect()}
    assert g == w and len(g) > 0
    assert "n_tokens_removed" not in got.columns

    skipped = CorpusPipeline(spec).run(docs)  # no eval_docs: stage off
    assert "n_tokens_removed" not in skipped.columns
    assert skipped.count() > 0


def _assert_reads_through_cut(out) -> None:
    """No leaf of the optimized plan scans the corpus or the eval docs
    file, and one leaf is the cut (a checkpointed ``LogicalRDD``)."""
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    kinds, scanned = [], []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kinds.append(leaf.getClass().getSimpleName())
        if kinds[-1] == "LogicalRelation":
            scanned.append(leaf.relation().location().rootPaths().mkString(","))
    assert "LogicalRDD" in kinds, kinds
    assert not any("documents.parquet" in p or "eval_docs.parquet" in p
                   for p in scanned), scanned


def test_near_dup_chain_reads_the_prefix_through_one_cut(spark, docs, tmp_path):
    """The near-dup chain reads its input three times (spread's
    partition probe, the signature checkpoint, the final anti-join and
    split join). With near dedup plus a leakage-safe split, and with
    the split alone, the output must read the corpus and the eval docs
    only through the cut, so the prefix's shuffles run once per run;
    the split alone still equals the hand-built chain row for row."""
    from ppack_spark.operators.pipeline import (
        prepare_corpus,
        split_corpus_leakage_safe,
    )

    eval_path = str(tmp_path / "eval_docs.parquet")
    docs.filter(F.col("doc_id") % 97 == 5).select("doc_id", "text").write.parquet(eval_path)
    evals = spark.read.parquet(eval_path)
    split = {"weights": {"train": 0.8, "test": 0.2}, "leakage_safe": True,
             "num_hashes": 32, "band_size": 4, "verify_threshold": 0.6}
    both = CorpusSpec(
        near_dedup={"num_hashes": 32, "band_size": 4, "verify_threshold": 0.6},
        split=split, shuffle=None,
    )
    out = CorpusPipeline(both).run(docs, eval_docs=evals)
    _assert_reads_through_cut(out)
    assert out.count() > 0

    got = CorpusPipeline(CorpusSpec(split=split, shuffle=None)).run(
        docs, eval_docs=evals
    )
    _assert_reads_through_cut(got)
    sp = {k: v for k, v in split.items() if k != "leakage_safe"}
    manual = split_corpus_leakage_safe(
        prepare_corpus(docs, eval_docs=evals), **sp
    )
    assert got.columns == manual.columns
    g = [r.asDict() for r in got.collect()]
    w = {r["doc_id"]: r.asDict() for r in manual.collect()}
    assert {r["doc_id"]: r for r in g} == w and len(g) == len(w) > 0
