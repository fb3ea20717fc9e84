"""CorpusPipeline — the corpus-preparation counterpart of
:class:`~ppack_spark.plans.linker.Linker`: a declarative spec of the
standard raw-crawl → training-shard stage sequence. With near dedup or
a leakage-safe split on, ``run()`` executes the pre-near-dedup prefix
once (a local checkpoint where the near-dup chain fans out) and the
near-dup components at call time; the stages after them stay lazy.

Stage order (each optional, every stage an already-gated operator):

    quality filter → corpus line dedup → exact dedup → eval
    decontamination (doc-drop) → span decontamination (excise
    remaining verbatim eval spans from survivors) → quantile trim →
    near dedup (MinHash-LSH, verified; min-id or best-score
    canonical) → temperature mix →
    authority mix (PageRank-weighted host shares, needs
    run(..., authority=...)) → token-budget mix → hash sample →
    train/val/test split (id-hash or leakage-safe cluster-hash) →
    chunk → pack → shuffle | curriculum

The facade only fixes composition order, threads the column names and
places that cut: right before near dedup, or right before a
leakage-safe split that computes its own components. The near-dup
chain reads its input three times, so without the cut the prefix's
shuffles run three times. ``run()`` returns a plain DataFrame whose
rows equal the hand-built chain's, and every stage can still be called
directly for custom chains. Near dedup and the samplers keep their
documented scale shapes (bucketed LSH with signature verify, salted
md5 selectors); chunk/pack/shuffle produce the trainer-facing columns
(chunk_id/chunk_text, seq_id/seq_offset, shard/shard_pos) that
``write_sharded`` then materializes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["CorpusSpec", "CorpusPipeline"]


@dataclass
class CorpusSpec:
    """Declarative configuration for :class:`CorpusPipeline`.

    ``None`` disables a stage. Dict-valued stages pass their entries as
    keyword arguments to the underlying operator (validated there).
    """

    text_col: str = "text"
    id_col: str = "doc_id"
    quality: bool = True
    # e.g. {"col": "n_chars", "lo": 0.02, "hi": 0.98} — corpus-relative
    # outlier trim applied right after the hygiene stages
    quantile_trim: dict | None = None
    line_dedup: bool = True
    exact_dedup: bool = True
    # e.g. {"num_hashes": 128, "band_size": 8, "verify_threshold": 0.6,
    # "max_bucket_size": 5000}; add "score_col": "quality" to keep each
    # cluster's BEST-scored member (near_dedup_keep_best) instead of
    # the min-id one
    near_dedup: dict | None = None
    decontaminate: bool = True  # applied when run() receives eval_docs
    # e.g. {"width": 8} — excise remaining verbatim eval-doc spans
    # from SURVIVING documents (span-level decontamination, E170): the
    # doc-drop pass above removes heavily-overlapped documents, this
    # removes quotation-sized leaks from the keepers; applied when
    # run() receives eval_docs
    span_decontaminate: dict | None = None
    # e.g. {"group_col": "lang", "alpha": 0.5, "target_total": 100_000}
    mix: dict | None = None
    # e.g. {"group_col": "host", "target_total": 100_000, "alpha": 1.0}
    # — weight groups by an EXTERNAL authority table (PageRank ranks
    # joined through the canonical host) instead of their own counts;
    # requires run(..., authority=<(group, weight) frame>)
    authority_mix: dict | None = None
    # e.g. {"budget_tokens": 1e9, "weights": {"en": .5, "fr": .5}} —
    # pin the mix to an explicit token budget (budget_mix)
    budget: dict | None = None
    sample_fraction: float | None = None
    # e.g. {"weights": {"train": 0.9, "val": 0.05, "test": 0.05}};
    # add "leakage_safe": True to hash the near-dup cluster canonical
    # id so near-copies never straddle train/eval
    split: dict | None = None
    # e.g. {"chunk_tokens": 1024, "overlap": 64}
    chunk: dict | None = None
    # e.g. {"budget": 4096, "n_buckets": 64}
    pack: dict | None = None
    # e.g. {"n_shards": 64, "salt": "epoch0"}
    shuffle: dict | None = field(default_factory=dict)
    # e.g. {"score_col": "mean_logprob", "n_stages": 3, "n_shards": 64}
    # — easy-first curriculum slots INSTEAD of the plain shuffle
    curriculum: dict | None = None


class CorpusPipeline:
    """Compose the corpus-preparation stages declared in a
    :class:`CorpusSpec`. With near dedup or a leakage-safe split on,
    ``run()`` executes the pre-near-dedup prefix once and the near-dup
    components at call time; the rest of the plan stays lazy.

    >>> spec = CorpusSpec(near_dedup={"num_hashes": 128, "band_size": 8},
    ...                   chunk={"chunk_tokens": 1024},
    ...                   pack={"budget": 4096})
    >>> out = CorpusPipeline(spec).run(docs, eval_docs=benchmarks)

    ``run()`` returns the trainer-facing DataFrame; pair it with
    ``sources.etl.write_sharded`` (size-bounded shards) or
    ``write_zordered`` for the final layout.
    """

    def __init__(self, spec: CorpusSpec | None = None):
        self.spec = spec or CorpusSpec()

    def run(
        self,
        df: DataFrame,
        eval_docs: DataFrame | None = None,
        authority: DataFrame | None = None,
    ) -> DataFrame:
        from ..operators.dedup import near_dedup_corpus, near_dedup_keep_best
        from ..operators.pipeline import (
            authority_mix,
            budget_mix,
            chunk_documents,
            curriculum_order,
            hash_sample,
            pack_sequences,
            prepare_corpus,
            quantile_filter,
            shuffle_corpus,
            split_corpus,
            split_corpus_leakage_safe,
            temperature_mix,
        )

        s = self.spec
        out = prepare_corpus(
            df,
            eval_docs=eval_docs if s.decontaminate else None,
            quality=s.quality,
            line_dedup=s.line_dedup,
            exact_dedup=s.exact_dedup,
            sample_fraction=None,  # sampling happens after near-dedup/mix
            text_col=s.text_col,
            id_col=s.id_col,
        )
        if s.span_decontaminate is not None and eval_docs is not None:
            from ..operators.pipeline import span_decontaminate

            out = span_decontaminate(
                out,
                eval_docs,
                text_col=s.text_col,
                id_col=s.id_col,
                **s.span_decontaminate,
            ).drop("n_tokens_removed")
        if s.quantile_trim is not None:
            out = quantile_filter(out, **s.quantile_trim)
        # when BOTH near dedup and the leakage-safe split are on, the
        # MinHash/LSH/verify/components chain — the dominant cost of
        # either stage — is computed ONCE on the pre-dedup corpus and
        # shared: dedup drops non-canonical members from it, and the
        # split hashes each survivor's ORIGINAL cluster canonical id
        # (strictly better than re-clustering the deduped corpus,
        # where the clusters are gone: a future re-crawl of a dropped
        # near-copy still lands in the same split)
        #
        # The near-dup chain reads its input three times (spread()'s
        # partition probe, the signature checkpoint, the final
        # anti-join or split join): cut the prefix so it runs once.
        shared_comps = None
        if s.near_dedup is not None:
            out = out.localCheckpoint(eager=False)
            nd = dict(s.near_dedup)
            score_col = nd.pop("score_col", None)
            if s.split is not None and s.split.get("leakage_safe"):
                from ..operators.dedup import near_dup_components

                shared_comps = near_dup_components(
                    out, text_col=s.text_col, id_col=s.id_col, **nd
                )
                nd["components"] = shared_comps
            if score_col is not None:
                out = near_dedup_keep_best(
                    out, score_col,
                    text_col=s.text_col, id_col=s.id_col, **nd,
                )
            else:
                out = near_dedup_corpus(
                    out, text_col=s.text_col, id_col=s.id_col, **nd
                )
        if s.mix is not None:
            out = temperature_mix(out, id_col=s.id_col, **s.mix)
        if s.authority_mix is not None:
            if authority is None:
                raise ValueError(
                    "CorpusSpec.authority_mix is set but run() received no"
                    " authority frame — pass authority=<(group, weight)"
                    " DataFrame> (e.g. pagerank output keyed by canonical"
                    " host)"
                )
            out = authority_mix(
                out, authority, id_col=s.id_col, **s.authority_mix
            )
        if s.budget is not None:
            out = budget_mix(
                out, text_col=s.text_col, id_col=s.id_col, **s.budget
            )
        if s.sample_fraction is not None:
            out = hash_sample(out, s.sample_fraction, id_col=s.id_col)
        if s.split is not None:
            if s.split.get("leakage_safe"):
                sp = {k: v for k, v in s.split.items() if k != "leakage_safe"}
                if shared_comps is not None:
                    sp["components"] = shared_comps
                else:  # the split computes its own components: cut as above
                    out = out.localCheckpoint(eager=False)
                out = split_corpus_leakage_safe(
                    out, text_col=s.text_col, id_col=s.id_col, **sp
                )
            else:
                out = split_corpus(out, id_col=s.id_col, **s.split)
        if s.chunk is not None:
            chunks = chunk_documents(
                out, text_col=s.text_col, id_col=s.id_col, **s.chunk
            )
            carry = [c for c in out.columns if c not in (s.text_col,)]
            out = chunks.join(
                out.select(*carry), on=s.id_col, how="left"
            ) if len(carry) > 1 else chunks
            # downstream stages key on the chunk, not the document
            out = out.withColumn(
                "__chunk_uid",
                F.concat(
                    F.col(s.id_col).cast("string"),
                    F.lit("#"),
                    F.col("chunk_id").cast("string"),
                ),
            )
            unit_id, token_col = "__chunk_uid", "chunk_n_tokens"
        else:
            unit_id, token_col = s.id_col, None
        if s.pack is not None:
            packed = pack_sequences(
                out,
                id_col=unit_id,
                text_col=s.text_col if s.chunk is None else "chunk_text",
                token_col=token_col,
                **s.pack,
            )
            # pack_sequences projects to its slot columns; join the
            # (bucket, seq_id, seq_offset) assignment back onto the
            # full rows so text and carried metadata flow to the sink
            out = out.join(packed.drop("n_tokens"), on=unit_id, how="inner")
        if s.curriculum is not None:
            slots = curriculum_order(out, id_col=unit_id, **s.curriculum)
            out = out.join(slots, on=unit_id, how="inner")
        elif s.shuffle is not None:
            out = shuffle_corpus(out, id_col=unit_id, **s.shuffle)
        return out
