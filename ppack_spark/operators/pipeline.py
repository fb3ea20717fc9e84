"""Training-data pipeline operators — the corpus-preparation steps
between dedup and training in an LLM data pipeline (SURVEY.md §2e):

* hygiene: CCNet corpus-line dedup (``dedup_corpus_lines``), winnowed
  repeated-span detection (``repeated_spans``), eval decontamination
  (broadcast-join and join-free Bloom-bitmap forms);
* sampling & mixing: deterministic hash / stratified-quota /
  temperature-weighted (``temperature_mix``) sampling, train-val-test
  splitting (``split_corpus``), repeat-factor epoch upsampling
  (``upsample_corpus``);
* selection & scoring: unigram-LM quality scores + CCNet perplexity
  buckets, DSIR importance weights, a trained logistic quality
  classifier (``train_quality_classifier``), data-card rollups
  (``corpus_stats``), column profiling (``profile_columns``);
* ingestion & packing: incremental exact/fuzzy delta merge, sequence
  packing, document chunking (``chunk_documents``), deterministic
  training-order shuffling (``shuffle_corpus``), the composed
  ``prepare_corpus`` chain;
* events analytics: conversion funnels, cohort retention, per-row
  trailing window aggregates (``trailing_window_agg``).

Every operator is gated against a DuckDB SQL replay (plans/
registry_data.py). Detailed scale notes live on each function; the
four foundational shapes:

* **Eval decontamination** — find corpus documents that share word
  n-grams with a benchmark/eval set, so they can be dropped before
  training (the standard n-gram-overlap decontamination used by GPT-3
  / PaLM data cards). Shape: explode shingles on both sides, broadcast
  the (tiny) eval side, equi-join on the shingle, count per
  (corpus doc, eval doc). Never quadratic: cost is O(matching
  shingles), and the eval side is broadcast so the corpus never
  shuffles.
* **Deterministic hash sampling** — reproducible uniform sampling by
  md5(id) prefix. Unlike ``df.sample()`` this is stable across runs,
  partitionings, and engines (md5 is bit-identical in Spark and
  DuckDB), which is what you want for a corpus snapshot you must be
  able to re-derive. Pure filter: pushes down, no shuffle.
* **Stratified quota sampling** — top-``k`` per stratum ordered by
  md5(id): a deterministic "take k docs per language/source" quota.
  One shuffle on the strata columns; the per-stratum sort is bounded
  by rank pruning (WindowGroupLimit pushes k into the sort at scale).
* **Sequence packing** — assign documents to fixed token-budget
  training sequences. Contiguous-fill packing inside hash buckets:
  order docs within a bucket, running-sum their token counts, and cut
  a new sequence every ``budget`` tokens. One window per bucket — no
  driver state, no global sort; buckets are independent so this
  scales out linearly (the classic first-fit-decreasing packer is
  inherently sequential; contiguous fill inside buckets is the
  distributed shape with ≤ one straddling doc per boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from .dedup import word_shingles

__all__ = [
    "eval_ngram_contamination",
    "bloom_bitmap",
    "bloom_contamination",
    "bloom_decontaminate",
    "hash_sample",
    "stratified_quota_sample",
    "stratified_topk",
    "curriculum_order",
    "pack_sequences",
    "dedup_corpus_lines",
    "temperature_mix",
    "budget_mix",
    "quantile_filter",
    "merge_corpus_delta",
    "merge_corpus_delta_fuzzy",
    "repeated_spans",
    "remove_repeated_spans",
    "span_contamination_report",
    "span_decontaminate",
    "prepare_corpus",
    "prepare_corpus_stages",
    "corpus_stage_report",
    "split_corpus",
    "split_corpus_leakage_safe",
    "funnel_counts",
    "cohort_retention",
    "top_term_coverage",
    "unigram_logprob",
    "interpolated_bigram_logprob",
    "perplexity_buckets",
    "dsir_importance_weights",
    "corpus_stats",
    "shuffle_corpus",
    "chunk_documents",
    "upsample_corpus",
    "train_quality_classifier",
    "quality_classifier_score",
    "QUALITY_CLASSIFIER_FEATURES",
    "trailing_window_agg",
    "trailing_zscore_flags",
    "profile_columns",
    "psi_report",
    "psi_report_categorical",
    "ks_drift_report",
    "distinct_count_sketches",
    "merge_distinct_count_sketches",
    "dedup_corpus_by_url",
    "url_host_report",
    "weighted_hash_sample",
    "remove_host_boilerplate",
    "heavy_hitter_terms",
    "corpus_diff",
    "join_size_estimate",
    "decontaminate_fuzzy",
    "corpus_mix_report",
]


def eval_ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus documents sharing ≥ ``min_shared`` distinct word
    ``k``-grams with an eval-set document.

    Returns (doc_id, eval_id, n_shared, containment) where containment
    is the fraction of the eval doc's distinct shingles found in the
    corpus doc — the decontamination decision variable (drop the doc,
    or the eval row, above a containment threshold).

    Both sides use the same distinct-shingle construction as the dedup
    family (operators/dedup.py:word_shingles), so |join matches| =
    |shingle-set intersection| with no double counting. The eval side
    is explicitly broadcast: at 100 TB the corpus side is the big scan
    and never shuffles — contamination counting is map-side join +
    one aggregation keyed on (doc, eval doc).
    """
    ev_sh = eval_docs.select(
        F.col(id_col).alias("eval_id"), word_shingles(text_col, k).alias("sh")
    )
    ev_exploded = ev_sh.select("eval_id", F.explode("sh").alias("shingle"))
    ev_sizes = ev_sh.select("eval_id", F.size("sh").alias("n_eval_shingles"))
    co = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    hits = (
        co.join(F.broadcast(ev_exploded), "shingle")
        .groupBy(id_col, "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return hits.join(F.broadcast(ev_sizes), "eval_id").select(
        id_col,
        "eval_id",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_eval_shingles"), 6).alias("containment"),
    )


def bloom_bitmap(
    eval_docs: DataFrame,
    k: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 2,
    text_col: str = "text",
) -> str:
    """Build a Bloom filter of the eval set's word ``k``-grams as a
    '0'/'1' character bitmap (``n_bits`` chars). Bit positions come
    from the same md5 double-hashing family as the MinHash signature
    (p_i = (h1 + i·h2) mod n_bits), so membership replays
    bit-identically in any engine with md5.

    This is the decontamination artifact for the 100 TB regime: the
    filter is built ONCE from the (small) eval side and inlined into
    the corpus plan as a literal — the corpus-side check becomes a
    pure map expression with NO join and NO shuffle at all, vs
    ``eval_ngram_contamination``'s broadcast join whose probe cost
    scales with |eval shingles|. Driver cost is bounded by ``n_bits``
    (the distinct-position collect can never exceed it), like the PQ
    codebooks in operators/ann.py.

    False-positive rate per probed shingle ≈ (1 − e^(−n_hashes·m/n_bits))
    ^ n_hashes for m eval shingles — size ``n_bits`` ≳ 10·m and flag
    docs on ≥2 hits (the ``bloom_contamination`` default) to keep
    false flags negligible.
    """
    from .dedup import word_shingles

    pos_rows = (
        eval_docs.select(F.explode(word_shingles(text_col, k)).alias("g"))
        .distinct()
        .select(
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5("g"), 9, 8), 16, 10).cast("long").alias("h2"),
        )
        .select(
            F.explode(
                F.array(
                    *[
                        ((F.col("h1") + F.lit(i) * F.col("h2")) % n_bits)
                        for i in range(n_hashes)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = bytearray(b"0" * n_bits)
    for r in pos_rows:
        bits[int(r["p"])] = ord("1")
    return bits.decode()


def bloom_contamination(
    corpus: DataFrame,
    bitmap: str,
    k: int = 3,
    n_hashes: int = 2,
    min_hits: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag corpus documents whose word ``k``-grams hit the eval
    Bloom filter (from :func:`bloom_bitmap`): adds ``n_bloom_hits``
    (distinct shingles with ALL ``n_hashes`` bits set) and
    ``contaminated`` (≥ ``min_hits``). Zero shuffle, zero join — the
    bitmap rides the plan as a literal and the whole check is one
    codegen'd map pass over the scan, the shape that lets
    decontamination piggyback on any other corpus pass for free.
    """
    from .dedup import word_shingles

    n_bits = len(bitmap)
    bmp = F.lit(bitmap)

    def _is_hit(g: Column) -> Column:
        h1 = F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5(g), 9, 8), 16, 10).cast("long")
        cond = None
        for i in range(n_hashes):
            p = (h1 + F.lit(i) * h2) % n_bits
            c = F.substring(bmp, p.cast("int") + 1, 1) == "1"
            cond = c if cond is None else (cond & c)
        return cond

    n_hits = F.coalesce(
        F.size(F.filter(word_shingles(text_col, k), _is_hit)), F.lit(0)
    ).cast("long")
    return corpus.withColumn("n_bloom_hits", n_hits).withColumn(
        "contaminated", F.col("n_bloom_hits") >= min_hits
    )


def bloom_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 2,
    min_hits: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop corpus documents flagged by the eval Bloom filter — the
    join-free twin of the ``eval_ngram_contamination`` + anti-join
    path in :func:`prepare_corpus`. Bloom false positives can drop a
    clean document (rate bounded as in :func:`bloom_bitmap`); when
    that matters, use this as a cheap prefilter and confirm the
    (few) flagged docs with the exact join."""
    bmp = bloom_bitmap(
        eval_docs, k=k, n_bits=n_bits, n_hashes=n_hashes, text_col=text_col
    )
    flagged = bloom_contamination(
        corpus, bmp, k=k, n_hashes=n_hashes, min_hits=min_hits,
        text_col=text_col, id_col=id_col,
    )
    return flagged.filter(~F.col("contaminated")).drop(
        "n_bloom_hits", "contaminated"
    )


def _id_hash(id_col: Column | str, n_hex: int = 4, salt: str = "") -> Column:
    """First ``n_hex`` hex chars of md5 of the id rendered as a string,
    with ``salt`` appended before hashing. Bit-identical in DuckDB:
    ``substr(md5(cast(id as varchar) || salt), 1, n)``.

    The salt decorrelates COMPOSED selections: every deterministic
    sampler in this module selects on an md5(id) prefix, and two
    selections on the *same* unsalted hash are nested, not independent
    — ``hash_sample(0.5)`` after a ``split_corpus`` 'train' range would
    draw only from the low end of train's hash range, and a rate-r mix
    after a fraction-f sample yields min(r, f) instead of r·f. Each
    operator therefore folds a distinct default salt into the hash
    (and exposes it, for callers composing the same operator twice).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    key = c.cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    return F.substring(F.md5(key), 1, n_hex)


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Deterministic ~``fraction`` uniform sample: keep rows whose
    md5(id ∥ salt) 16-bit hex prefix falls below ``fraction`` of the
    hex space. Reproducible across runs/engines/partitionings (unlike
    ``df.sample``, which depends on partition layout), and a pure
    pushed-down filter — the 100 TB path reads and shuffles nothing
    extra. Granularity is 1/65536.

    Composing two hash samples? Give them distinct ``salt`` values:
    two samples on the same salt are NESTED (the 0.3 sample is a
    subset of the 0.5 sample — useful for growing snapshots, wrong for
    independent draws). See ``_id_hash`` on why the other samplers in
    this module already default to distinct salts.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut_int = int(fraction * 0x10000)
    if cut_int >= 0x10000:  # fraction == 1.0: keep everything
        return df
    # 4-hex-digit md5 prefix < the 4-hex-digit cut, compared as strings
    # (same-length hex strings order identically to their numeric value).
    return df.filter(_id_hash(id_col, 4, salt) < F.lit(format(cut_int, "04x")))


def weighted_hash_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    strata: list[str] | None = None,
    salt: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006 A-ES): draw ``k`` rows where each row's inclusion
    odds are proportional to ``weight_col`` — the quality-weighted
    subset selection a training-data pipeline runs when it wants "k
    documents, preferring high scores" rather than a hard top-k (a
    hard top-k is deterministic CENSORING; weighted sampling keeps
    tail diversity in proportion to merit).

    A-ES keys each row with ``u^(1/w)`` for a uniform ``u`` and takes
    the k largest; here ``u`` derives from ``md5(id ∥ salt)`` (the
    module's deterministic-sampler convention — reproducible across
    runs, engines, and partition layouts, decorrelated from the other
    samplers by the salt), and the ordering key is the monotone
    transform ``ln(u)/w`` — one log, no pow, replayable in the SQL
    oracle. Rows with NULL or non-positive weight are excluded (a
    zero-weight row has zero inclusion odds; A-ES is undefined below
    that). Ties break on id.

    Scale shape: the key is a codegen'd expression on the scan.
    Global draws use ``orderBy(...).limit(k)`` — Spark's distributed
    TakeOrdered, per-partition top-k then a k-row merge, NO full
    sort. Stratified draws (``strata``) use a rank-pruned window
    (WindowGroupLimit keeps k per stratum inside the sort, the
    stratified_quota_sample shape). Returns the sampled rows of
    ``df`` unchanged."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # 8-hex md5 prefix -> uniform in (0, 1]; +1 keeps ln() finite
    v = F.conv(_id_hash(id_col, 8, salt), 16, 10).cast("long")
    u = (v + F.lit(1).cast("long")) / F.lit(float(0x100000000 + 1))
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    eligible = df.filter(w.isNotNull() & (w > 0)).withColumn("__aes", key)
    if strata:
        rank = F.row_number().over(
            Window.partitionBy(*strata).orderBy(
                F.desc("__aes"), F.asc(id_col)
            )
        )
        out = eligible.withColumn("__rn", rank).filter(F.col("__rn") <= k)
        return out.drop("__aes", "__rn")
    return (
        eligible.orderBy(F.desc("__aes"), F.asc(id_col)).limit(k).drop("__aes")
    )


def stratified_quota_sample(
    df: DataFrame,
    strata: list[str],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quota sample: the ``k`` rows per stratum with the
    smallest (md5(id), id) — i.e. "give me k docs per language" with a
    stable, engine-independent choice of which k.

    Plan: one shuffle on the strata columns; row_number is rank-pruned
    (Spark's WindowGroupLimit keeps only k rows per partition in the
    sort buffer), so memory is O(k) per stratum, not O(stratum).
    """
    w = Window.partitionBy(*strata).orderBy(_id_hash(id_col, 8), F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .withColumn("sample_rank", F.col("sample_rank").cast("long"))
    )


def stratified_topk(
    df: DataFrame,
    strata: list[str],
    k: int,
    order_col: str,
    ascending: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the ``k`` best rows per stratum ranked by ``order_col``
    (default descending — highest score wins; ties → min id): the
    per-domain quality cap of FineWeb-style recipes ("at most k
    documents per source, best first"), where
    :func:`stratified_quota_sample` picks k *representative* rows
    this picks the k *best*.

    Plan: one shuffle on the strata columns; the row_number is
    rank-pruned (Spark's WindowGroupLimit keeps only k rows per
    partition in the sort buffer), so memory is O(k) per stratum, not
    O(stratum) — the same scale shape as ``threshold_topk``.
    Returns the input columns plus ``quality_rank`` (1-based).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = F.asc(order_col) if ascending else F.desc(order_col)
    w = Window.partitionBy(*strata).orderBy(order, F.asc(id_col))
    return (
        df.withColumn("quality_rank", F.row_number().over(w))
        .filter(F.col("quality_rank") <= k)
        .withColumn("quality_rank", F.col("quality_rank").cast("long"))
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_stages: int = 3,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "curr",
) -> DataFrame:
    """Curriculum training schedule: stage 0 holds the
    highest-``score_col`` documents (easiest/cleanest first — the
    curriculum-learning ordering of Bengio et al. 2009 as used in
    data-recipe schedulers), later stages progressively lower bands;
    within each stage documents get a deterministic pseudo-random
    (shard, shard_pos) slot exactly like :func:`shuffle_corpus`. The
    trainer reads stages in order, shards within a stage in any
    order. Returns (id, stage, shard, shard_pos).

    Scale shape: stage boundaries are ``n_stages − 1`` exact
    interpolated percentiles of the score — ONE tiny aggregate
    broadcast back as a cut array, then a zero-shuffle comparison
    (never a global ntile, which would serialize the corpus through
    one window partition); the only corpus shuffle is the per-(stage,
    shard) position sort, bounded by shard size. Swap the exact
    percentile for ``approx_percentile`` at 100 TB (documented
    t-digest trade, as in :func:`quantile_filter`).
    """
    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    out_cols = [F.col(id_col), F.col("stage"), F.col("shard")]
    if n_stages == 1:
        staged = df.withColumn("stage", F.lit(0).cast("long"))
    else:
        fr = F.array(
            *[F.lit(i / n_stages) for i in range(1, n_stages)]
        )
        cuts = df.agg(F.percentile(score_col, fr).alias("__cuts"))
        # stage = how many cut points sit at-or-above the score: the
        # top band (scores above every cut) is stage 0
        staged = (
            df.crossJoin(F.broadcast(cuts))
            .withColumn(
                "stage",
                F.when(
                    F.col(score_col).isNull(),
                    # unscored documents go LAST, not first: a NULL
                    # comparison drops out of the filter and would
                    # otherwise count 0 cuts — landing unscored docs
                    # in stage 0 ahead of the best-scored ones
                    F.lit(n_stages - 1).cast("long"),
                ).otherwise(
                    F.size(
                        F.filter(
                            F.col("__cuts"),
                            lambda c: F.col(score_col) <= c,
                        )
                    ).cast("long")
                ),
            )
            .drop("__cuts")
        )
    h = _id_hash(id_col, 8, salt)
    staged = staged.withColumn(
        "shard", F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(n_shards))
    )
    w = Window.partitionBy("stage", "shard").orderBy(h, F.col(id_col))
    return staged.select(
        *out_cols, F.row_number().over(w).cast("long").alias("shard_pos")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training sequence of ~``budget``
    tokens: (doc_id, n_tokens, bucket, seq_id, seq_offset).

    Contiguous fill within deterministic hash buckets: docs are
    ordered by id inside ``bucket = id % n_buckets``, token counts are
    running-summed, and ``seq_id = floor(start_offset / budget)`` —
    a document starts in the sequence where its first token lands
    (documents longer than the remaining room straddle the boundary;
    the trainer's loader truncates or splits at read time, which is
    the standard streaming-packer contract).

    Scale shape: one window aggregate per bucket — buckets are
    independent, so parallelism = n_buckets regardless of corpus size;
    at 100 TB raise ``n_buckets`` to O(cores) and the plan is a single
    shuffle + per-partition sort, with no global coordination and no
    driver state.
    """
    tok = F.col(token_col) if token_col else token_count(text_col)
    id_type = df.schema[id_col].dataType.typeName()
    if id_type in ("byte", "short", "integer", "long"):
        # numeric ids: plain modulo — engine-independent, so the DuckDB
        # oracle replays it bit-for-bit
        bucket = (F.col(id_col) % n_buckets).cast("long")
    else:
        # string/any ids: modulo would yield NULL and silently funnel
        # the whole corpus into one bucket; hash-bucket instead
        # (deterministic, but Spark-specific — not oracle-replayable)
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    base = df.select(
        F.col(id_col),
        tok.cast("long").alias("n_tokens"),
        bucket.alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        "n_tokens",
        "bucket",
        F.floor((cum - F.col("n_tokens")) / budget).alias("seq_id"),
        ((cum - F.col("n_tokens")) % budget).alias("seq_offset"),
    )


def dedup_corpus_by_url(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-keyed exact dedup — the CCNet-style FIRST dedup stage, run
    before any content hashing: the same page is crawled under
    www/non-www, http/https, tracking-parameter, fragment, and
    trailing-slash variants, and collapsing those needs only the URL
    string, never the payload. Keeps the min-``id_col`` document per
    :func:`~ppack_spark.functions.text.canonical_url` key; rows whose
    canonical key is NULL (NULL url) all SURVIVE — no key is no
    evidence of duplication, the exact-dedup NULL convention.

    Scale shape: only (id, ~60-byte canonical key) shuffles through a
    map-side-partial groupBy; document text never leaves the scan —
    the winners come back as a broadcast-or-shuffle left-semi join on
    the id. Same shape as :func:`exact_dedup_keep_first` with the
    32-byte content hash swapped for the canonical URL."""
    from ..functions.text import canonical_url

    keyed = df.select(
        F.col(id_col).alias("__id"), canonical_url(url_col).alias("__k")
    )
    winners = (
        keyed.filter(F.col("__k").isNotNull())
        .groupBy("__k")
        .agg(F.min("__id").alias("__id"))
        .select("__id")
    )
    keep = winners.unionAll(
        keyed.filter(F.col("__k").isNull()).select("__id")
    ).select(F.col("__id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def url_host_report(
    df: DataFrame, url_col: str = "url", round_digits: int = 6
) -> DataFrame:
    """Per-host crawl-mix report over canonical URLs — the
    observability read a web-corpus build publishes next to its
    output ("which hosts dominate this crawl"): documents per host,
    share of the URL-bearing corpus, and a deterministic rank
    (count desc, host asc). Pairs with :func:`dedup_corpus_by_url`
    the way `dup_rate_report` pairs with the content dedups — the
    no-truth pre-flight before acting on a crawl (one host at 40 %
    of the corpus is a crawler-trap or boilerplate signal that no
    per-document quality score will surface).

    Host = the authority of the canonical form (already lowercased,
    www- and default-port-stripped by
    :func:`~ppack_spark.functions.text.canonical_url`); scheme-less
    fallback rows use everything before the first ``/``. NULL-url
    rows carry no host and are excluded. One host-keyed groupBy
    (map-side partial agg), then share/rank arithmetic on the
    host-table-sized frame — a window over thousands of hosts, never
    over documents.

    Returns ``host, n_docs, share, rank`` (count desc, host asc)."""
    from ..functions.text import canonical_host

    counts = (
        df.select(canonical_host(url_col).alias("host"))
        .filter(F.col("host").isNotNull())
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("n_docs"), F.asc("host"))
    return counts.select(
        "host",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w_all), round_digits
        ).alias("share"),
        F.row_number().over(w_rank).cast("long").alias("rank"),
    )


def dedup_corpus_lines(
    df: DataFrame,
    max_occurrences: int = 1,
    min_line_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style corpus-level line deduplication (Wenzek et al.
    2020 §3.1: hash every line/paragraph, drop the ones that repeat
    across the corpus — boilerplate like cookie banners repeats
    thousands of times and should vanish from *every* document).

    A line is removed from every document when it occurs more than
    ``max_occurrences`` times corpus-wide AND is at least
    ``min_line_chars`` long (short lines — headings, list markers —
    are kept unconditionally; dropping them would shred formatting).
    Documents keep their surviving lines in original order; NULL text
    stays NULL; a document whose every line is boilerplate comes back
    with empty text, not dropped (corpus-length bookkeeping stays
    intact for downstream packing).

    Returns the input columns with ``text_col`` replaced by the
    cleaned text plus ``n_lines_kept``.

    Scale shape (100 TB): line TEXT never shuffles — only 32-byte
    hashes and integer positions do (the r14 optimization pass; the
    earlier form re-exploded the text for the anti-join and shuffled
    every line through a per-document regroup). (1) one narrow
    (id, pos, hash, len) line table is computed once (lazy
    localCheckpoint — two aggregation consumers would otherwise
    re-run the split+md5 over the corpus), (2) duplicated hashes are
    counted on it with map-side partial agg, (3) a hash-keyed semi
    join yields the REMOVED (id, pos) set — bounded by actual
    boilerplate, AQE broadcasts the dup-hash side when it fits,
    (4) per-document removed positions are collected (boilerplate-
    bounded, never document-bounded) and the text is rebuilt with a
    pure codegen array filter on the original row — the same
    positions-only rebuild as the span-excision operators
    (:func:`_excise_spans`).
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).select(
        "__id",
        "pos",
        F.md5(F.col("line")).alias("__h"),
        F.length(F.col("line")).alias("__len"),
    )
    # NOT materialized: both consumers reduce the exploded rows
    # map-side (partial agg / semi join), so re-deriving the explode
    # costs two parallel text scans with no shuffle — measured faster
    # than checkpointing every (id, pos, hash, len) row first, which
    # blocks the scan→partial-agg pipelining
    dup_hashes = (
        lines.groupBy(F.col("__h").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > max_occurrences)
        .select("h")
    )
    removed = lines.filter(F.col("__len") >= min_line_chars).join(
        dup_hashes, lines["__h"] == dup_hashes["h"], "semi"
    )
    rem_pos = removed.groupBy("__id").agg(
        F.collect_set("pos").alias("__rp")
    )
    out = df.join(rem_pos, df[id_col] == rem_pos["__id"], "left")
    toks = F.split(F.col(text_col), "\n", -1)
    rp = F.coalesce(F.col("__rp"), F.array().cast("array<int>"))
    kept_arr = F.filter(toks, lambda line, i: ~F.array_contains(rp, i))
    clean = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws("\n", kept_arr)
    )
    keep_cols = [
        clean.alias(text_col) if c == text_col else F.col(c) for c in df.columns
    ]
    return out.select(
        *keep_cols,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(F.size(kept_arr).cast("long"))
        .alias("n_lines_kept"),
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    target_total: int = 1_000_000,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Temperature-weighted domain mixing: deterministically sample the
    corpus so group ``g``'s share of the output is proportional to
    ``count(g) ** alpha`` (the p^α re-weighting used to flatten domain
    imbalance when assembling training mixes — alpha=1 keeps natural
    proportions, alpha=0 equalizes groups, 0<alpha<1 up-weights rare
    domains). ``target_total`` sets the approximate output size; a
    group whose computed rate exceeds 1 is taken whole (no
    replication — this operator only down-samples).

    Selection is by md5(id ∥ salt) 32-bit prefix against the per-group
    acceptance rate, so the sample is reproducible across runs,
    partitionings, and engines (same mechanics as ``hash_sample``).
    The default ``salt`` differs from the other samplers' so a mix
    applied after ``hash_sample``/``split_corpus``/``prepare_corpus``
    draws independently — on a shared hash the composed rate would be
    min(rate, f), not rate·f (see ``_id_hash``).

    Scale shape: one tiny aggregate (one row per group) + a broadcast
    join back onto the corpus — the corpus itself never shuffles, and
    the accept filter sits directly on the scan.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    pw = F.pow(F.col("n"), F.lit(float(alpha)))
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    # the window runs over the per-group count table (one row per
    # group — tiny), never the corpus
    share = pw / F.sum(pw).over(Window.partitionBy())
    rates = counts.select(
        group_col,
        F.least(
            F.lit(1.0), F.lit(float(target_total)) * share / F.col("n")
        ).alias("__rate"),
    )
    hash_u32 = F.conv(
        _id_hash(id_col, 8, salt), 16, 10
    ).cast("double")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_u32 < F.col("__rate") * F.lit(4294967296.0))
        .drop("__rate")
        .select(*df.columns)
    )


def budget_mix(
    df: DataFrame,
    budget_tokens: float,
    weights: dict[str, float],
    group_col: str = "lang",
    size_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Token-budget mixture sampling: deterministically down-sample so
    each group contributes (approximately) its ``weights`` share of a
    ``budget_tokens`` total — the "assemble a 1T-token mix at these
    domain proportions" step of a training-data recipe, where
    :func:`temperature_mix` shapes proportions by corpus counts and
    this operator pins them to an explicit target budget.

    Per group g: ``rate_g = min(1, budget·w_g / tokens_g)`` with
    weights normalized; a group short of its allocation is taken
    whole (no replication and no redistribution of the shortfall —
    deterministic single-pass semantics; compose with
    :func:`upsample_corpus` to fill gaps by repetition). Groups
    absent from ``weights`` are dropped. ``size_col`` supplies
    per-row token counts (e.g. from ``token_stats``); otherwise
    whitespace tokens of ``text_col`` are counted in-plan.

    Selection is by md5(id ∥ salt) prefix against the group rate —
    reproducible across runs/engines/partitionings and independent of
    the other samplers (distinct default salt, see ``_id_hash``).
    Scale shape: one tiny per-group aggregate broadcast back; the
    corpus never shuffles; the accept filter sits on the scan.
    """
    from ..functions.text import tokens

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative and sum > 0: {weights}")
    total_w = float(sum(weights.values()))
    size = F.col(size_col) if size_col else F.size(tokens(text_col))
    sizes = df.groupBy(group_col).agg(
        F.sum(size).cast("double").alias("__t")
    )
    pairs: list[Column] = []
    for g, w in weights.items():
        pairs.append(F.lit(g))
        pairs.append(F.lit(float(w) / total_w))
    wexpr = F.create_map(*pairs)[F.col(group_col)]
    # drop no-weight groups BEFORE least(): least() skips NULLs, so a
    # NULL allocation would otherwise silently become rate 1.0. Same
    # trap on the size side: a group whose size_col is all-NULL (or
    # zero) sums to NULL/0 __t, the rate expression goes NULL/inf,
    # and least() would keep the group WHOLE — drop it instead (the
    # same fate as an unweighted group: no valid allocation, no rows).
    rates = (
        sizes.select(group_col, F.col("__t"), wexpr.alias("__w"))
        .filter(F.col("__w").isNotNull())
        .filter(F.col("__t").isNotNull() & (F.col("__t") > 0))
        .select(
            group_col,
            F.least(
                F.lit(1.0),
                F.lit(float(budget_tokens)) * F.col("__w") / F.col("__t"),
            ).alias("__rate"),
        )
    )
    hash_u32 = F.conv(_id_hash(id_col, 8, salt), 16, 10).cast("double")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_u32 < F.col("__rate") * F.lit(4294967296.0))
        .drop("__rate")
        .select(*df.columns)
    )


def authority_mix(
    df: DataFrame,
    authority: DataFrame,
    group_col: str = "host",
    weight_col: str = "authority",
    target_total: int = 1_000_000,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "authority",
) -> DataFrame:
    """Authority-weighted domain mixing: like :func:`temperature_mix`
    but group ``g``'s share of the output is proportional to an
    EXTERNAL authority score raised to ``alpha`` —
    ``authority(g) ** alpha`` — instead of the group's own document
    count. This is the link-authority integration step of a web-corpus
    recipe: feed it :func:`~ppack_spark.operators.graph.pagerank`
    output joined through the canonical host
    (:func:`~ppack_spark.functions.text.canonical_host`) and the mix
    weights hosts by who LINKS to them, not by how many pages they
    managed to serve the crawler — a million-page crawler trap with no
    inbound authority contributes almost nothing.

    ``authority`` is a small frame of ``(group_col, weight_col)``
    rows (one per group; duplicates are summed). Groups with no
    positive authority row are dropped — no authority, no budget.
    ``target_total`` sets the approximate output size; a group whose
    computed rate exceeds 1 is taken whole (down-sampling only, as in
    the other mixers). Selection is by md5(id ∥ salt) 32-bit prefix
    (reproducible across runs/engines/partitionings, independent of
    the other samplers' salts — see ``_id_hash``); the per-group rate
    is rounded to 9 decimals so both engines compare the hash against
    bit-identical rates even though the share normalization sums
    floating authorities.

    Scale shape: one tiny per-group count aggregate joined with the
    authority table (host-table-sized — broadcast), share/rate
    windows over that group table only, then the broadcast rate join
    back; the corpus itself never shuffles and the accept filter sits
    on the scan.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if target_total <= 0:
        raise ValueError(f"target_total must be positive: {target_total}")
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    aw = (
        authority.filter(
            F.col(group_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .groupBy(group_col)
        .agg(F.sum(F.col(weight_col).cast("double")).alias("__w"))
    )
    j = counts.join(aw, group_col)
    pw = F.pow(F.col("__w"), F.lit(float(alpha)))
    # the share window runs over the joined group table (one row per
    # authority-bearing group — tiny), never the corpus
    share = pw / F.sum(pw).over(Window.partitionBy())
    rates = j.select(
        group_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_total)) * share / F.col("__n"),
            ),
            9,
        ).alias("__rate"),
    )
    hash_u32 = F.conv(_id_hash(id_col, 8, salt), 16, 10).cast("double")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_u32 < F.col("__rate") * F.lit(4294967296.0))
        .drop("__rate")
        .select(*df.columns)
    )


def quantile_filter(
    df: DataFrame,
    col: str,
    lo: float = 0.02,
    hi: float = 0.98,
) -> DataFrame:
    """Keep rows whose ``col`` lies inside the corpus's own
    [``lo``, ``hi``] quantile range — the data-driven outlier trim
    (truncated docs, concatenation blobs, length spikes) that a fixed
    threshold can't express across heterogeneous corpora. NULLs are
    dropped (they have no quantile position).

    Exact linear-interpolated percentiles (one aggregate over the
    column) broadcast back as a 2-value row; the filter itself is a
    zero-shuffle scan predicate. At 100 TB swap the exact percentile
    for ``approx_percentile`` (t-digest; same plan shape, bounded
    memory) — exact is used here so the DuckDB oracle
    (``quantile_cont``) replays it bit-for-bit.
    """
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"need 0 <= lo <= hi <= 1, got {lo}, {hi}")
    cuts = df.agg(
        F.percentile(col, F.array(F.lit(float(lo)), F.lit(float(hi)))).alias(
            "__q"
        )
    )
    return (
        df.crossJoin(F.broadcast(cuts))
        .filter(
            (F.col(col) >= F.element_at("__q", 1))
            & (F.col(col) <= F.element_at("__q", 2))
        )
        .drop("__q")
    )


def merge_corpus_delta(
    existing: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus ingestion: the rows of ``delta`` that are
    genuinely new — their content hash appears nowhere in ``existing``
    — deduplicated within the delta itself (min-id wins, same policy
    as ``exact_dedup_keep_first``). Append the result to the corpus to
    complete the merge; the existing corpus is never rewritten.

    Scale shape: the 100-TB corpus is reduced to its 32-byte hash set
    *before* the join (project + partial-distinct at the scan), so the
    anti-join shuffles hashes, not documents; the delta (typically ≪
    corpus) is the only side carrying payload.
    """
    from ..functions.text import doc_fingerprint
    from .dedup import exact_dedup_keep_first

    h = doc_fingerprint(F.col(text_col))
    seen = existing.select(h.alias("__h")).distinct()
    fresh = (
        delta.withColumn("__h", h)
        .join(seen, "__h", "left_anti")
        .drop("__h")
    )
    return exact_dedup_keep_first(fresh, text_col=text_col, id_col=id_col)


def _span_hashes(
    df: DataFrame, text_col: str, id_col: str, width: int
) -> DataFrame:
    """(id, pos, __h): md5 of the ``width``-token span starting at
    every position (stride 1) of the single-space-tokenized text —
    the shared span fingerprint stream of :func:`repeated_spans`
    (detection) and :func:`remove_repeated_spans` (materialization).

    The token array is materialized into a column BEFORE the
    per-position slice: referencing the split expression inside the
    transform lambda would re-evaluate the split per position
    (Catalyst does no CSE across lambda boundaries — an O(n²)/doc
    blowup, measured 8× at sf0.1)."""
    toks = F.split(F.col(text_col), " ", -1)
    spans = F.transform(
        F.sequence(
            F.lit(0), F.greatest(F.size("__tk") - F.lit(width), F.lit(0))
        ),
        lambda i: F.md5(F.array_join(F.slice(F.col("__tk"), i + 1, width), " ")),
    )
    return df.select(F.col(id_col), toks.alias("__tk")).select(
        F.col(id_col), F.posexplode(spans).alias("pos", "__h")
    )


def repeated_spans(
    df: DataFrame,
    width: int = 50,
    window: int = 25,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-span detection via winnowing (Schleimer et al.,
    SIGMOD 2003) — the content-defined fingerprinting behind
    suffix-array substring dedup (Lee et al. 2022 remove repeated
    ≥ 50-token substrings; winnowed span hashes find them at a
    fraction of the suffix array's cost).

    Every ``width``-token span gets an md5 hash (stride 1); winnowing
    then keeps, for each window of ``window`` consecutive positions,
    the minimal hash. Selection depends only on content, never on
    document offsets — so ANY shared substring of at least
    ``width + window - 1`` tokens is guaranteed to produce the same
    selected fingerprint in every copy (a fixed-stride grid misses
    copies whose offsets differ mod stride; winnowing is the standard
    fix). Fingerprints kept per doc ≈ 2/(window+1) of positions.

    Tokenization is single-space split (engine-portable); documents
    shorter than ``width`` contribute one span (their whole text).
    Returns one row per repeated-fingerprint occurrence:
    (id, span_pos [token offset of the fingerprint's first occurrence
    in the doc], span_hash, n_occurrences).

    Scale shape: span hashes are exploded ONCE per document (a
    Generate — evaluating the hash array inside a higher-order lambda
    instead re-evaluates it per window position, an O(positions²)
    expression blowup this implementation deliberately avoids), then
    the sliding minimum is a rows-between window per doc: one shuffle
    of 32-byte hashes keyed on the doc id, which the two per-doc
    aggregations downstream reuse without re-shuffling. Only the
    winnowed ≈ 2/(window+1) sample of hashes reaches the corpus-wide
    count shuffle, and the repeated set (tiny) joins back
    broadcast-size.
    """
    hashes = _span_hashes(df, text_col, id_col, width)
    wmin = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wall = Window.partitionBy(id_col)
    fps = (
        hashes.withColumn("__fp", F.min("__h").over(wmin))
        .withColumn("__maxpos", F.max("pos").over(wall))
        .filter(
            F.col("pos")
            <= F.greatest(F.col("__maxpos") - F.lit(window - 1), F.lit(0))
        )
        .select(id_col, F.col("__fp").alias("span_hash"))
        .distinct()
    )
    first_pos = hashes.groupBy(id_col, F.col("__h").alias("span_hash")).agg(
        F.min("pos").cast("long").alias("span_pos")
    )
    selected = fps.join(first_pos, [id_col, "span_hash"])
    repeated = (
        selected.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_occurrences)
    )
    return selected.join(repeated, "span_hash").select(
        id_col, "span_pos", "span_hash", "n_occurrences"
    )


def remove_repeated_spans(
    df: DataFrame,
    width: int = 50,
    window: int = 25,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the span-deduplicated corpus: every token covered
    by an occurrence of a corpus-repeated span (as detected by
    :func:`repeated_spans` winnowing) is removed from EVERY document —
    the substring-dedup deliverable of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), with the same
    drop-all-copies policy as ``dedup_corpus_lines`` (boilerplate
    should vanish everywhere, and no cross-document coordination is
    needed to elect a canonical copy).

    Coverage masks ALL stride-1 occurrences of a repeated span hash —
    not just the winnow-selected position — so a repeat is excised
    from documents where the local window happened to select a
    different fingerprint. Shared substrings shorter than
    ``width + window − 1`` tokens may go undetected in some copies
    (the winnowing guarantee's boundary); they are left in place
    rather than half-removed.

    Returns the input columns with ``text_col`` rebuilt from the
    surviving tokens plus ``n_tokens_removed`` (NULL text stays NULL).

    Scale shape: detection is :func:`repeated_spans` (only winnowed
    32-byte hashes reach the corpus-wide count); coverage is one
    equi-join of the per-position hash table against the (small)
    repeated-hash set, then per-doc start offsets are collected and
    the rebuild is a pure map expression — token ``i`` survives iff no
    collected start ``s`` has ``s ≤ i < s + width``. The per-doc start
    list is bounded by the doc's repeated content, so the rebuild
    costs O(tokens · starts) inside codegen with no further shuffle.
    """
    rep = (
        repeated_spans(
            df, width=width, window=window, min_occurrences=min_occurrences,
            text_col=text_col, id_col=id_col,
        )
        .select("span_hash")
        .distinct()
    )
    allpos = _span_hashes(df, text_col, id_col, width)
    occ = allpos.join(rep, allpos["__h"] == rep["span_hash"]).select(
        id_col, "pos"
    )
    return _excise_spans(df, occ, width, text_col, id_col)


def _excise_spans(
    df: DataFrame, occ: DataFrame, width: int, text_col: str, id_col: str
) -> DataFrame:
    """Rebuild ``text_col`` with every token covered by an ``occ``
    (id, pos) span occurrence removed — the shared materialization
    tail of :func:`remove_repeated_spans` and
    :func:`span_decontaminate`. Per-doc start offsets are collected
    (bounded by the doc's flagged content) and token ``i`` survives
    iff no start ``s`` has ``s ≤ i < s + width`` — a pure codegen map
    with no further shuffle. Appends ``n_tokens_removed``; NULL text
    stays NULL."""
    starts = occ.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__ss")
    )
    joined = df.join(starts, id_col, "left")
    toks = F.split(F.col(text_col), " ", -1)
    ss = F.coalesce(F.col("__ss"), F.array().cast("array<int>"))
    kept = F.filter(
        toks,
        lambda tok, i: F.size(
            F.filter(ss, lambda p: (p <= i) & (i < p + F.lit(width)))
        )
        == 0,
    )
    keep_cols = [
        F.array_join(kept, " ").alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *keep_cols,
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def _eval_span_occurrences(
    corpus: DataFrame,
    eval_docs: DataFrame,
    width: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, pos) of every stride-1 ``width``-token span of a corpus
    document that appears VERBATIM in any eval/benchmark document —
    the shared detection head of :func:`span_contamination_report`
    and :func:`span_decontaminate`. Only 32-byte hashes shuffle; the
    distinct eval span set is benchmark-sized, so the semi join
    broadcasts when it fits."""
    ev = (
        _span_hashes(eval_docs, text_col, id_col, width)
        .select("__h")
        .distinct()
    )
    return (
        _span_hashes(corpus, text_col, id_col, width)
        .join(ev, "__h", "semi")
        .select(id_col, "pos")
    )


def span_contamination_report(
    corpus: DataFrame,
    eval_docs: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level benchmark contamination report: the maximal
    contaminated regions of each corpus document, where a region is
    the union of every ``width``-token span shared verbatim with ANY
    eval/benchmark document.

    This is the span-granular companion to the doc-drop passes:
    :func:`eval_ngram_contamination` (E36) drops whole documents on
    n-gram overlap and :func:`decontaminate_fuzzy` (E154) on
    whole-doc Jaccard — both discard a long document that quotes one
    benchmark paragraph. This report localizes the leak instead
    (Lee et al. 2022's substring granularity applied to
    decontamination), so :func:`span_decontaminate` can excise just
    the quoted region and keep the rest of the document.

    Overlapping and adjacent spans are merged gaps-and-islands style
    into half-open token intervals; returns ``(id, span_start,
    span_end, span_tokens)`` with ``span_end`` clamped to the
    document's token count (the last span of a short document would
    otherwise read past it).

    Scale shape: span hashing is one map pass per side; only 32-byte
    hashes reach the semi join (eval side benchmark-sized →
    broadcast); the interval merge windows partition on the doc id
    over HIT positions only — bounded by actual contamination, never
    the corpus token stream.
    """
    hits = _eval_span_occurrences(corpus, eval_docs, width, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(width)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = F.sum(
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ivl = (
        hits.withColumn("__isl", isl)
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(width)).cast("long").alias("span_end"),
        )
    )
    ntok = corpus.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ", -1)).cast("long").alias("__nt"),
    )
    return ivl.join(ntok, id_col).select(
        id_col,
        "span_start",
        F.least("span_end", "__nt").cast("long").alias("span_end"),
        (F.least("span_end", "__nt") - F.col("span_start"))
        .cast("long")
        .alias("span_tokens"),
    )


def span_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the span-decontaminated corpus: every token covered
    by a ``width``-token span shared verbatim with an eval/benchmark
    document is removed from the corpus document — the
    keep-the-document alternative to the E36/E154 doc-drop passes
    (see :func:`span_contamination_report`), trading a conservative
    doc-level drop for surgical removal when documents are long and
    contamination is quotation-sized.

    Returns the input columns with ``text_col`` rebuilt from the
    surviving tokens plus ``n_tokens_removed`` (NULL text stays
    NULL; an uncontaminated document passes through byte-identical).
    Same detection head and rebuild tail as the repeated-span
    dedup — see :func:`_eval_span_occurrences` /
    :func:`_excise_spans` for the scale shape.
    """
    occ = _eval_span_occurrences(corpus, eval_docs, width, text_col, id_col)
    return _excise_spans(corpus, occ, width, text_col, id_col)


def prepare_corpus(
    df: DataFrame,
    eval_docs: DataFrame | None = None,
    quality: bool = True,
    line_dedup: bool = True,
    exact_dedup: bool = True,
    sample_fraction: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The standard corpus-preparation chain, composed end-to-end:

    1. C4/Gopher quality filter (``c4_quality_flags().keep``)
    2. corpus-level line dedup (boilerplate removal; re-filters empty
       survivors)
    3. exact dedup on the CLEANED text (min-id wins — cleaning first
       means two docs differing only in boilerplate collapse)
    4. eval-set decontamination (drop docs sharing 3-gram windows
       with ``eval_docs``, when given)
    5. deterministic hash sample (``sample_fraction``, when given)

    Each stage is the already-gated operator; this function only fixes
    the composition order (filter cheap-and-local first, shuffle-
    bearing dedup second, joins last) — so the whole chain stays one
    lazy plan and Catalyst pipelines the map stages into the scans.
    Returns the surviving rows of ``df`` with ``text_col`` cleaned.

    On sharing token arrays across stages (measured, rejected): the
    stages tokenize DIFFERENTLY by design — quality counts regex
    classes over raw text, line dedup splits on newlines, the dedup
    fingerprint lowercases and collapses whitespace — so there is no
    common token column to cache; the real repeated-work cost here
    was expression re-evaluation inside higher-order lambdas, fixed
    at the construction level (see the gram/shingle builders).
    """
    return prepare_corpus_stages(
        df,
        eval_docs=eval_docs,
        quality=quality,
        line_dedup=line_dedup,
        exact_dedup=exact_dedup,
        sample_fraction=sample_fraction,
        text_col=text_col,
        id_col=id_col,
    )[-1][1]


def prepare_corpus_stages(
    df: DataFrame,
    eval_docs: DataFrame | None = None,
    quality: bool = True,
    line_dedup: bool = True,
    exact_dedup: bool = True,
    sample_fraction: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, DataFrame]]:
    """The :func:`prepare_corpus` chain with every stage boundary
    exposed: ``[("input", df), ("quality", ...), ...]`` — the last
    entry is what ``prepare_corpus`` returns. For anyone needing a
    mid-chain tap (e.g. training on the deduped corpus while auditing
    what decontamination dropped)."""
    return _corpus_chain(
        df, lambda name, frame: frame, eval_docs, quality, line_dedup,
        exact_dedup, sample_fraction, text_col, id_col,
    )


def _corpus_chain(
    df: DataFrame,
    tap,
    eval_docs: DataFrame | None,
    quality: bool,
    line_dedup: bool,
    exact_dedup: bool,
    sample_fraction: float | None,
    text_col: str,
    id_col: str,
) -> list[tuple[str, DataFrame]]:
    """The one definition of the corpus chain. ``tap(name, frame)`` is
    applied at every stage boundary and its result is what flows into
    the next stage; side inputs (decontamination's contaminated-id
    set) read the tapped frame but are not tapped themselves."""
    from ..functions.text import c4_quality_flags

    stages: list[tuple[str, DataFrame]] = []

    def boundary(name: str, frame: DataFrame) -> DataFrame:
        frame = tap(name, frame)
        stages.append((name, frame))
        return frame

    out = boundary("input", df)
    if quality:
        out = boundary("quality", out.filter(c4_quality_flags(text_col)["keep"]))
    if line_dedup:
        out = dedup_corpus_lines(out, text_col=text_col, id_col=id_col).drop(
            "n_lines_kept"
        )
        out = boundary(
            "line_dedup", out.filter(F.length(F.trim(F.col(text_col))) > 0)
        )
    if exact_dedup:
        from .dedup import exact_dedup_keep_first

        out = boundary(
            "exact_dedup",
            exact_dedup_keep_first(out, text_col=text_col, id_col=id_col),
        )
    if eval_docs is not None:
        contaminated = eval_ngram_contamination(
            out, eval_docs, k=3, min_shared=2, text_col=text_col, id_col=id_col
        ).select(id_col).distinct()
        out = boundary("decontaminate", out.join(contaminated, id_col, "left_anti"))
    if sample_fraction is not None:
        boundary("sample", hash_sample(out, sample_fraction, id_col=id_col))
    return stages


def corpus_stage_report(
    df: DataFrame,
    eval_docs: DataFrame | None = None,
    quality: bool = True,
    line_dedup: bool = True,
    exact_dedup: bool = True,
    sample_fraction: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage-survival funnel for the corpus-preparation chain: one row
    per :func:`prepare_corpus` stage boundary with the number of
    documents still alive — the observability report a data-prep run
    publishes next to its output ("quality kept 84 %, line dedup
    emptied 2 %, exact dedup dropped 11 %, decontamination 0.3 %").
    Returns (stage_idx, stage, n_docs) as a small local DataFrame.

    Unlike the other operators here this one EXECUTES at call time:
    it runs the real chain once (a ``noop`` write of the final stage)
    with a ``DataFrame.observe`` row count at every stage boundary, so
    the funnel costs one run of ``prepare_corpus`` and cannot drift
    from it."""
    from pyspark.sql import Observation

    observations: list[Observation] = []

    def observed(name: str, frame: DataFrame) -> DataFrame:
        observations.append(Observation())
        return frame.observe(observations[-1], F.count(F.lit(1)).alias("n"))

    stages = _corpus_chain(
        df, observed, eval_docs, quality, line_dedup, exact_dedup,
        sample_fraction, text_col, id_col,
    )
    stages[-1][1].write.format("noop").mode("overwrite").save()
    rows = []
    for i, ((name, frame), obs) in enumerate(zip(stages, observations)):
        # AQE prunes the joins above a stage it finds empty at run
        # time, so the metric nodes beneath them never report (the
        # observation completes with an empty row); only then — some
        # stage is empty — is a stage counted directly.
        n = obs.get["n"] if obs._jo.getRow().size() else frame.count()
        rows.append((i, name, n))
    return df.sparkSession.createDataFrame(
        rows, "stage_idx long, stage string, n_docs long"
    )


def merge_corpus_delta_fuzzy(
    existing: DataFrame,
    delta: DataFrame,
    jaccard_threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Fuzzy incremental ingestion — ``merge_corpus_delta`` plus
    near-duplicate rejection: a delta row is dropped if its content
    fingerprint already exists in the corpus (exact) OR some corpus
    document's n-gram Jaccard similarity reaches
    ``jaccard_threshold`` (near). Candidates come from cross-corpus
    MinHash banding, so the verify step only scores
    (delta doc, corpus doc) pairs that share an LSH bucket — never
    all-pairs. This is the "ingest a new crawl" operator: syndicated
    copies and near-mirrors of already-held documents never enter.

    Scale shape: exact stage as in ``merge_corpus_delta`` (hash set
    anti-join); fuzzy stage is bucket equi-join → Jaccard verify on
    candidates only → distinct delta-side ids → anti-join. The corpus
    text is touched only for verify candidates.
    """
    from ..functions.text import doc_fingerprint
    from .dedup import (
        exact_dedup_keep_first,
        minhash_lsh_pairs_ab,
        word_shingles,
        jaccard_similarity,
    )

    h = doc_fingerprint(F.col(text_col))
    seen = existing.select(h.alias("__h")).distinct()
    fresh = (
        delta.withColumn("__h", h)
        .join(seen, "__h", "left_anti")
        .drop("__h")
    )
    fresh = exact_dedup_keep_first(fresh, text_col=text_col, id_col=id_col)
    # `fresh` feeds three consumers (LSH banding, shingle verify, the
    # final anti-join); without a materialization point the whole
    # exact-dedup join chain re-executes once per consumer. A LAZY
    # local checkpoint materializes it on first use only — and the
    # delta is the small side of the merge by contract, so the
    # executor-local storage cost is delta-sized, never corpus-sized.
    fresh = fresh.localCheckpoint(eager=False)

    cand = minhash_lsh_pairs_ab(
        fresh, existing, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, k=k,
    )
    d_sh = fresh.select(
        F.col(id_col).alias("id_left"), word_shingles(text_col, k).alias("__sa")
    )
    e_sh = existing.select(
        F.col(id_col).alias("id_right"), word_shingles(text_col, k).alias("__sb")
    )
    near = (
        cand.join(d_sh, "id_left")
        .join(e_sh, "id_right")
        .filter(
            jaccard_similarity(F.col("__sa"), F.col("__sb"))
            >= F.lit(float(jaccard_threshold))
        )
        .select(F.col("id_left").alias(id_col))
        .distinct()
    )
    return fresh.join(near, id_col, "left_anti")


def split_corpus(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test splitting: assign each row a split
    label by which md5(id ∥ salt)-prefix range it falls in, with range
    widths proportional to ``weights`` (need not sum to 1 — they are
    normalized). Unlike ``randomSplit`` the assignment is stable
    across runs, partitionings, and engines, rows are never lost or
    duplicated between splits, and membership is reproducible from the
    id alone (the property eval pipelines need). Granularity 1/65536.

    The default ``salt`` differs from ``hash_sample``'s so splitting a
    hash-sampled corpus (or sampling within a split) stays unbiased —
    on a shared hash, 'train' = the low 80% of the hash range and a
    downstream 0.5 sample would draw ONLY from train (see ``_id_hash``).

    Pure map expression (a CASE over the hash prefix) — no shuffle;
    filters on the label push down to the scan.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative and sum > 0: {weights}")
    total = float(sum(weights.values()))
    h = _id_hash(id_col, 4, salt)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cut = F.lit(format(min(int(acc * 0x10000), 0xFFFF), "04x"))
        expr = (
            F.when(h < cut, F.lit(name))
            if expr is None
            else expr.when(h < cut, F.lit(name))
        )
    last = F.lit(items[-1][0])
    label = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", label)


def split_corpus_leakage_safe(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    salt: str = "split",
    components: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test splitting that never puts two near-duplicate
    documents in different splits: the split hash is computed on each
    document's near-dup CLUSTER canonical id (the verified-LSH
    connected-component min id), so a whole cluster lands in one
    split. A plain id-hash split leaks — a near-copy of a training
    document in the eval split inflates eval scores exactly like
    train/test contamination — and deduplicating first doesn't fix
    pipelines that intentionally keep near-dups (e.g. weighted
    training). Same determinism contract as :func:`split_corpus`:
    membership is reproducible from the corpus content alone, rows
    are never lost or duplicated between splits.

    Scale shape: the cluster table comes from
    ``near_dup_components`` (one shingle→signature map pass, banded
    candidate join, signature verify, O(log n) components — all
    already paid by any near-dup-aware pipeline and reusable from
    it); clustered docs get their canonical id with one left join of
    an id-pair table (cluster-member-sized, a small fraction of the
    corpus — broadcast after AQE); singletons stay on their own id
    with no join hit. The final assignment is the same zero-shuffle
    CASE over the salted md5 prefix as :func:`split_corpus`.
    """
    from .dedup import near_dup_components

    comps = (
        components
        if components is not None
        else near_dup_components(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            band_size=band_size, k=k, verify_threshold=verify_threshold,
        )
    )
    canon = comps.select(
        F.col("node").alias(id_col), F.col("component").alias("__canon")
    )
    with_canon = df.join(canon, id_col, "left").withColumn(
        "__canon", F.coalesce(F.col("__canon"), F.col(id_col))
    )
    return split_corpus(with_canon, weights, id_col="__canon", salt=salt).drop(
        "__canon"
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    within_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts_s",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequential conversion funnel: for each ordered step i, the
    number of users who performed step i within ``within_s`` seconds
    AFTER their (earliest qualifying) step i-1 — the standard
    product-analytics funnel, distributed as k chained conditional
    aggregations.

    ``ts_col`` must be numeric (epoch seconds — the caller projects
    it; timestamps differ between engines, longs don't). Returns
    (step, event_type, n_users) with step 1-based.

    Scale shape: pass i filters the events scan to step i's type
    (pushed down), joins the per-user frontier (one row per surviving
    user — broadcast-size after step 1 of any real funnel), and
    partial-aggregates min(ts) per user: no pass ever shuffles more
    than one event type, and the frontier shrinks monotonically.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    e = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__ty"),
        F.col(ts_col).cast("long").alias("__ts"),
    )
    frontier = (
        e.filter(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t"))
    )
    tiers = [frontier]
    for s in steps[1:]:
        nxt = (
            e.filter(F.col("__ty") == s)
            .join(tiers[-1], "__u")
            .filter(
                (F.col("__ts") > F.col("__t"))
                & (F.col("__ts") <= F.col("__t") + F.lit(int(within_s)))
            )
            .groupBy("__u")
            .agg(F.min("__ts").alias("__t"))
        )
        tiers.append(nxt)
    out = None
    for i, (s, tier) in enumerate(zip(steps, tiers), start=1):
        row = tier.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(s).alias("event_type"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


def cohort_retention(
    events: DataFrame,
    period_s: int = 604_800,
    user_col: str = "user_id",
    ts_col: str = "ts_s",
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the period of
    their FIRST event; for each (cohort, periods-since-first) cell,
    count the distinct users active in that period. The standard
    retention analysis (period defaults to a week).

    Scale shape: one per-user min (partial agg), broadcast back onto
    the events scan, then one distinct-count agg keyed on
    (cohort, period_offset) — two shuffles, both on compact keys; the
    events table itself is aggregated in a single pass.
    """
    e = events.select(
        F.col(user_col).alias("__u"), F.col(ts_col).cast("long").alias("__ts")
    )
    firsts = e.groupBy("__u").agg(F.min("__ts").alias("__first"))
    cohort = F.floor(F.col("__first") / period_s).cast("long")
    offset = (
        F.floor(F.col("__ts") / period_s) - F.floor(F.col("__first") / period_s)
    ).cast("long")
    return (
        e.join(firsts, "__u")
        .groupBy(cohort.alias("cohort_period"), offset.alias("period_offset"))
        .agg(F.count_distinct("__u").alias("n_users"))
    )


def top_term_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-term coverage: the fraction of tokens taken by
    the single most frequent token — the Gopher repetition signal that
    needs aggregation (a doc that is one word over and over scores
    ~1.0; healthy prose scores low). Complements the pure-map
    ``repetition_signals`` family.

    Scale shape: explode tokens → count per (doc, token) with map-side
    partial aggregation → max/sum per doc. Both shuffles key on
    (doc, token) / (doc) — the second reuses the first's partitioning
    (grouping-key subset), so effectively one corpus shuffle.
    """
    from ..functions.text import tokens

    w = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__w")
    )
    counts = w.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__n"))
    return counts.groupBy(id_col).agg(
        F.sum("__n").cast("long").alias("n_words"),
        F.round(
            F.max("__n") / F.sum("__n").cast("double"), 6
        ).alias("top_word_frac"),
    )


def unigram_logprob(
    df: DataFrame,
    alpha: float = 1.0,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean n-gram log-probability under the corpus's
    own (add-``alpha`` smoothed) n-gram language model — the cheap
    stand-in for the KenLM perplexity scoring CCNet uses to rank web
    text (Wenzek et al. 2020 §3.3): gibberish and rare-token soup
    score low, common fluent text scores high. ``n=1`` is the unigram
    default; ``n=2`` scores token bigrams (with multiplicity — NOT
    the distinct-shingle construction the dedup family uses), which
    tracks true LM perplexity much more closely.

    ``model_df`` scores ``df`` under a model built from a DIFFERENT
    corpus — the actual CCNet shape (web text ranked under a
    Wikipedia-built LM, Wenzek et al. 2020 §3.3) and the cross-corpus
    quality transfer a recipe pipeline needs ("score the new crawl
    under last month's reference model"). Grams absent from the
    reference take the add-α smoothing floor α/(T + αV) — exactly the
    mass a zero-count gram gets, so the default self-scoring path is
    the special case ``model_df = df``.

    Returns (id, n_tokens, mean_logprob). Two aggregations: corpus
    gram counts (partial agg on the gram), then an equi-join of the
    exploded grams against the gram table and a per-doc mean. For
    ``n=1`` the vocab table is broadcast-hinted (a unigram vocabulary
    is bounded — ~10⁶ rows at any corpus size); for ``n>=2`` the
    distinct-gram table grows roughly WITH the corpus (billions of
    bigrams at 100 TB), so the join strategy is left to AQE — a
    mandatory broadcast there would be a driver-collect OOM, not a
    plan choice the optimizer could undo.
    """
    from ..functions.text import tokens

    if n == 1:
        gram_arr = tokens(text_col)
    else:
        toks = tokens(text_col)
        sz = F.size(toks)
        # all n-grams WITH multiplicity; docs shorter than n
        # contribute their whole text as one gram. Built by zipping n
        # shifted slices (the token split evaluates n times total) —
        # NOT transform(sequence, i -> slice(toks, ...)), which
        # re-evaluates the split per gram inside the lambda (no CSE
        # across lambda boundaries: O(n²)/doc, measured 8× slower)
        n_grams = sz - F.lit(n - 1)
        parts = [F.slice(toks, i + 1, n_grams).alias(f"_g{i}") for i in range(n)]
        zipped = F.transform(
            F.arrays_zip(*parts),
            lambda st: F.concat_ws(" ", *[st[f"_g{i}"] for i in range(n)]),
        )
        gram_arr = F.when(sz >= n, zipped).otherwise(
            F.array(F.array_join(toks, " "))
        )
    tok = df.select(F.col(id_col), F.explode(gram_arr).alias("__t"))
    if model_df is None:
        model_tok = tok
    else:
        model_tok = model_df.select(
            F.col(id_col), F.explode(gram_arr).alias("__t")
        )
    counts = model_tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__n"))
    totals = counts.agg(
        F.sum("__n").alias("__tot"), F.count(F.lit(1)).alias("__vocab")
    )
    probs = counts.crossJoin(F.broadcast(totals)).select(
        "__t",
        F.log(
            (F.col("__n") + F.lit(float(alpha)))
            / (F.col("__tot") + F.lit(float(alpha)) * F.col("__vocab"))
        ).alias("__lp"),
    )
    probs = F.broadcast(probs) if n == 1 else probs
    scored = tok.join(probs, "__t", "left")
    if model_df is not None:
        # grams unseen in the reference model take the smoothing
        # floor α/(T + αV) — the add-α mass a zero-count gram gets
        floor = F.log(
            F.lit(float(alpha))
            / (F.col("__tot") + F.lit(float(alpha)) * F.col("__vocab"))
        )
        scored = scored.crossJoin(F.broadcast(totals)).withColumn(
            "__lp", F.coalesce(F.col("__lp"), floor)
        )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        )
    )


def interpolated_bigram_logprob(
    df: DataFrame,
    lam: float = 0.7,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean log-probability under a Jelinek-Mercer
    interpolated bigram model built from the corpus itself:
    position i ≥ 2 scores ``log(λ·P_ML(w_i|w_{i-1}) + (1−λ)·P_uni(w_i))``,
    position 1 scores the smoothed unigram alone. This is the step
    between :func:`unigram_logprob`'s pure-multiplicity models and a
    real KenLM: the unigram backoff keeps rare continuations from
    collapsing to the tiny add-α floor, so the score tracks fluency
    (word order AND word choice) much more closely than either pure
    model — the standard interpolation of Jelinek & Mercer (1980) /
    Chen & Goodman (1999) §2.

    Returns (id, n_tokens, mean_logprob). Scale shape: unigram
    probabilities are vocab-bounded and broadcast; the bigram ML
    table (count(prev,cur)/count(prev·)) grows with the corpus, so
    its join is left to AQE exactly as in :func:`unigram_logprob`
    n≥2 — never a forced broadcast. One corpus shuffle on the gram
    key for counts, one back-join, one per-doc mean.
    """
    from ..functions.text import tokens

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    toks = tokens(text_col)
    # (prev, cur) positions by zipping the token array against a
    # null-prefixed shifted copy — array operands evaluate once; the
    # transform(sequence, i -> element_at(toks, i)) form re-evaluates
    # the token split per element inside the lambda (no CSE across
    # lambda boundaries) and measured 49× slower at sf0.1
    prev_arr = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    pos_arr = F.arrays_zip(prev_arr.alias("prev"), toks.alias("cur"))
    pos = df.select(F.col(id_col), F.explode(pos_arr).alias("__p")).select(
        F.col(id_col),
        F.col("__p.prev").alias("__prev"),
        F.col("__p.cur").alias("__cur"),
    )
    uni = pos.groupBy("__cur").agg(F.count(F.lit(1)).alias("__n"))
    totals = uni.agg(
        F.sum("__n").alias("__tot"), F.count(F.lit(1)).alias("__vocab")
    )
    # vocab-bounded → broadcast is safe (same argument as unigram n=1)
    pu = F.broadcast(
        uni.crossJoin(F.broadcast(totals)).select(
            F.col("__cur"),
            (
                (F.col("__n") + F.lit(float(alpha)))
                / (F.col("__tot") + F.lit(float(alpha)) * F.col("__vocab"))
            ).alias("__pu"),
        )
    )
    big = (
        pos.filter(F.col("__prev").isNotNull())
        .groupBy("__prev", "__cur")
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    ctx = big.groupBy("__prev").agg(F.sum("__nb").alias("__np"))
    pb = big.join(ctx, "__prev")  # corpus-sized: strategy left to AQE
    scored = pos.join(pu, "__cur").join(pb, ["__prev", "__cur"], "left")
    lp = F.when(
        F.col("__prev").isNull(), F.log(F.col("__pu"))
    ).otherwise(
        F.log(
            F.lit(float(lam)) * (F.col("__nb") / F.col("__np"))
            + F.lit(1.0 - float(lam)) * F.col("__pu")
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg(lp), 6).alias("mean_logprob"),
    )


def perplexity_buckets(
    scored: DataFrame,
    group_col: str = "lang",
    score_col: str = "mean_logprob",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §3.3):
    rank documents by LM score within each group (language) and cut
    into ``n_buckets`` equal tiles — head = most fluent. Deterministic
    ntile (score desc, id tie-break). One shuffle on the group."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    tile = F.ntile(n_buckets).over(w)
    label = tile.cast("string")
    if n_buckets == 3:
        label = (
            F.when(tile == 1, "head")
            .when(tile == 2, "middle")
            .otherwise("tail")
        )
    return scored.withColumn("bucket", label)


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    n_features: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each corpus document by the mean log likelihood ratio of its
    hashed unigram features under the TARGET distribution vs the
    corpus distribution — documents that look like the target domain
    score high; resample/threshold on the score to build a
    domain-focused training mix.

    Features are md5-hash buckets (``n_features``), so the feature
    space is fixed-size regardless of vocabulary and the whole
    computation replays bit-identically in the SQL oracle. Both
    distributions are add-``alpha`` smoothed over the feature space.

    Scale shape: two feature-count aggregations (target is typically
    small; corpus counts partial-agg into ≤ n_features rows), a
    broadcast ratio table, and one per-doc mean — the corpus shuffles
    once.
    """
    from ..functions.text import tokens

    feat = lambda c: (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
        % n_features
    )
    co_tok = corpus.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__w")
    ).select(F.col(id_col), feat(F.col("__w")).alias("__f"))
    ta_tok = target.select(
        F.explode(tokens(text_col)).alias("__w")
    ).select(feat(F.col("__w")).alias("__f"))

    co_counts = co_tok.groupBy("__f").agg(F.count(F.lit(1)).alias("__nc"))
    ta_counts = ta_tok.groupBy("__f").agg(F.count(F.lit(1)).alias("__nt"))
    co_tot = co_counts.agg(F.sum("__nc").alias("__totc"))
    ta_tot = ta_counts.agg(F.sum("__nt").alias("__tott"))
    # full outer over the two count tables: a feature unseen in one
    # side still gets its smoothed mass
    ratios = (
        co_counts.join(ta_counts, "__f", "full_outer")
        .crossJoin(F.broadcast(co_tot))
        .crossJoin(F.broadcast(ta_tot))
        .select(
            "__f",
            (
                F.log(
                    (F.coalesce(F.col("__nt"), F.lit(0)) + F.lit(float(alpha)))
                    / (F.col("__tott") + F.lit(float(alpha) * n_features))
                )
                - F.log(
                    (F.coalesce(F.col("__nc"), F.lit(0)) + F.lit(float(alpha)))
                    / (F.col("__totc") + F.lit(float(alpha) * n_features))
                )
            ).alias("__llr"),
        )
    )
    return (
        co_tok.join(F.broadcast(ratios), "__f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("__llr"), 6).alias("importance_score"),
        )
    )


def corpus_stats(
    df: DataFrame,
    group_cols: list[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Data-card statistics rollup: per group, document count, token
    totals/means, mean quality-keep rate, and PII incidence — the
    summary table a dataset release documents (the "data card"
    numbers). One aggregation pass; every input is an already-tested
    map expression, so the whole card costs a single shuffle on the
    group key."""
    from ..functions.text import c4_quality_flags, pii_counts, token_count

    q = c4_quality_flags(text_col)
    pii = pii_counts(text_col)
    n_tok = token_count(text_col)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tok), 6).alias("mean_tokens"),
        F.round(F.avg(q["keep"].cast("int")), 6).alias("quality_keep_rate"),
        F.round(
            F.avg(
                (
                    (pii["n_url"] + pii["n_email"] + pii["n_phone"]) > 0
                ).cast("int")
            ),
            6,
        ).alias("pii_doc_rate"),
    )


def shuffle_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training order: assign every document a
    ``(shard, shard_pos)`` position in a pseudo-random permutation of
    the corpus derived from md5(id ∥ salt) — the "shuffle once, read
    sequentially" materialization trainer loaders want.

    The permutation is engine- and run-independent (same reasons as
    :func:`hash_sample`): shard = the hash's 32-bit prefix mod
    ``n_shards``, position = rank of (hash, id) within the shard.
    Readers stream shards in shard order (or round-robin across them
    for epoch-level interleaving) and see an id-decorrelated order
    with no global sort.

    Scale shape: ONE shuffle on the shard id, then a per-shard sort of
    (hash, id) pairs — never a single global total order (a global
    row_number would serialize on one partition). Shards are
    independent, so parallelism = ``n_shards``; size n_shards so a
    shard's (hash, id) pairs fit an executor's sort buffer (ids only —
    the payload can be joined back or written alongside). Distinct
    ``salt`` values give independent epoch orders.
    """
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    base = df.withColumn("__h", h).withColumn(
        "shard",
        (F.conv(F.substring("__h", 1, 8), 16, 10).cast("long") % n_shards),
    )
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return (
        base.withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token-window chunks with
    ``overlap`` tokens of context carried between consecutive chunks —
    the retrieval/RAG indexing and long-document training-example
    shape. Returns one row per chunk: (id, chunk_id, chunk_start,
    chunk_n_tokens, chunk_text).

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)``
    with ``stride = chunk_tokens − overlap``; the last chunk may be
    short, and a chunk starts at every stride offset < n_tokens, so
    every token appears in ⌈chunk_tokens/stride⌉ chunks at most and
    the windows tile deterministically regardless of partitioning.
    Empty/whitespace-only documents produce no rows.

    Scale shape: pure map pass — tokenize, ``sequence`` of starts,
    posexplode, slice — zero shuffle, pipelines into the scan; the
    output fans out rows but each output row is a bounded slice, and
    predicate pushdown on the input still applies.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size("__tk")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunk = F.slice(F.col("__tk"), F.col("chunk_start") + 1, chunk_tokens)
    return (
        df.select(F.col(id_col), toks.alias("__tk"))
        .select(F.col(id_col), F.col("__tk"), F.posexplode(starts))
        .select(
            id_col,
            F.col("pos").cast("long").alias("chunk_id"),
            F.col("col").cast("long").alias("chunk_start"),
            F.size(chunk).cast("long").alias("chunk_n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def upsample_corpus(
    df: DataFrame,
    group_col: str,
    epochs: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "epochs",
) -> DataFrame:
    """Repeat-factor upsampling: each group's documents appear
    ``epochs[group]`` times per training epoch — the upsampling half
    of a data-mixture recipe (:func:`temperature_mix` is the
    downsampling half; LLaMA-style mixes state both as per-source
    epoch counts, e.g. Wikipedia 2.45 epochs).

    Fractional epochs are exact in expectation and deterministic per
    document: a rate ``e`` emits ⌊e⌋ copies of every doc plus one more
    iff md5(id ∥ salt)'s 32-bit prefix < frac(e)·2³², so the extra-copy
    subset is a stable :func:`hash_sample`-style draw (decorrelated
    from the other samplers by ``salt``). Output carries ``epoch_idx``
    (0-based copy number) so downstream shuffling can interleave
    copies instead of clustering them. Groups absent from ``epochs``
    default to 1.0 (pass 0.0 to drop a group).

    Scale shape: the epochs table is a literal CASE expression (a few
    named groups by construction); copy fan-out is
    ``explode(sequence(...))`` — a map-side row multiplier with no
    shuffle and no join. The corpus is read once regardless of the
    total epoch mass.
    """
    for g, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs must be >= 0, got {g}={e}")
    rate: Column = F.lit(1.0)
    for g, e in epochs.items():
        rate = F.when(F.col(group_col) == g, F.lit(float(e))).otherwise(rate)
    whole = F.floor(rate).cast("long")
    frac = rate - F.floor(rate)
    cut = (frac * F.lit(float(2**32))).cast("long")
    # the shared salted-hash selector (_id_hash) keeps every sampler
    # on the same uniform construction
    hv = F.conv(_id_hash(id_col, 8, salt), 16, 10).cast("long")
    n_copies = (whole + F.when(hv < cut, 1).otherwise(0)).alias("__n")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(
            "epoch_idx",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)),
        )
        .drop("__n")
    )


QUALITY_CLASSIFIER_FEATURES = (
    "log_n_tokens",
    "mean_token_len",
    "punct_ratio",
    "stopword_ratio",
)


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    lang: str = "en",
    max_iter: int = 100,
) -> dict:
    """Train a model-based document quality classifier — the
    fasttext-style "does this look like reference text?" filter LLM
    pipelines put after the rule-based C4/Gopher pass (positives:
    curated corpus; negatives: raw crawl). Logistic regression over
    the engine's quality features (log token count, mean token length,
    punctuation ratio, stopword ratio), fitted with Spark ML.

    Returns ``{"intercept": float, "weights": [w, ...]}`` aligned with
    ``QUALITY_CLASSIFIER_FEATURES`` — a handful of driver-side scalars
    (the PQ-codebook pattern: iterative training on the bounded
    labeled set, scoring as a pure map expression). Apply with
    :func:`quality_classifier_score`; at 100 TB the labeled set is
    sampled, the corpus only ever sees the codegen'd scoring pass.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from ..functions.text import quality_features

    feats = quality_features(F.trim(F.col(text_col)), lang=lang)
    vec = F.array(
        F.log1p(feats["n_tokens"].cast("double")),
        feats["mean_token_len"],
        feats["punct_ratio"],
        feats["stopword_ratio"],
    )
    train = labeled.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(vec).alias("features"),
    )
    lr = LogisticRegression(maxIter=max_iter)
    model = lr.fit(train)
    return {
        "intercept": float(model.intercept),
        "weights": [float(w) for w in model.coefficients],
    }


def quality_classifier_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    lang: str = "en",
    round_digits: int = 6,
) -> DataFrame:
    """Score documents with a trained quality classifier
    (:func:`train_quality_classifier`): appends ``quality_prob`` =
    σ(intercept + w·features) as a PURE codegen expression — zero
    shuffle, no UDF, no model object on the executors; the fitted
    scalars inline into the plan, so the scoring pass piggybacks on
    any corpus scan for free (same shape as the Bloom decontaminator).
    """
    from ..functions.text import quality_features

    w = model["weights"]
    if len(w) != len(QUALITY_CLASSIFIER_FEATURES):
        raise ValueError(
            f"expected {len(QUALITY_CLASSIFIER_FEATURES)} weights, got {len(w)}"
        )
    feats = quality_features(F.trim(F.col(text_col)), lang=lang)
    z = (
        F.lit(float(model["intercept"]))
        + F.lit(float(w[0])) * F.log1p(feats["n_tokens"].cast("double"))
        + F.lit(float(w[1])) * feats["mean_token_len"]
        + F.lit(float(w[2])) * feats["punct_ratio"]
        + F.lit(float(w[3])) * feats["stopword_ratio"]
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    if round_digits is not None:
        prob = F.round(prob, round_digits)
    return df.withColumn("quality_prob", prob)


def trailing_window_agg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: Column | str,
    value_col: str,
    window_seconds: int,
    aggs: tuple[str, ...] = ("avg", "count"),
) -> DataFrame:
    """Per-ROW trailing time-window aggregates: for every event, the
    avg/count/sum/min/max of ``value_col`` over the key's events in
    the preceding ``window_seconds`` (inclusive) — the moving-average
    / rate-limiter / rolling-feature shape that tumbling and hopping
    windows (events_window_agg, events_sliding_window) cannot express,
    because those emit one row per window, not per event.

    A native range-frame window (``rangeBetween(-w, 0)`` over epoch
    seconds): ONE shuffle on the key columns, then a single ordered
    pass per partition maintaining the sliding frame — no self-join,
    no fan-out (the naive range self-join is O(rows × window
    occupancy) and was already rejected for the range-join operator;
    the frame walk is O(rows)). Ties on the timestamp are peers:
    every equal-timestamp row is in the frame, matching SQL RANGE
    semantics in any engine.
    """
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts.cast("long"))
        .rangeBetween(-int(window_seconds), 0)
    )
    fns = {"avg": F.avg, "count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
    out_cols = []
    for a in aggs:
        if a not in fns:
            raise ValueError(f"unsupported agg {a!r}; pick from {sorted(fns)}")
        c = fns[a](F.col(value_col)).over(w)
        if a in ("avg", "sum"):
            c = F.round(c, 6)
        if a == "count":
            c = c.cast("long")
        out_cols.append(c.alias(f"{a}_{window_seconds}s"))
    return df.select("*", *out_cols)


def trailing_zscore_flags(
    df: DataFrame,
    key_cols: list[str],
    ts_col: Column | str,
    value_col: str,
    window_seconds: int,
    z_threshold: float = 3.0,
    min_count: int = 5,
) -> DataFrame:
    """Flag events whose value sits more than ``z_threshold`` sample
    standard deviations from the key's OWN trailing-window baseline —
    the self-calibrating outlier detector (fraud spikes, sensor
    glitches, bot bursts) that a fixed global threshold can't express
    across heterogeneous keys. The baseline window is strictly
    PRIOR: ``rangeBetween(-w, -1)`` excludes the current row and its
    timestamp peers, so an outlier never dilutes the statistics it is
    judged against. Rows with fewer than ``min_count`` prior events
    or a degenerate (zero/NULL) stddev are never flagged — a cold
    start is not an anomaly.

    Returns the input plus (trailing_mean, trailing_std, n_prior,
    zscore, is_anomaly). Same scale shape as
    :func:`trailing_window_agg`: one shuffle on the key, one O(rows)
    ordered frame walk per partition, no self-join.
    """
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts.cast("long"))
        .rangeBetween(-int(window_seconds), -1)
    )
    mean = F.avg(F.col(value_col)).over(w)
    std = F.stddev_samp(F.col(value_col)).over(w)
    cnt = F.count(F.col(value_col)).over(w)
    z = (F.col(value_col) - mean) / std
    ok = (cnt >= min_count) & std.isNotNull() & (std > 0)
    return df.select(
        "*",
        F.round(mean, 6).alias("trailing_mean"),
        F.round(std, 6).alias("trailing_std"),
        cnt.cast("long").alias("n_prior"),
        F.round(F.when(ok, z), 6).alias("zscore"),
        F.coalesce(
            F.when(ok, F.abs(z) > F.lit(float(z_threshold))), F.lit(False)
        ).alias("is_anomaly"),
    )


def profile_columns(
    df: DataFrame, cols: list[str] | None = None, approx: bool = True
) -> DataFrame:
    """Column-profiling rollup: one output row per column with count,
    null count, distinct count, min/max (as strings, type-agnostic)
    and mean/stddev for numeric columns — the first-look data-quality
    report run before committing a pipeline to a new table.

    ONE aggregation job computes every column's statistics in a single
    pass (no per-column actions); the per-column structs are then
    unpivoted with a stack expression. ``approx=True`` (the default
    since round 10) estimates ``n_distinct`` with
    ``approx_count_distinct`` (HLL±5%, one pass, merge-friendly) —
    profiling is a LOOK, and at 100 TB an exact ``countDistinct`` per
    column expands every row into per-column (value, col) pairs before
    the shuffle, the single most expensive part of the report for a
    number nobody needs exactly. Pass ``approx=False`` for exact
    cardinalities (the oracle gate does, so the hash check replays a
    deterministic number; the gate-scale cost of exact is ~2 s vs
    DuckDB's 14 ms in-process — the documented floor).

    RELEASE NOTE (r10→r11, ADVICE r10): the ``approx`` default flipped
    exact→HLL at round 10, so ``n_distinct`` read without the flag is
    now a ±5 % estimate — any consumer comparing cardinalities across
    rounds (or against an exact count elsewhere) must pin
    ``approx=False`` on both sides or expect estimator deltas. Repo
    audit at r11: the only internal consumer is the oracle gate, which
    pins ``approx=False``; no other code path reads ``n_distinct``."""
    from pyspark.sql import types as T

    cols = cols or df.columns
    num_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    aggs = []
    for c in cols:
        is_num = isinstance(df.schema[c].dataType, num_types)
        aggs.extend(
            [
                F.count(F.col(c)).alias(f"__cnt_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
                (
                    F.approx_count_distinct(F.col(c))
                    if approx
                    else F.countDistinct(F.col(c))
                ).alias(f"__dist_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
                (
                    F.round(F.avg(F.col(c)), 6)
                    if is_num
                    else F.lit(None).cast("double")
                ).alias(f"__mean_{c}"),
                (
                    F.round(F.stddev_samp(F.col(c)), 6)
                    if is_num
                    else F.lit(None).cast("double")
                ).alias(f"__std_{c}"),
            ]
        )
    row = df.agg(*aggs)
    parts = []
    for c in cols:
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__cnt_{c}").alias("n_non_null"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
                F.col(f"__mean_{c}").alias("mean"),
                F.col(f"__std_{c}").alias("stddev"),
            )
        )
    return row.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def _drift_edges(
    reference: DataFrame,
    cols: list[str],
    edges: "dict[str, tuple[float, float]] | None",
) -> "dict[str, tuple[float, float]]":
    """Reference min/max per column for the numeric drift monitors —
    one 1-row aggregation, skipped entirely when the caller passes
    persisted ``edges`` (the production-monitor path)."""
    if edges is not None:
        return edges
    stats_row = reference.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{c}") for c in cols],
    ).collect()[0]
    return {c: (stats_row[f"__mn_{c}"], stats_row[f"__mx_{c}"]) for c in cols}


def _drift_bucket(c: str, edges: "dict[str, tuple[float, float]]", k: int):
    """Fixed-width bin index over the reference range (NULL for NULL
    values; out-of-range clamps into the end bins). Degenerate
    reference: an all-NULL column puts every non-NULL value in bin 0;
    a CONSTANT column bins by equality to the constant (match bin 0 /
    other bin 1 — the r11 rule that makes a shifted constant
    register). Shared by psi_report and ks_drift_report so the two
    monitors can never disagree about what a bin is."""
    mn, mx = edges[c]
    x = F.col(c).cast("double")
    if mn is None or mx is None:
        return F.when(x.isNotNull(), F.lit(0))
    if mx == mn:
        return F.when(x == float(mn), F.lit(0)).when(x.isNotNull(), F.lit(1))
    width = (float(mx) - float(mn)) / k
    return F.when(
        x.isNotNull(),
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(k - 1),
                F.floor((x - F.lit(float(mn))) / F.lit(width)).cast("int"),
            ),
        ),
    )


def _drift_count_row(
    df: DataFrame,
    cols: list[str],
    k: int,
    edges: "dict[str, tuple[float, float]]",
    tag: str,
) -> DataFrame:
    """ONE conditional-sum aggregation computing every column's per-bin
    counts, NULL count, and the row total in a single pass — the
    1-row frame both drift monitors do their arithmetic on."""
    aggs = []
    for c in cols:
        b = _drift_bucket(c, edges, k)
        for i in range(k):
            aggs.append(
                F.coalesce(F.sum((b == i).cast("long")), F.lit(0)).alias(
                    f"__{tag}_{c}_{i}"
                )
            )
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"__{tag}_{c}_null"
            )
        )
    aggs.append(F.count(F.lit(1)).alias(f"__{tag}_n"))
    return df.agg(*aggs)


def psi_report(
    current: DataFrame,
    reference: DataFrame,
    cols: list[str],
    n_buckets: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
    edges: "dict[str, tuple[float, float]] | None" = None,
) -> DataFrame:
    """Population Stability Index per numeric column between a CURRENT
    table and a REFERENCE snapshot — the standard distribution-drift
    monitor a pipeline runs before trusting this week's crawl against
    last month's training mix (rule of thumb: < 0.1 stable, 0.1-0.25
    watch, > 0.25 the distribution moved).

    Bucketing is ``n_buckets`` FIXED-WIDTH bins over the reference
    min/max — deterministic and engine-replayable, unlike sampled
    quantile edges; current values outside the reference range clamp
    into the end bins (new-range mass must land SOMEWHERE visible),
    NULLs form their own bin so null-rate drift is part of the score.
    PSI = Σ_b (p_cur − p_ref)·ln(p_cur/p_ref) with ε-floored
    proportions so empty bins stay finite (the standard smoothing);
    bins empty on BOTH sides contribute exactly 0.

    Plan shape: one 1-row min/max aggregation over the reference (pass
    ``edges={col: (lo, hi)}`` to skip it — a production monitor
    persists its reference edges), then ONE conditional-sum
    aggregation per side computing every column's per-bin counts in a
    single pass (``cols × (n_buckets+1)`` codegen'd counters, the
    profile_columns shape) — no shuffle beyond two 1-row aggregates,
    no per-column jobs, PSI arithmetic on the 1×1 crossJoin of the two
    count rows, unpivoted to a row per column. Degenerate reference:
    an all-NULL column puts every non-NULL current value in bin 0
    (zero reference mass there, so any current mass registers via the
    ε-floor); a CONSTANT column bins both sides by equality to the
    constant (match bin 0 vs other bin 1), so a reference constant at
    5.0 drifting to 500.0 registers instead of scoring 0. An empty
    side yields NULL psi for every column.

    Returns one row per column: ``column, n_ref, n_cur, psi``."""
    from functools import reduce as _reduce
    from operator import add as _add

    k = int(n_buckets)
    if k < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if not cols:
        raise ValueError("psi_report needs at least one column")
    edges = _drift_edges(reference, cols, edges)
    x = _drift_count_row(current, cols, k, edges, "c").crossJoin(
        _drift_count_row(reference, cols, k, edges, "r")
    )
    parts = []
    for c in cols:
        terms = []
        for i in [*range(k), "null"]:
            pc = F.greatest(
                F.col(f"__c_{c}_{i}") / F.col("__c_n"), F.lit(float(eps))
            )
            pr = F.greatest(
                F.col(f"__r_{c}_{i}") / F.col("__r_n"), F.lit(float(eps))
            )
            terms.append((pc - pr) * F.log(pc / pr))
        psi = F.when(
            (F.col("__c_n") > 0) & (F.col("__r_n") > 0),
            _reduce(_add, terms),
        )
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__r_n").alias("n_ref"),
                F.col("__c_n").alias("n_cur"),
                F.round(psi, round_digits).alias("psi"),
            )
        )
    return x.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def ks_drift_report(
    current: DataFrame,
    reference: DataFrame,
    cols: list[str],
    n_buckets: int = 20,
    round_digits: int = 6,
    edges: "dict[str, tuple[float, float]] | None" = None,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift per numeric column —
    the classic companion readout to :func:`psi_report`: KS is the
    MAX gap between the two empirical CDFs (worst single quantile
    shift, in probability units, 0-1), where PSI is a mass-weighted
    SUM over bins (total mix movement) — a localized shift (one
    decile moved) can read small on PSI and large on KS, and a broad
    low-level reshuffle the other way round, so a drift monitor
    publishes both.

    Binned, not exact: the exact two-sample statistic needs both
    samples ranked together — a global sort per column, the one thing
    a 100 TB monitor must not do. Over ``n_buckets`` fixed-width bins
    on the reference range (:func:`_drift_bucket` — same bins, same
    clamping, same degenerate-reference rules as PSI, so the two
    monitors can never disagree about what a bin is) the statistic is
    computed from the SAME two 1-row conditional-sum aggregations,
    and understates the exact KS by at most the largest single-bin
    mass — tighten with more bins, they're just more codegen'd
    counters in the same pass. CDFs are over NON-NULL values (long
    cumulative counts, ONE division each — deterministic and
    oracle-replayable); NULL-rate movement is reported separately as
    ``null_delta`` (current null rate − reference null rate), because
    folding NULLs into a CDF would order them against values.

    Returns one row per column: ``column, n_ref, n_cur, ks,
    null_delta``. NULL ks when either side has no non-NULL values;
    NULL both metrics when either side is empty."""
    k = int(n_buckets)
    if k < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if not cols:
        raise ValueError("ks_drift_report needs at least one column")
    edges = _drift_edges(reference, cols, edges)
    x = _drift_count_row(current, cols, k, edges, "c").crossJoin(
        _drift_count_row(reference, cols, k, edges, "r")
    )
    parts = []
    for c in cols:
        nn_c = F.col("__c_n") - F.col(f"__c_{c}_null")
        nn_r = F.col("__r_n") - F.col(f"__r_{c}_null")
        cum_c = F.lit(0).cast("long")
        cum_r = F.lit(0).cast("long")
        gaps = []
        # incremental cumulative LONG counts (expression tree is O(k),
        # not O(k²)); one division per bin, then the max gap
        for i in range(k):
            cum_c = cum_c + F.col(f"__c_{c}_{i}")
            cum_r = cum_r + F.col(f"__r_{c}_{i}")
            gaps.append(F.abs(cum_c / nn_c - cum_r / nn_r))
        ks = F.when(
            (nn_c > 0) & (nn_r > 0), F.greatest(*gaps)
        )
        null_delta = F.when(
            (F.col("__c_n") > 0) & (F.col("__r_n") > 0),
            F.col(f"__c_{c}_null") / F.col("__c_n")
            - F.col(f"__r_{c}_null") / F.col("__r_n"),
        )
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__r_n").alias("n_ref"),
                F.col("__c_n").alias("n_cur"),
                F.round(ks, round_digits).alias("ks"),
                F.round(null_delta, round_digits).alias("null_delta"),
            )
        )
    return x.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def psi_report_categorical(
    current: DataFrame,
    reference: DataFrame,
    cols: list[str],
    top_k: int = 20,
    eps: float = 1e-6,
    round_digits: int = 6,
    categories: "dict[str, list] | None" = None,
) -> DataFrame:
    """:func:`psi_report` for CATEGORICAL columns — language mix,
    source mix, license tags: the distributions a training-data
    pipeline must hold steady release to release.

    Bins are the reference's ``top_k`` most frequent values per column
    (ties broken by value so the bin set is deterministic), plus an
    OTHER bin for everything else — new categories appearing in the
    current table land in OTHER and move the score, exactly what a
    drift monitor wants — plus a NULL bin. Pass ``categories={col:
    [...]}`` to pin the bins (a production monitor persists them with
    its snapshot). Same ε-floored ``Σ (p_cur − p_ref)·ln(p_cur/p_ref)``
    as the numeric report.

    Plan shape: one table-sized groupBy per column on the REFERENCE to
    pick the top-k (skipped entirely when ``categories`` is given),
    then ONE conditional-sum aggregation per side covering every
    column's bins in a single pass — the bin lists ride the plan as
    literals, so no join and no shuffle beyond 1-row aggregates.

    Returns one row per column: ``column, n_ref, n_cur, psi``."""
    from functools import reduce as _reduce
    from operator import add as _add

    if not cols:
        raise ValueError("psi_report_categorical needs at least one column")
    if int(top_k) < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if categories is None:
        categories = {}
        for c in cols:
            rows = (
                reference.filter(F.col(c).isNotNull())
                .groupBy(F.col(c).alias("__v"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .orderBy(F.desc("__n"), F.asc("__v"))
                .limit(int(top_k))
                .collect()
            )
            categories[c] = [r["__v"] for r in rows]

    def _side(df: DataFrame, tag: str) -> DataFrame:
        aggs = []
        for c in cols:
            x = F.col(c)
            for i, v in enumerate(categories[c]):
                aggs.append(
                    F.coalesce(
                        F.sum((x == F.lit(v)).cast("long")), F.lit(0)
                    ).alias(f"__{tag}_{c}_{i}")
                )
            in_list = (
                x.isin(list(categories[c])) if categories[c] else F.lit(False)
            )
            aggs.append(
                F.coalesce(
                    F.sum((x.isNotNull() & ~in_list).cast("long")), F.lit(0)
                ).alias(f"__{tag}_{c}_other")
            )
            aggs.append(
                F.coalesce(F.sum(x.isNull().cast("long")), F.lit(0)).alias(
                    f"__{tag}_{c}_null"
                )
            )
        aggs.append(F.count(F.lit(1)).alias(f"__{tag}_n"))
        return df.agg(*aggs)

    x = _side(current, "c").crossJoin(_side(reference, "r"))
    parts = []
    for c in cols:
        terms = []
        for i in [*range(len(categories[c])), "other", "null"]:
            pc = F.greatest(
                F.col(f"__c_{c}_{i}") / F.col("__c_n"), F.lit(float(eps))
            )
            pr = F.greatest(
                F.col(f"__r_{c}_{i}") / F.col("__r_n"), F.lit(float(eps))
            )
            terms.append((pc - pr) * F.log(pc / pr))
        psi = F.when(
            (F.col("__c_n") > 0) & (F.col("__r_n") > 0),
            _reduce(_add, terms),
        )
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__r_n").alias("n_ref"),
                F.col("__c_n").alias("n_cur"),
                F.round(psi, round_digits).alias("psi"),
            )
        )
    return x.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def distinct_count_sketches(
    df: DataFrame, cols: list[str] | None = None, lg_k: int = 12
) -> DataFrame:
    """Mergeable cardinality sketches: one row per column with an
    Apache DataSketches HLL sketch (binary) and its distinct-count
    estimate — the incremental answer to "how many unique ids /
    domains / fingerprints does the corpus hold" at 100 TB: each
    ingest batch computes its own sketches in one pass, sketches are
    ~KB each regardless of cardinality, and
    :func:`merge_distinct_count_sketches` unions months of batches
    without ever rescanning data (exact distinct would re-shuffle the
    union every time). Standard HLL error ≈ 1.04/√2^lg_k (~1.6 % at
    the default lg_k=12).

    Returns (column, sketch, estimate). Approximate by design — no
    SQL oracle; accuracy is gated in tests against exact counts.
    """
    cols = cols or df.columns
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k)).alias(
            f"__sk_{c}"
        )
        for c in cols
    ]
    row = df.agg(*aggs)
    parts = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__sk_{c}").alias("sketch"),
            F.hll_sketch_estimate(F.col(f"__sk_{c}")).alias("estimate"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def merge_distinct_count_sketches(*sketch_dfs: DataFrame) -> DataFrame:
    """Union per-batch (column, sketch) tables from
    :func:`distinct_count_sketches` into combined distinct-count
    estimates — the cross-batch / cross-shard merge step. Input rows
    group by column name; sketches union
    without data loss beyond sketch resolution — merging N monthly
    batches estimates the concatenated corpus within the same HLL
    error bound as sketching it in one pass (the union state is
    briefly wider before compaction, so the two estimates may differ
    inside that bound). Returns
    (column, sketch, estimate) — re-mergeable."""
    if not sketch_dfs:
        raise ValueError("need at least one sketch DataFrame")
    allsk = sketch_dfs[0].select("column", "sketch")
    for s in sketch_dfs[1:]:
        allsk = allsk.unionAll(s.select("column", "sketch"))
    merged = allsk.groupBy("column").agg(
        F.hll_union_agg("sketch").alias("sketch")
    )
    return merged.select(
        "column",
        "sketch",
        F.hll_sketch_estimate("sketch").alias("estimate"),
    )


def remove_host_boilerplate(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_frac: float = 0.5,
    min_host_docs: int = 5,
) -> DataFrame:
    """Per-host boilerplate line removal — the RefinedWeb/trafilatura
    cleanup step between URL dedup and content dedup (Penedo et al.
    2023 §3: nav menus, cookie banners, footer legalese repeat across
    most pages OF ONE SITE; removing them globally would also delete
    legitimately popular sentences, so the document frequency is
    measured within the host).

    A line is host-boilerplate when it appears (at least once) in
    ≥ ``min_frac`` of the host's documents AND the host has ≥
    ``min_host_docs`` documents (below that, "half the host" is two
    pages and the estimate is noise — small-host docs pass through
    untouched). Host = the canonical authority of ``url_col``
    (:func:`~ppack_spark.functions.text.canonical_host`, the same
    derivation the crawl-mix report ranks on). Documents keep
    surviving lines in original order; NULL text stays NULL; a
    NULL-host document passes through with its text unchanged; a
    document whose every line is boilerplate comes back with empty
    text, not dropped.

    Returns the input columns with ``text_col`` replaced by the
    cleaned text, plus ``host`` and ``n_lines_kept``.

    Scale shape (100 TB): line TEXT never shuffles — only (host,
    32-byte hash, position) rows do (r14 optimization pass; the
    earlier form re-ran the URL-regex + explode for the anti-join leg
    and shuffled every line's text through a per-document regroup) —
    (1) one narrow (id, host, pos, hash) line table is computed once
    (lazy localCheckpoint; two consumers), (2) distinct-doc counts
    per (host, hash) with map-side partial aggregation, (3) the
    per-host doc totals are a host-table-sized frame joined
    broadcast, (4) the boilerplate (host, hash) set is far smaller
    than the distinct-line set; a semi join against it yields the
    REMOVED (id, pos) set — boilerplate-bounded — and the text is
    rebuilt with a pure codegen array filter on the original row
    (the :func:`_excise_spans` positions-only rebuild). Nothing here
    is keyed on anything bigger than (host, line-hash), so a
    crawler-trap host with millions of pages splits across its line
    hashes, not one key.
    """
    from ..functions.text import canonical_host

    host = canonical_host(F.col(url_col))
    base = df.withColumn("__host", host)
    hosted = base.filter(
        F.col("__host").isNotNull() & F.col(text_col).isNotNull()
    )
    lines = hosted.select(
        F.col(id_col).alias("__id"),
        F.col("__host"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).select(
        "__id", "__host", "pos", F.md5(F.col("line")).alias("__h")
    )
    # narrow (id, host, pos, hash) — the docfreq count and the
    # removed-set join both read it; materialize once so the
    # URL-regex + split + md5 pass over the corpus runs once
    lines = lines.localCheckpoint(eager=False)
    host_docs = hosted.groupBy("__host").agg(
        F.count(F.lit(1)).alias("__host_n")
    )
    line_docfreq = (
        lines.groupBy("__host", "__h")
        .agg(F.count_distinct(F.col("__id")).alias("__n_docs_with"))
    )
    boiler = (
        line_docfreq.join(F.broadcast(host_docs), "__host")
        .filter(
            (F.col("__host_n") >= F.lit(int(min_host_docs)))
            & (
                F.col("__n_docs_with")
                >= F.lit(float(min_frac)) * F.col("__host_n")
            )
        )
        .select(F.col("__host").alias("__bhost"), F.col("__h").alias("__bh"))
    )
    removed = lines.join(
        boiler,
        (lines["__host"] == boiler["__bhost"]) & (lines["__h"] == boiler["__bh"]),
        "semi",
    )
    rem_pos = removed.groupBy("__id").agg(
        F.collect_set("pos").alias("__rp")
    )
    out = base.join(rem_pos, base[id_col] == rem_pos["__id"], "left")
    toks = F.split(F.col(text_col), "\n", -1)
    rp = F.coalesce(F.col("__rp"), F.array().cast("array<int>"))
    kept_arr = F.filter(toks, lambda line, i: ~F.array_contains(rp, i))
    untouched = F.col("__host").isNull()
    clean = (
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .when(untouched, F.col(text_col))
        .otherwise(F.concat_ws("\n", kept_arr))
    )
    n_kept = (
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .when(untouched, F.size(toks).cast("long"))
        .otherwise(F.size(kept_arr).cast("long"))
    )
    keep_cols = [
        clean.alias(text_col) if c == text_col else F.col(c) for c in df.columns
    ]
    return out.select(
        *keep_cols,
        F.col("__host").alias("host"),
        n_kept.alias("n_lines_kept"),
    )


def heavy_hitter_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phi: float = 0.01,
    capacity: int | None = None,
) -> DataFrame:
    """Exact φ-heavy-hitter terms at bounded memory — every token
    whose corpus-wide occurrence count strictly exceeds ``phi`` ×
    total tokens, via the two-pass Misra-Gries + exact-recount scheme
    (Misra & Gries 1982; mergeable-summaries form per Agarwal et al.
    2012): the full term vocabulary never shuffles, which is the
    whole point at 100 TB — a web corpus has billions of distinct
    tokens and a plain groupBy ships all of them.

    Pass 1 runs a Misra-Gries summary of ``capacity`` (default
    ceil(1/phi)) counters per partition inside one Arrow-batched
    mapInPandas: each batch's value_counts merges into the running
    counter map, then the map compacts by subtracting its (k+1)-th
    largest count (the mergeable-summaries merge rule) — so at most
    ``capacity`` candidate terms leave each partition. Any term with
    global count > n/(capacity+1) is guaranteed to survive in at
    least one partition (pigeonhole: a term below every partition's
    local threshold is below the global one), so with capacity ≥
    ceil(1/phi) the union of partition candidates is a SUPERSET of
    the true φ-heavy set. Pass 2 recounts only the candidates exactly
    (broadcast semi-join, map-side partial agg — at most
    capacity × partitions groups) and applies the exact threshold, so
    the output is EXACT and independent of partition layout — the
    summary's approximation error only ever adds pass-2 work, never
    rows. Empty/NULL text contributes no tokens.

    Returns (term, n_occurrences, share), share rounded to 6.
    DuckDB oracle: the plain group-by-count with
    ``having count(*) > phi * total`` — the oracle pays the full
    vocabulary shuffle this operator exists to avoid.
    """
    import math as _math

    import pandas as _pd

    from .util import spread

    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = int(capacity) if capacity is not None else int(_math.ceil(1.0 / phi))
    if k < int(_math.ceil(1.0 / phi)):
        raise ValueError(
            f"capacity {k} < ceil(1/phi) = {_math.ceil(1.0 / phi)}: the "
            "superset guarantee needs at least 1/phi counters"
        )
    from ..functions.text import tokens

    toks = (
        spread(df)
        .select(F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )

    def _mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["term"].value_counts()
            # compact the batch's own exact summary to <= k entries
            # BEFORE merging, so the running dict stays O(capacity)
            # rather than O(distinct terms per Arrow batch): value_counts
            # is sorted descending, so subtracting its (k+1)-th largest
            # count is the same mergeable-summaries rule applied to the
            # batch summary — the removed mass comes out of the same
            # n/(k+1) budget, so the superset guarantee is unchanged
            if len(vc) > k:
                cut = int(vc.iloc[k])
                vc = vc - cut
                vc = vc[vc > 0]
            for term, cnt in vc.items():
                counters[term] = counters.get(term, 0) + int(cnt)
            if len(counters) > k:
                # mergeable-summaries compaction: subtract the
                # (k+1)-th largest count, drop non-positive
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        yield _pd.DataFrame({"term": _pd.Series(list(counters), dtype="str")})

    candidates = toks.mapInPandas(_mg, "term string").distinct()
    total = df.agg(
        F.coalesce(F.sum(token_count(text_col)), F.lit(0)).alias("__n_total")
    )
    counts = (
        toks.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.lit(float(phi)) * F.col("__n_total"))
        .select(
            "term",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("__n_total"), 6).alias(
                "share"
            ),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the data-versioning
    read an incremental pipeline publishes with every refresh ("what
    changed since the last crawl"): per document id, whether it was
    ``added``, ``removed``, ``changed`` (same id, different content),
    or ``unchanged``.

    Content identity is the same whitespace-normalized md5 the exact-
    dedup family keys on (operators/dedup.py:content_hash), so "the
    same text re-wrapped" reads unchanged, and a NULL text is its own
    identity (two NULLs compare unchanged via NULL-safe equality).

    Returns (id, status, old_hash, new_hash). Scale shape: each side
    reduces to (id, 32-byte hash) in a map pass before the single
    full-outer join on the id — document text never shuffles; the
    summary ``groupBy status`` downstream is a 4-group aggregate.
    Pairs with :func:`merge_corpus_delta` (which APPLIES a delta)
    the way `dup_rate_report` pairs with the dedups — this one
    EXPLAINS a delta.
    """
    from .dedup import content_hash

    # presence flags ride the hash frames, so ONE full-outer join on
    # the id decides membership and content identity together — a
    # NULL-text doc has a NULL hash but IS present, which is why
    # presence is judged by the flag, not by hash nullness
    o = old.select(
        F.col(id_col).alias("__id"),
        content_hash(text_col).alias("old_hash"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        content_hash(text_col).alias("new_hash"),
        F.lit(True).alias("__in_new"),
    )
    full = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_hash").eqNullSafe(F.col("new_hash")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return full.select(
        F.col("__id").alias(id_col),
        status.alias("status"),
        "old_hash",
        "new_hash",
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_keys: "list[str]",
    right_keys: "list[str] | None" = None,
) -> DataFrame:
    """EXACT output-size prediction for an inner equi-join, computed
    WITHOUT running the join — the pre-flight before a potentially
    exploding join at 100 TB (|A ⋈ B| = Σ_k n_A(k)·n_B(k): a single
    hot key with a million rows on each side is a 10¹²-row output no
    cluster survives, and this 1-row report costs two key-table-sized
    aggregations instead).

    Returns one row: ``est_rows`` (exact for inner equi-join
    semantics, NULL keys never match), ``n_keys_left/right/matching``
    (distinct non-NULL key counts), ``max_key_rows`` (the hottest
    key's contribution), and ``skew_ratio`` = max_key_rows/est_rows
    rounded to 6 (≈1 means one key IS the join — salt it; ≈1/n_keys
    means uniform). Sister to the single-table ``key_skew_report``
    (blocking.py): that ranks one table's hot keys, this prices the
    two-sided product.

    Scale shape: one groupBy per side on the join keys (map-side
    partial agg), an inner join of the two KEY TABLES (each far
    smaller than its source), one 1-row rollup. NULL-keyed rows drop
    before counting, matching inner-join semantics.
    """
    if not left_keys:
        raise ValueError("left_keys must be non-empty")
    rk = right_keys or left_keys
    if len(rk) != len(left_keys):
        raise ValueError(
            f"key lists differ in length: {left_keys} vs {rk}"
        )

    def _counts(df: DataFrame, keys: "list[str]") -> DataFrame:
        cond = None
        for c in keys:
            nn = F.col(c).isNotNull()
            cond = nn if cond is None else (cond & nn)
        return (
            df.filter(cond)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
        )

    lc = _counts(left, left_keys)
    rc = _counts(right, rk).select(
        *[F.col(c).alias(f"__rk_{i}") for i, c in enumerate(rk)],
        F.col("__n").alias("__rn"),
    )
    on = None
    for i, c in enumerate(left_keys):
        eq = lc[c] == rc[f"__rk_{i}"]
        on = eq if on is None else (on & eq)
    matched = lc.join(rc, on).select(
        (F.col("__n") * F.col("__rn")).alias("__contrib")
    )
    summary = matched.agg(
        F.coalesce(F.sum("__contrib"), F.lit(0)).cast("long").alias("est_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys_matching"),
        F.max("__contrib").cast("long").alias("max_key_rows"),
    )
    nl = lc.agg(F.count(F.lit(1)).cast("long").alias("n_keys_left"))
    nr = rc.agg(F.count(F.lit(1)).cast("long").alias("n_keys_right"))
    return (
        summary.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nr))
        .select(
            "est_rows",
            "n_keys_left",
            "n_keys_right",
            "n_keys_matching",
            "max_key_rows",
            F.when(F.col("est_rows") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("max_key_rows") / F.col("est_rows"), 6)
            )
            .alias("skew_ratio"),
        )
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Whole-document fuzzy decontamination: drop every corpus
    document whose ``k``-shingle Jaccard against ANY eval/benchmark
    document is ≥ ``threshold`` — the near-duplicate complement of
    the n-gram-overlap pass (:func:`eval_ngram_contamination` catches
    verbatim spans; this catches lightly-reworded full copies, the
    leak n-gram containment underweights when the copy is long).

    EXACT by construction: contamination is found with the
    cross-corpus prefix-filter join
    (:func:`~ppack_spark.operators.dedup.jaccard_prefix_join_ab`),
    not LSH — a decontamination miss is a benchmark leak into
    training data, so a probabilistic candidate stage is the wrong
    tool here; the prefix join finds every pair at the threshold,
    deterministically. The contaminated-id set returns via one
    left-anti join (ids only; AQE broadcasts it when it fits —
    contamination is a sliver of the corpus by construction).

    Returns surviving corpus rows unchanged.
    """
    from .dedup import jaccard_prefix_join_ab

    hits = jaccard_prefix_join_ab(
        corpus, eval_docs, text_col=text_col, id_col=id_col,
        k=k, threshold=threshold,
    ).select(F.col("id_a").alias(id_col)).distinct()
    return corpus.join(hits, id_col, "left_anti")


def corpus_mix_report(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str | None = None,
) -> DataFrame:
    """One-row corpus-composition concentration report over a
    grouping column (source / domain / language): the observability
    read a data-mixing stage publishes next to its data card — "is
    this corpus one domain wearing a trench coat?".

    Shares are row counts (or ``weight_col`` sums — token counts for
    a compute-weighted mix) per group over the total. Reports
    ``n_groups``, ``total_weight``, Shannon ``entropy`` (nats) and
    ``normalized_entropy`` (entropy / ln(n_groups) ∈ [0,1]; defined
    as 0 for a single group — the degenerate mix is maximally
    concentrated, not maximally even),
    ``hhi`` (Herfindahl–Hirschman Σp², 1/n_groups for uniform, →1
    concentrated), and ``top_share`` (largest group's share). All
    rounded to 6. NULL group values form their own group (an unknown
    source is itself a mix fact); NULL weights contribute 0. Groups
    whose total weight is 0 (or negative) carry no probability mass
    and are excluded from ``n_groups`` and the entropy/HHI statistics.

    Plan: one groupBy on the group column (map-side partial agg),
    then broadcasts of the 1-row total into the share and report
    branches. The group frame feeds two consumers, so whether the
    underlying corpus scan runs once or twice depends on Spark
    exchange reuse; the re-executed unit is the group-cardinality
    aggregate, not the corpus, so the report stays cheap either way.
    """
    w = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
        if weight_col
        else F.lit(1.0)
    )
    g = df.groupBy(group_col).agg(F.sum(w).alias("__w"))
    tot = g.agg(F.sum("__w").alias("__tot"))
    p = F.col("__w") / F.col("__tot")
    shares = g.crossJoin(F.broadcast(tot)).select(
        p.alias("__p")
    ).filter(F.col("__p") > 0)
    ent = -F.sum(F.col("__p") * F.log(F.col("__p")))
    n_g = F.count(F.lit(1))
    return shares.agg(
        n_g.cast("long").alias("n_groups"),
        ent.alias("__ent"),
        F.sum(F.col("__p") * F.col("__p")).alias("__hhi"),
        F.max("__p").alias("__top"),
    ).crossJoin(F.broadcast(tot)).select(
        "n_groups",
        F.round(F.col("__tot"), 6).alias("total_weight"),
        F.round(F.col("__ent"), 6).alias("entropy"),
        F.round(
            F.when(F.col("n_groups") <= 1, F.lit(0.0)).otherwise(
                F.col("__ent") / F.log(F.col("n_groups").cast("double"))
            ),
            6,
        ).alias("normalized_entropy"),
        F.round(F.col("__hhi"), 6).alias("hhi"),
        F.round(F.col("__top"), 6).alias("top_share"),
    )
