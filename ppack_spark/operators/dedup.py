"""Deduplication operators for training-data pipelines.

Four families, each a distinct cost/recall point:

* **exact** — hash-groupBy on a content fingerprint. One shuffle on
  the hash; at 100 TB this is the cheapest possible dedup (the
  fingerprint is 32 bytes regardless of document size, and partial
  aggregation collapses duplicates map-side).
* **MinHash + LSH** — shingle → per-seed min-hash → band → bucket
  join. The signature is computed entirely with JVM higher-order
  array functions (transform/array_min over md5 strings) — per-row
  map work, no Python, no shuffle. Candidate generation is an
  equi-join on (band_index, band_value): Jaccard-similar documents
  collide with high probability, everything else never meets —
  this is the scale path that replaces the O(n²) pair comparison.
* **SimHash** — bit-vote fingerprint; near-duplicates differ in few
  bits. Computed with explode+groupBy conditional-sum bit-vote (one
  codegen'd shuffle per corpus, O(docs) shuffle rows via partial
  aggregation) — the per-row array-fold alternative is interpreted
  and ~50× slower.
* **n-gram Jaccard** — exact set similarity over word shingles for
  verification of LSH candidates (array_intersect/array_union,
  JVM-side), and the exact prefix-filter join that finds every pair
  at a threshold with no LSH miss rate (``jaccard_prefix_join``; its
  R-S form ``jaccard_prefix_join_ab`` is the same kernel).

Hash choice: md5 — bit-identical in Spark and DuckDB, so every
operator here is oracle-checkable. MinHash derives all seeds from one
digest via double hashing (h1 + i*h2 mod 2^32); SimHash votes on the
first 32 bits. Both are single-fold expressions: the hash transform
appears once per document, never once per seed/bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread

__all__ = [
    "content_hash",
    "exact_dedup_groups",
    "exact_dedup_keep_first",
    "exact_dedup_keep_best",
    "tfidf_cosine_pairs",
    "word_shingles",
    "minhash_signature",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_ab",
    "jaccard_similarity",
    "ngram_jaccard_pairs",
    "jaccard_prefix_join",
    "jaccard_prefix_join_ab",
    "simhash_df",
    "simhash_pairs",
    "near_dup_components",
    "dup_rate_report",
    "near_dedup_corpus",
    "near_dedup_keep_best",
    "minhash_jaccard_estimate",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def content_hash(text: Column | str) -> Column:
    """md5 of whitespace-normalized lowercase text (exact-dup key)."""
    norm = F.regexp_replace(F.lower(F.trim(_col(text))), r"\s+", " ")
    return F.md5(norm)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct content hash with
    the representative (min id) and copy count."""
    return (
        df.select(F.col(id_col), content_hash(text_col).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deduplicated corpus: keep the min-id row per content hash.
    Implemented as a self-semi-join against the winners (no window
    over the full corpus → partial agg keeps the shuffle small)."""
    winners = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(winners, on=id_col, how="left_semi")


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deduplicated corpus keeping the HIGHEST-``score_col`` row per
    content hash (ties broken by min id) — the quality-aware variant
    of :func:`exact_dedup_keep_first`: when a pipeline has scored
    documents (``quality_classifier_score``, ``unigram_logprob``,
    DSIR weights), the duplicate to keep is the best copy, not the
    first-crawled one (copies often differ in surrounding boilerplate
    after cleaning stages, so scores genuinely differ).

    Same scale shape as keep-first: one partial-aggregated groupBy on
    the 32-byte content hash picking argmax(score, -id) via a struct
    max — no window over the corpus — then a left-semi join on the
    winner ids. The min-id tiebreak is expressed as max(-id), so the
    id column must be numeric (the repo's corpus ids are; for string
    ids map them through xxhash64 first or use keep-first)."""
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long", "float", "double"):
        raise ValueError(
            f"exact_dedup_keep_best needs a numeric id for the min-id "
            f"tiebreak; {id_col} is {id_type}"
        )
    h = content_hash(text_col)
    winners = (
        df.select(F.col(id_col), F.col(score_col).alias("__s"), h.alias("__h"))
        .groupBy("__h")
        .agg(
            F.max(F.struct(F.col("__s"), (-F.col(id_col)).alias("__negid")))
            .alias("__best")
        )
        .select((-F.col("__best.__negid")).alias(id_col))
    )
    return df.join(winners, on=id_col, how="left_semi")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of lowercased whitespace-tokenized
    text, joined with single spaces. Pure higher-order expression:
    transform(sequence(...)) over the token array — no explode, no
    shuffle. Documents shorter than k words yield their full text as
    the single shingle (so they still participate in hashing).

    DuckDB equivalent built in plans/registry.py with
    list_transform(generate_series(...)) + array_to_string.

    Construction note: the shingle array is built by zipping ``k``
    shifted slices of the token array and joining each zipped row —
    the token-split expression is evaluated ``k`` times total (once
    per slice operand). The once-obvious form — ``transform(sequence,
    i -> array_join(slice(toks, i+1, k)))`` — re-evaluates the outer
    ``toks`` expression PER ELEMENT inside the lambda (Catalyst does
    not CSE across the lambda boundary), turning the shingle build
    into O(n²) work per document; measured 8× slower at sf0.1.
    """
    toks = F.split(F.lower(F.trim(_col(text))), r"\s+")
    n = F.size(toks)
    n_sh = n - F.lit(k - 1)
    parts = [F.slice(toks, i + 1, n_sh).alias(f"_s{i}") for i in range(k)]
    shingles = F.transform(
        F.arrays_zip(*parts),
        lambda st: F.concat_ws(" ", *[st[f"_s{i}"] for i in range(k)]),
    )
    return F.when(n >= k, F.array_distinct(shingles)).otherwise(
        F.array(F.array_join(toks, " "))
    )


_MINHASH_MOD = 1 << 32


def minhash_signature(text: Column | str, num_hashes: int = 8, k: int = 3) -> Column:
    """MinHash signature: array of ``num_hashes`` 32-bit minima (long).

    One md5 per shingle, split into two 32-bit halves (h1, h2); the
    per-seed hash family is h_i(s) = (h1 + i*h2) mod 2^32 — the
    standard double-hashing construction (Kirsch–Mitzenmacher), so all
    ``num_hashes`` functions derive from a single digest. The whole
    signature is ONE fold over the shingle array (aggregate +
    zip_with(least)): the md5 subtree appears exactly once in the
    expression, so each shingle is hashed once — not once per seed
    (the naive N-expression form re-evaluates the hash transform per
    seed and is ~N× slower). All JVM-side, zero shuffle.
    """
    sh = word_shingles(text, k)
    # (h1, h2) per shingle — md5 evaluated once per shingle.
    hp = F.transform(
        sh,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    seeds = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
    init = F.array_repeat(F.lit(_MINHASH_MOD).cast("long"), num_hashes)
    mod = F.lit(_MINHASH_MOD).cast("long")
    return F.aggregate(
        hp,
        init,
        lambda acc, p: F.zip_with(
            acc,
            F.transform(seeds, lambda i: (p["h1"] + i * p["h2"]) % mod),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """``(id, sig)`` signature table — the signature-first entry point.

    Composed pipelines (LSH candidates + signature-Jaccard verify +
    clustering, as in :func:`near_dedup_corpus`) should compute this
    ONCE and pass it to :func:`minhash_lsh_pairs` /
    :func:`minhash_jaccard_estimate` via their ``signatures``
    parameter: the shingle→md5 map pass is the dominant cost of the
    whole MinHash family, and the naive composition pays it once per
    stage. Pure map — no shuffle; at 100 TB this is also the natural
    column to MATERIALIZE alongside the corpus (num_hashes longs per
    document) so re-dedup never touches text again.
    """
    return spread(df).select(
        F.col(id_col),
        minhash_signature(text_col, num_hashes, k).alias("sig"),
    )


def _lsh_bands(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """(id, band, val) rows — num_hashes/band_size per document; the
    (band, val) pair is the LSH bucket key shared by the self-join and
    cross-corpus variants. Input is a ``(id, sig)`` signature table
    from :func:`minhash_signatures`."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}); trailing hashes would be silently dropped"
        )
    n_bands = num_hashes // band_size
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col("sig")[b * band_size + j].cast("string")
                                for j in range(band_size)
                            ],
                        ).alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: documents sharing ≥1 band of their MinHash
    signature. Returns distinct ``(id_left, id_right)`` with
    id_left < id_right.

    Plan shape at scale: per-row signature (map) → explode to
    (band_index, band_value, id) — num_hashes/band_size rows per doc —
    → self-equi-join on the band → distinct. The join key
    (band_index, band_value) is exactly the LSH bucket; Catalyst
    executes it as a shuffle-hash join on the bucket id, so cost is
    O(Σ bucket²) not O(n²). Hot buckets (boilerplate docs) are the
    skew risk — AQE skew-join splitting spreads the shuffle, but the
    b² pair fan-out itself remains.

    ``max_bucket_size`` caps that fan-out: buckets holding more than
    this many documents are dropped BEFORE the join (one partial-agg
    count over the band table, then a semi-filter). A bucket that hot
    is boilerplate — near-identical headers/footers shared by
    thousands of documents — and at 100 TB one such bucket alone can
    emit billions of pairs; capping trades a documented sliver of
    recall (members of a dropped bucket can still meet through any of
    their other bands) for a hard bound on join fan-out. ``None``
    (default) keeps exact LSH semantics.

    ``signatures``: optional precomputed ``(id, sig)`` table from
    :func:`minhash_signatures` (must have been built with the same
    ``num_hashes``/``k``) — lets composed pipelines hash each document
    once instead of once per stage.
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, k)
    )
    # band once: both legs of the bucket self-join (and the hot-bucket
    # cap's count + semi-join when enabled) read this frame, whose
    # lineage carries the shingle->md5 signature map — the dominant
    # cost of the MinHash family. Materialize the narrow (id, band,
    # val) rows so that map runs once, not 2-4 times.
    bands = _lsh_bands(sig, id_col, num_hashes, band_size).localCheckpoint(
        eager=False
    )
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"max_bucket_size must be >= 2 (a pair needs two members), "
                f"got {max_bucket_size}"
            )
        keep = (
            bands.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("band", "val")
        )
        bands = bands.join(keep, ["band", "val"], "left_semi")
    left = bands.select(F.col(id_col).alias("id_left"), "band", "val")
    right = bands.select(F.col(id_col).alias("id_right"), "band", "val")
    return (
        left.join(right, on=["band", "val"], how="inner")
        .filter(F.col("id_left") < F.col("id_right"))
        .select("id_left", "id_right")
        .distinct()
    )


def minhash_lsh_pairs_ab(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    signatures_left: DataFrame | None = None,
    signatures_right: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus LSH candidates: (id_left from ``left``, id_right
    from ``right``) sharing ≥1 MinHash band — fuzzy matching BETWEEN
    two datasets (incoming delta vs reference corpus, A/B snapshots),
    the near-dup complement of the exact ``merge_corpus_delta``.

    No ordering filter (ids come from different namespaces — the
    id_left < id_right dedup of the self-join variant would silently
    drop pairs here); every (A doc, B doc) bucket co-occurrence
    appears exactly once via distinct. Same bucket equi-join scale
    shape as :func:`minhash_lsh_pairs`; the smaller side (typically
    the delta) broadcast-joins under AQE when it fits.

    ``signatures_left`` / ``signatures_right``: optional precomputed
    ``(id, sig)`` tables (see :func:`minhash_signatures`).
    """
    sl = (
        signatures_left
        if signatures_left is not None
        else minhash_signatures(left, text_col, id_col, num_hashes, k)
    )
    sr = (
        signatures_right
        if signatures_right is not None
        else minhash_signatures(right, text_col, id_col, num_hashes, k)
    )
    bl = _lsh_bands(sl, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("id_left"), "band", "val"
    )
    br = _lsh_bands(sr, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("id_right"), "band", "val"
    )
    return (
        bl.join(br, on=["band", "val"], how="inner")
        .select("id_left", "id_right")
        .distinct()
    )


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays, JVM-side."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union.cast("double"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above ``threshold``.

    O(pairs-within-block): always pass a ``block_col`` (or feed LSH
    candidates) at scale — the no-block variant is for small corpora
    and verification only.
    """
    sh = spread(df).select(
        F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
        word_shingles(text_col, k).alias("sh"),
    )
    left = sh.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_left"), F.col("sh").alias("sh_l"),
    )
    right = sh.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_right"), F.col("sh").alias("sh_r"),
    )
    on = [block_col] if block_col else None
    joined = (
        left.join(right, on=on) if on else left.crossJoin(right)
    ).filter(F.col("id_left") < F.col("id_right"))
    return (
        joined.withColumn("jaccard", jaccard_similarity(F.col("sh_l"), F.col("sh_r")))
        .filter(F.col("jaccard") > threshold)
        .select("id_left", "id_right", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SimHash fingerprints (bit-vote, ``bits`` wide): one row per
    document with a ``simhash`` long column. ``carry_cols`` are extra
    per-document columns (e.g. a blocking key) carried through the
    aggregation — they must be functionally dependent on ``id_col``.

    Per token: hash = first 8 hex chars of md5 → 32-bit int. Each bit
    votes +1 if set, −1 if not; fingerprint bit b is 1 iff the vote is
    positive. Near-duplicate documents land at small Hamming distance.

    Plan shape: explode distinct tokens → groupBy(doc) with ``bits``
    codegen'd conditional-sum aggregates → one final expression packing
    positive votes into the fingerprint. The md5 appears once per
    token ROW, inside whole-stage codegen — unlike the earlier
    aggregate/zip_with fold over the token array, which Spark
    interprets expression-node-by-node (~50× slower at sf0.1). The
    groupBy shuffles one ``bits``-wide partial-agg row per document
    per map partition — O(docs), not O(tokens).

    NULL ``text_col`` rows are KEPT with a NULL ``simhash``
    (explode_outer) — a NULL fingerprint fails equi-joins and the
    Hamming predicate alike, so such docs can't false-pair downstream;
    a plain explode would silently drop them from the output entirely.
    """
    # spread() before the tokenize/hash stage: the explode + per-token
    # md5 + bits-wide partial aggregation are per-row COMPUTE bound,
    # and a small corpus parquet is one byte-sized scan split — without
    # the repartition the whole fingerprint stage pins to one core
    # (no-op at real scale; same lesson as the minhash path above)
    toks = spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode_outer(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("_tok"),
    )
    # materialize the token hash in its own projection so md5 is
    # evaluated once per token row, not re-derived inside each of the
    # ``bits`` aggregate expressions (CSE across agg buffers is not
    # guaranteed). Up to 32 bits the hash is the first 8 hex chars of
    # md5; 64-bit fingerprints (the 100 TB config — 16-bit pigeonhole
    # segments → 65 536 buckets per index) take 16 hex chars as two
    # 32-bit halves recombined with a bit shift, because conv()'s
    # unsigned decimal string for values ≥ 2^63 cannot survive a
    # signed-long cast under ANSI mode (shiftleft is a pure bit op —
    # it wraps into the sign bit instead of overflowing).
    if bits <= 32:
        hv = (
            F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10)
            .cast("long")
        )
    elif bits <= 64:
        hi = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5(F.col("_tok")), 9, 8), 16, 10).cast("long")
        hv = F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        raise ValueError(f"simhash_df supports at most 64 bits, got {bits}")

    def _bitmask(b: int) -> int:
        # bit 63 as a SIGNED long literal (1 << 63 overflows)
        return -(1 << 63) if b == 63 else (1 << b)

    hashed = toks.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        hv.alias("_hv"),
    )
    votes = [
        F.sum(
            # NULL _hv (the explode_outer row of a NULL text) must not
            # fall into otherwise(-1) — keep it NULL so the group sum
            # is NULL and the fingerprint surfaces as NULL below
            F.when(F.col("_hv").isNull(), F.lit(None))
            .when(F.col("_hv").bitwiseAND(F.lit(_bitmask(b)).cast("long")) != 0, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col, *carry_cols).agg(*votes)
    fp: Column = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(
            F.col(f"_v{b}") > 0, F.lit(_bitmask(b)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    # all votes are NULL together exactly when the doc had NULL text
    # (sum over the single NULL-hash row): surface that as NULL simhash
    fp = F.when(F.col("_v0").isNull(), F.lit(None).cast("long")).otherwise(fp)
    return agg.select(F.col(id_col), *[F.col(c) for c in carry_cols], fp.alias("simhash"))


def hamming_segment_pairs(
    fp_df: DataFrame,
    fp_col: str,
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    block_col: str | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All pairs at Hamming distance ≤ ``max_hamming`` between
    ``bits``-bit fingerprints, via pigeonhole segment blocking
    (Manku, Jain & Das Sarma, WWW'07 §3) — the scale-correct
    replacement for any per-block all-pairs Hamming join.

    The fingerprint is split into ``max_hamming + 1`` contiguous bit
    segments. A pair differing in ≤ ``max_hamming`` bits cannot differ
    in every segment (pigeonhole), so candidates = the equi-self-join
    on ``(segment_index, segment_value)`` — exact, not probabilistic —
    followed by the exact-Hamming verify and a pair-distinct (a pair
    that agrees on several segments is found several times).

    Plan shape: one (d+1)-way explode of (id, fp) rows — fingerprints
    only, payloads/text never enter — then a shuffle equi-join keyed
    on the segment value. Bucket count per segment index is
    2^(bits/(d+1)), so at 100 TB use 64-bit fingerprints (d=3 → 16-bit
    segments → 65 536 buckets per index); a 32-bit fp with d=3 gives
    only 256 buckets per index and buckets grow O(n). Degenerate
    segments (e.g. the all-zero low byte of short documents) are the
    Hamming twin of LSH hot buckets — ``max_bucket_size`` drops
    oversize buckets exactly like :func:`minhash_lsh_pairs` does
    (pairs may still surface via their other segments; only pairs
    whose EVERY agreeing segment is hot are lost, and those are
    reported, not silently truncated, by the cap being an explicit
    parameter).

    ``block_col`` additionally confines candidates to equal block
    values (composes with segments in the same join key — the
    reference-style source/kind block becomes a prefix of the shuffle
    key, not a separate pass).

    NULL fingerprints never pair: their segment values are NULL and
    the equi-join drops them.
    """
    n_seg = max_hamming + 1
    if n_seg > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_seg} segments but the "
            f"fingerprint has only {bits} bits"
        )
    c = F.col(fp_col)

    def _segval(col: Column, i: int) -> Column:
        start = i * bits // n_seg
        width = (i + 1) * bits // n_seg - start
        if width >= 64:
            # the whole-fingerprint segment (max_hamming=0 over 64-bit
            # fps — exact-dup detection): the 2^64-1 mask overflows a
            # signed long literal, and masking a full-width segment is
            # a no-op anyway, so take the fingerprint as the value
            return col
        mask = (1 << width) - 1
        return F.shiftrightunsigned(col, start).bitwiseAND(
            F.lit(mask).cast("long")
        )

    segs = [
        F.struct(F.lit(i).alias("__seg"), _segval(c, i).alias("__segval"))
        for i in range(n_seg)
    ]
    blk = [F.col(block_col)] if block_col else []
    # fingerprint once: both legs of the segment self-join (and the
    # hot-bucket cap's count + semi-join when enabled) read this
    # frame, and its lineage carries the fingerprint computation —
    # 64 substring comparisons per row for dHash, the token-hash maps
    # for SimHash. Materialize the narrow (id, block, fp, seg, segval)
    # rows so the heavy scan runs once, not 2-4 times.
    exploded = fp_df.select(
        F.col(id_col), *blk, c.alias("__fp"), F.explode(F.array(*segs)).alias("__s")
    ).select(
        F.col(id_col),
        *blk,
        F.col("__fp"),
        F.col("__s.__seg").alias("__seg"),
        F.col("__s.__segval").alias("__segval"),
    ).localCheckpoint(eager=False)
    keys = ([block_col] if block_col else []) + ["__seg", "__segval"]
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"max_bucket_size must be >= 2 (a pair needs two members), "
                f"got {max_bucket_size}"
            )
        keep = (
            exploded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select(*keys)
        )
        exploded = exploded.join(keep, keys, "left_semi")
    left = exploded.select(
        *keys, F.col(id_col).alias("id_left"), F.col("__fp").alias("__fp_l")
    )
    right = exploded.select(
        *keys, F.col(id_col).alias("id_right"), F.col("__fp").alias("__fp_r")
    )
    hamming = F.bit_count(F.col("__fp_l").bitwiseXOR(F.col("__fp_r")))
    cand = left.join(right, on=keys, how="inner").filter(
        F.col("id_left") < F.col("id_right")
    )
    if max_bucket_size is None:
        # canonical-segment filter (r14 optimization, guide §2.3): a
        # pair agreeing on s segments is discovered s times, and every
        # copy rides the pair-distinct exchange. Keep only the row
        # whose matched segment is the pair's FIRST agreeing segment —
        # a pure codegen recomputation of the segment values from the
        # two fingerprints already on the row — so each pair enters
        # the distinct once instead of up to d+1 times. Only valid
        # without the hot-bucket cap: a capped run may have dropped
        # the first agreeing segment's bucket, leaving a LATER segment
        # as the pair's only surviving discovery.
        agree = F.array(
            *[
                _segval(F.col("__fp_l"), j).eqNullSafe(
                    _segval(F.col("__fp_r"), j)
                )
                for j in range(n_seg)
            ]
        )
        cand = cand.filter(
            F.col("__seg") == F.array_position(agree, F.lit(True)) - 1
        )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_left", "id_right", "hamming")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    block_col: str | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ ``max_hamming``.

    Candidate generation is ALWAYS pigeonhole segment blocking
    (:func:`hamming_segment_pairs`) — exact, so the result set is
    identical to an all-pairs Hamming join but the plan is a segment
    equi-join, never a cross join. ``block_col`` (the reference-style
    source block) additionally confines pairs to equal block values;
    it is an extra join key, not the thing saving the plan from O(n²).
    """
    s = simhash_df(
        spread(df),
        text_col=text_col,
        id_col=id_col,
        bits=bits,
        carry_cols=(block_col,) if block_col else (),
    )
    return hamming_segment_pairs(
        s,
        fp_col="simhash",
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        block_col=block_col,
        max_bucket_size=max_bucket_size,
    )


def near_dup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    exact_verify: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate cluster membership as a ``(node, component)``
    table: MinHash-LSH candidate pairs → signature-agreement (and
    optionally exact-Jaccard) verification → connected components.
    ``component`` is the cluster's min member id; documents with no
    verified near-duplicate do not appear (they are singletons).

    This is the shared first half of every near-dup consumer —
    :func:`near_dedup_corpus` (drop non-canonical members),
    :func:`near_dedup_keep_best` (keep the best-scored member), and
    leakage-safe splitting (assign whole clusters to one split) — so
    the shingle→signature map pass, the banded candidate join, and
    the verify stage are written once. See :func:`near_dedup_corpus`
    for the parameter semantics and the 100 TB scale shape.

    Scale note: ``df`` is read by :func:`~ppack_spark.operators.util.spread`'s
    partition probe, by the signature checkpoint, and by every consumer
    that joins back to it, so a ``df`` whose plan has shuffles runs
    them once per read. Give it a scan or a cut
    (``df.localCheckpoint(eager=False)``), as ``CorpusPipeline.run``
    does.
    """
    from .cluster import connected_components

    if exact_verify and verify_threshold is None:
        raise ValueError(
            "exact_verify=True requires a verify_threshold: the exact-"
            "Jaccard check needs the threshold to verify against (pass "
            "the threshold, or drop exact_verify for raw-LSH clustering)"
        )
    # sign once: the band table reads sig once and the verify stage
    # joins it on BOTH pair sides — without a cut the shingle->md5
    # map pass (the family's dominant cost) runs three times
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k).localCheckpoint(
        eager=False
    )
    pairs = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, band_size=band_size, k=k, signatures=sig,
        max_bucket_size=max_bucket_size,
    )
    if verify_threshold is not None:
        est = minhash_jaccard_estimate(
            pairs, id_col=id_col, num_hashes=num_hashes, signatures=sig
        )
        pairs = est.filter(
            F.col("est_jaccard") >= F.lit(float(verify_threshold))
        ).select("id_left", "id_right")
        if exact_verify:
            sh = df.select(
                F.col(id_col), word_shingles(text_col, k).alias("__sh")
            )
            pairs = (
                pairs.join(
                    sh.select(
                        F.col(id_col).alias("id_left"),
                        F.col("__sh").alias("__sh_l"),
                    ),
                    "id_left",
                )
                .join(
                    sh.select(
                        F.col(id_col).alias("id_right"),
                        F.col("__sh").alias("__sh_r"),
                    ),
                    "id_right",
                )
                .filter(
                    jaccard_similarity(F.col("__sh_l"), F.col("__sh_r"))
                    >= F.lit(float(verify_threshold))
                )
                .select("id_left", "id_right")
            )
    return connected_components(pairs)


def near_dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    exact_verify: bool = False,
    max_bucket_size: int | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """The fuzzy-dedup deliverable, composed end-to-end: MinHash-LSH
    candidate pairs → candidate VERIFICATION → connected components →
    keep ONE canonical document (the min id) per near-duplicate
    cluster, plus every singleton untouched.

    ``verify_threshold`` (default 0.5) filters LSH candidates by the
    signature-agreement Jaccard estimate
    (:func:`minhash_jaccard_estimate`) BEFORE clustering. This is not
    optional hygiene at scale: with b bands of r rows, a pair at true
    Jaccard s still collides with probability 1−(1−s^r)^b (≈31 % at
    s=0.3 for 4×2), and transitive closure chains those false
    candidates into mega-clusters whose non-canonical members are
    permanently DROPPED from the corpus. The verify stage costs one
    equi-join of the already-computed signatures (num_hashes longs per
    doc — no re-shingling, no text) and restores the precision the
    banding gave up. Pass ``None`` to reproduce raw-LSH clustering.
    ``exact_verify=True`` additionally confirms surviving candidates
    with exact shingle Jaccard ≥ threshold (touches text for
    candidates only — the same verify policy as
    ``merge_corpus_delta_fuzzy``), for when the estimator's ±1/√h
    noise matters more than a second pass over candidate documents.

    Scale shape: signatures are computed ONCE (:func:`minhash_signatures`)
    and feed both the banded candidate equi-join and the estimate
    verify — the shingle→md5 map pass, the dominant cost, is never
    repeated; components iterate over hash-keyed candidate edges with
    localCheckpoint lineage cuts; the final step is a left-anti join
    of the corpus against the loser set (nodes ≠ their component min)
    — losers are a fraction of the corpus, ids only, broadcast-size
    after AQE.
    """
    comps = (
        components
        if components is not None
        else near_dup_components(
            df, text_col, id_col, num_hashes, band_size, k,
            verify_threshold, exact_verify, max_bucket_size,
        )
    )
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    exact_verify: bool = False,
    max_bucket_size: int | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate dedup keeping the HIGHEST-``score_col`` member
    of each verified near-dup cluster (ties → min id) — the fuzzy
    twin of :func:`exact_dedup_keep_best`. Near-dup copies genuinely
    differ (boilerplate, truncation, OCR noise), so once a pipeline
    has scored documents (``quality_classifier_score``,
    ``unigram_logprob``, DSIR) the copy worth keeping is the best
    one, not the lowest-id one.

    Built on :func:`near_dup_components`: per cluster, the winner is
    argmax(score, −id) via a struct max inside one partial-aggregated
    groupBy on the component id (cluster-count-sized, never a corpus
    window); every non-winner cluster member is dropped with a
    left-anti join of ids. Singletons never enter the component table
    and survive untouched. The id must be numeric for the max(−id)
    tiebreak, as in :func:`exact_dedup_keep_best`.
    """
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long", "float", "double"):
        raise ValueError(
            f"near_dedup_keep_best needs a numeric id for the min-id "
            f"tiebreak; {id_col} is {id_type}"
        )
    comps = (
        components
        if components is not None
        else near_dup_components(
            df, text_col, id_col, num_hashes, band_size, k,
            verify_threshold, exact_verify, max_bucket_size,
        )
    )
    members = comps.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("__s")),
        "node",
    )
    winners = (
        members.groupBy("component")
        .agg(
            F.max(F.struct(F.col("__s"), (-F.col("node")).alias("__negid")))
            .alias("__best")
        )
        .select((-F.col("__best.__negid")).alias("__w"))
    )
    losers = (
        comps.join(
            winners.select(F.col("__w").alias("node")), "node", "left_anti"
        )
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def dup_rate_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Per-group duplication report: for each ``group_col`` value, the
    document count, how many documents are exact duplicates of an
    earlier copy (non-canonical members of a content-hash group), and
    how many are verified near-duplicates of another document — the
    "which sources are mostly mirrors?" diagnostic that decides
    where dedup budget and crawler exclusions go (a source with a 60 %
    dup rate is a syndication sink, not new data).

    Returns (group, n_docs, n_exact_dup, n_near_dup, exact_dup_rate,
    near_dup_rate). ``n_near_dup`` counts non-canonical members of
    verified near-dup clusters (exact duplicates are near-duplicates
    too, so n_near_dup ≥ n_exact_dup on any corpus where both exist).

    Scale shape: exact side is one partial-aggregated groupBy on the
    32-byte content hash; near side reuses the
    :func:`near_dup_components` chain (signatures once, banded join,
    verify); both reduce to id sets that join back group-keyed — the
    report itself is group-count-sized.
    """
    h = content_hash(text_col)
    hashed = df.select(F.col(id_col), F.col(group_col), h.alias("__h"))
    first = hashed.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    exact_losers = (
        hashed.join(first, "__h")
        .filter(F.col(id_col) != F.col("__keep"))
        .select(id_col, group_col)
    )
    comps = near_dup_components(
        df, text_col, id_col, num_hashes, band_size, k,
        verify_threshold=verify_threshold,
    )
    near_losers = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
        .join(df.select(id_col, group_col), id_col)
    )
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    ec = exact_losers.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_dup")
    )
    nc = near_losers.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_near_dup")
    )
    return (
        base.join(ec, group_col, "left")
        .join(nc, group_col, "left")
        .select(
            group_col,
            "n_docs",
            F.coalesce("n_exact_dup", F.lit(0)).cast("long").alias("n_exact_dup"),
            F.coalesce("n_near_dup", F.lit(0)).cast("long").alias("n_near_dup"),
            F.round(
                F.coalesce("n_exact_dup", F.lit(0)) / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            F.round(
                F.coalesce("n_near_dup", F.lit(0)) / F.col("n_docs"), 6
            ).alias("near_dup_rate"),
        )
    )


def minhash_jaccard_estimate(
    pairs: DataFrame,
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Estimated Jaccard for candidate pairs from MinHash signature
    agreement (fraction of equal signature positions — the unbiased
    MinHash estimator). At 100 TB this ranks/filters LSH candidates
    WITHOUT touching document text again: signatures are
    ``num_hashes`` longs per doc vs re-shingling both sides, so the
    verify prefilter moves ~64 bytes per doc instead of the document.
    Exact verification (``ngram_jaccard_pairs``) is then only paid for
    pairs passing the estimate threshold.

    Pass ``signatures`` (a ``(id, sig)`` table from
    :func:`minhash_signatures`) when the candidate pairs came out of
    :func:`minhash_lsh_pairs` over the same signatures — then this
    estimator never re-shingles anything. Otherwise ``df`` (the text
    corpus) is required and signatures are derived here.

    Returns (id_left, id_right, est_jaccard)."""
    if signatures is not None:
        sig = signatures.select(F.col(id_col), F.col("sig").alias("__sig"))
    elif df is not None:
        sig = minhash_signatures(df, text_col, id_col, num_hashes, k).select(
            F.col(id_col), F.col("sig").alias("__sig")
        )
    else:
        raise ValueError("minhash_jaccard_estimate needs df or signatures")
    sl = sig.select(F.col(id_col).alias("id_left"), F.col("__sig").alias("__sl"))
    sr = sig.select(F.col(id_col).alias("id_right"), F.col("__sig").alias("__sr"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("__sl"), F.col("__sr"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    return (
        pairs.join(sl, "id_left")
        .join(sr, "id_right")
        .select(
            "id_left",
            "id_right",
            F.round(agree / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    n_docs: int,
    max_df: int = 1000,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs via an inverted index —
    the lexical complement to the dense-embedding near-dup family:
    two documents are candidates iff they SHARE a (rare enough) term,
    and their similarity is the cosine of their tf·idf vectors.

    The scale lever is ``max_df``: terms appearing in more than
    ``max_df`` documents are dropped from the index BEFORE the
    term-wise self-join, which (a) bounds the join fan-out — a term's
    contribution is df² pairs, so the hottest terms ARE the quadratic
    blowup — and (b) loses almost nothing, because idf = ln(N/df)
    already sends those terms' weights toward zero. This is the
    classic impact-ordered inverted-index pruning (stop-word dropping
    generalized), and it is what makes term-at-a-time all-pairs
    similarity runnable at corpus scale. Norms are computed over the
    KEPT terms, so the score is the exact cosine of the pruned
    vectors (document that choice — it is what makes the number
    engine-replayable rather than an unstated approximation).

    Plan: explode → (doc, term) tf [partial agg] → df per term →
    prune → weights → term equi-join (id_left < id_right) → one
    aggregation on the pair key → norm join → threshold. Every
    shuffle keys on term or id; nothing touches text twice.
    ``n_docs`` is passed in (callers have it from counts they already
    ran) to keep the operator a pure plan.
    """
    from ..functions.text import tokens

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    kept = (
        tf.join(dfreq, on="term")
        .filter(F.col("__df") <= F.lit(int(max_df)))
        .select(
            F.col(id_col),
            "term",
            (F.col("__tf") * F.log(F.lit(float(n_docs)) / F.col("__df"))).alias("__w"),
        )
    )
    norms = kept.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__n")
    )
    a = kept.select(
        F.col(id_col).alias("id_left"), "term", F.col("__w").alias("__wl")
    )
    b = kept.select(
        F.col(id_col).alias("id_right"), "term", F.col("__w").alias("__wr")
    )
    dots = (
        a.join(b, on="term")
        .filter(F.col("id_left") < F.col("id_right"))
        .groupBy("id_left", "id_right")
        .agg(F.sum(F.col("__wl") * F.col("__wr")).alias("__dot"))
    )
    na = norms.select(F.col(id_col).alias("id_left"), F.col("__n").alias("__nl"))
    nb = norms.select(F.col(id_col).alias("id_right"), F.col("__n").alias("__nr"))
    return (
        dots.join(na, on="id_left")
        .join(nb, on="id_right")
        .select(
            "id_left",
            "id_right",
            F.round(F.col("__dot") / (F.col("__nl") * F.col("__nr")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


# Bucket count of the prefix order's frequency table. A groupBy over
# the FULL shingle vocabulary (billions of distinct k-grams in a web
# corpus — the one stage of the r11 plan that was not sublinear-by-key)
# is replaced by hashing shingles into this many buckets and ordering
# by the BUCKET count: the group table is fixed-size (map-side partial
# agg emits ≤ _DF_BUCKETS rows per task), it BROADCASTS back (so the
# corpus token stream never shuffles for the df join either — two
# full-vocabulary shuffles removed), and hot shingles still sort last
# because their buckets are hot. Rare shingles colliding with a hot
# bucket merely fall out of the prefix in favor of other rare
# shingles — candidate quality degrades gracefully with bucket count,
# correctness not at all (the prefix lemma holds for any consistent
# total order).
_DF_BUCKETS = 1 << 16


def _shingled(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    block_col: str | None = None,
) -> DataFrame:
    """(__id, [__blk], sh, sz, shh, __hdup) per non-empty document:
    distinct shingles, their count, xxhash64s and hash duplicates."""
    blk = [F.col(block_col).alias("__blk")] if block_col else []
    sh = spread(df).select(
        F.col(id_col).alias("__id"), *blk, word_shingles(text_col, k).alias("sh")
    )
    # tokenize ONCE: four subtrees read the shingled corpus (the df
    # pass, the prefix build, and both verification sides) and each
    # re-runs the shingling map over the raw text without a cut —
    # materializing the tokenized records is the standard PPJoin
    # working set (every exact set-similarity join re-reads them for
    # verification anyway). ``shh``/``__hdup`` feed the hashed
    # verification prefilter (see _prefix_join).
    return (
        sh.filter(F.size("sh") > 0)
        .withColumn("sz", F.size("sh"))
        .withColumn("shh", F.transform("sh", lambda x: F.xxhash64(x)))
        .withColumn("__hdup", F.col("sz") - F.size(F.array_distinct("shh")))
        .localCheckpoint(eager=False)
    )


def _prefix_join(
    sides: tuple[DataFrame, ...],
    threshold: float,
    blocked: bool,
    strict: bool,
) -> DataFrame:
    """The prefix-filter join kernel over one (self-join) or two (R-S
    join) :func:`_shingled` inputs: (id_left, id_right, jaccard) for
    every pair with Jaccard ≥ ``threshold`` (> when ``strict``), left
    ids from ``sides[0]`` and right ids from ``sides[-1]``. The
    self-join is the R-S join with R = S plus ``id_left < id_right``;
    ``blocked`` adds equal ``__blk`` to the candidate equi-join."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    bcols = ["__blk"] if blocked else []
    exs = [
        s.select("__id", *bcols, "sz", F.explode("sh").alias("tok"))
        for s in sides
    ]
    # both sides MUST order their shingles by the SAME total order for
    # the prefix lemma to hold across corpora, so an R-S join counts
    # frequencies over the UNION of both token streams
    toks = exs[0] if len(exs) == 1 else exs[0].unionByName(exs[1])
    bucket = F.pmod(F.crc32(F.col("tok")), F.lit(_DF_BUCKETS))
    bfreq = (
        toks.select(bucket.alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    pref_len = (
        F.col("sz") - F.ceil(F.lit(t) * F.col("sz")).cast("int") + F.lit(1)
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("df"), F.col("tok")))),
        lambda s: s["tok"],
    )

    def _prefix(ex: DataFrame) -> DataFrame:
        # the exploded prefix table is read by BOTH legs of the
        # candidate join (a self-join's one table twice); without a cut
        # each leg re-runs the collect_list ordering groupBy — the
        # plan's most expensive stage — and the shared df pass
        # re-evaluates the exploded streams. Narrow (id, sz, pos, tok)
        # rows only. posexplode keeps each prefix token's 0-based
        # position in the FULL frequency-ordered shingle array (the
        # prefix IS its first pref_len elements), feeding the
        # positional filter below.
        return (
            ex.withColumn("__b", bucket)
            .join(F.broadcast(bfreq), "__b")
            .drop("__b")
            .groupBy("__id", *bcols, "sz")
            .agg(ordered.alias("__ord"))
            .select(
                "__id", *bcols, "sz",
                F.slice(F.col("__ord"), 1, pref_len).alias("prefix"),
            )
            .select("__id", *bcols, "sz", F.posexplode("prefix").alias("pos", "tok"))
            .localCheckpoint(eager=False)
        )

    pexs = [_prefix(ex) for ex in exs]
    a, b = pexs[0].alias("a"), pexs[-1].alias("b")
    on = F.col("a.tok") == F.col("b.tok")
    if blocked:
        on = on & (F.col("a.__blk") == F.col("b.__blk"))
    # PPJoin positional filter (Xiao et al. 2008 §3.1): a candidate
    # row matches token w at ordered positions (pa, pb), so the
    # overlap is at most min(pa, pb) common tokens before w, w
    # itself, and min(sz_a-pa-1, sz_b-pb-1) after w — while J ≥ t
    # forces overlap ≥ t/(1+t)·(sz_a+sz_b). Rows whose bound cannot
    # reach that are dropped BEFORE the distinct and the verification
    # join. The bound holds for EVERY shared prefix token (the common
    # tokens before/after w are subsets of each side's tokens
    # before/after w under the one global order), so a qualifying
    # pair keeps all its rows and the output is unchanged; the
    # epsilon keeps float rounding on the prune side harmless (a
    # spared candidate merely gets verified).
    overlap_bound = (
        F.least(F.col("a.pos"), F.col("b.pos"))
        + F.lit(1)
        + F.least(
            F.col("a.sz") - F.col("a.pos") - F.lit(1),
            F.col("b.sz") - F.col("b.pos") - F.lit(1),
        )
    ).cast("double")
    min_overlap = F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz"))
    keep = F.col("b.sz") >= F.lit(t) * F.col("a.sz")
    if len(sides) == 1:
        keep = (F.col("a.__id") < F.col("b.__id")) & keep
    keep = (
        keep
        & (F.col("a.sz") >= F.lit(t) * F.col("b.sz"))
        # prune-side epsilon is RELATIVE (1e-12·(sz_a+sz_b), far
        # above the ~2.2e-16·(sz_a+sz_b) double rounding of the
        # bound) plus the old 1e-9 absolute floor: an absolute
        # epsilon alone stops covering rounding error once a
        # pair's combined shingle count passes ~4.5e6, and an
        # exact operator may never prune a boundary pair
        & (
            overlap_bound
            + F.lit(1e-9)
            + F.lit(1e-12) * (F.col("a.sz") + F.col("b.sz"))
            >= min_overlap
        )
    )
    cand = (
        a.join(b, on)
        .filter(keep)
        .select(
            F.col("a.__id").alias("id_left"), F.col("b.__id").alias("id_right")
        )
        .distinct()
    )
    # Hashed verification prefilter (exactness-preserving): candidate
    # pairs vastly outnumber true pairs, and the exact string-array
    # intersect is the most expensive per-row work in the plan. First
    # intersect the 64-bit xxhash64 shingle arrays — cheap long
    # compares, no string hashing — and reject pairs whose HASH
    # intersection already caps the Jaccard below t. The hash
    # intersection is an upper bound on the true one up to collisions
    # WITHIN the common set, and those are bounded by either side's
    # internal duplicate count (common ⊆ A and ⊆ B), so
    # I_true ≤ |h(A)∩h(B)| + min(hdup_A, hdup_B): no true pair is ever
    # rejected, and only the surviving sliver pays the exact string
    # intersect (which alone decides the output).
    sh_l, sh_r = sides[0], sides[-1]
    hl, hr = (
        s.select(
            F.col("__id").alias(f"id_{side}"),
            F.col("sz").alias(f"__sz_{x}"),
            F.col("shh").alias(f"__shh_{x}"),
            F.col("__hdup").alias(f"__hd_{x}"),
        )
        for s, side, x in ((sh_l, "left", "l"), (sh_r, "right", "r"))
    )
    ub = (
        F.size(F.array_intersect("__shh_l", "__shh_r"))
        + F.least("__hd_l", "__hd_r")
    ).cast("double")
    szsum = (F.col("__sz_l") + F.col("__sz_r")).cast("double")
    survivors = (
        cand.join(hl, "id_left")
        .join(hr, "id_right")
        # J ≥ t ⟺ (1+t)·I ≥ t·(sz_l+sz_r); same relative+absolute
        # prune-side epsilon as the positional filter above
        .filter(
            F.lit(1.0 + t) * ub + F.lit(1e-9) + F.lit(1e-12) * szsum
            >= F.lit(t) * szsum
        )
        .select("id_left", "id_right")
    )
    left = sh_l.select(F.col("__id").alias("id_left"), F.col("sh").alias("sh_l"))
    right = sh_r.select(F.col("__id").alias("id_right"), F.col("sh").alias("sh_r"))
    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    union = F.size("sh_l") + F.size("sh_r") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        survivors.join(left, "id_left")
        .join(right, "id_right")
        .withColumn("jaccard", jac)
        .filter(
            F.col("jaccard") > F.lit(t) if strict else F.col("jaccard") >= F.lit(t)
        )
        .select("id_left", "id_right", F.round("jaccard", 6).alias("jaccard"))
    )


def jaccard_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """EXACT all-pairs Jaccard join at ``threshold`` via prefix
    filtering (Chaudhuri/Ganti/Kaushik SSJoin 2006; Xiao et al.
    PPJoin 2008) — the deterministic complement to MinHash LSH: LSH
    is probabilistic (misses pairs at a tunable rate) and this is
    exact, finding EVERY pair with J ≥ threshold, with no blocking
    key required.

    The filter: order each document's distinct ``k``-shingle set by
    a global rarity proxy (frequency asc, shingle asc — a consistent
    total order), and keep only the first
    ``|S| − ceil(t·|S|) + 1`` shingles as the document's PREFIX. If
    J(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ ceil(t·max(|A|,|B|)), and by
    the prefix-filter lemma the two prefixes must share a shingle —
    so an equi-join on prefix shingles alone produces a candidate
    superset. The lemma holds for ANY consistent total order of the
    shingle universe; frequency-ascending is purely a candidate-
    quality heuristic, so the OUTPUT (every pair with J ≥ t, exactly
    verified) is invariant to how frequencies are obtained. A length
    filter (t·|A| ≤ |B| ≤ |A|/t, a necessary condition for J ≥ t)
    prunes candidates before verification; survivors verify exactly
    with one JVM-side array_intersect over the full shingle sets.

    ``block_col`` optionally restricts pairs to equal blocking keys:
    the key joins into the candidate equi-join (tok AND block must
    match), so prefix filtering and blocking compose — strictly fewer
    candidates than either alone, the scale-safe replacement for a
    within-block all-pairs join.

    Shuffle shape: one fixed-size bucket-count aggregate (broadcast
    back), one per-document collect_list to order shingles (keyed by
    doc id — linear), the prefix equi-join (keyed by rare shingles),
    and the verification join carrying the full shingle arrays only
    for candidate ids. Pairs are verified once (id_left < id_right).

    Returns (id_left, id_right, jaccard ≥ threshold — or > threshold
    when ``strict``, applied to the UNROUNDED value so the boundary
    matches an oracle's open interval), jaccard exact and rounded
    to 6. Cross-checked against the brute-force
    ``ngram_jaccard_pairs`` in tests/test_dedup.py.
    """
    sh = _shingled(df, text_col, id_col, k, block_col)
    return _prefix_join((sh,), threshold, block_col is not None, strict)


def jaccard_prefix_join_ab(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT cross-corpus set-similarity join: every (A-doc, B-doc)
    pair with ``k``-shingle Jaccard ≥ ``threshold`` — the
    deterministic twin of :func:`minhash_lsh_pairs_ab` (which misses
    pairs at the banding's miss rate) via the same prefix filter as
    :func:`jaccard_prefix_join` (SSJoin 2006 / PPJoin 2008, here in
    its R-S join form).

    The two sides MUST order their shingles by the SAME total order
    for the prefix lemma to hold across corpora, so the frequency
    table is computed over the UNION of both token streams (bucketed
    to a fixed number of groups, broadcast back; see
    :func:`jaccard_prefix_join` for why the ordering is free to be
    approximate: the output is exact regardless, candidates verify
    against the full shingle sets).

    The canonical consumers: exact fuzzy decontamination (drop
    training docs near-identical to an eval/benchmark doc — see
    ``pipeline.decontaminate_fuzzy``) and cross-snapshot fuzzy
    matching where a miss has compliance cost and LSH's probabilistic
    recall is not acceptable.

    Returns (id_a, id_b, jaccard) with jaccard exact, rounded to 6.
    """
    sides = (
        _shingled(df_a, text_col, id_col, k),
        _shingled(df_b, text_col, id_col, k),
    )
    return _prefix_join(sides, threshold, False, False).select(
        F.col("id_left").alias("id_a"), F.col("id_right").alias("id_b"), "jaccard"
    )
