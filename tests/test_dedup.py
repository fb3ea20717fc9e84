"""Dedup-operator edge semantics the SQL-oracle gate can't reach
(the parquet fixtures contain no NULL text)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ppack_spark.operators.dedup import simhash_df, simhash_pairs


def test_simhash_keeps_null_text_rows(spark):
    """NULL-text docs must be retained with a NULL fingerprint — the
    pre-rewrite column expression kept them; the explode-based plan
    must not silently drop them."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "hello world")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash_df(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] is None
    assert out[1] is not None and out[1] == out[3]


def test_simhash_null_text_never_pairs(spark):
    """Two NULL-text docs share a NULL fingerprint but must NOT pair:
    NULL Hamming distance fails the predicate."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b c d e"), (4, "a b c d e")],
        "doc_id long, text string",
    )
    got = {
        (r["id_left"], r["id_right"])
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert got == {(3, 4)}


def test_simhash_carry_cols_with_nulls(spark):
    """carry_cols survive the aggregation for NULL-text rows too."""
    df = spark.createDataFrame(
        [(1, "x y", "a"), (2, None, "b")],
        "doc_id long, text string, blk string",
    )
    rows = {
        r["doc_id"]: r
        for r in simhash_df(df, carry_cols=("blk",)).collect()
    }
    assert rows[1]["blk"] == "a" and rows[1]["simhash"] is not None
    assert rows[2]["blk"] == "b" and rows[2]["simhash"] is None


def test_hamming_segment_pairs_matches_brute_force(spark):
    """Pigeonhole segment blocking is EXACT: over random 32-bit
    fingerprints, the segment equi-join + verify returns precisely the
    brute-force ≤d pair set — including the non-divisible layout
    (d=4 → 5 segments of widths 6/7 over 32 bits)."""
    import random

    from ppack_spark.operators.dedup import hamming_segment_pairs

    rng = random.Random(7)
    base = [rng.getrandbits(32) for _ in range(60)]
    fps = list(base)
    for i in range(60):  # plant near-dups at small Hamming distances
        flip = base[i]
        for _ in range(rng.randrange(0, 5)):
            flip ^= 1 << rng.randrange(32)
        fps.append(flip)
    df = spark.createDataFrame(
        [(i, fp) for i, fp in enumerate(fps)], "doc_id long, fp long"
    )
    for d in (3, 4):
        want = {
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in range(len(fps))
            for b in range(a + 1, len(fps))
            if bin(fps[a] ^ fps[b]).count("1") <= d
        }
        got = {
            (r["id_left"], r["id_right"], r["hamming"])
            for r in hamming_segment_pairs(
                df, "fp", bits=32, max_hamming=d
            ).collect()
        }
        assert got == want, f"d={d}"


def test_hamming_segment_pairs_matches_brute_force_64bit(spark):
    """The 100 TB config (64-bit fingerprints → 16-bit segments) is
    exact too, including fingerprints with the sign bit set (bit 63 —
    the signed-long wrap both engines must agree on)."""
    import random

    from ppack_spark.operators.dedup import hamming_segment_pairs

    rng = random.Random(11)
    base = [rng.getrandbits(64) for _ in range(50)]
    fps = list(base)
    for i in range(50):
        flip = base[i]
        for _ in range(rng.randrange(0, 5)):
            flip ^= 1 << rng.randrange(64)
        fps.append(flip)
    assert any(fp >> 63 for fp in fps)  # sign-bit coverage
    signed = [fp - (1 << 64) if fp >= (1 << 63) else fp for fp in fps]
    df = spark.createDataFrame(
        [(i, fp) for i, fp in enumerate(signed)], "doc_id long, fp long"
    )
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["id_left"], r["id_right"], r["hamming"])
        for r in hamming_segment_pairs(
            df, "fp", bits=64, max_hamming=3
        ).collect()
    }
    assert got == want


def test_simhash_64bit_uses_full_hash_width(spark):
    """bits=64 must consume 64 bits of token hash: the high 32
    fingerprint bits carry real votes (a truncated 32-bit hash would
    leave them all zero — collapsing the 16-bit pigeonhole segments 2
    and 3 into one degenerate bucket each), and near-identical texts
    still land at small Hamming distance."""
    texts = [(i, f"alpha beta gamma delta epsilon zeta token{i}") for i in range(8)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    fps = {r["doc_id"]: r["simhash"] for r in simhash_df(df, bits=64).collect()}
    assert all(fp is not None for fp in fps.values())
    # at least one doc sets at least one of bits 32..63
    assert any((fp >> 32) & 0xFFFFFFFF for fp in fps.values())
    # shared-token docs stay Hamming-close on the full 64 bits
    h = bin((fps[0] ^ fps[1]) & ((1 << 64) - 1)).count("1")
    assert h <= 16


def test_hamming_segment_pairs_null_and_cap(spark):
    """NULL fingerprints never pair; an oversize segment bucket is
    dropped by max_bucket_size but pairs still surface via their
    other (cold) segments."""
    import pytest

    from ppack_spark.operators.dedup import hamming_segment_pairs

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, 0), (4, 0)], "doc_id long, fp long"
    )
    got = {
        (r["id_left"], r["id_right"])
        for r in hamming_segment_pairs(df, "fp", bits=32, max_hamming=3).collect()
    }
    assert got == {(3, 4)}

    # all 21 docs share the all-zero low byte (hot segment 0, size 21,
    # dropped by the cap); the other segments carry distinct values, so
    # the planted hamming-1 pair (0, 100) keeps cold agreeing segments
    # (seg2 value 0 and seg3 value 5, each a 2-member bucket) and
    # survives. Pair (0, 2) sits at hamming 3 but agrees ONLY on the
    # hot segment — the documented cap loss.
    fps = [(i, ((i + 5) << 24) | (i << 16) | ((i * 2 + 1) << 8)) for i in range(20)]
    fps.append((100, fps[0][1] ^ (1 << 9)))  # flips inside segment 1
    cdf = spark.createDataFrame(fps, "doc_id long, fp long")
    uncapped = hamming_segment_pairs(cdf, "fp", bits=32, max_hamming=3)
    got_u = {(r["id_left"], r["id_right"]) for r in uncapped.collect()}
    assert {(0, 100), (0, 2)} <= got_u
    capped = hamming_segment_pairs(
        cdf, "fp", bits=32, max_hamming=3, max_bucket_size=8
    )
    got = {(r["id_left"], r["id_right"]) for r in capped.collect()}
    assert (0, 100) in got
    assert (0, 2) not in got
    with pytest.raises(ValueError):
        hamming_segment_pairs(cdf, "fp", bits=32, max_hamming=3, max_bucket_size=1)
    with pytest.raises(ValueError):
        hamming_segment_pairs(cdf, "fp", bits=4, max_hamming=6)


def test_hamming_segment_pairs_full_width_64bit_segment(spark):
    """max_hamming=0 over 64-bit fingerprints (exact-dup detection on
    the scale-recommended fp width) yields ONE full-width segment —
    the 2^64-1 mask is unrepresentable as a long literal, so the
    segment value must be the fingerprint itself; negative longs (top
    bit set) must group correctly."""
    from ppack_spark.operators.dedup import hamming_segment_pairs

    neg = -(1 << 62) | 12345  # top-bit-set fingerprint
    df = spark.createDataFrame(
        [(1, neg), (2, neg), (3, 7), (4, 7), (5, 9)], "doc_id long, fp long"
    )
    got = {
        (r["id_left"], r["id_right"])
        for r in hamming_segment_pairs(df, "fp", bits=64, max_hamming=0).collect()
    }
    assert got == {(1, 2), (3, 4)}


def test_hamming_segment_pairs_canonical_segment_filter(spark):
    """The r14 canonical-segment filter (uncapped path) keeps exactly
    the FIRST agreeing segment's discovery of each pair. Pairs that
    agree only on a LATE segment — every earlier segment disagreeing
    — must still surface (the first agreeing index IS that late
    segment), and identical fingerprints (agreeing on every segment)
    must yield exactly one pair row."""
    from ppack_spark.operators.dedup import hamming_segment_pairs

    # bits=32, max_hamming=3 → four 8-bit segments (seg j = bits
    # 8j..8j+7). fp 2 differs from fp 1 in segments 0, 1 and 3 by one
    # bit each (hamming 3) and agrees ONLY on segment 2.
    late_only = (1 << 0) | (1 << 8) | (1 << 24)
    df = spark.createDataFrame(
        [(1, 0), (2, late_only), (3, 555), (4, 555)],
        "doc_id long, fp long",
    )
    out = hamming_segment_pairs(df, "fp", bits=32, max_hamming=3)
    rows = out.collect()
    got = {(r["id_left"], r["id_right"]): r["hamming"] for r in rows}
    assert got == {(1, 2): 3, (3, 4): 0}
    # output-level dedup alone cannot distinguish a working canonical-
    # segment filter from a broken/removed one (the trailing distinct
    # also yields one row per pair) — pin the single-discovery property
    # at the PLAN level instead: the filter's array_position probe must
    # be present on the uncapped path and absent on the capped path
    # (where it would be unsound: the cap may drop the first agreeing
    # segment's bucket)
    plan_uncapped = out._jdf.queryExecution().executedPlan().toString()
    assert "array_position" in plan_uncapped
    capped = hamming_segment_pairs(
        df, "fp", bits=32, max_hamming=3, max_bucket_size=10
    )
    plan_capped = capped._jdf.queryExecution().executedPlan().toString()
    assert "array_position" not in plan_capped


def test_near_dedup_corpus_keeps_canonical(spark):
    """Planted near-duplicate group collapses to its min-id member;
    singletons survive."""
    from ppack_spark.operators.dedup import near_dedup_corpus

    base = "the common core of this document is long enough to shingle"
    rows = [
        (1, base + " with tail one"),
        (2, base + " with tail two"),
        (3, base + " with tail three"),
        (4, "a completely different and unrelated document body here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(r["doc_id"] for r in near_dedup_corpus(df).collect())
    assert 4 in got and 1 in got
    assert 2 not in got and 3 not in got


def test_line_dedup_hot_key_stress(spark):
    """A single boilerplate line duplicated across 10k docs (the
    cookie-banner shape) must not wedge the count aggregate — partial
    aggregation collapses the hot hash map-side — and every copy must
    be removed."""
    from ppack_spark.operators.pipeline import dedup_corpus_lines

    boiler = "accept all cookies to continue reading this site"
    rows = [(i, f"unique line number {i}\n{boiler}") for i in range(10_000)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(32)
    out = dedup_corpus_lines(df, max_occurrences=1, min_line_chars=5)
    assert out.filter(F.col("text").contains("cookies")).count() == 0
    assert out.filter(F.col("n_lines_kept") != 1).count() == 0
    assert out.count() == 10_000


def test_minhash_ab_cross_corpus_matching(spark):
    """A near-dup planted across the two corpora is found regardless
    of id ordering (the self-join's id_left < id_right filter would
    lose B-side ids smaller than their A match); within-corpus pairs
    never appear."""
    from ppack_spark.operators.dedup import minhash_lsh_pairs_ab

    base = "shared syndicated article body long enough to shingle well"
    a = spark.createDataFrame(
        [(100, base + " a-side tail"), (101, "unrelated a document text")],
        ["doc_id", "text"],
    )
    # B ids numerically SMALLER than A ids — the ordering-filter trap
    b = spark.createDataFrame(
        [(1, base + " b-side tail"), (2, "different b document body")],
        ["doc_id", "text"],
    )
    got = {(r["id_left"], r["id_right"])
           for r in minhash_lsh_pairs_ab(a, b, band_size=1).collect()}
    assert (100, 1) in got
    assert all(l in (100, 101) and r in (1, 2) for l, r in got)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Identical docs estimate 1.0; disjoint docs estimate ~0; the
    estimator is monotone-ish with true similarity on a planted
    gradient."""
    from ppack_spark.operators.dedup import minhash_jaccard_estimate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),  # identical -> est 1.0
        (3, base + " extra words appended here"),  # high overlap
        (4, "completely different vocabulary in every single position"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_left", "id_right"]
    )
    got = {(r["id_left"], r["id_right"]): r["est_jaccard"]
           for r in minhash_jaccard_estimate(pairs, df).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 2)] >= got[(1, 3)] >= got[(1, 4)]
    assert got[(1, 4)] == 0.0


def test_near_dedup_verify_keeps_low_jaccard_colliders(spark):
    """The precision-at-scale planted case: ~J=0.2 documents that DO
    collide in a MinHash band (banding false positives) must ALL
    survive a verified near-dedup — raw-LSH clustering chains them
    into a mega-cluster and permanently drops unique documents."""
    from ppack_spark.operators.dedup import minhash_lsh_pairs, near_dedup_corpus

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = []
    for i in range(30):
        uniq = " ".join(f"w{i}x{j}" for j in range(12))
        # 8 shared + 12 unique words -> 6 of 18 shingles shared:
        # pairwise true Jaccard = 6/30 = 0.2, well under threshold
        rows.append((i, shared + " " + uniq))
    # one genuine near-dup pair (Jaccard ~= 0.92) that must still fold
    rows.append((100, shared + " common tail one two three"))
    rows.append((101, shared + " common tail one two three four"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # the trap is real: banding at 32 bands x 2 rows produces candidate
    # pairs between the J=0.2 documents
    cand = minhash_lsh_pairs(df, num_hashes=64, band_size=2)
    low_pairs = cand.filter(
        (F.col("id_left") < 30) & (F.col("id_right") < 30)
    ).count()
    assert low_pairs > 0, "fixture must plant banding false positives"

    verified = sorted(
        r["doc_id"]
        for r in near_dedup_corpus(
            df, num_hashes=64, band_size=2, verify_threshold=0.5
        ).collect()
    )
    assert verified == sorted(set(range(30)) | {100})

    exact = sorted(
        r["doc_id"]
        for r in near_dedup_corpus(
            df, num_hashes=64, band_size=2,
            verify_threshold=0.5, exact_verify=True,
        ).collect()
    )
    assert exact == verified

    raw = near_dedup_corpus(
        df, num_hashes=64, band_size=2, verify_threshold=None
    ).count()
    assert raw < len(verified), "raw LSH clustering should over-delete here"


def test_keep_best_prefers_score_then_min_id(spark):
    """Highest score wins per content group; equal scores fall back to
    min id; distinct docs untouched; string ids raise."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [
            (1, "same text here", 0.2),
            (2, "same text here", 0.9),   # best copy → wins
            (3, "same text here", 0.9),   # equal score, higher id → loses
            (4, "unique document", 0.1),
            (5, "Same   TEXT here ", 0.5),  # normalizes to the same hash
        ],
        ["doc_id", "text", "score"],
    )
    kept = {r["doc_id"] for r in exact_dedup_keep_best(df, "score").collect()}
    assert kept == {2, 4}

    sdf = df.withColumn("doc_id", F.col("doc_id").cast("string"))
    with pytest.raises(ValueError):
        exact_dedup_keep_best(sdf, "score")


def test_salted_join_parity_and_left_semantics(spark, tables):
    """Salted inner join equals the plain join exactly for any salt
    count; left join keeps unmatched probe rows exactly once."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.util import salted_join

    o = tables["orders"].select(
        "o_orderkey", F.col("o_custkey").alias("k")
    )
    c = tables["customer"].select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    plain = {(r[0], r[1], r[2]) for r in o.join(c, "k").select("k", "o_orderkey", "c_mktsegment").collect()}
    for s in (1, 3, 16):
        got = {
            (r[0], r[1], r[2])
            for r in salted_join(o, c, ["k"], "o_orderkey", num_salts=s)
            .select("k", "o_orderkey", "c_mktsegment")
            .collect()
        }
        assert got == plain, f"salt={s}"

    # left join: orders pointing at a customer key that doesn't exist
    o2 = o.withColumn("k", F.col("k") + 10_000_000)
    left = salted_join(o2, c, ["k"], "o_orderkey", num_salts=4, how="left")
    assert left.count() == o2.count()
    assert left.filter(F.col("c_mktsegment").isNotNull()).count() == 0

    with pytest.raises(ValueError):
        salted_join(o, c, ["k"], "o_orderkey", how="full")


def test_near_dedup_accuracy_on_planted_mutations(spark, tables):
    """End-to-end dedup accuracy at the production LSH settings
    (128 hashes, 16 bands x 8, verify >= 0.6): lightly-mutated copies
    (1 word in 25 replaced -> shingle Jaccard ~0.85) must be removed
    with high recall, every base document must survive as the
    canonical, and NO unrelated document may be dropped — the
    precision property the signature-verify stage exists to protect
    (raw banding chains false candidates into clusters that delete
    unique docs)."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import near_dedup_corpus

    base = (
        tables["documents"]
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    # deterministic mutation: replace every 25th token
    toks = F.split(F.trim(F.col("text")), r"\s+")
    mutated_text = F.array_join(
        F.transform(
            toks,
            lambda x, i: F.when(i % 25 == 0, F.concat(F.lit("xmut"), i)).otherwise(x),
        ),
        " ",
    )
    copies = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        mutated_text.alias("text"),
    )
    # the synthetic fixture contains NATURAL near-dups (template-
    # generated docs) — calibrate: whatever the dedup drops on the
    # base corpus alone is legitimate, anything beyond that is a
    # false deletion caused by the planted copies
    kw = dict(num_hashes=128, band_size=8, verify_threshold=0.6)
    base_kept = {
        r["doc_id"] for r in near_dedup_corpus(base, **kw).select("doc_id").collect()
    }
    corpus = base.unionByName(copies)
    kept = near_dedup_corpus(corpus, **kw)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    copy_ids = {r["doc_id"] for r in copies.select("doc_id").collect()}

    # precision: every base doc the dedup keeps when run alone must
    # still be kept with the copies planted (copies have higher ids,
    # so the min-id canonical of every planted cluster is the base)
    assert base_kept <= kept_ids, f"lost {sorted(base_kept - kept_ids)[:5]}"
    # recall: the planted near-dup copies overwhelmingly removed
    removed = copy_ids - kept_ids
    recall = len(removed) / len(copy_ids)
    assert recall >= 0.9, f"near-dup removal recall {recall:.2f}"


def test_tfidf_cosine_pairs_rare_terms_and_df_pruning(spark):
    """Docs sharing only rare terms pair with high cosine; docs
    sharing only a ubiquitous term produce NO pair once the df cap
    excludes it (the quadratic-blowup guard)."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import tfidf_cosine_pairs

    rows = [
        (1, "common zebra quagga unique words here"),
        (2, "common zebra quagga other tokens there"),
        (3, "common completely different content now"),
        (4, "common another unrelated document text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # df cap 3: 'common' (df=4) is pruned; zebra/quagga (df=2) survive
    out = tfidf_cosine_pairs(df, n_docs=4, max_df=3, threshold=0.05)
    pairs = {(r["id_left"], r["id_right"]): r["cos_sim"] for r in out.collect()}
    # zebra+quagga (df=2) carry the dot; each doc's three df=1 terms
    # dominate the norms, so the cosine is modest but nonzero
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.1
    assert all(p == (1, 2) for p in pairs), f"unexpected pairs {pairs}"

    # with the cap lifted, 'common' may create (weak) pairs between
    # the otherwise-unrelated docs — the pruning is what kept them out
    out2 = tfidf_cosine_pairs(df, n_docs=4, max_df=100, threshold=0.0)
    pairs2 = {(r["id_left"], r["id_right"]) for r in out2.collect()}
    assert len(pairs2) == 6  # all C(4,2) pairs meet through 'common'


def test_near_dedup_keep_best_prefers_score(spark):
    """Within a verified near-dup cluster the highest-scored member
    survives (ties -> min id); singletons keep their rows; string ids
    raise; result agrees with near_dedup_corpus when scores follow
    -id order."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import (
        near_dedup_corpus,
        near_dedup_keep_best,
    )

    base = "the common core of this document is long enough to shingle"
    rows = [
        (1, base + " with tail one", 0.1),
        (2, base + " with tail two", 0.9),   # best near-dup copy → wins
        (3, base + " with tail three", 0.9), # tie, higher id → loses
        (4, "a completely different and unrelated document body here", 0.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "score"])
    kept = {
        r["doc_id"]
        for r in near_dedup_keep_best(df, "score").select("doc_id").collect()
    }
    assert kept == {2, 4}

    # when score is -id, keep-best == keep-min-id == near_dedup_corpus
    scored = df.withColumn("score", -F.col("doc_id").cast("double"))
    a = {r["doc_id"] for r in near_dedup_keep_best(scored, "score").collect()}
    b = {r["doc_id"] for r in near_dedup_corpus(df).collect()}
    assert a == b == {1, 4}

    with pytest.raises(ValueError):
        near_dedup_keep_best(
            df.withColumn("doc_id", F.col("doc_id").cast("string")), "score"
        )


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-dup cluster members always land in the same split; the
    assignment equals split_corpus on the cluster canonical id; no row
    is lost or duplicated."""
    from ppack_spark.operators.pipeline import (
        split_corpus,
        split_corpus_leakage_safe,
    )

    base = "the common core of this document is long enough to shingle"
    # standalone docs share NO shingles with each other (every token
    # carries the index), so they are genuine singletons
    rows = [(i, base + f" with tail {i}") for i in range(1, 21)] + [
        (
            100 + i,
            f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h",
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    w = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = split_corpus_leakage_safe(df, w).collect()
    assert len(out) == df.count()
    by_id = {r["doc_id"]: r["split"] for r in out}
    cluster_splits = {by_id[i] for i in range(1, 21)}
    assert len(cluster_splits) == 1  # the whole near-dup cluster together
    # plain id-hash split puts the canonical id's cluster members
    # wherever their own hash falls; leakage-safe must match the
    # canonical member's plain assignment
    plain = {
        r["doc_id"]: r["split"]
        for r in split_corpus(df, w).collect()
    }
    assert cluster_splits == {plain[1]}
    # singletons: identical to the plain split (same salt, own id)
    for i in range(100, 130):
        assert by_id[i] == plain[i]


def test_dedup_operators_are_idempotent(spark, tables):
    """Running a dedup pass over its own output must be a no-op:
    exact keep-first, quality-aware keep-best, and verified near-dup
    all converge in one application on the fixture corpus."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import (
        exact_dedup_keep_first,
        near_dedup_corpus,
        near_dedup_keep_best,
    )

    docs = tables["documents"]
    once = exact_dedup_keep_first(docs)
    assert exact_dedup_keep_first(once).count() == once.count()

    kw = dict(num_hashes=32, band_size=4, verify_threshold=0.6)
    nd = near_dedup_corpus(docs, **kw)
    nd_ids = {r["doc_id"] for r in nd.select("doc_id").collect()}
    nd2_ids = {
        r["doc_id"]
        for r in near_dedup_corpus(nd, **kw).select("doc_id").collect()
    }
    assert nd2_ids == nd_ids

    scored = docs.withColumn("score", F.col("n_chars").cast("double"))
    kb = near_dedup_keep_best(scored, "score", **kw)
    kb_ids = {r["doc_id"] for r in kb.select("doc_id").collect()}
    kb2_ids = {
        r["doc_id"]
        for r in near_dedup_keep_best(kb, "score", **kw)
        .select("doc_id")
        .collect()
    }
    assert kb2_ids == kb_ids


def test_dup_rate_report_counts_planted_duplicates(spark):
    """Exact and near duplicates are attributed to their own group;
    clean groups report zero; near >= exact where both exist."""
    from ppack_spark.operators.dedup import dup_rate_report

    base = "the common core of this document is long enough to shingle"
    rows = [
        # source a: one exact pair (2 copies) + one near-dup of them
        (1, "a", base + " with tail one"),
        (2, "a", base + " with tail one"),
        (3, "a", base + " with tail three"),
        # source b: clean
        (4, "b", "completely unrelated text body with distinct words"),
        (5, "b", "another entirely different document about nothing"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["source"]: r for r in dup_rate_report(df).collect()}
    a = got["a"]
    assert a["n_docs"] == 3 and a["n_exact_dup"] == 1
    assert a["n_near_dup"] == 2  # ids 2 and 3 fold into id 1's cluster
    assert a["near_dup_rate"] > a["exact_dup_rate"] > 0
    b = got["b"]
    assert (b["n_exact_dup"], b["n_near_dup"]) == (0, 0)
    assert b["exact_dup_rate"] == 0.0 and b["near_dup_rate"] == 0.0


def test_lsh_bucket_cap_bounds_hot_bucket_fanout(spark):
    """A boilerplate bucket shared by many docs is dropped by the
    cap, while genuine near-dup pairs that also meet in OTHER bands
    survive; cap=None keeps exact LSH semantics; tiny caps raise."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import minhash_lsh_pairs

    # 40 docs sharing identical text -> identical signatures: every
    # band is a hot bucket of 40
    hot = [(i, "identical boilerplate header shared by every mirror page")
           for i in range(40)]
    # plus one genuinely distinct near-dup pair
    base = "the common core of this document is long enough to shingle"
    pairs = [(100, base + " tail a"), (101, base + " tail b")]
    df = spark.createDataFrame(hot + pairs, ["doc_id", "text"])

    uncapped = minhash_lsh_pairs(df)
    n_uncapped = uncapped.count()
    assert n_uncapped >= (40 * 39) // 2  # hot-bucket quadratic fan-out

    capped = minhash_lsh_pairs(df, max_bucket_size=10)
    got = {(r["id_left"], r["id_right"]) for r in capped.collect()}
    assert all(l >= 100 for l, _ in got)  # boilerplate pairs gone
    assert (100, 101) in got              # real near-dups still meet

    with pytest.raises(ValueError):
        minhash_lsh_pairs(df, max_bucket_size=1)


# ---------------------------------------------------------- prefix join
def _py_shingles(text: str, k: int = 3) -> set[str]:
    toks = text.strip().lower().split()
    if len(toks) >= k:
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return {" ".join(toks)}


def test_prefix_join_matches_bruteforce_at_sf0001(spark):
    """EXACTNESS: the prefix-filtered join must find every pair the
    brute-force all-pairs Jaccard finds at the same threshold — no
    LSH-style misses — on the real sf0.001 corpus."""
    from conftest import SF_DIR

    from ppack_spark.operators.dedup import jaccard_prefix_join

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["id_left"], r["id_right"]): r["jaccard"]
        for r in jaccard_prefix_join(df, k=3, threshold=0.5).collect()
    }
    docs = [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            (ia, ta), (ib, tb) = docs[i], docs[j]
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            inter = len(sa & sb)
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= 0.5:
                key = (min(ia, ib), max(ia, ib))
                want[key] = round(jac, 6)
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key] - want[key]) < 1e-6


def test_prefix_join_threshold_inclusive(spark):
    """J exactly at the threshold is INCLUDED (>=): with k=1 token
    sets, {'x'} vs {'x','y'} has J = 0.5 exactly."""
    from ppack_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame(
        [(1, "x"), (2, "x y"), (3, "q r s t u v")],
        "doc_id long, text string",
    )
    got = {
        (r["id_left"], r["id_right"]): r["jaccard"]
        for r in jaccard_prefix_join(df, k=1, threshold=0.5).collect()
    }
    assert got == {(1, 2): 0.5}


def test_prefix_join_identical_docs(spark):
    from ppack_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "completely different words here now ok"),
        ],
        "doc_id long, text string",
    )
    rows = jaccard_prefix_join(df, k=3, threshold=0.9).collect()
    assert [(r["id_left"], r["id_right"], r["jaccard"]) for r in rows] == [
        (1, 2, 1.0)
    ]


def test_prefix_join_null_text_dropped(spark):
    from ppack_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b c")], "doc_id long, text string"
    )
    assert jaccard_prefix_join(df, k=3, threshold=0.5).count() == 0


def test_prefix_join_threshold_validated(spark):
    import pytest

    from ppack_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        jaccard_prefix_join(df, threshold=0.0)


def test_prefix_join_positional_filter_preserves_boundary_pairs(spark):
    """The PPJoin positional filter (r14 optimization) prunes
    candidate rows whose position-derived overlap BOUND cannot reach
    t/(1+t)·(sz_a+sz_b) — it must never drop a pair whose true J is
    exactly AT the threshold (the bound is tight there: every shared
    prefix token's bound equals the true overlap for maximally
    clustered intersections). Crafted corpus: boundary pairs at J
    exactly 0.5 (k=1 token sets |A|=|B|=3, overlap 2), prune-bait
    pairs sharing ONE rare token with nothing else in common (the
    rows the filter exists to kill), and a disjoint distractor —
    compared against brute-force Python over the same shingle sets."""
    from ppack_spark.operators.dedup import jaccard_prefix_join

    rows = [
        # boundary: J = 2/4 = 0.5 exactly — must survive the filter
        (1, "alpha beta gamma"),
        (2, "beta gamma delta"),
        # prune bait: shares only the rare token 'zeta' with doc 4;
        # sizes 6 vs 6 need overlap >= 4 for J >= 0.5, bound from the
        # single shared token is far below — candidate row pruned,
        # pair correctly absent either way
        (3, "zeta one two three four five"),
        (4, "zeta six seven eight nine ten"),
        # identical twins: J = 1.0
        (5, "same words here exactly"),
        (6, "same words here exactly"),
        # disjoint distractor
        (7, "unrelated vocabulary entirely distinct tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_left"], r["id_right"]): r["jaccard"]
        for r in jaccard_prefix_join(df, k=1, threshold=0.5).collect()
    }
    docs = {i: set(t.split()) for i, t in rows}
    want = {}
    for i in sorted(docs):
        for j in sorted(docs):
            if i < j:
                inter = len(docs[i] & docs[j])
                jac = inter / (len(docs[i]) + len(docs[j]) - inter)
                if jac >= 0.5:
                    want[(i, j)] = round(jac, 6)
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0.5  # exact-boundary pair kept
    assert (3, 4) not in got  # prune-bait pair (J = 1/11) absent


def test_jaccard_prefix_join_ab_matches_brute_force(spark, monkeypatch):
    """The A-B prefix join must find EXACTLY the brute-force cross
    pairs at the threshold — on (A, B) and on (A, A), and at the
    default and a collision-heavy 64-bucket frequency order (the
    output is invariant to the ordering by the prefix-filter lemma)."""
    from conftest import SF_DIR

    from pyspark.sql import functions as F

    from ppack_spark.operators import dedup
    from ppack_spark.operators.dedup import (
        jaccard_prefix_join_ab,
        jaccard_similarity,
        word_shingles,
    )

    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = documents.filter(F.col("doc_id") % 10 != 0)
    b = documents.filter(F.col("doc_id") % 10 == 0)
    sh = documents.select(
        "doc_id", word_shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)

    def brute(right_side):
        return {
            tuple(r)
            for r in sh.alias("l")
            .join(sh.alias("r"), F.lit(True))
            .filter((F.col("l.doc_id") % 10 != 0) & right_side(F.col("r.doc_id")))
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
                jaccard_similarity(F.col("l.sh"), F.col("r.sh")).alias("j_raw"),
            )
            # Filter on the UNROUNDED jaccard, then round — the
            # operator's order of operations; filtering post-round
            # would admit pairs with true J in [0.4999995, 0.5) that
            # the operator excludes.
            .filter(F.col("j_raw") >= 0.5)
            .select("id_a", "id_b", F.round("j_raw", 6).alias("jaccard"))
            .collect()
        }

    cases = {
        "A-B": (b, brute(lambda i: i % 10 == 0)),
        "A-A": (a, brute(lambda i: i % 10 != 0)),
    }
    for buckets in (1 << 16, 64):
        monkeypatch.setattr(dedup, "_DF_BUCKETS", buckets)
        for name, (right, expect) in cases.items():
            got = {
                tuple(r)
                for r in jaccard_prefix_join_ab(a, right, k=3, threshold=0.5).collect()
            }
            assert got == expect, f"{name}, _DF_BUCKETS={buckets}"


def test_prefix_self_join_is_the_ab_join_on_one_input(spark):
    """The self-join is the R-S join with R = S restricted to
    id_left < id_right: same pairs, same Jaccard values."""
    from conftest import SF_DIR

    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import jaccard_prefix_join, jaccard_prefix_join_ab

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {tuple(r) for r in jaccard_prefix_join(d, k=3, threshold=0.5).collect()}
    ab = jaccard_prefix_join_ab(d, d, k=3, threshold=0.5)
    want = {tuple(r) for r in ab.filter(F.col("id_a") < F.col("id_b")).collect()}
    assert got == want and got


def test_lsh_self_join_is_the_ab_join_on_one_input(spark):
    """The two LSH twins keep separate joins; pin them against drift:
    the A-B candidates of (d, d) over one signature table, restricted
    to id_left < id_right, are exactly the self-join candidates."""
    from conftest import SF_DIR

    from pyspark.sql import functions as F

    from ppack_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_ab,
        minhash_signatures,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = minhash_signatures(d)
    got = {tuple(r) for r in minhash_lsh_pairs(d, signatures=sig).collect()}
    ab = minhash_lsh_pairs_ab(d, d, signatures_left=sig, signatures_right=sig)
    want = {
        tuple(r)
        for r in ab.filter(F.col("id_left") < F.col("id_right")).collect()
    }
    assert got == want and got
