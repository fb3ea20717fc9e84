"""Invariant tests for the corpus-preparation operators
(operators/pipeline.py + functions/text.py PII): properties the
SQL-oracle gate can't express — planted-contamination recall,
sampling determinism under repartitioning, packing feasibility."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from ppack_spark.functions.text import pii_counts, redact_pii
from ppack_spark.operators.pipeline import (
    eval_ngram_contamination,
    hash_sample,
    pack_sequences,
    stratified_quota_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------- decon
def test_planted_contamination_found(spark):
    """A corpus doc that verbatim-contains an eval doc must surface
    with containment 1.0; an unrelated doc must not pair with it."""
    ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, "prefix words here the quick brown fox jumps over the lazy dog tonight and more"),
            (11, "completely different content with no overlap at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    got = eval_ngram_contamination(corpus, ev, k=3, min_shared=2).collect()
    assert len(got) == 1
    row = got[0]
    assert (row["doc_id"], row["eval_id"]) == (10, 0)
    assert row["containment"] == 1.0


def test_contamination_counts_distinct_shingles(spark):
    """Repeated n-grams in the corpus doc count once (set semantics,
    matching the dedup family's distinct-shingle construction)."""
    ev = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "a b c a b c a b c")], ["doc_id", "text"]
    )
    got = eval_ngram_contamination(corpus, ev, k=3, min_shared=1).collect()
    assert len(got) == 1
    # eval shingles: {a b c, b c d}; corpus shingles: {a b c, b c a, c a b}
    assert got[0]["n_shared"] == 1
    assert got[0]["containment"] == 0.5


# -------------------------------------------------------------- sampling
def test_hash_sample_bounds_and_determinism(docs):
    n = docs.count()
    assert hash_sample(docs, 0.0).count() == 0
    assert hash_sample(docs, 1.0).count() == n
    a = {r.doc_id for r in hash_sample(docs, 0.25).select("doc_id").collect()}
    # invariant under physical layout — same set after repartitioning
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(13), 0.25).select("doc_id").collect()
    }
    assert a == b
    assert 0.15 <= len(a) / n <= 0.35  # ~25% within binomial slack


def test_hash_sample_nested(docs):
    """Smaller fractions are strict subsets of larger ones (prefix
    thresholding ⇒ monotone nesting — what makes snapshots re-derivable)."""
    small = {r.doc_id for r in hash_sample(docs, 0.1).select("doc_id").collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.5).select("doc_id").collect()}
    assert small <= big


def test_hash_sample_rejects_bad_fraction(docs):
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5)


def test_stratified_quota_per_stratum(docs):
    k = 7
    out = stratified_quota_sample(docs, ["lang"], k)
    per = out.groupBy("lang").count().collect()
    avail = dict(docs.groupBy("lang").count().collect())
    for row in per:
        assert row["count"] == min(k, avail[row["lang"]])
    # ranks are 1..n without gaps inside each stratum
    ranks = out.groupBy("lang").agg(
        F.min("sample_rank").alias("lo"),
        F.max("sample_rank").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    for row in ranks.collect():
        assert row["lo"] == 1 and row["hi"] == row["n"]


# --------------------------------------------------------------- packing
def test_pack_sequences_feasible(docs):
    budget = 512
    out = pack_sequences(docs, budget=budget, n_buckets=8).cache()
    n = docs.count()
    # every doc packed exactly once
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # a doc always STARTS inside its sequence's budget window
    assert out.filter((F.col("seq_offset") < 0) | (F.col("seq_offset") >= budget)).count() == 0
    # start offsets are consistent with doc order: each doc's absolute
    # start offset equals the sum of earlier docs' tokens in its bucket,
    # and (seq_id, seq_offset) is exactly its (quotient, remainder)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bad = out.withColumn(
        "expected_abs", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).filter(
        F.col("expected_abs") != F.col("seq_id") * budget + F.col("seq_offset")
    )
    assert bad.count() == 0
    out.unpersist()


def test_pack_sequences_string_ids(spark):
    """Non-numeric ids hash-bucket (pmod(xxhash64)) instead of the
    numeric modulo, which would yield NULL and funnel the whole corpus
    into one bucket."""
    rows = [(f"doc-{i:04d}", "w " * 10) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=64, n_buckets=8).cache()
    assert out.count() == 100
    assert out.filter(F.col("bucket").isNull()).count() == 0
    assert out.select("bucket").distinct().count() > 1
    # offsets remain quotient/remainder-consistent in every bucket
    assert out.filter(
        (F.col("seq_offset") < 0) | (F.col("seq_offset") >= 64)
    ).count() == 0
    out.unpersist()


def test_pack_sequences_bucket_isolation(spark):
    """Sequences never mix buckets, and seq_ids within a bucket are
    dense from 0 (contiguous fill)."""
    rows = [(i, "w " * (i % 40 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=64, n_buckets=4).cache()
    assert out.filter(F.col("bucket") != F.col("doc_id") % 4).count() == 0
    for b in range(4):
        seqs = sorted(
            r.seq_id for r in out.filter(F.col("bucket") == b).select("seq_id").distinct().collect()
        )
        assert seqs == list(range(len(seqs)))
    out.unpersist()


# ------------------------------------------------------------------- PII
def test_redact_pii_values(spark):
    df = spark.createDataFrame(
        [
            (1, "email me at jo.ann+spam@sub.example.co.uk please"),
            (2, "see https://a.b/c?d=e&f=g#h and http://plain.org"),
            (3, "call +44 (0)20 7946-0958 now"),
            (4, "no pii here just words"),
            (5, "mixed https://x.io/?e=a@b.com and c@d.org and 0123-456-789"),
        ],
        ["id", "t"],
    )
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("t").alias("red"),
            *[v.alias(k) for k, v in pii_counts("t").items()],
        ).collect()
    }
    assert got[1]["red"] == "email me at <EMAIL> please"
    assert got[1]["n_email"] == 1
    assert got[2]["red"] == "see <URL> and <URL>"
    assert got[2]["n_url"] == 2
    assert got[3]["red"] == "call <PHONE> now"
    assert got[3]["n_phone"] == 1
    assert got[4]["red"] == "no pii here just words"
    assert (got[4]["n_url"], got[4]["n_email"], got[4]["n_phone"]) == (0, 0, 0)
    # URL redacted before the email inside it; standalone email + phone remain
    assert got[5]["red"] == "mixed <URL> and <EMAIL> and <PHONE>"


def test_redaction_idempotent(docs):
    """Redacting already-redacted text is a no-op (tags contain no
    redactable substrings)."""
    red = docs.select(redact_pii("text").alias("r1")).withColumn(
        "r2", redact_pii(F.col("r1"))
    )
    assert red.filter(F.col("r1") != F.col("r2")).count() == 0


# ------------------------------------------------------- line dedup
def test_line_dedup_drops_boilerplate_everywhere(spark):
    """A line repeated across docs vanishes from every doc; unique
    lines survive in original order; short duplicated lines are kept."""
    from ppack_spark.operators.pipeline import dedup_corpus_lines

    boiler = "please enable javascript to continue"
    rows = [
        (1, f"unique alpha\n{boiler}\nunique beta\n--"),
        (2, f"{boiler}\nsomething else entirely\n--"),
        (3, "totally unique document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_corpus_lines(
            df, max_occurrences=1, min_line_chars=5
        ).collect()
    }
    # boilerplate removed from both docs, "--" (short) kept in both
    assert out[1]["text"] == "unique alpha\nunique beta\n--"
    assert out[2]["text"] == "something else entirely\n--"
    assert out[3]["text"] == "totally unique document"
    assert out[1]["n_lines_kept"] == 3
    assert out[3]["n_lines_kept"] == 1


def test_line_dedup_null_and_empty(spark):
    """NULL text stays NULL (not dropped, not coerced); a doc whose
    every line is boilerplate returns empty text with 0 lines kept."""
    from ppack_spark.operators.pipeline import dedup_corpus_lines

    rows = [
        (1, "all boilerplate here"),
        (2, "all boilerplate here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_corpus_lines(
            df, max_occurrences=1, min_line_chars=5
        ).collect()
    }
    assert out[1]["text"] == "" and out[1]["n_lines_kept"] == 0
    assert out[2]["text"] == "" and out[2]["n_lines_kept"] == 0
    assert out[3]["text"] is None and out[3]["n_lines_kept"] is None


def test_line_dedup_max_occurrences_threshold(spark):
    """max_occurrences=2 keeps a line that appears exactly twice."""
    from ppack_spark.operators.pipeline import dedup_corpus_lines

    rows = [(1, "twice repeated line"), (2, "twice repeated line")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup_corpus_lines(df, max_occurrences=2, min_line_chars=1).collect()
    assert all(r["text"] == "twice repeated line" for r in out)


# -------------------------------------------------- temperature mix
def test_temperature_mix_flattens_skew(spark, docs):
    """alpha<1 must raise the rare-group share relative to natural
    proportions, alpha=1 must keep natural proportions (a plain
    uniform sample), and selection must be stable under
    repartitioning."""
    from ppack_spark.operators.pipeline import temperature_mix

    natural = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rare = min(natural, key=natural.get)
    common = max(natural, key=natural.get)

    mixed = temperature_mix(docs, "lang", alpha=0.3, target_total=200)
    got = {
        r["lang"]: r["n"]
        for r in mixed.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # rare-to-common ratio must strictly improve over natural
    assert got[rare] / got[common] > natural[rare] / natural[common]

    # deterministic: same rows regardless of physical layout
    a = sorted(r["doc_id"] for r in mixed.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mix(
            docs.repartition(7), "lang", alpha=0.3, target_total=200
        ).collect()
    )
    assert a == b


def test_temperature_mix_takes_whole_group_when_rate_clamps(spark):
    """target larger than the corpus → every group rate clamps to 1
    and the mix is the identity."""
    from ppack_spark.operators.pipeline import temperature_mix

    df = spark.createDataFrame(
        [(i, "g" if i % 3 else "h") for i in range(30)], ["doc_id", "grp"]
    )
    out = temperature_mix(df, "grp", alpha=0.5, target_total=10_000)
    assert out.count() == 30


def test_temperature_mix_rejects_bad_alpha(spark):
    from ppack_spark.operators.pipeline import temperature_mix

    df = spark.createDataFrame([(1, "a")], ["doc_id", "grp"])
    with pytest.raises(ValueError):
        temperature_mix(df, "grp", alpha=1.5)


# -------------------------------------------------- authority mix
def test_authority_mix_shares_track_authority(spark):
    """Equal-sized groups with 4:1 authority must come out ~4:1 in the
    output; a group with no authority row vanishes; selection is
    layout-stable."""
    from ppack_spark.operators.pipeline import authority_mix

    rows = [(i, ["h1", "h2", "h3"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    auth = spark.createDataFrame(
        [("h1", 4.0), ("h2", 1.0)], ["host", "authority"]
    )
    out = authority_mix(df, auth, target_total=500)
    got = {
        r["host"]: r["n"]
        for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert "h3" not in got  # no authority row -> dropped
    assert 2.5 < got["h1"] / got["h2"] < 6.0  # ~4:1 with sampling noise
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in authority_mix(
            df.repartition(7), auth, target_total=500
        ).collect()
    )
    assert a == b


def test_authority_mix_alpha_zero_equalizes(spark):
    """alpha=0 ignores authority magnitudes: every authority-bearing
    group gets an equal share."""
    from ppack_spark.operators.pipeline import authority_mix

    rows = [(i, "big" if i % 4 else "small") for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    auth = spark.createDataFrame(
        [("big", 100.0), ("small", 1.0)], ["host", "authority"]
    )
    out = authority_mix(df, auth, target_total=400, alpha=0.0)
    got = {
        r["host"]: r["n"]
        for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert 0.5 < got["big"] / got["small"] < 2.0


def test_authority_mix_clamps_and_hardening(spark):
    from ppack_spark.operators.pipeline import authority_mix

    df = spark.createDataFrame(
        [(i, "g") for i in range(20)], ["doc_id", "host"]
    )
    auth = spark.createDataFrame([("g", 1.0)], ["host", "authority"])
    # rate clamps at 1: whole group survives
    assert authority_mix(df, auth, target_total=10_000).count() == 20
    # non-positive / duplicate authority rows
    dup = spark.createDataFrame(
        [("g", 0.5), ("g", 0.5), ("dead", -3.0)], ["host", "authority"]
    )
    assert authority_mix(df, dup, target_total=10_000).count() == 20
    with pytest.raises(ValueError, match="alpha"):
        authority_mix(df, auth, alpha=-0.5)
    with pytest.raises(ValueError, match="target_total"):
        authority_mix(df, auth, target_total=0)


# ---------------------------------------------------- delta merge
def test_merge_corpus_delta_semantics(spark):
    """Rows whose (normalized) content exists in the corpus are
    dropped; within-delta duplicates keep the min id; whitespace/case
    variants count as the same content."""
    from ppack_spark.operators.pipeline import merge_corpus_delta

    existing = spark.createDataFrame(
        [(0, "known document one"), (2, "known document two")],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (11, "KNOWN   document one"),  # normalized dup of existing
            (13, "brand new document"),
            (15, "brand new document"),  # within-delta dup, loses to 13
            (17, "another new one"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        r["doc_id"] for r in merge_corpus_delta(existing, delta).collect()
    )
    assert got == [13, 17]


# ------------------------------------------------ repetition signals
def test_repetition_signals_values(spark):
    from ppack_spark.functions.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"), (2, "x y z")], ["doc_id", "text"]
    )
    sig = repetition_signals(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            sig["n_lines"].alias("nl"),
            sig["dup_line_frac"].alias("dlf"),
            sig["dup_word_frac"].alias("dwf"),
        ).collect()
    }
    # doc 1: 3 lines, one duplicated pair -> 1/3; words a b a b c d -> 2/6
    assert out[1]["nl"] == 3
    assert abs(out[1]["dlf"] - 1 / 3) < 1e-9
    assert abs(out[1]["dwf"] - 2 / 6) < 1e-9
    assert out[2]["dlf"] == 0.0 and out[2]["dwf"] == 0.0


def test_rewrap_lines_roundtrip(spark):
    """Re-wrapping preserves every word in order; line width honored."""
    from ppack_spark.functions.text import rewrap_lines

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(19)))], ["doc_id", "text"]
    )
    out = df.select(rewrap_lines("text", 8).alias("t")).collect()[0]["t"]
    lines = out.split("\n")
    assert len(lines) == 3
    assert [len(l.split(" ")) for l in lines] == [8, 8, 3]
    assert out.replace("\n", " ") == df.collect()[0]["text"]


# --------------------------------------------------- repeated spans
def test_repeated_spans_finds_planted_repeat(spark):
    """A shared span must surface in BOTH copies even when their token
    offsets differ mod everything — the winnowing guarantee (a fixed
    stride grid fails exactly this case). Guarantee threshold is
    width + window - 1 = 11 tokens; the planted span is 14."""
    from ppack_spark.operators.pipeline import repeated_spans

    plag = ("one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen")
    rows = [
        (1, f"intro words here {plag} trailing stuff"),
        (2, f"{plag} completely different ending text"),
        (3, "nothing shared with anything else at all here friend"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_spans(df, width=8, window=4, min_occurrences=2).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    h1 = {r["span_hash"] for r in out if r["doc_id"] == 1}
    h2 = {r["span_hash"] for r in out if r["doc_id"] == 2}
    assert h1 & h2
    assert all(r["n_occurrences"] >= 2 for r in out)
    # doc 1's copy starts at token 3: every fingerprint position there
    # must sit inside the planted region
    assert all(3 <= r["span_pos"] <= 3 + 14 - 8 for r in out if r["doc_id"] == 1)


def test_repeated_spans_short_doc_whole_text(spark):
    """Docs shorter than the window are treated as a single span, so
    short exact duplicates are still caught."""
    from ppack_spark.operators.pipeline import repeated_spans

    rows = [(1, "tiny dup"), (2, "tiny dup"), (3, "tiny unique")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_spans(df, width=8, window=4).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    assert all(r["span_pos"] == 0 for r in out)


# ----------------------------------------------------- C4 quality
def test_c4_quality_flags(spark):
    from ppack_spark.functions.text import c4_quality_flags

    rows = [
        (1, "a perfectly normal document with enough sensible words"),
        (2, "too short"),
        (3, "contains lorem ipsum filler somewhere in the body text"),
        (4, "code snippet { return x; } inside the page text here"),
        (5, "#### ## ### #### ## ### #### ## ### ####"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    q = c4_quality_flags("text")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *(v.alias(k) for k, v in q.items())).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 2
    assert out[3]["keep"] is False and out[3]["has_lorem_ipsum"]
    assert out[4]["keep"] is False and out[4]["has_curly_brace"]
    assert out[5]["keep"] is False and out[5]["symbol_ratio"] > 0.1


def test_winnowing_guarantee_fuzz(spark):
    """Property: a shared span of exactly width+window-1 tokens planted
    at arbitrary (mis)aligned offsets in two docs ALWAYS yields a
    common fingerprint — the winnowing guarantee, over many offsets."""
    from ppack_spark.operators.pipeline import repeated_spans

    width, window = 5, 3
    span = " ".join(f"s{i}" for i in range(width + window - 1))
    rows = []
    for off_a in range(0, 6):
        pre_a = " ".join(f"a{off_a}x{j}" for j in range(off_a))
        pre_b = " ".join(f"b{off_a}y{j}" for j in range(5 - (off_a % 5)))
        rows.append((2 * off_a, f"{pre_a} {span} tail{off_a} end".strip()))
        rows.append((2 * off_a + 1, f"{pre_b} {span} other{off_a} fin".strip()))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_spans(df, width=width, window=window, min_occurrences=2)
    hits = {}
    for r in out.collect():
        hits.setdefault(r["doc_id"], set()).add(r["span_hash"])
    for off_a in range(0, 6):
        a, b = 2 * off_a, 2 * off_a + 1
        assert a in hits and b in hits, f"offset {off_a}: span not found"
        assert hits[a] & hits[b], f"offset {off_a}: no common fingerprint"


def test_prepare_corpus_stage_composition(spark):
    """Planted junk is removed by the right stage: low-quality docs by
    the filter, boilerplate lines (and exact clones, whose every line
    is corpus-duplicated) by line dedup, case/whitespace-variant
    clones by the normalized exact dedup AFTER cleaning, and
    eval-contaminated docs by decontamination."""
    from ppack_spark.operators.pipeline import prepare_corpus

    boiler = "subscribe to our newsletter today"
    good = "a genuinely informative document with plenty of useful words inside"
    rows = [
        (1, f"{good}\n{boiler}"),
        (2, f"{boiler}\nanother unique useful document body with real content"),
        (3, good.upper()),  # case-variant clone: survives line dedup
                            # (different line hash), dies in exact dedup
                            # (normalized fingerprint equals doc 1's)
        (4, "tiny"),        # fails the quality word floor
        (5, f"{boiler}"),   # all boilerplate -> empty after cleaning
        (6, "the quick brown fox jumps over the lazy dog tonight ok"),
    ]
    ev = spark.createDataFrame(
        [(0, "quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_corpus(df, eval_docs=ev)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {1, 2}
    assert got[1] == good
    assert boiler not in got[2]


def test_merge_corpus_delta_fuzzy_rejects_near_dups(spark):
    """A delta doc that is a near-mirror (high Jaccard, not
    byte-identical) of a corpus doc is rejected; genuinely new content
    is admitted; the exact stage still applies first."""
    from ppack_spark.operators.pipeline import merge_corpus_delta_fuzzy

    base = ("a syndicated news article body with many shared tokens "
            "repeated across mirror sites everywhere online today")
    existing = spark.createDataFrame(
        [(0, base), (2, "some other corpus document entirely")],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (11, base + " extra"),           # near-mirror -> rejected
            (13, base),                       # exact -> rejected
            (15, "entirely novel text with no overlap whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        r["doc_id"]
        for r in merge_corpus_delta_fuzzy(
            existing, delta, jaccard_threshold=0.5, band_size=1
        ).collect()
    )
    assert got == [15]


def test_split_corpus_partition_properties(spark, docs):
    """Every row gets exactly one label; proportions are ~weights;
    assignment is layout-invariant; bad weights rejected."""
    from ppack_spark.operators.pipeline import split_corpus

    out = split_corpus(docs, {"train": 8, "val": 1, "test": 1})
    n = docs.count()
    assert out.count() == n
    per = {r["split"]: r["n"] for r in
           out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {"train", "val", "test"}
    assert 0.7 <= per["train"] / n <= 0.9
    a = {(r["doc_id"], r["split"]) for r in out.select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"]) for r in
         split_corpus(docs.repartition(11), {"train": 8, "val": 1, "test": 1})
         .select("doc_id", "split").collect()}
    assert a == b

    import pytest as _pytest
    with _pytest.raises(ValueError):
        split_corpus(docs, {})
    with _pytest.raises(ValueError):
        split_corpus(docs, {"a": -1.0, "b": 2.0})


def test_funnel_counts_semantics(spark):
    """Step ordering and the time window are enforced: an out-of-order
    purchase (before the click) or one outside the window does not
    convert; a clean in-order-in-window path does."""
    from ppack_spark.operators.pipeline import funnel_counts

    rows = [
        # user 1: clean conversion view(10) -> click(20) -> purchase(30)
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: purchase BEFORE click -> stops at click
        (2, "view", 10), (2, "purchase", 15), (2, "click", 20),
        # user 3: click outside the window -> stops at view
        (3, "view", 10), (3, "click", 200),
        # user 4: never viewed -> not in funnel at all
        (4, "click", 10), (4, "purchase", 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts_s long")
    out = {r["step"]: r["n_users"]
           for r in funnel_counts(df, ["view", "click", "purchase"],
                                  within_s=50).collect()}
    assert out == {1: 3, 2: 2, 3: 1}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel_counts(df, ["view"], within_s=50)


def test_cohort_retention_values(spark):
    """Hand-computed triangle: two cohorts, known activity pattern."""
    from ppack_spark.operators.pipeline import cohort_retention

    P = 100
    rows = [
        # user 1: first in period 0, active 0 and 2
        (1, 10), (1, 250),
        # user 2: first in period 0, active 0 and 1
        (2, 50), (2, 150),
        # user 3: first in period 1, active 1 only
        (3, 120),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s long")
    got = {(r["cohort_period"], r["period_offset"]): r["n_users"]
           for r in cohort_retention(df, period_s=P).collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (1, 0): 1}


def test_unigram_logprob_ranks_fluency(spark):
    """A doc of corpus-common words outscores a doc of hapax tokens,
    and repetitive common text scores highest of all."""
    from ppack_spark.operators.pipeline import unigram_logprob

    rows = [
        (1, "the the the the the"),            # all top-frequency
        (2, "the cat sat on the mat"),          # common words
        (3, "zyx qwv jkl pqr mno xyz"),         # all hapax
        (4, "the cat sat on a rug"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["mean_logprob"]
           for r in unigram_logprob(df).collect()}
    assert got[1] > got[2] > got[3]


def test_perplexity_buckets_balanced(spark, docs):
    """ntile(3) per lang → bucket sizes differ by at most one inside
    each language, and every doc gets exactly one bucket."""
    from ppack_spark.operators.pipeline import (
        perplexity_buckets,
        unigram_logprob,
    )

    scored = unigram_logprob(docs).join(docs.select("doc_id", "lang"), "doc_id")
    out = perplexity_buckets(scored)
    assert out.count() == docs.count()
    per = out.groupBy("lang", "bucket").count().collect()
    by_lang = {}
    for r in per:
        by_lang.setdefault(r["lang"], []).append(r["count"])
    for lang, sizes in by_lang.items():
        assert len(sizes) == 3
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_dsir_scores_target_domain_higher(spark, docs):
    """With French docs as the target, French corpus docs must have a
    higher mean importance score than English ones."""
    from ppack_spark.operators.pipeline import dsir_importance_weights

    scored = dsir_importance_weights(
        docs, docs.filter(F.col("lang") == "fr")
    ).join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["lang"]: r["m"]
        for r in scored.groupBy("lang")
        .agg(F.avg("importance_score").alias("m"))
        .collect()
    }
    assert means["fr"] > means["en"]


def test_composed_samplers_are_decorrelated(spark):
    """The samplers select on DISTINCT salted hashes, so composition
    multiplies rates instead of nesting ranges: a 0.5 hash sample
    inside split_corpus's 'train' must keep ~0.5 of train (a shared
    unsalted hash would keep train's low quarter — ratio 0.625 of the
    half, and temperature_mix after a sample would yield min(r, f)
    instead of r*f)."""
    from ppack_spark.operators.pipeline import hash_sample, split_corpus

    n = 8000
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    train = split_corpus(df, {"train": 0.8, "val": 0.1, "test": 0.1}).filter(
        F.col("split") == "train"
    )
    n_train = train.count()
    kept = hash_sample(train, 0.5).count()
    assert 0.44 < kept / n_train < 0.56, (kept, n_train)
    # distinct salts => sampling then splitting gives every label its share
    sampled = hash_sample(df, 0.5)
    labels = {
        r["split"]: r["n"]
        for r in split_corpus(sampled, {"train": 0.5, "test": 0.5})
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(labels.values())
    assert 0.44 < labels["train"] / total < 0.56, labels


def test_bloom_decontamination_superset_of_exact(spark, docs):
    """Bloom membership can false-POSITIVE but never false-negative:
    every doc the exact n-gram join flags (>= 2 shared 3-grams) must
    also be bloom-flagged, and a planted verbatim-contaminated doc is
    dropped by bloom_decontaminate while clean docs survive."""
    from ppack_spark.operators.pipeline import (
        bloom_bitmap,
        bloom_contamination,
        bloom_decontaminate,
    )

    from ppack_spark.operators.dedup import word_shingles

    ev = docs.filter(F.col("doc_id") % 100 == 0)
    # per-eval-doc exact contamination is a SUBSET of what bloom flags
    # (bloom tests against the union of eval shingles)
    exact = {
        r["doc_id"]
        for r in eval_ngram_contamination(docs, ev, k=3, min_shared=2)
        .select("doc_id").distinct().collect()
    }
    # the true union-level ground truth bloom approximates: >= 2
    # distinct shingles present anywhere in the eval shingle set
    ev_sh = ev.select(F.explode(word_shingles("text", 3)).alias("g")).distinct()
    union_exact = {
        r["doc_id"]
        for r in docs.select(
            "doc_id", F.explode(word_shingles("text", 3)).alias("g")
        )
        .join(ev_sh, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    }
    bmp = bloom_bitmap(ev, k=3, n_bits=1 << 16, n_hashes=2)
    flagged = {
        r["doc_id"]
        for r in bloom_contamination(docs, bmp, min_hits=2)
        .filter(F.col("contaminated")).select("doc_id").collect()
    }
    assert exact <= union_exact <= flagged
    # false-positive head-room: bloom should track the union truth
    assert len(flagged) <= len(union_exact) + 5, (len(union_exact), len(flagged))

    planted_ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, "intro text then the quick brown fox jumps over the lazy dog tonight closes it"),
            (11, "completely unrelated material with zero shared trigram content anywhere"),
        ],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in bloom_decontaminate(corpus, planted_ev).collect()
    }
    assert kept == {11}


def test_remove_repeated_spans_excises_misaligned_copies(spark):
    """A 12-token passage copied at DIFFERENT offsets into two docs
    (>= width+window-1 = 11 tokens, so winnowing guarantees a shared
    fingerprint) must be excised from BOTH copies; the clean doc is
    untouched. Coverage is content-defined, so both copies lose the
    same number of tokens despite the misalignment."""
    from ppack_spark.operators.pipeline import remove_repeated_spans

    passage = " ".join(f"p{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, "intro one two three " + passage + " tail a b"),
            (2, "different prefix " + passage + " other ending words here"),
            (3, "totally unique content with no repetition at all in sight"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, width=8, window=4).collect()
    }
    assert out[3]["n_tokens_removed"] == 0
    assert "unique content" in out[3]["text"]
    for d in (1, 2):
        assert out[d]["n_tokens_removed"] >= 8
        # the passage core is always covered by any in-passage span
        for tok in ("p4", "p5", "p6", "p7"):
            assert tok not in out[d]["text"].split()
    assert out[1]["n_tokens_removed"] == out[2]["n_tokens_removed"]
    # unique surroundings survive
    assert "intro" in out[1]["text"] and "prefix" in out[2]["text"]


# ------------------------------------------------------------ shuffle
def test_shuffle_corpus_is_permutation(docs):
    """Every doc appears exactly once, with contiguous 1..n positions
    inside each shard, and a different salt gives a different order."""
    from ppack_spark.operators.pipeline import shuffle_corpus

    out = shuffle_corpus(docs, n_shards=8).select(
        "doc_id", "shard", "shard_pos"
    )
    rows = out.collect()
    n = docs.count()
    assert len(rows) == n
    assert len({r["doc_id"] for r in rows}) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))

    other = shuffle_corpus(docs, n_shards=8, salt="epoch2").select(
        "doc_id", "shard", "shard_pos"
    )
    a = {(r["doc_id"]): (r["shard"], r["shard_pos"]) for r in rows}
    b = {(r["doc_id"]): (r["shard"], r["shard_pos"]) for r in other.collect()}
    assert a != b  # distinct salts give independent epoch orders


def test_shuffle_corpus_layout_invariant(docs):
    """The (shard, shard_pos) assignment must not depend on input
    partitioning — it is a pure function of the id."""
    from ppack_spark.operators.pipeline import shuffle_corpus

    base = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shuffle_corpus(docs, n_shards=4).collect()
    }
    rep = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shuffle_corpus(docs.repartition(17), n_shards=4).collect()
    }
    assert base == rep


# ------------------------------------------------------------- chunks
def test_chunk_documents_tiling(spark):
    """Chunks tile the token stream: stride-aligned starts, full
    chunks except possibly the last, and zero-overlap chunks
    concatenate back to the exact token sequence."""
    from ppack_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b c"), (3, "  ")],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    d1 = sorted(
        [r for r in out if r["doc_id"] == 1], key=lambda r: r["chunk_id"]
    )
    assert [r["chunk_start"] for r in d1] == [0, 3, 6, 9]
    assert [r["chunk_n_tokens"] for r in d1] == [4, 4, 4, 1]
    assert d1[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap with chunk 0
    # whitespace-only doc 3 yields nothing
    assert not [r for r in out if r["doc_id"] == 3]

    flat = chunk_documents(df.filter("doc_id = 1"), chunk_tokens=4).collect()
    joined = " ".join(
        r["chunk_text"]
        for r in sorted(flat, key=lambda r: r["chunk_id"])
    )
    assert joined == " ".join(f"t{i}" for i in range(10))

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


# ----------------------------------------------------------- upsample
def test_upsample_corpus_epoch_semantics(docs):
    """en at 2.5 epochs: every doc 2 or 3 times, ~half get the third
    copy; zh at 0.0 dropped; unlisted langs exactly once; epoch_idx is
    contiguous from 0 per doc."""
    from ppack_spark.operators.pipeline import upsample_corpus

    out = upsample_corpus(docs, "lang", {"en": 2.5, "zh": 0.0}).select(
        "doc_id", "lang", "epoch_idx"
    )
    rows = out.collect()
    assert not [r for r in rows if r["lang"] == "zh"]
    per_doc: dict[int, list[int]] = {}
    lang_of = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch_idx"])
        lang_of[r["doc_id"]] = r["lang"]
    n_extra = 0
    n_en = 0
    for doc_id, idxs in per_doc.items():
        assert sorted(idxs) == list(range(len(idxs)))
        if lang_of[doc_id] == "en":
            n_en += 1
            assert len(idxs) in (2, 3)
            n_extra += len(idxs) == 3
        else:
            assert len(idxs) == 1
    # deterministic md5 draw: extra-copy fraction ~ 0.5 of en docs
    assert 0.3 <= n_extra / n_en <= 0.7

    with pytest.raises(ValueError):
        upsample_corpus(docs, "lang", {"en": -1.0})


# -------------------------------------------------- quality classifier
def test_quality_classifier_separates_fluent_from_gibberish(spark, docs):
    """Train on fluent-en vs punctuation-soup labels; a held-out
    fluent doc must outscore a held-out gibberish doc decisively, and
    scoring must be a pure expression (weights inline, no model on
    executors — asserted by scoring a different DataFrame than the
    training one)."""
    from ppack_spark.operators.pipeline import (
        quality_classifier_score,
        train_quality_classifier,
    )

    fluent = docs.filter(F.col("lang") == "en").select(
        F.col("text"), F.lit(1).alias("label")
    )
    gibberish = spark.createDataFrame(
        [
            ("$$!! ###@@ %%^^&&* ((]][[ ;;::" * 4,),
            ("zzxqj vvkpw qqq###$ mmm!!! @@@" * 5,),
            ("!!!! ???? **** %%%% ####" * 6,),
            ("xk$%j 9#1@ p0!? &&&& ~~~~" * 5,),
        ],
        ["text"],
    ).select("text", F.lit(0).alias("label"))
    model = train_quality_classifier(
        fluent.limit(80).unionByName(gibberish)
    )
    assert len(model["weights"]) == 4

    holdout = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs away to the forest"),
            (2, "&&&& !!!! @@## $$%% ^^** (()) ;;;; ~~~~ ???? ####"),
        ],
        ["doc_id", "text"],
    )
    scored = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_classifier_score(holdout, model).collect()
    }
    assert scored[1] > 0.5 > scored[2]
    assert scored[1] - scored[2] > 0.4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        quality_classifier_score(holdout, {"intercept": 0.0, "weights": [1.0]})


def test_script_fractions_planted_multiscript(spark):
    """Planted CJK / Cyrillic / mixed documents classify correctly;
    the dominant script follows the majority and 'other' covers
    digits-only text."""
    from ppack_spark.functions.text import script_fractions

    df = spark.createDataFrame(
        [
            (1, "hello world this is plain english text"),
            (2, "你好世界 这是 中文 文本 测试 样例"),
            (3, "привет мир это русский текст для теста"),
            (4, "mixed 文本 with some latin and 中文 both"),
            (5, "12345 67890 !!! ???"),
        ],
        ["doc_id", "text"],
    )
    s = script_fractions("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            s["latin"].alias("lat"),
            s["cjk"].alias("cjk"),
            s["cyrillic"].alias("cyr"),
            s["dominant"].alias("dom"),
        ).collect()
    }
    assert rows[1]["dom"] == "latin" and rows[1]["lat"] > 0.9
    assert rows[2]["dom"] == "cjk" and rows[2]["cjk"] > 0.9
    assert rows[3]["dom"] == "cyrillic" and rows[3]["cyr"] > 0.9
    assert rows[4]["dom"] in ("latin", "cjk")
    assert 0.1 < rows[4]["cjk"] < 0.8  # genuinely mixed
    assert rows[5]["dom"] == "other"


def test_trailing_window_boundary_and_ties(spark):
    """RANGE frame: an event exactly window_seconds old is IN the
    frame; timestamp ties are peers (all included); other keys never
    leak in; unsupported agg names raise."""
    from ppack_spark.operators.pipeline import trailing_window_agg

    rows = [
        (1, 100, 1000, 10.0),
        (2, 100, 4600, 20.0),   # exactly 3600 after event 1 → includes it
        (3, 100, 4600, 30.0),   # tie with event 2 → peers, both frames see both
        (4, 100, 8201, 40.0),   # 3601 after 4600 → events 2,3 fall out
        (5, 200, 4600, 99.0),   # different key
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s", "value"])
    out = {
        r["event_id"]: (r["avg_3600s"], r["count_3600s"])
        for r in trailing_window_agg(
            df, ["user_id"], "ts_s", "value", 3600
        ).collect()
    }
    assert out[1] == (10.0, 1)
    assert out[2] == (20.0, 3)  # events 1,2,3 (tie 3 is a peer)
    assert out[3] == (20.0, 3)
    assert out[4] == (40.0, 1)
    assert out[5] == (99.0, 1)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        trailing_window_agg(df, ["user_id"], "ts_s", "value", 10, aggs=("median",))


def test_profile_columns_nulls_and_types(spark):
    """Null counting, distinct, and numeric-only mean/stddev."""
    from ppack_spark.operators.pipeline import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (3, None, 6.0), (4, "b", 4.0)],
        "id long, s string, v double",
    )
    rows = {r["column"]: r for r in profile_columns(df, approx=False).collect()}
    assert rows["s"]["n_null"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["mean"] is None
    assert rows["v"]["n_non_null"] == 3 and rows["v"]["mean"] == 4.0
    assert rows["id"]["n_distinct"] == 4 and rows["id"]["n_null"] == 0
    assert rows["v"]["min_value"] == "2.0" and rows["v"]["max_value"] == "6.0"

    # approx default (r10): HLL distincts — exact at tiny cardinality,
    # ±5% contract at scale; everything else identical to the exact path
    ap = {r["column"]: r for r in profile_columns(df).collect()}
    for c in ("id", "s", "v"):
        exact = rows[c].asDict()
        approx = ap[c].asDict()
        nd_e, nd_a = exact.pop("n_distinct"), approx.pop("n_distinct")
        assert approx == exact
        assert abs(nd_a - nd_e) <= max(1, 0.1 * nd_e)


def test_interpolated_bigram_logprob(spark):
    """lam=0 degenerates to the unigram model; formulaic text
    outscores shuffled text under the bigram term; single-token docs
    score; invalid lam raises."""
    import pytest
    from ppack_spark.operators.pipeline import (
        interpolated_bigram_logprob,
        unigram_logprob,
    )

    rows = [
        (1, "the cat sat on the mat and the cat sat on the mat again"),
        (2, "mat the on cat sat the and mat on the sat cat the again"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # lam=0: every position scores (1-0)*P_uni -> identical to the
    # pure unigram mean over the same positions
    interp0 = {
        r["doc_id"]: r["mean_logprob"]
        for r in interpolated_bigram_logprob(df, lam=0.0).collect()
    }
    uni = {
        r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(df).collect()
    }
    assert interp0 == pytest.approx(uni, abs=2e-6)

    scored = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in interpolated_bigram_logprob(df).collect()
    }
    assert scored[1][0] == 14 and scored[2][0] == 14
    # doc 1 reuses its bigrams ("the cat", "sat on", ...) -> higher
    # interpolated score than the shuffled bag with the same unigrams
    assert scored[1][1] > scored[2][1]
    assert scored[3][0] == 1  # unigram-only position still scored

    with pytest.raises(ValueError):
        interpolated_bigram_logprob(df, lam=1.5)


def test_budget_mix_rates_and_validation(spark):
    """Group acceptance tracks min(1, budget*w/tokens); unweighted
    groups are dropped; short groups are taken whole; invalid args
    raise."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import budget_mix

    rows = []
    for i in range(400):
        rows.append((i, "en", "five words of filler text"))
    for i in range(400, 440):
        rows.append((i, "fr", "cinq mots de remplissage ici"))
    for i in range(440, 460):
        rows.append((i, "de", "fuenf woerter als platzhalter hier"))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    # tokens: en 2000, fr 200; budget 1000 at 50/50 -> en rate 0.25,
    # fr rate 1.0 (short group taken whole); de unweighted -> dropped
    out = budget_mix(df, 1000.0, {"en": 0.5, "fr": 0.5}, group_col="lang")
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert "de" not in counts
    assert counts["fr"] == 40  # rate 1.0: every fr row kept
    assert 60 <= counts["en"] <= 140  # ~100 of 400 at rate 0.25
    # deterministic: same inputs, same selection
    again = budget_mix(df, 1000.0, {"en": 0.5, "fr": 0.5}, group_col="lang")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )

    with pytest.raises(ValueError):
        budget_mix(df, 0.0, {"en": 1.0})
    with pytest.raises(ValueError):
        budget_mix(df, 100.0, {})
    with pytest.raises(ValueError):
        budget_mix(df, 100.0, {"en": -1.0})

    # a weighted group whose size_col is all-NULL has no valid
    # allocation: it must be DROPPED, not silently kept whole via
    # least(1.0, NULL) -> 1.0 (advisor finding, round 5)
    nrows = [(0, "en", "a b c", 3), (1, "xx", "d e f", None), (2, "xx", "g h", None)]
    ndf = spark.createDataFrame(nrows, ["doc_id", "lang", "text", "n_tok"])
    nout = budget_mix(
        ndf, 100.0, {"en": 0.5, "xx": 0.5}, group_col="lang", size_col="n_tok"
    )
    assert {r["lang"] for r in nout.collect()} == {"en"}


def test_quantile_filter_trims_outliers(spark):
    """Rows outside the corpus quantile band are dropped, bounds are
    inclusive, NULLs are dropped, invalid bounds raise."""
    import pytest
    from ppack_spark.operators.pipeline import quantile_filter

    rows = [(i, float(i)) for i in range(1, 100)] + [
        (1000, 1e9),   # spike outlier
        (1001, -1e9),  # low outlier
        (1002, None),  # no quantile position
    ]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    kept = {r["doc_id"] for r in quantile_filter(df, "v", 0.05, 0.95).collect()}
    assert 1000 not in kept and 1001 not in kept and 1002 not in kept
    assert 50 in kept
    # inclusive bounds: with lo=0 and hi=1 everything non-null stays
    all_kept = {r["doc_id"] for r in quantile_filter(df, "v", 0.0, 1.0).collect()}
    assert all_kept == {r[0] for r in rows if r[1] is not None}

    with pytest.raises(ValueError):
        quantile_filter(df, "v", 0.9, 0.1)


def test_stratified_topk_keeps_best_per_stratum(spark):
    """Highest-order rows win per stratum (ties -> min id), ascending
    flag flips the ordering, k >= stratum size keeps everything."""
    import pytest
    from ppack_spark.operators.pipeline import stratified_topk

    rows = [
        (1, "a", 10.0), (2, "a", 30.0), (3, "a", 30.0), (4, "a", 5.0),
        (5, "b", 1.0), (6, "b", 2.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "score"])
    top2 = stratified_topk(df, ["lang"], 2, "score")
    got = {(r["doc_id"], r["quality_rank"]) for r in top2.collect()}
    # a: score 30 tie -> ids 2 then 3; b: 2.0 then 1.0
    assert got == {(2, 1), (3, 2), (6, 1), (5, 2)}

    asc = stratified_topk(df, ["lang"], 1, "score", ascending=True)
    assert {r["doc_id"] for r in asc.collect()} == {4, 5}

    allk = stratified_topk(df, ["lang"], 10, "score")
    assert allk.count() == 6

    with pytest.raises(ValueError):
        stratified_topk(df, ["lang"], 0, "score")


def test_curriculum_order_stages_and_determinism(spark):
    """Stage 0 holds the highest scores, stages partition the corpus
    near-evenly, (shard, shard_pos) slots are unique and stable
    across runs, and n_stages=1 degenerates to a plain shuffle."""
    import pytest
    from ppack_spark.operators.pipeline import curriculum_order

    rows = [(i, float(i)) for i in range(1, 91)]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    out = curriculum_order(df, "score", n_stages=3, n_shards=4).collect()
    assert len(out) == 90
    stage_of = {r["doc_id"]: r["stage"] for r in out}
    # highest scores -> stage 0, lowest -> stage 2
    assert stage_of[90] == 0 and stage_of[1] == 2
    from collections import Counter
    sizes = Counter(r["stage"] for r in out)
    assert set(sizes) == {0, 1, 2}
    assert all(25 <= n <= 35 for n in sizes.values())
    # monotone: a higher score can never land in a later stage
    for i in range(1, 90):
        assert stage_of[i + 1] <= stage_of[i]
    # slots unique within (stage, shard), contiguous from 1
    slots = {}
    for r in out:
        slots.setdefault((r["stage"], r["shard"]), []).append(r["shard_pos"])
    for poss in slots.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic across runs
    again = curriculum_order(df, "score", n_stages=3, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    one = curriculum_order(df, "score", n_stages=1, n_shards=4)
    assert {r["stage"] for r in one.collect()} == {0}

    with pytest.raises(ValueError):
        curriculum_order(df, "score", n_stages=0)


def test_unigram_logprob_reference_model(spark):
    """model_df scores the target under the REFERENCE distribution:
    in-reference grams match self-scoring of the reference corpus,
    out-of-reference grams take the add-alpha floor, and
    model_df=df reproduces the self-scoring path exactly."""
    import math

    import pytest
    from ppack_spark.operators.pipeline import unigram_logprob

    ref_rows = [(1, "aa aa bb"), (2, "aa bb cc")]
    df_rows = ref_rows + [(3, "zz zz")]  # zz unseen in the reference
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    df = spark.createDataFrame(df_rows, ["doc_id", "text"])

    got = {
        r["doc_id"]: r["mean_logprob"]
        for r in unigram_logprob(df, model_df=ref).collect()
    }
    # reference counts: aa=3, bb=2, cc=1; T=6, V=3 -> p(aa)=(3+1)/9
    assert got[1] == pytest.approx(
        (2 * math.log(4 / 9) + math.log(3 / 9)) / 3, abs=2e-6
    )
    # zz unseen -> floor alpha/(T+aV) = 1/9 for both tokens
    assert got[3] == pytest.approx(math.log(1 / 9), abs=2e-6)

    self_scored = {
        r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(ref).collect()
    }
    same = {
        r["doc_id"]: r["mean_logprob"]
        for r in unigram_logprob(ref, model_df=ref).collect()
    }
    assert same == self_scored


def test_distinct_count_sketches_accuracy_and_merge(spark, tables):
    """Estimates land within HLL error of exact counts, and merging
    per-half sketches equals sketching the whole corpus."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import (
        distinct_count_sketches,
        merge_distinct_count_sketches,
    )

    d = tables["documents"]
    cols = ["doc_id", "lang", "source"]
    exact = d.agg(*[F.countDistinct(c).alias(c) for c in cols]).first()
    whole = {
        r["column"]: r["estimate"]
        for r in distinct_count_sketches(d, cols).collect()
    }
    for c in cols:
        assert whole[c] == pytest.approx(exact[c], rel=0.05)

    a = distinct_count_sketches(d.filter(F.col("doc_id") % 2 == 0), cols)
    b = distinct_count_sketches(d.filter(F.col("doc_id") % 2 == 1), cols)
    merged = {
        r["column"]: r["estimate"]
        for r in merge_distinct_count_sketches(a, b).collect()
    }
    for c in cols:
        # HLL union routes through a wider union state before
        # compacting, so merged vs one-shot estimates may differ
        # within sketch error — but both must track the exact count
        assert merged[c] == pytest.approx(exact[c], rel=0.05)

    with pytest.raises(ValueError):
        merge_distinct_count_sketches()


def test_trailing_zscore_flags_planted_spike(spark):
    """A planted spike after a stable baseline flags; the baseline
    rows and cold-start rows never flag; the spike's own value is
    excluded from the statistics it is judged against."""
    from ppack_spark.operators.pipeline import trailing_zscore_flags

    rows = [(i, 1, float(i * 10), 100.0 + (i % 2)) for i in range(10)]
    rows.append((10, 1, 100.0, 9000.0))  # the spike
    rows.append((11, 2, 0.0, 5.0))       # other key, cold start
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts_s", "value"]
    )
    out = {
        r["event_id"]: r
        for r in trailing_zscore_flags(
            df, ["user_id"], "ts_s", "value", 1000, z_threshold=3.0
        ).collect()
    }
    assert out[10]["is_anomaly"] is True
    assert out[10]["n_prior"] == 10
    # baseline mean excludes the spike itself
    assert abs(out[10]["trailing_mean"] - 100.5) < 1e-6
    for i in range(10):
        assert out[i]["is_anomaly"] is False
    assert out[11]["is_anomaly"] is False and out[11]["zscore"] is None


def test_curriculum_null_scores_go_last(spark):
    """Unscored (NULL-score) documents must land in the LAST stage,
    never in the easy-first band."""
    from ppack_spark.operators.pipeline import curriculum_order

    rows = [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    stage = {
        r["doc_id"]: r["stage"]
        for r in curriculum_order(df, "score", n_stages=3, n_shards=2).collect()
    }
    assert stage[3] == 0          # best score leads
    assert stage[4] == 2          # unscored goes last


def test_stage_report_matches_prefix_counts(spark):
    """The funnel observed on one run of the chain must equal counting
    each prepare_corpus_stages boundary directly, across every
    stage-toggle shape."""
    from ppack_spark.operators.pipeline import (
        corpus_stage_report,
        prepare_corpus_stages,
    )
    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    eval_docs = docs.filter(F.col("doc_id") % 11 == 3)
    configs = [
        dict(eval_docs=eval_docs),
        dict(eval_docs=eval_docs, sample_fraction=0.5),
        dict(quality=False, eval_docs=eval_docs),
        dict(line_dedup=False, exact_dedup=False, sample_fraction=0.25),
        dict(line_dedup=False, exact_dedup=False),
        dict(line_dedup=False, eval_docs=eval_docs),
        dict(quality=False, line_dedup=False, exact_dedup=False),
    ]
    for kw in configs:
        want = {
            (i, name): s.count()
            for i, (name, s) in enumerate(prepare_corpus_stages(docs, **kw))
        }
        got = {
            (r["stage_idx"], r["stage"]): r["n_docs"]
            for r in corpus_stage_report(docs, **kw).collect()
        }
        assert got == want, kw


def test_stage_report_empty_input(spark):
    """Zero-row corpus: every stage reports 0, nothing errors."""
    from ppack_spark.operators.pipeline import corpus_stage_report

    docs = spark.createDataFrame([], "doc_id long, text string")
    rows = corpus_stage_report(docs, eval_docs=docs).collect()
    assert [r["n_docs"] for r in rows] == [0, 0, 0, 0, 0]


def test_stage_report_counts_stages_below_an_emptied_one(spark):
    """Quality drops every document: at run time AQE prunes the joins
    above the empty stage, so the observations beneath them never
    report — the input count must still come back, not be lost."""
    from ppack_spark.operators.pipeline import corpus_stage_report

    docs = spark.createDataFrame(
        [(i, "a b") for i in range(200)], "doc_id long, text string"
    )
    rows = corpus_stage_report(docs, eval_docs=docs).collect()
    assert [r["n_docs"] for r in rows] == [200, 0, 0, 0, 0]


def test_stage_report_costs_one_run_of_the_chain(spark):
    """The report runs no more Spark jobs than executing prepare_corpus
    itself on the same input."""
    from ppack_spark.operators.pipeline import corpus_stage_report, prepare_corpus
    from conftest import SF_DIR

    def jobs(action) -> int:
        sched = spark.sparkContext._jsc.sc().dagScheduler()
        first = sched.nextJobId()
        action()
        return sched.nextJobId() - first

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    eval_docs = docs.filter(F.col("doc_id") % 11 == 3)
    chain = jobs(
        lambda: prepare_corpus(docs, eval_docs=eval_docs)
        .write.format("noop").mode("overwrite").save()
    )
    report = jobs(lambda: corpus_stage_report(docs, eval_docs=eval_docs))
    assert 0 < report <= chain


def test_psi_report_planted_drift(spark):
    """Identical populations score ~0; a shifted population scores
    high; NULL-rate drift alone registers; empty current -> NULL psi;
    precomputed edges skip the reference scan and reproduce the
    derived-edges number."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import psi_report

    ref = spark.range(0, 1000).select(
        F.col("id").alias("rid"), (F.col("id") % 100).cast("double").alias("x")
    )
    same = {r["column"]: r for r in psi_report(ref, ref, ["x"]).collect()}
    assert same["x"]["psi"] == 0.0 and same["x"]["n_ref"] == 1000

    shifted = ref.select("rid", (F.col("x") + 500.0).alias("x"))
    drift = psi_report(shifted, ref, ["x"]).collect()[0]
    # every shifted value clamps into the top reference bin
    assert drift["psi"] > 1.0

    # null-rate drift: same value distribution, half the rows nulled
    nulled = ref.select(
        "rid", F.when(F.col("rid") % 2 == 0, F.col("x")).alias("x")
    )
    nd = psi_report(nulled, ref, ["x"]).collect()[0]
    assert nd["psi"] > 0.1

    empty = psi_report(ref.filter("rid < 0"), ref, ["x"]).collect()[0]
    assert empty["psi"] is None and empty["n_cur"] == 0

    pinned = psi_report(shifted, ref, ["x"], edges={"x": (0.0, 99.0)}).collect()[0]
    assert pinned["psi"] == drift["psi"]

    with pytest.raises(ValueError):
        psi_report(ref, ref, [])
    with pytest.raises(ValueError):
        psi_report(ref, ref, ["x"], n_buckets=1)


def test_psi_report_constant_reference(spark):
    """Degenerate-reference semantics (ADVICE r10): a column CONSTANT
    in the reference bins by equality to that constant, so a shifted
    constant registers instead of scoring 0; an identical constant
    still scores 0; an all-NULL reference registers any non-NULL
    current mass."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import psi_report

    ref = spark.range(0, 100).select(
        F.col("id").alias("rid"), F.lit(5.0).alias("x")
    )
    same = psi_report(ref, ref, ["x"]).collect()[0]
    assert same["psi"] == 0.0

    shifted = ref.select("rid", F.lit(500.0).alias("x"))
    moved = psi_report(shifted, ref, ["x"]).collect()[0]
    assert moved["psi"] > 1.0  # the pre-r11 blind spot scored this 0

    half = ref.select(
        "rid", F.when(F.col("rid") % 2 == 0, 5.0).otherwise(500.0).alias("x")
    )
    partial = psi_report(half, ref, ["x"]).collect()[0]
    assert 0.1 < partial["psi"] < moved["psi"]

    allnull = ref.select("rid", F.lit(None).cast("double").alias("x"))
    nn = psi_report(ref, allnull, ["x"]).collect()[0]
    assert nn["psi"] > 1.0  # non-NULL current mass vs all-NULL reference


def test_psi_report_categorical_planted_drift(spark):
    """Identical mixes score 0; a flipped mix scores high; a NEW
    category (absent from reference bins) lands in OTHER and moves the
    score; pinned bins reproduce the derived-bin number; validation."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import psi_report_categorical

    ref = spark.range(0, 1000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 10 < 9, "en").otherwise("fr").alias("lang"),
    )
    same = psi_report_categorical(ref, ref, ["lang"], top_k=5).collect()[0]
    assert same["psi"] == 0.0 and same["n_ref"] == 1000

    flipped = ref.select(
        "rid", F.when(F.col("lang") == "en", "fr").otherwise("en").alias("lang")
    )
    fl = psi_report_categorical(flipped, ref, ["lang"], top_k=5).collect()[0]
    assert fl["psi"] > 1.0

    novel = ref.select("rid", F.lit("zz").alias("lang"))
    nv = psi_report_categorical(novel, ref, ["lang"], top_k=5).collect()[0]
    assert nv["psi"] > 1.0  # all current mass in OTHER

    pinned = psi_report_categorical(
        flipped, ref, ["lang"], categories={"lang": ["en", "fr"]}
    ).collect()[0]
    assert pinned["psi"] == fl["psi"]

    with pytest.raises(ValueError):
        psi_report_categorical(ref, ref, [])
    with pytest.raises(ValueError):
        psi_report_categorical(ref, ref, ["lang"], top_k=0)


def test_canonical_url_hand_fixture(spark):
    """Each normalization rule on a hand case: fragment, scheme/host
    case, www, default ports (scheme-matched), trailing slash,
    tracking-param strip + param sort, scheme-less fallback, NULL."""
    from ppack_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://WWW.Site.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
         "https://site.com/A/B?a=1&b=2"),
        ("http://site.com:80/path", "http://site.com/path"),
        ("http://site.com:8080/path", "http://site.com:8080/path"),
        ("https://site.com:80/path", "https://site.com:80/path"),
        ("https://site.com", "https://site.com"),
        ("https://site.com/?gclid=1&fbclid=2&ref=x", "https://site.com"),
        ("https://site.com/Docs/?q=Keep%20Case", "https://site.com/Docs?q=Keep%20Case"),
        ("ftp://Host.com/File", "ftp://host.com/File"),
        ("  https://site.com/x  ", "https://site.com/x"),
        ("Bare.HOST/path#f", "bare.host/path"),
        ("", ""),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_dedup_corpus_by_url(spark):
    """Variants of one page collapse to the min-id winner; distinct
    pages all survive; NULL-url rows all survive (no key is no
    duplication evidence)."""
    from ppack_spark.operators.pipeline import dedup_corpus_by_url

    rows = [
        (1, "https://site.com/a?utm_source=x"),
        (2, "HTTP://site.com/b"),
        (3, "https://www.site.com/a/"),       # dup of 1 -> loses to min id
        (4, "https://site.com/a#frag"),       # dup of 1
        (5, "http://site.com/b"),             # dup of 2
        (6, None),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(
        r["doc_id"] for r in dedup_corpus_by_url(df).collect()
    )
    assert kept == [1, 2, 6, 7]


def test_ks_drift_report_planted_drift(spark):
    """Identical populations score 0; a shifted population scores ~1
    (every value clamps past the reference CDF); a median shift scores
    ~the moved mass; NULL-rate drift shows in null_delta, not ks;
    all-NULL side -> NULL ks; constant-reference shift registers;
    validation errors."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import ks_drift_report

    ref = spark.range(0, 1000).select(
        F.col("id").alias("rid"), (F.col("id") % 100).cast("double").alias("x")
    )
    same = ks_drift_report(ref, ref, ["x"]).collect()[0]
    assert same["ks"] == 0.0 and same["null_delta"] == 0.0

    shifted = ref.select("rid", (F.col("x") + 500.0).alias("x"))
    big = ks_drift_report(shifted, ref, ["x"]).collect()[0]
    assert big["ks"] > 0.9

    # upper half only: CDF gap peaks at ~0.5 around the median
    upper = ref.filter(F.col("x") >= 50.0)
    half = ks_drift_report(upper, ref, ["x"]).collect()[0]
    assert 0.4 < half["ks"] < 0.6

    # null pattern orthogonal to the value (rid < 500 keeps x = rid%100
    # uniform), so the non-NULL distribution is unchanged
    nulled = ref.select(
        "rid", F.when(F.col("rid") < 500, F.col("x")).alias("x")
    )
    nd = ks_drift_report(nulled, ref, ["x"]).collect()[0]
    assert nd["ks"] == 0.0  # same value distribution among non-NULLs
    assert abs(nd["null_delta"] - 0.5) < 0.01

    allnull = ref.select("rid", F.lit(None).cast("double").alias("x"))
    an = ks_drift_report(allnull, ref, ["x"]).collect()[0]
    assert an["ks"] is None and an["null_delta"] == 1.0

    const_ref = ref.select("rid", F.lit(5.0).alias("x"))
    const_cur = ref.select("rid", F.lit(500.0).alias("x"))
    cc = ks_drift_report(const_cur, const_ref, ["x"]).collect()[0]
    assert cc["ks"] == 1.0  # match-bin vs other-bin separates them

    pinned = ks_drift_report(
        shifted, ref, ["x"], edges={"x": (0.0, 99.0)}
    ).collect()[0]
    assert pinned["ks"] == big["ks"]

    with pytest.raises(ValueError):
        ks_drift_report(ref, ref, [])
    with pytest.raises(ValueError):
        ks_drift_report(ref, ref, ["x"], n_buckets=1)


def test_url_host_report(spark):
    """Hosts aggregate under their canonical form (www/port/case
    collapse), shares sum to 1, rank is count-desc host-asc, NULL
    urls are excluded."""
    from ppack_spark.operators.pipeline import url_host_report

    rows = [
        (1, "https://WWW.a.com/x"),
        (2, "https://a.com:443/y?utm_source=z"),
        (3, "http://a.com/z"),
        (4, "https://b.com/1"),
        (5, "bare.host/p"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["host"]: r for r in url_host_report(df).collect()}
    assert set(out) == {"a.com", "b.com", "bare.host"}
    assert out["a.com"]["n_docs"] == 3 and out["a.com"]["rank"] == 1
    assert out["b.com"]["rank"] == 2 and out["bare.host"]["rank"] == 3  # tie -> host asc
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-6


def test_weighted_hash_sample(spark):
    """Determinism (same salt -> same set, layout-independent);
    heavier rows win across salts at far-higher frequency; NULL and
    non-positive weights excluded; k >= eligible keeps everything;
    stratified draw takes k per stratum; validation."""
    import pytest
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import weighted_hash_sample

    rows = [(i, 1000.0 if i == 7 else 1.0) for i in range(50)]
    rows += [(50, None), (51, 0.0), (52, -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    a = sorted(r["doc_id"] for r in weighted_hash_sample(df, 5, "w").collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_hash_sample(df.repartition(7), 5, "w").collect()
    )
    assert a == b and len(a) == 5
    assert not {50, 51, 52} & set(a)

    # the 1000x-weight row should appear in nearly every 5-of-50 draw;
    # any single light row in few (its marginal odds are ~<= 5/49 per
    # draw even before the heavy row takes a slot)
    heavy_hits = light_hits = 0
    for s in range(20):
        got = {
            r["doc_id"]
            for r in weighted_hash_sample(df, 5, "w", salt=f"s{s}").collect()
        }
        heavy_hits += 7 in got
        light_hits += 13 in got
    assert heavy_hits >= 18
    assert light_hits <= 6

    allk = weighted_hash_sample(df, 100, "w").collect()
    assert len(allk) == 50  # every positive-weight row

    sdf = spark.createDataFrame(
        [(i, "g" + str(i % 2), float(1 + i)) for i in range(40)],
        "doc_id long, g string, w double",
    )
    per = (
        weighted_hash_sample(sdf, 3, "w", strata=["g"])
        .groupBy("g")
        .count()
        .collect()
    )
    assert sorted((r["g"], r["count"]) for r in per) == [("g0", 3), ("g1", 3)]

    with pytest.raises(ValueError):
        weighted_hash_sample(df, 0, "w")


# ------------------------------------------------- host boilerplate
def _hb_fixture(spark):
    """Host A (6 docs): banner in 4/6 (>= 0.5, removed), minor line
    in 2/6 (< 0.5, kept). Host B (3 docs < min_host_docs): a 100 %
    line that must survive. Plus a null-url row and a null-text row."""
    a = "https://a.example.com/p"
    b = "https://b.example.com/p"
    rows = [
        (1, a + "1", "BANNER\nbody one"),
        (2, a + "2", "BANNER\nbody two\nMINOR"),
        (3, a + "3", "BANNER\nbody three"),
        (4, a + "4", "BANNER\nbody four\nMINOR"),
        (5, a + "5", "body five"),
        (6, a + "6", "BANNER"),  # all-boilerplate doc -> empty text
        (7, b + "1", "SMALLHOST\nbody seven"),
        (8, b + "2", "SMALLHOST\nbody eight"),
        (9, b + "3", "SMALLHOST\nbody nine"),
        (10, None, "BANNER\nuntouched body"),
        (11, a + "7", None),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def test_host_boilerplate_removal_and_thresholds(spark):
    from ppack_spark.operators.pipeline import remove_host_boilerplate

    out = {
        r["doc_id"]: r
        for r in remove_host_boilerplate(
            _hb_fixture(spark), min_frac=0.5, min_host_docs=5
        ).collect()
    }
    # BANNER appears in 5 of host A's 6 docs WITH text (doc 11's NULL
    # text must not count toward the host doc total)
    assert out[1]["text"] == "body one"
    assert out[2]["text"] == "body two\nMINOR"  # MINOR at 2/6 kept
    assert out[5]["text"] == "body five"
    assert out[6]["text"] == ""  # every line was boilerplate
    assert out[6]["n_lines_kept"] == 0
    # host B below min_host_docs: untouched even at 100 % frequency
    assert out[7]["text"] == "SMALLHOST\nbody seven"
    # null url -> no host -> untouched, line count still reported
    assert out[10]["host"] is None
    assert out[10]["text"] == "BANNER\nuntouched body"
    assert out[10]["n_lines_kept"] == 2
    # null text stays null
    assert out[11]["text"] is None
    assert out[11]["n_lines_kept"] is None
    assert out[1]["host"] == "a.example.com"


def test_host_boilerplate_is_host_scoped(spark):
    """A line boilerplate on host A must survive on host C even when
    host C is large enough to qualify."""
    from ppack_spark.operators.pipeline import remove_host_boilerplate

    rows = [(i, f"https://a.ex.com/{i}", "SHARED\nbody a" + str(i)) for i in range(5)]
    rows += [(100 + i, f"https://c.ex.com/{i}", f"unique {i} line") for i in range(4)]
    rows += [(200, "https://c.ex.com/x", "SHARED\nbody c")]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in remove_host_boilerplate(
            df, min_frac=0.5, min_host_docs=5
        ).collect()
    }
    assert out[0] == "body a0"  # removed on host A (5/5)
    assert out[200] == "SHARED\nbody c"  # kept on host C (1/5)


def test_host_boilerplate_preserves_row_count_and_columns(spark):
    from ppack_spark.operators.pipeline import remove_host_boilerplate

    df = _hb_fixture(spark)
    out = remove_host_boilerplate(df, min_frac=0.5, min_host_docs=5)
    assert out.count() == df.count()
    assert out.columns == ["doc_id", "url", "text", "host", "n_lines_kept"]


# ---------------------------------------------------- heavy hitters
def _hh_tokens_df(spark, counts: dict[str, int], parts: int = 8):
    words = []
    for term, n in counts.items():
        words.extend([term] * n)
    # interleave deterministically so heavy terms spread across docs
    words.sort()
    docs = [
        (i, " ".join(words[i::16])) for i in range(16) if words[i::16]
    ]
    return spark.createDataFrame(
        docs, "doc_id long, text string"
    ).repartition(parts)


def test_heavy_hitters_exact_vs_plain_groupby(spark):
    from ppack_spark.operators.pipeline import heavy_hitter_terms

    counts = {"alpha": 400, "beta": 150, "gamma": 90}
    counts.update({f"rare{i}": 3 for i in range(120)})
    df = _hh_tokens_df(spark, counts)
    total = sum(counts.values())
    phi = 0.05
    got = {
        r["term"]: r["n_occurrences"]
        for r in heavy_hitter_terms(df, phi=phi).collect()
    }
    want = {t: n for t, n in counts.items() if n > phi * total}
    assert got == want


def test_heavy_hitters_partition_layout_invariant(spark):
    """The MG candidate SUPERSET varies with partitioning; the exact
    recount + threshold must make the OUTPUT invariant."""
    from ppack_spark.operators.pipeline import heavy_hitter_terms

    counts = {"hot": 300, "warm": 60}
    counts.update({f"noise{i}": 2 for i in range(200)})
    results = []
    for parts in (1, 5, 32):
        df = _hh_tokens_df(spark, counts, parts=parts)
        results.append(
            sorted(
                (r["term"], r["n_occurrences"], r["share"])
                for r in heavy_hitter_terms(df, phi=0.1).collect()
            )
        )
    assert results[0] == results[1] == results[2]
    assert [t for t, _, _ in results[0]] == ["hot"]


def test_heavy_hitters_capacity_guard(spark):
    import pytest

    from ppack_spark.operators.pipeline import heavy_hitter_terms

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        heavy_hitter_terms(df, phi=0.01, capacity=10)
    with pytest.raises(ValueError):
        heavy_hitter_terms(df, phi=1.5)


def test_heavy_hitters_adversarial_singleton_flood(spark):
    """Many distinct singletons force constant MG compaction; the
    heavy term must still surface with its exact count (the classic
    MG stress: decrements happen ~n/k times, never enough to erase a
    term above n/(k+1))."""
    from ppack_spark.operators.pipeline import heavy_hitter_terms

    counts = {f"s{i}": 1 for i in range(3000)}
    counts["heavy"] = 400
    df = _hh_tokens_df(spark, counts, parts=4)
    got = {
        r["term"]: r["n_occurrences"]
        for r in heavy_hitter_terms(df, phi=0.1).collect()
    }
    assert got == {"heavy": 400}


def test_heavy_hitters_null_and_empty_text(spark):
    from ppack_spark.operators.pipeline import heavy_hitter_terms

    df = spark.createDataFrame(
        [(1, "x x x"), (2, None), (3, ""), (4, "  ")],
        "doc_id long, text string",
    )
    got = [
        (r["term"], r["n_occurrences"], r["share"])
        for r in heavy_hitter_terms(df, phi=0.5).collect()
    ]
    assert got == [("x", 3, 1.0)]


# ------------------------------------------------------ corpus diff
def test_corpus_diff_statuses(spark):
    from ppack_spark.operators.pipeline import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (4, "brand new"), (5, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "unchanged",  # NULL text on both sides: same (absent) identity
    }


def test_corpus_diff_null_to_text_is_changed(spark):
    from ppack_spark.operators.pipeline import corpus_diff

    old = spark.createDataFrame([(1, None)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "now real")], "doc_id long, text string")
    assert corpus_diff(old, new).collect()[0]["status"] == "changed"


def test_corpus_diff_whitespace_normalized_unchanged(spark):
    from ppack_spark.operators.pipeline import corpus_diff

    old = spark.createDataFrame([(1, "a  b\tc")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert corpus_diff(old, new).collect()[0]["status"] == "unchanged"


# --------------------------------------------------- join size estimate
def test_join_size_estimate_matches_actual_join(spark):
    from ppack_spark.operators.pipeline import join_size_estimate

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "e")],
        "k long, v string",
    )
    right = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "z"), (3, "w"), (None, "q")],
        "k long, v string",
    )
    r = join_size_estimate(left, right, ["k"]).collect()[0]
    actual = left.join(right.withColumnRenamed("v", "v2"), "k").count()
    assert r["est_rows"] == actual == 7  # 2*3 + 1*1; NULLs never match
    assert r["n_keys_left"] == 3 and r["n_keys_right"] == 2
    assert r["n_keys_matching"] == 2
    assert r["max_key_rows"] == 6
    assert r["skew_ratio"] == round(6 / 7, 6)


def test_join_size_estimate_disjoint_keys(spark):
    from ppack_spark.operators.pipeline import join_size_estimate

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(2, "x")], "k long, v string")
    r = join_size_estimate(left, right, ["k"]).collect()[0]
    assert (r["est_rows"], r["n_keys_matching"], r["skew_ratio"]) == (
        0,
        0,
        0.0,
    )
    assert r["max_key_rows"] is None


def test_join_size_estimate_multi_key_and_renamed(spark):
    from ppack_spark.operators.pipeline import join_size_estimate

    left = spark.createDataFrame(
        [(1, "p", "a"), (1, "p", "b"), (1, "q", "c")],
        "k1 long, k2 string, v string",
    )
    right = spark.createDataFrame(
        [(1, "p", "x"), (1, "r", "y")], "j1 long, j2 string, v string"
    )
    r = join_size_estimate(
        left, right, ["k1", "k2"], ["j1", "j2"]
    ).collect()[0]
    assert r["est_rows"] == 2  # (1,'p'): 2*1


def test_join_size_estimate_key_length_guard(spark):
    import pytest

    from ppack_spark.operators.pipeline import join_size_estimate

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError):
        join_size_estimate(df, df, ["k"], ["k", "v"])
    with pytest.raises(ValueError):
        join_size_estimate(df, df, [])


def test_decontaminate_fuzzy_drops_near_copies_only(spark):
    """A corpus doc near-identical to an eval doc is dropped; unrelated
    docs and lightly-overlapping docs below the threshold survive."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.pipeline import decontaminate_fuzzy

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "an entirely different document about spark shuffles"),
            (3, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    # doc 3 is a truncated copy: 7 of eval's 8 shingles -> J = 0.875
    out = decontaminate_fuzzy(corpus, ev, k=3, threshold=0.9)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    # lower threshold catches the truncated copy too
    out2 = decontaminate_fuzzy(corpus, ev, k=3, threshold=0.5)
    assert sorted(r["doc_id"] for r in out2.collect()) == [2]
    assert out.columns == corpus.columns


def test_corpus_mix_report_statistics(spark):
    """Hand-checked entropy/HHI on a 3-group weighted mix, plus the
    degenerate single-group and NULL-group cases."""
    import math

    from ppack_spark.operators.pipeline import corpus_mix_report

    df = spark.createDataFrame(
        [("a", 50), ("a", 30), ("b", 15), (None, 5)],
        "source string, n_chars long",
    )
    r = corpus_mix_report(df, "source", weight_col="n_chars").collect()[0]
    ps = [0.8, 0.15, 0.05]
    ent = -sum(p * math.log(p) for p in ps)
    assert r["n_groups"] == 3
    assert r["total_weight"] == 100.0
    assert abs(r["entropy"] - round(ent, 6)) < 1e-6
    assert abs(r["normalized_entropy"] - round(ent / math.log(3), 6)) < 1e-6
    assert abs(r["hhi"] - round(sum(p * p for p in ps), 6)) < 1e-6
    assert r["top_share"] == 0.8

    one = spark.createDataFrame([("a", 10)], "source string, n_chars long")
    r1 = corpus_mix_report(one, "source", weight_col="n_chars").collect()[0]
    assert r1["n_groups"] == 1
    assert r1["normalized_entropy"] == 0.0
    assert r1["hhi"] == 1.0 and r1["top_share"] == 1.0

    # unweighted: rows count equally
    r2 = corpus_mix_report(df, "source").collect()[0]
    assert r2["n_groups"] == 3 and r2["total_weight"] == 4.0
    assert r2["top_share"] == 0.5


# ----------------------------- span-level decontamination (E170)


def _span_corpus(spark):
    """Eval doc holds tokens e0..e9; corpus doc 1 quotes e1..e8 (8+
    tokens -> two overlapping hits that must merge), doc 2 is clean,
    doc 3 ends mid-quote (clamp case)."""
    from ppack_spark.operators.pipeline import span_contamination_report

    ev = spark.createDataFrame(
        [(100, " ".join(f"e{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    co = spark.createDataFrame(
        [
            (1, "x0 x1 " + " ".join(f"e{i}" for i in range(1, 10)) + " y0"),
            (2, "clean words only nothing shared here at all padding tokens"),
            (3, "z0 z1 z2 " + " ".join(f"e{i}" for i in range(8))),
        ],
        "doc_id long, text string",
    )
    return co, ev, span_contamination_report


def test_span_contamination_merges_overlaps(spark):
    co, ev, report = _span_corpus(spark)
    got = {r["doc_id"]: r for r in report(co, ev, width=8).collect()}
    # doc 1: e1..e9 at token offsets 2..10 -> hits at pos 2 and 3
    # (spans e1..e8, e2..e9) merge into [2, 11)
    assert got[1]["span_start"] == 2
    assert got[1]["span_end"] == 11
    assert got[1]["span_tokens"] == 9
    # doc 2 clean: no interval
    assert 2 not in got
    # doc 3: e0..e7 at offsets 3..10, one hit at pos 3 -> [3, 11)
    assert got[3]["span_start"] == 3 and got[3]["span_end"] == 11


def test_span_contamination_clamps_to_doc_length(spark):
    """A short corpus doc equal to a short eval doc matches via the
    whole-text span; the interval must clamp to its token count."""
    from ppack_spark.operators.pipeline import span_contamination_report

    ev = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    co = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    row = span_contamination_report(co, ev, width=8).collect()[0]
    assert row["span_start"] == 0
    assert row["span_end"] == 3
    assert row["span_tokens"] == 3


def test_span_decontaminate_excises_only_quotes(spark):
    from ppack_spark.operators.pipeline import span_decontaminate

    co, ev, _ = _span_corpus(spark)
    got = {r["doc_id"]: r for r in span_decontaminate(co, ev, width=8).collect()}
    assert got[1]["text"] == "x0 x1 y0"
    assert got[1]["n_tokens_removed"] == 9
    # clean doc passes through byte-identical
    assert got[2]["text"].startswith("clean words only")
    assert got[2]["n_tokens_removed"] == 0
    assert got[3]["text"] == "z0 z1 z2"
    assert got[3]["n_tokens_removed"] == 8


def test_span_decontaminate_disjoint_quotes_two_intervals(spark):
    from ppack_spark.operators.pipeline import span_contamination_report

    ev = spark.createDataFrame(
        [(100, " ".join(f"e{i}" for i in range(8))),
         (101, " ".join(f"f{i}" for i in range(8)))],
        "doc_id long, text string",
    )
    quote_e = " ".join(f"e{i}" for i in range(8))
    quote_f = " ".join(f"f{i}" for i in range(8))
    co = spark.createDataFrame(
        [(1, quote_e + " gap0 gap1 gap2 " + quote_f)],
        "doc_id long, text string",
    )
    rows = sorted(
        span_contamination_report(co, ev, width=8).collect(),
        key=lambda r: r["span_start"],
    )
    assert [(r["span_start"], r["span_end"]) for r in rows] == [
        (0, 8), (11, 19),
    ]
