"""Declared queries: events (streaming-shaped), documents (dedup /
text analysis), embeddings (similarity search) — the training-data
pipeline surface, each with a DuckDB oracle where SQL can express it.

Registered into the same QUERIES/ORACLE dicts as plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    language_scores,
    quality_features,
    token_count,
)
from ..operators.ann import cosine, cosine_topk, embedding_near_dup_pairs
from ..operators.dedup import (
    exact_dedup_groups,
    jaccard_prefix_join,
    minhash_lsh_pairs,
    minhash_signature,
    simhash_df,
    simhash_pairs,
)
from .registry import query, t

# --------------------------------------------------------------------
# events — windowed aggregation / sessionization / semi-structured
# --------------------------------------------------------------------


def _epoch_s(c: F.Column) -> F.Column:
    """Epoch seconds for either timestamp flavor. Parquet `timestamp[us]`
    without a zone arrives as TIMESTAMP_NTZ, which Spark refuses to cast
    to BIGINT directly; routing through TIMESTAMP_LTZ under the fixed
    UTC session zone (session.py) gives the same instant DuckDB's
    `epoch()` assigns a naive timestamp. A no-op for LTZ input."""
    return c.cast("timestamp_ltz").cast("long")


@query(
    "events_window_agg",
    """
    select time_bucket(interval '5 minutes', ts) as window_start,
           event_type,
           count(*) as n,
           round(sum(value), 6) as sum_value
    from events
    group by 1, 2
    """,
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate — identical logical op to
    streaming/ops.py:streaming_window_agg (same groupBy(window); parity
    asserted in tests/test_streaming.py), here in batch form for the
    oracle."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "events_sessionize",
    """
    with ordered as (
        select user_id, ts, event_id,
               lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
        from events
    ),
    flagged as (
        select user_id,
               case when prev_ts is null
                         or epoch(ts) - epoch(prev_ts) > 1800 then 1
                    else 0 end as new_session
        from ordered
    )
    select user_id,
           cast(sum(new_session) as bigint) as n_sessions,
           count(*) as n_events
    from flagged
    group by user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session (lag + flag +
    count). One shuffle on user_id; the window sort is per-user. The
    incremental twin is streaming/ops.py:streaming_sessionize
    (applyInPandasWithState, same gap rule; parity asserted in
    tests/test_streaming.py)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _epoch_s(F.col("ts")) - _epoch_s(F.lag(F.col("ts")).over(w))
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_json_extract",
    """
    select event_type,
           count(*) as n,
           round(avg(json_extract_string(props, '$.k')::int), 6) as avg_k
    from events
    where json_extract_string(props, '$.k')::int > 50
    group by event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: JSON field extraction + filter +
    aggregate (the props column is a JSON string)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 6).alias("avg_k"))
    )


@query(
    "events_sliding_window",
    """
    select window_start, event_type,
           count(*) as n,
           round(sum(value), 6) as sum_value
    from (
        select time_bucket(interval '5 minutes', ts)
               - to_minutes(5 * s.i) as window_start,
               event_type, value
        from events cross join (select unnest([0, 1]) as i) s
    )
    group by window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregate: 10-minute windows every 5
    minutes — each event lands in 2 windows. Spark's native
    window(ts, '10 minutes', '5 minutes'); the oracle replays the
    2-window fan-out with an explicit series."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "events_value_quantiles",
    """
    select event_type,
           round(quantile_cont(value, 0.5), 6) as p50,
           round(quantile_cont(value, 0.9), 6) as p90,
           round(quantile_cont(value, 0.99), 6) as p99
    from events
    group by event_type
    """,
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous quantiles per group (Spark's exact
    ``percentile``, not the t-digest approx variant, so the linear
    interpolation matches DuckDB's quantile_cont bit-for-bit after
    rounding). At 100 TB one switches to ``percentile_approx`` and
    loses the exact oracle — the registry gates the exact path."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@query(
    "events_range_join",
    """
    with clicks as (
        -- floor inside the CTE: DuckDB epoch() is fractional-second
        -- DOUBLE; Spark compares truncated seconds, so both engines
        -- must apply the identical truncated-second predicate.
        -- (bare cast(double as bigint) ROUNDS in DuckDB — floor first)
        select user_id, event_id as click_id,
               cast(floor(epoch(ts)) as bigint) as ts_s
        from events where event_type = 'click'
    ),
    purch as (
        select user_id, event_id as purchase_id,
               cast(floor(epoch(ts)) as bigint) as start_s,
               cast(floor(epoch(ts)) as bigint) + 1800 as end_s
        from events where event_type = 'purchase'
    )
    select c.user_id, c.click_id, p.purchase_id, c.ts_s, p.start_s
    from clicks c
    join purch p
      on c.user_id = p.user_id
     and c.ts_s >= p.start_s and c.ts_s < p.end_s
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): clicks falling inside the
    30-minute window after each purchase, via the bucketed equi-join
    construction — hash join on (user, time-bucket), never a
    nested-loop. Oracle: the plain non-equi join DuckDB optimizes as
    an IEJoin."""
    from ..operators.rangejoin import range_join_bucketed

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        _epoch_s(F.col("ts")).alias("ts_s"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        _epoch_s(F.col("ts")).alias("start_s"),
        (_epoch_s(F.col("ts")) + 1800).alias("end_s"),
    )
    out = range_join_bucketed(
        clicks, purch, on="user_id", ts="ts_s", start="start_s", end="end_s",
        bucket_width=1800,
    )
    return out.select("user_id", "click_id", "purchase_id", "ts_s", "start_s")


@query(
    "events_rollup",
    """
    select epoch(date_trunc('day', ts)) as day_s, event_type,
           count(*) as n,
           round(sum(value), 6) as sum_value
    from events
    group by rollup(day_s, event_type)
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (hypertable-style day→type→grand-total
    subtotals in one pass): Spark's native ROLLUP grouping sets —
    partial aggregation applies per grouping set, so the shuffle stays
    O(groups), not O(rows)."""
    e = t(spark, sf_dir, "events")
    return (
        e.rollup(_epoch_s(F.date_trunc("day", "ts")).alias("day_s"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@query(
    "events_asof_join",
    """
    with clicks as (
        select user_id, event_id, ts from events where event_type = 'click'
    ),
    purch as (
        select user_id, ts, max(value) as purchase_value
        from events where event_type = 'purchase'
        group by user_id, ts
    )
    select c.user_id, c.event_id,
           cast(floor(epoch(c.ts)) as bigint) as click_ts_s,
           cast(floor(epoch(p.ts)) as bigint) as purchase_ts_s,
           round(p.purchase_value, 6) as purchase_value
    from clicks c
    asof join purch p on c.user_id = p.user_id and c.ts >= p.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click joined to the user's
    most recent prior-or-simultaneous purchase — gated against DuckDB's
    native ASOF JOIN. The right side is pre-aggregated per (user, ts)
    so the match is deterministic in both engines."""
    from ..operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(clicks, purch, on="user_id", ts="ts", right_cols=["purchase_value"])
    return out.select(
        "user_id",
        "event_id",
        _epoch_s(F.col("ts")).alias("click_ts_s"),
        _epoch_s(F.col("ts_matched")).alias("purchase_ts_s"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


# --------------------------------------------------------------------
# documents — dedup + text analysis
# --------------------------------------------------------------------

_SHINGLE_SQL = """
    with toks as (
        select doc_id, source,
               string_split_regex(lower(trim(text)), '\\s+') as tk
        from documents
    ),
    sh as (
        select doc_id, source,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from toks
    )
"""


@query(
    "dedup_exact",
    """
    select md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as text_hash,
           min(doc_id) as keep_id,
           count(*) as n_copies
    from documents
    group by 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on the content fingerprint."""
    return exact_dedup_groups(t(spark, sf_dir, "documents"))


@query(
    "dedup_keep_first",
    """
    with h as (
        select doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as th
        from documents
    ),
    w as (select th, min(doc_id) as keep_id from h group by th)
    select d.doc_id, d.source
    from documents d join w on d.doc_id = w.keep_id
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus (operators/dedup.exact_dedup_keep_first):
    keep the min-id row per content hash via a left-semi join against
    the winners — partial agg keeps the shuffle O(groups), no window
    over the full corpus."""
    from ..operators.dedup import exact_dedup_keep_first

    return exact_dedup_keep_first(t(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )


@query(
    "token_stats",
    """
    select doc_id,
           case when length(trim(text)) = 0 then 0
                else len(string_split_regex(trim(text), '\\s+')) end as n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as n_subword_tokens
    from documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword segments."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subword_tokens"),
    )


_EN_SQL = "['" + "','".join(STOPWORDS["en"]) + "']"
_DE_SQL = "['" + "','".join(STOPWORDS["de"]) + "']"
_FR_SQL = "['" + "','".join(STOPWORDS["fr"]) + "']"


@query(
    "quality_scores",
    f"""
    with base as (
        select doc_id, text,
               length(trim(text)) as n_chars,
               string_split_regex(lower(trim(text)), '\\s+') as tk
        from documents
    )
    select doc_id, n_chars,
           len(tk) as n_tokens,
           round((n_chars - (len(tk) - 1)) / len(tk)::double, 6) as mean_token_len,
           round(len(regexp_extract_all(trim(text), '[^\\w\\s]')) / n_chars::double, 6) as punct_ratio,
           round(len(list_filter(tk, x -> list_contains({_EN_SQL}, x))) / len(tk)::double, 6) as stopword_ratio
    from base
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / token / punctuation / stopword
    features (all codegen'd expressions; fixtures have no empty docs,
    and the oracle shares that assumption)."""
    d = t(spark, sf_dir, "documents")
    feats = quality_features(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 6).alias("mean_token_len"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
    )


@query(
    "lang_id",
    f"""
    with base as (
        select doc_id, lang,
               string_split_regex(lower(trim(text)), '\\s+') as tk
        from documents
    ),
    scores as (
        select doc_id, lang,
               len(list_filter(tk, x -> list_contains({_EN_SQL}, x))) / greatest(len(tk), 1)::double as score_en,
               len(list_filter(tk, x -> list_contains({_DE_SQL}, x))) / greatest(len(tk), 1)::double as score_de,
               len(list_filter(tk, x -> list_contains({_FR_SQL}, x))) / greatest(len(tk), 1)::double as score_fr
        from base
    )
    select doc_id, lang,
           round(score_en, 6) as score_en,
           round(score_de, 6) as score_de,
           round(score_fr, 6) as score_fr,
           case when score_de > score_en and score_de >= score_fr then 'de'
                when score_fr > score_en and score_fr > score_de then 'fr'
                else 'en' end as predicted_lang
    from scores
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language id (n-gram heuristic family):
    deterministic argmax with fixed tie-break order en > de > fr."""
    d = t(spark, sf_dir, "documents")
    s = language_scores("text")
    return d.select(
        "doc_id",
        "lang",
        F.round(s["en"], 6).alias("score_en"),
        F.round(s["de"], 6).alias("score_de"),
        F.round(s["fr"], 6).alias("score_fr"),
        F.when((s["de"] > s["en"]) & (s["de"] >= s["fr"]), "de")
        .when((s["fr"] > s["en"]) & (s["fr"] > s["de"]), "fr")
        .otherwise("en")
        .alias("predicted_lang"),
    )


@query(
    "tfidf_top_terms",
    """
    with tok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as term
        from documents
    ),
    tf as (
        select doc_id, term, count(*) as tf from tok group by doc_id, term
    ),
    df as (
        select term, count(*) as df from tf group by term
    ),
    n as (select count(*) as n from documents),
    scored as (
        select t.doc_id, t.term, t.tf, d.df,
               t.tf * ln((select n from n)::double / d.df) as tfidf
        from tf t join df d on t.term = d.term
    )
    select doc_id, term, tf, df, round(tfidf, 6) as tfidf, rnk
    from (
        select *, row_number() over (
            partition by doc_id order by tfidf desc, term
        ) as rnk
        from scored
    ) where rnk <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting: top-3 terms per document — the standard
    quality-filter / term-importance primitive over the corpus
    (functions/text.py:tfidf_top_terms)."""
    from ..functions.text import tfidf_top_terms

    d = t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, n_docs=d.count(), k=3)


@query(
    "doc_fingerprints",
    _SHINGLE_SQL + """
    select s.doc_id,
           md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) as fingerprint,
           list_min(list_transform(s.shingles,
               x -> cast(('0x' || substr(md5(x), 1, 8)) as bigint))) as minhash_0
    from sh s join documents d on s.doc_id = d.doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content md5 + first minhash
    component (rolling-hash family, md5-based for oracle parity)."""
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        minhash_signature("text", num_hashes=1, k=3)[0].alias("minhash_0"),
    )


@query(
    "minhash_lsh_pairs",
    _SHINGLE_SQL + """
    , hp as (
        select doc_id,
               list_transform(shingles, x -> struct_pack(
                   h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                   h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint))) as hp
        from sh
    ),
    sig as (
        select doc_id,
               list_transform(range(0, 8), i ->
                   list_min(list_transform(hp,
                       p -> (p.h1 + i * p.h2) % 4294967296))) as sig
        from hp
    ),
    bands as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' || cast(sig[2*b + 2] as varchar) as val
        from sig cross join unnest([0, 1, 2, 3]) as tb(b)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right
    from bands a
    join bands b on a.b = b.b and a.val = b.val and a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: 8 hashes, 4 bands of 2.
    The oracle replays the identical md5 min-hash in SQL."""
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), num_hashes=8, band_size=2, k=3
    )


_DEDUP_CLUSTERS_SQL = (
    "with recursive" + _SHINGLE_SQL.replace("with toks", " toks", 1) + """
    , hp as (
        select doc_id,
               list_transform(shingles, x -> struct_pack(
                   h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                   h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint))) as hp
        from sh
    ),
    sig as (
        select doc_id,
               list_transform(range(0, 8), i ->
                   list_min(list_transform(hp,
                       p -> (p.h1 + i * p.h2) % 4294967296))) as sig
        from hp
    ),
    bands as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' || cast(sig[2*b + 2] as varchar) as val
        from sig cross join unnest([0, 1, 2, 3]) as tb(b)
    ),
    pairs as (
        select distinct a.doc_id as id_left, b.doc_id as id_right
        from bands a
        join bands b on a.b = b.b and a.val = b.val and a.doc_id < b.doc_id
    ),
    edges as (
        select id_left as a, id_right as b from pairs
        union
        select id_right, id_left from pairs
    ),
    reach(src, dst) as (
        select a, b from edges
        union
        select r.src, e.b from reach r join edges e on r.dst = e.a
    )
    select src as node, least(src, min(dst)) as component
    from reach
    group by src
    """
)


def _dedup_clusters(
    spark: SparkSession, sf_dir: str, label_rounds: int = 3
) -> DataFrame:
    from ..operators.cluster import connected_components

    pairs = minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), num_hashes=8, band_size=2, k=3
    )
    return connected_components(pairs, label_rounds=label_rounds)


@query("dedup_clusters", _DEDUP_CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over the MinHash-LSH near-dup pairs through
    :func:`~ppack_spark.operators.cluster.connected_components` with
    its default label rounds. The oracle computes the exact
    reachability closure with a recursive CTE — exponentially worse
    than the Spark plan, but exact at fixture scale. At sf0.01 and
    sf0.1 the edge set is far below the driver bound, so this gates
    the driver union-find; the distributed rounds are covered by the
    ``distributed(...)`` parity tests in tests/test_cluster.py."""
    return _dedup_clusters(spark, sf_dir)


@query("dedup_clusters_star", _DEDUP_CLUSTERS_SQL)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same gate as ``dedup_clusters_adaptive``, registered under
    its own name so the bench roster and the gate count stay
    unchanged."""
    return dedup_clusters_adaptive(spark, sf_dir)


@query("dedup_clusters_adaptive", _DEDUP_CLUSTERS_SQL)
def dedup_clusters_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` with ``label_rounds=1``, which sends any
    graph that one label round does not finish through the
    contract-then-star path. At sf0.01 and sf0.1 the edge set is far
    below the driver bound, so this gate, too, takes the driver
    union-find; the escalation path is covered by the
    ``distributed(...)`` parity tests in tests/test_cluster.py."""
    return _dedup_clusters(spark, sf_dir, label_rounds=1)


@query(
    "ngram_jaccard_pairs",
    _SHINGLE_SQL + """
    select a.doc_id as id_left, b.doc_id as id_right,
           round(len(list_intersect(a.shingles, b.shingles))::double
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) as jaccard
    from sh a
    join sh b on a.source = b.source and a.doc_id < b.doc_id
    where len(list_intersect(a.shingles, b.shingles))::double
          / len(list_distinct(list_concat(a.shingles, b.shingles))) > 0.5
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs within source blocks.

    Since r12 the registered plan is the PPJoin prefix-filter join
    with the source block composed into the candidate equi-join
    (operators/dedup.py:jaccard_prefix_join, block_col="source") —
    candidate generation is keyed on rare shingles AND the block, not
    block-quadratic. The brute-force within-block all-pairs variant
    (ngram_jaccard_pairs) remains the parity oracle in
    tests/test_dedup.py. Output is identical by the prefix-filter
    lemma (exact verify; strict=True applies the oracle's open
    interval > 0.5 on the unrounded value)."""
    return jaccard_prefix_join(
        t(spark, sf_dir, "documents"),
        k=3,
        threshold=0.5,
        block_col="source",
        strict=True,
    ).select("id_left", "id_right", "jaccard")


# Shared SimHash fingerprint derivation (tokenize → md5 → bit votes →
# packed 32-bit fp), used verbatim by ALL simhash oracles below so the
# tokenization can never drift between gates (same pattern as
# _MEDIA_SQL for the media gates).
_SIMHASH_FP_SQL = """
    with toks as (
        select distinct doc_id, tok
        from (
            select doc_id,
                   unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) as tok
            from documents
        )
    ),
    hashed as (
        select doc_id, cast(('0x' || substr(md5(tok), 1, 8)) as bigint) as hv
        from toks
    ),
    votes as (
        select doc_id, b,
               sum(case when (hv >> b) & 1 = 1 then 1 else -1 end) as v
        from hashed cross join unnest(generate_series(0, 31)) as tb(b)
        group by doc_id, b
    ),
    fp as (
        select doc_id,
               cast(sum(case when v > 0 then (1::bigint << b) else 0 end)
                    as bigint) as simhash
        from votes
        group by doc_id
    )
"""


@query(
    "simhash_fingerprints",
    _SIMHASH_FP_SQL + """
    select doc_id, simhash from fp
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (bit-vote over md5 token hashes)."""
    d = t(spark, sf_dir, "documents")
    return simhash_df(d, text_col="text", id_col="doc_id", bits=32)


@query(
    "simhash_near_dup",
    _SIMHASH_FP_SQL + """,
    with_src as (
        select f.doc_id, f.simhash, d.source
        from fp f join documents d on f.doc_id = d.doc_id
    )
    select a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from with_src a
    join with_src b on a.source = b.source and a.doc_id < b.doc_id
    where bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming ≤ 6 within source blocks."""
    return simhash_pairs(
        t(spark, sf_dir, "documents"),
        bits=32,
        max_hamming=6,
        block_col="source",
    ).select("id_left", "id_right", F.col("hamming").cast("long").alias("hamming"))


# 64-bit SimHash: token hash = first 16 hex chars of md5 as two 32-bit
# halves; DuckDB assembles the 64-bit value in HUGEINT space (bit 63
# would overflow a signed shift) and wraps the vote-packed fingerprint
# back to the signed bigint Spark's shiftleft-composed long holds.
_SIMHASH64_FP_SQL = """
    with toks as (
        select distinct doc_id, tok from (
            select doc_id,
                   unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) as tok
            from documents
        )
    ),
    hashed as (
        select doc_id,
               cast(('0x' || substr(md5(tok), 1, 8)) as bigint)::hugeint
                 * 4294967296::hugeint
               + cast(('0x' || substr(md5(tok), 9, 8)) as bigint)::hugeint as hv
        from toks
    ),
    votes as (
        select doc_id, b,
               sum(case when (hv >> b) & 1 = 1 then 1 else -1 end) as v
        from hashed cross join unnest(generate_series(0, 63)) as tb(b)
        group by doc_id, b
    ),
    fpu as (
        select doc_id,
               sum(case when v > 0 then (1::hugeint << b) else 0::hugeint end) as u
        from votes
        group by doc_id
    ),
    fp as (
        select doc_id,
               cast(u - case when u >= 9223372036854775808::hugeint
                             then 18446744073709551616::hugeint
                             else 0::hugeint end as bigint) as simhash
        from fpu
    )
"""


def _simhash_banded_gate(spark: SparkSession, sf_dir: str, cap=None, bits=64) -> DataFrame:
    return simhash_pairs(
        t(spark, sf_dir, "documents"),
        bits=bits,
        max_hamming=3,
        block_col=None,
        max_bucket_size=cap,
    ).select("id_left", "id_right", F.col("hamming").cast("long").alias("hamming"))


@query(
    "simhash_near_dup_banded",
    _SIMHASH64_FP_SQL + """,
    seg as (
        select doc_id, simhash, s as seg_idx,
               (simhash >> (s * 16)) & 65535 as seg_val
        from fp cross join unnest(generate_series(0, 3)) as ts(s)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from seg a
    join seg b on a.seg_idx = b.seg_idx and a.seg_val = b.seg_val
              and a.doc_id < b.doc_id
    where bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide SimHash near-dup WITHOUT a block column: candidate
    pairs by pigeonhole segment blocking (Manku et al. WWW'07 —
    operators/dedup.py:hamming_segment_pairs). The fingerprint splits
    into max_hamming+1 = 4 segments; every pair at Hamming ≤ 3 must
    agree on one of them, so candidates are an equi-join on
    (segment_idx, segment_value) — no cross join anywhere — and the
    oracle replays the segmentation, join, verify, and pair-distinct
    stage for stage. Round 9: the registered config is the PRODUCTION
    64-bit fingerprint (16-bit segments → 65 536 buckets per index,
    measured exp 0.19 to sf1 in SCALE_r08 where the old 32-bit config
    was exp 1.58 / 199 s at sf1 — 256 buckets per index make bucket
    populations, hence the pair budget, grow quadratically with n).
    The 32-bit configuration stays exercised as a unit case in
    tests/test_dedup.py and by the `simhash_near_dup` /
    `simhash_near_dup_capped` gates; this uncapped gate isolates the
    segment-blocking semantics, `simhash_near_dup_wide64` adds the
    hot-bucket cap on top."""
    return _simhash_banded_gate(spark, sf_dir, cap=None, bits=64)


@query(
    "simhash_near_dup_capped",
    _SIMHASH_FP_SQL + """,
    seg as (
        select doc_id, simhash, s as seg_idx,
               (simhash >> (s * 8)) & 255 as seg_val
        from fp cross join unnest(generate_series(0, 3)) as ts(s)
    ),
    keep as (
        select seg_idx, seg_val from seg
        group by seg_idx, seg_val having count(*) <= 8
    ),
    segk as (
        select seg.doc_id, seg.simhash, seg.seg_idx, seg.seg_val
        from seg join keep using (seg_idx, seg_val)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from segk a
    join segk b on a.seg_idx = b.seg_idx and a.seg_val = b.seg_val
               and a.doc_id < b.doc_id
    where bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segment-blocked Hamming path WITH the hot-bucket cap
    (E107's `max_bucket_size`, the Hamming twin of the LSH cap E104):
    segments holding more than 8 members are dropped BEFORE the
    candidate self-join — the documented recall trade (a pair whose
    every agreeing segment is hot is lost; pairs keep surfacing via
    their other, cold segments). The oracle replays the per-bucket
    count filter, so the cap's exact semantics — not just its
    existence — are hash-checked. Stays on the 32-bit fingerprint:
    at gate scale the 256-bucket indexes actually HAVE hot buckets
    for the cap to bite on (a 64-bit config's 65 536-bucket indexes
    rarely trip a cap of 8 at sf0.01)."""
    return _simhash_banded_gate(spark, sf_dir, cap=8, bits=32)


@query(
    "simhash_near_dup_wide64",
    _SIMHASH64_FP_SQL + """,
    seg as (
        select doc_id, simhash, s as seg_idx,
               (simhash >> (s * 16)) & 65535 as seg_val
        from fp cross join unnest(generate_series(0, 3)) as ts(s)
    ),
    keep as (
        select seg_idx, seg_val from seg
        group by seg_idx, seg_val having count(*) <= 32
    ),
    segk as (
        select seg.doc_id, seg.simhash, seg.seg_idx, seg.seg_val
        from seg join keep using (seg_idx, seg_val)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from segk a
    join segk b on a.seg_idx = b.seg_idx and a.seg_val = b.seg_val
               and a.doc_id < b.doc_id
    where bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_dup_wide64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB SimHash config the banded gate's own docstring
    prescribes (registry r7 "at 100 TB widen to 64-bit fingerprints"):
    64-bit fingerprints → max_hamming+1 = 4 SIXTEEN-bit pigeonhole
    segments (65 536 buckets per segment index instead of 256, so
    bucket sizes stay ~n/65k instead of ~n/256 and the candidate
    equi-join's pair budget stays near-linear), plus the default
    hot-bucket cap (max_bucket_size=32) guarding degenerate segments
    (e.g. the all-zero high words of short docs). DuckDB replays the
    two-half 64-bit hash assembly, every bit vote, the signed wrap,
    the 16-bit segmentation, the cap filter, and the Hamming verify —
    scale-proven at sf0.2→1 in SCALE_r08.json (the round-7 verdict's
    item 3)."""
    return simhash_pairs(
        t(spark, sf_dir, "documents"),
        bits=64,
        max_hamming=3,
        block_col=None,
        max_bucket_size=32,
    ).select("id_left", "id_right", F.col("hamming").cast("long").alias("hamming"))


# --------------------------------------------------------------------
# multimodal — opaque binary payload columns (operators/multimodal.py)
# --------------------------------------------------------------------

# Deterministic fake payload: 3 md5 digests of a seed id (= id modulo
# the dup-group count, planting identical-payload duplicate groups).
_MEDIA_SQL = """
    with g as (select greatest(count(*) // 5, 1) as g from documents),
    media as (
        select doc_id,
               md5('media1:' || cast(doc_id % (select g from g) as varchar))
               || md5('media2:' || cast(doc_id % (select g from g) as varchar))
               || md5('media3:' || cast(doc_id % (select g from g) as varchar)) as hx,
               (['image', 'audio', 'video'])[cast(doc_id % 3 as int) + 1] as kind
        from documents
    ),
    hashed as (
        select doc_id, kind, hx,
               cast(list_sum(list_transform(range(1, 33), i ->
                   case when cast(('0x' || substr(hx, 2*i - 1, 2)) as bigint)
                             > cast(('0x' || substr(hx, 2*i + 1, 2)) as bigint)
                        then (1::bigint << (i - 1)) else 0::bigint end)) as bigint) as phash
        from media
    )
"""


def _media_cte_body() -> str:
    """_MEDIA_SQL's CTE list without its leading WITH, for embedding
    under a WITH RECURSIVE prefix. Asserts the marker actually
    matched so a reworded _MEDIA_SQL fails loudly here instead of
    silently corrupting the derived oracle."""
    body = _MEDIA_SQL.replace("with g as", " g as", 1)
    assert body != _MEDIA_SQL, "_MEDIA_SQL no longer starts 'with g as'"
    return body



@query(
    "media_metadata",
    _MEDIA_SQL + """
    select doc_id, kind,
           cast(octet_length(unhex(hx)) as int) as n_bytes,
           cast(64 + cast(('0x' || substr(hx, 1, 2)) as bigint) as int) as width,
           cast(64 + cast(('0x' || substr(hx, 3, 2)) as bigint) as int) as height,
           phash
    from hashed
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: opaque payload bytes + typed metadata
    struct + dHash perceptual fingerprint, every byte reproducible in
    the DuckDB oracle via the same md5/hex arithmetic
    (operators/multimodal.py)."""
    from ..operators.multimodal import dhash_from_hex, with_fake_media

    d = t(spark, sf_dir, "documents")
    n = d.count()
    media = with_fake_media(d.select("doc_id"), dup_groups=max(n // 5, 1))
    return media.select(
        "doc_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        dhash_from_hex("payload_hex").alias("phash"),
    )


@query(
    "media_phash_near_dup",
    _MEDIA_SQL + """
    select a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.phash, b.phash)) as hamming
    from hashed a
    join hashed b on a.kind = b.kind and a.doc_id < b.doc_id
    where bit_count(xor(a.phash, b.phash)) <= 6
    """,
)
def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over the bytes column: Hamming(dHash)
    ≤ 6 within kind blocks — the planted duplicate groups (identical
    payloads) surface at hamming 0. Only (id, kind, phash) shuffles;
    payload bytes stay at the scan."""
    from ..operators.multimodal import phash_near_dup_pairs, with_fake_media

    d = t(spark, sf_dir, "documents")
    n = d.count()
    media = with_fake_media(d.select("doc_id"), dup_groups=max(n // 5, 1))
    return phash_near_dup_pairs(media).select(
        "id_left", "id_right", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "phash_near_dup_banded",
    _MEDIA_SQL + """,
    seg as (
        select h.doc_id, h.phash, s.seg_idx,
               (h.phash >> s.seg_start) & s.seg_mask as seg_val
        from hashed h
        cross join (values (0, 0, 15), (1, 4, 31), (2, 9, 15), (3, 13, 31),
                           (4, 18, 15), (5, 22, 31), (6, 27, 31))
             as s(seg_idx, seg_start, seg_mask)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right,
           bit_count(xor(a.phash, b.phash)) as hamming
    from seg a
    join seg b on a.seg_idx = b.seg_idx and a.seg_val = b.seg_val
              and a.doc_id < b.doc_id
    where bit_count(xor(a.phash, b.phash)) <= 6
    """,
)
def phash_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup across ALL kinds (no block column): dHash pairs
    at Hamming ≤ 6 with candidates from pigeonhole segment blocking —
    the 32-bit fingerprint splits into 7 segments (widths 4/5 by the
    floor(i·bits/n) layout, exactly what hamming_segment_pairs emits),
    and the oracle replays the same (seg_idx, seg_start, seg_mask)
    table, equi-join, Hamming verify, and pair-distinct. Re-encoded
    copies stored under different media kinds surface here at
    hamming 0 — the cross-kind recall the kind-blocked gate above
    gives up by design."""
    from ..operators.multimodal import phash_near_dup_pairs, with_fake_media

    d = t(spark, sf_dir, "documents")
    n = d.count()
    media = with_fake_media(d.select("doc_id"), dup_groups=max(n // 5, 1))
    return phash_near_dup_pairs(media, block_col=None, max_hamming=6).select(
        "id_left", "id_right", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "media_near_dedup",
    "with recursive" + _media_cte_body() + """,
    pairs as (
        select a.doc_id as id_left, b.doc_id as id_right
        from hashed a
        join hashed b on a.kind = b.kind and a.doc_id < b.doc_id
        where bit_count(xor(a.phash, b.phash)) <= 6
    ),
    edges as (
        select id_left as a, id_right as b from pairs
        union
        select id_right, id_left from pairs
    ),
    reach(src, dst) as (
        select a, b from edges
        union
        select r.src, e.b from reach r join edges e on r.dst = e.a
    ),
    comp as (
        select src as node, least(src, min(dst)) as component
        from reach group by src
    )
    select m.doc_id, m.kind
    from hashed m
    left join (select node from comp where node <> component) l
      on m.doc_id = l.node
    where l.node is null
    """,
)
def media_near_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dedup end-to-end (operators/multimodal.py:
    media_near_dedup): Hamming(dHash) ≤ 6 pairs within kind blocks →
    recursive closure → one canonical asset per near-dup group; the
    planted duplicate groups collapse to their min id. Only 64-bit
    hashes shuffle; the oracle replays pairs, closure, and anti-join."""
    from ..operators.multimodal import media_near_dedup, with_fake_media

    d = t(spark, sf_dir, "documents")
    n = d.count()
    media = with_fake_media(d.select("doc_id"), dup_groups=max(n // 5, 1))
    return media_near_dedup(media).select("doc_id", "kind")


# --------------------------------------------------------------------
# embeddings — similarity search
# --------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::double * {b}[i]::double), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)})))"
    )


@query(
    "embedding_cosine_topk",
    f"""
    with q as (select vec_id, embedding from embeddings where vec_id < 5),
    c as (select vec_id, embedding from embeddings),
    scored as (
        select q.vec_id as query_id, c.vec_id as neighbor_id,
               round({_cos_sql('q.embedding', 'c.embedding')}, 6) as cos_sim
        from q cross join c
        where q.vec_id <> c.vec_id
    )
    select query_id, neighbor_id, cos_sim, rank from (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank
        from scored
    ) where rank <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 vectors (ANN
    correctness baseline; left-fold dot product matches the oracle's
    evaluation order exactly, so rounded values agree)."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    out = cosine_topk(queries, e, k=10)
    return out.select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


@query(
    "ann_recall_report",
    f"""
    with q as (select vec_id, embedding from embeddings where vec_id < 5),
    c as (select vec_id, embedding from embeddings),
    scored as (
        select q.vec_id as query_id, c.vec_id as neighbor_id,
               round({_cos_sql('q.embedding', 'c.embedding')}, 6) as cos_sim
        from q cross join c
        where q.vec_id <> c.vec_id
    ),
    ranked as (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank
        from scored
    ),
    ex as (select query_id, neighbor_id from ranked where rank <= 10),
    ap as (select query_id, neighbor_id from ranked where rank <= 5)
    select e.query_id,
           round(cast(count(a.neighbor_id) as double) / count(*), 6)
             as recall
    from ex e
    left join ap a using (query_id, neighbor_id)
    group by e.query_id
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall measurement harness (operators/ann.py:topk_recall): the
    recall join/aggregation itself is verified by comparing exact
    top-5 against exact top-10 (recall exactly 0.5 per query, replayed
    in SQL); tests/test_ann.py then applies the same operator to the
    real LSH/IVF/PQ variants where the oracle can't follow."""
    from ..operators.ann import cosine_topk, topk_recall

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, e, k=10)
    approx = cosine_topk(queries, e, k=5)
    return topk_recall(approx, exact)


@query(
    "embedding_near_dup",
    f"""
    with e as (select vec_id, label, embedding from embeddings)
    select a.vec_id as id_left, b.vec_id as id_right,
           round({_cos_sql('a.embedding', 'b.embedding')}, 6) as cos_sim
    from e a
    join e b on a.label = b.label and a.vec_id < b.vec_id
    where round({_cos_sql('a.embedding', 'b.embedding')}, 6) > 0.25
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine > 0.25 within label
    blocks (the embedding analogue of blocked n-gram Jaccard)."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_near_dup_pairs(
        e, block_col="label", threshold=0.25, round_digits=6
    )


def _ivf_assign_sql(cent: str, out: str) -> str:
    """One Lloyd assignment CTE pair: argmin squared-L2 of every
    vector against the ``cent`` centroid table (centroid-id
    tie-break), emitted as CTE ``{out}``."""
    l2 = (
        "list_reduce(list_transform(generate_series(1, 64), i -> "
        f"(e.embedding[i]::double - c.cvec[i]) * "
        f"(e.embedding[i]::double - c.cvec[i])), (x, y) -> x + y)"
    )
    return f"""
    {out} as (
        select vec_id, centroid from (
            select e.vec_id, c.centroid,
                   row_number() over (
                       partition by e.vec_id order by {l2} asc, c.centroid asc
                   ) as rn
            from e cross join {cent} c
        ) where rn = 1
    )"""


def _ivf_update_sql(asg: str, prev: str, out: str) -> str:
    """One Lloyd update CTE chain: per-dimension means of ``asg``'s
    clusters rounded to 6 decimals (summation-order noise collapsed,
    so both engines walk identical centroid trajectories); empty
    clusters keep their ``prev`` centroid."""
    return f"""
    {out}_m as (
        select a.centroid, ti.i,
               round(avg(e2.embedding[ti.i]::double), 6) as m
        from {asg} a join e e2 using (vec_id)
        cross join unnest(generate_series(1, 64)) as ti(i)
        group by a.centroid, ti.i
    ),
    {out}_u as (
        select centroid, list(m order by i) as cvec
        from {out}_m group by centroid
    ),
    {out} as (
        select p.centroid, coalesce(u.cvec, p.cvec) as cvec
        from {prev} p left join {out}_u u using (centroid)
    )"""


@query(
    "ann_ivf_topk",
    f"""
    with e as (select vec_id, embedding from embeddings),
    c0 as (
        select cast(rn - 1 as int) as centroid, cvec from (
            select row_number() over (
                       order by md5(cast(vec_id as varchar) || ':ivfseed'),
                                vec_id
                   ) as rn,
                   list_transform(embedding, x -> x::double) as cvec
            from e
        ) where rn <= 8
    ),{_ivf_assign_sql('c0', 'a1')},{_ivf_update_sql('a1', 'c0', 'c1')},
    {_ivf_assign_sql('c1', 'a2')},{_ivf_update_sql('a2', 'c1', 'c2')},
    {_ivf_assign_sql('c2', 'af')},
    qc as (
        select q.vec_id as query_id, c.centroid,
               {_cos_sql('q.embedding', 'c.cvec')} as cd
        from e q cross join c2 c
        where q.vec_id < 5
    ),
    pr as (
        select query_id, centroid from (
            select *, row_number() over (
                partition by query_id order by cd desc, centroid
            ) as rn from qc
        ) where rn <= 5
    ),
    scored as (
        select p.query_id, af.vec_id as neighbor_id,
               round({_cos_sql('qe.embedding', 'ce.embedding')}, 6) as cos_sim
        from pr p
        join af on p.centroid = af.centroid
        join e qe on qe.vec_id = p.query_id
        join e ce on ce.vec_id = af.vec_id
        where p.query_id <> af.vec_id
    )
    select query_id, neighbor_id, cos_sim, rank from (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank
        from scored
    ) where rank <= 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: inverted lists from the DETERMINISTIC
    quantizer (operators/ann.py:ivf_index_fixed — md5-ranked seeds,
    2 Lloyd rounds with 6-decimal-rounded means), each query scanning
    its n_probe=5 nearest centroids' lists via an equi-join on the
    centroid id. The oracle replays the entire index build (seeding,
    both assignment/update rounds, final lists) plus probe selection
    and re-rank, so the approximate result is hash-checked — the
    Spark-ML k-means trainer (ivf_index) remains the adaptive
    alternative, recall-gated in tests/test_ann.py."""
    from ..operators.ann import cosine_topk_ivf, ivf_index_fixed

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    idx = ivf_index_fixed(e, dims=64, n_centroids=8, iters=2)
    return cosine_topk_ivf(
        queries, e, k=10, n_probe=5, index=idx
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_fixed_sql(
    m: int = 8,
    k: int = 16,
    dims: int = 64,
    iters: int = 2,
    n_queries: int = 5,
    shortlist: int = 120,
    topk: int = 10,
) -> str:
    """Generate the full PQ-fixed oracle: normalization, per-subspace
    md5 seeding, the rounded Lloyd rounds, literal-free encoding, ADC
    lookup scoring summed IN SUBSPACE ORDER, shortlist cut, exact
    re-rank — every fold a left-to-right ``list_reduce`` matching the
    Spark ``aggregate``/pure-Python folds bit-for-bit (see
    operators/ann.py:cosine_topk_pq_fixed)."""
    return (
        "with "
        + ",".join(_pq_parts(m, k, dims, iters, n_queries))
        + _pq_tail_sql(
            m,
            shortlist,
            topk,
            cand_join="",
            self_filter="where query_id <> nid",
        )
    )


def _pq_parts(m: int, k: int, dims: int, iters: int, n_queries: int) -> list[str]:
    """The shared PQ CTE chain: normalized vectors, per-subspace
    seeding + rounded Lloyd rounds + final codes + query LUTs."""
    dsub = dims // m
    parts = [
        f"""
    pe as (select vec_id, list_transform(embedding, x -> x::double) as v
          from embeddings
          where embedding is not null and len(embedding) = {dims}),
    nv as (select vec_id,
                  list_transform(v, x -> x / greatest(nrm, 1e-12)) as nv
           from (select vec_id, v,
                        sqrt(list_reduce(list_transform(v, x -> x * x),
                                         (a, b) -> a + b)) as nrm
                 from pe))"""
    ]
    for s in range(m):
        off = s * dsub
        d2 = (
            f"list_reduce(list_transform(generate_series(1, {dsub}), i -> "
            f"(n.nv[{off} + i] - c.cv[i]) * (n.nv[{off} + i] - c.cv[i])), "
            "(x, y) -> x + y)"
        )
        parts.append(f"""
    s{s}_c0 as (
        select cast(rn - 1 as int) as c, nv[{off + 1}:{off + dsub}] as cv
        from (select row_number() over (
                  order by md5(cast(vec_id as varchar) || ':pqseed:{s}'),
                           vec_id) as rn, nv
              from nv)
        where rn <= {k})""")
        for it in range(1, iters + 1):
            parts.append(f"""
    s{s}_a{it} as (
        select vec_id, c from (
            select n.vec_id, c.c,
                   row_number() over (
                       partition by n.vec_id order by {d2} asc, c.c asc
                   ) as rn
            from nv n cross join s{s}_c{it - 1} c) where rn = 1),
    s{s}_c{it}_m as (
        select a.c, ti.i, round(avg(n2.nv[{off} + ti.i]), 6) as mval
        from s{s}_a{it} a join nv n2 using (vec_id)
        cross join unnest(generate_series(1, {dsub})) as ti(i)
        group by a.c, ti.i),
    s{s}_c{it}_u as (
        select c, list(mval order by i) as cv from s{s}_c{it}_m group by c),
    s{s}_c{it} as (
        select p.c, coalesce(u.cv, p.cv) as cv
        from s{s}_c{it - 1} p left join s{s}_c{it}_u u using (c))""")
        parts.append(f"""
    s{s}_cf as (
        select vec_id, c from (
            select n.vec_id, c.c,
                   row_number() over (
                       partition by n.vec_id order by {d2} asc, c.c asc
                   ) as rn
            from nv n cross join s{s}_c{iters} c) where rn = 1),
    lut{s} as (
        select q.vec_id as query_id, c.c,
               list_reduce(list_transform(generate_series(1, {dsub}), i ->
                   q.nv[{off} + i] * c.cv[i]), (x, y) -> x + y) as val
        from nv q cross join s{s}_c{iters} c
        where q.vec_id < {n_queries})""")
    return parts


def _pq_tail_sql(
    m: int, shortlist: int, topk: int, cand_join: str, self_filter: str
) -> str:
    """ADC scoring (subspace-ORDERED fold), shortlist cut, exact
    re-rank. ``cand_join`` optionally restricts each contribution to
    an upstream candidate set (the IVF probe lists)."""
    contrib = "\n        union all ".join(
        f"select f.vec_id as nid, l.query_id, {s} as s, l.val "
        f"from s{s}_cf f join lut{s} l on f.c = l.c{cand_join.format(s=s)}"
        for s in range(m)
    )
    return f""",
    contrib as (
        {contrib}),
    adc as (
        select query_id, nid,
               list_reduce(list(val order by s), (x, y) -> x + y) as adc_score
        from contrib group by query_id, nid),
    short as (
        select query_id, nid from (
            select *, row_number() over (
                partition by query_id order by adc_score desc, nid asc
            ) as rn
            from adc {self_filter}) where rn <= {shortlist}),
    scored as (
        select s.query_id, s.nid as neighbor_id,
               round({_cos_sql('qe.embedding', 'ce.embedding')}, 6) as cos_sim
        from short s
        join embeddings qe on qe.vec_id = s.query_id
        join embeddings ce on ce.vec_id = s.nid)
    select query_id, neighbor_id, cos_sim, rank from (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank from scored) where rank <= {topk}
    """


@query("ann_pq_topk", _pq_fixed_sql())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k, ORACLE-GRADE since
    round 7 (operators/ann.py:cosine_topk_pq_fixed): md5-seeded
    rounded-Lloyd codebooks per subspace, literal argmin encoding,
    pure-fold ADC lookup tables, deterministic shortlist, exact
    re-rank — the DuckDB oracle replays the entire chain (training
    included) bit-for-bit, converting the former no-oracle row into a
    hash-checked one. The numpy/BLAS scan path (cosine_topk_pq, the
    100 TB shape: m-BYTE codes, per-partition shortlists) remains the
    production variant, recall-gated in tests/test_ann.py."""
    from ..operators.ann import cosine_topk_pq_fixed

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_pq_fixed(
        queries, e, k=10, m=8, n_centroids=16, shortlist_mult=12
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


_PLANE_SQL = (
    "(cast(('0x' || substr(md5(cast({b} as varchar) || ':' "
    "|| cast(i - 1 as varchar)), 1, 8)) as bigint) / 2147483648.0 - 1.0)"
)


@query(
    "ann_lsh_topk",
    f"""
    with e as (select vec_id, embedding from embeddings),
    dots as (
        select vec_id, b,
               list_reduce(list_transform(generate_series(1, 64), i ->
                   embedding[i]::double * {_PLANE_SQL.format(b='b')}),
                   (x, y) -> x + y) as dp
        from e cross join unnest(generate_series(0, 3)) as tb(b)
    ),
    bk as (
        select vec_id,
               cast(sum(case when dp > 0 then (1::bigint << b) else 0 end)
                    as bigint) as bucket
        from dots group by vec_id
    ),
    qp as (
        select vec_id as query_id, xor(bucket, m) as bucket
        from bk cross join unnest([0, 1, 2, 4, 8, 3, 5, 9, 6, 10, 12]) as tm(m)
        where vec_id < 5
    ),
    cand as (
        select distinct q.query_id, c.vec_id as neighbor_id
        from qp q join bk c on q.bucket = c.bucket
        where q.query_id <> c.vec_id
    ),
    scored as (
        select cand.query_id, cand.neighbor_id,
               round({_cos_sql('qe.embedding', 'ce.embedding')}, 6) as cos_sim
        from cand
        join e qe on qe.vec_id = cand.query_id
        join e ce on ce.vec_id = cand.neighbor_id
    )
    select query_id, neighbor_id, cos_sim, rank from (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank
        from scored
    ) where rank <= 10
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k — the 100 TB path
    where the corpus×corpus cross join is replaced by a bucket join.
    Config matches the recall-gated one in tests/test_ann.py. The
    hyperplanes are md5-derived literals (operators/ann.py:
    _hyperplane), so the ORACLE replays the whole pipeline — sketch
    bits, multi-probe mask fan-out (Hamming ≤ 2 over 4 planes),
    bucket equi-join, candidate dedup, and the exact re-rank — making
    the approximate result hash-checkable, not merely recall-gated."""
    from ..operators.ann import cosine_topk_lsh

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh(
        queries, e, dims=64, k=10, n_planes=4, multi_probe=2
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------
# corpus preparation: decontamination, sampling, packing, PII
# --------------------------------------------------------------------


@query(
    "eval_decontamination",
    _SHINGLE_SQL + """
    , ev as (select doc_id as eval_id, shingles from sh where doc_id % 100 = 0),
      evx as (select eval_id, unnest(shingles) as shingle from ev),
      cox as (select doc_id, unnest(shingles) as shingle
              from sh where doc_id % 100 != 0),
      hits as (select doc_id, eval_id, count(*) as n_shared
               from cox join evx using (shingle) group by 1, 2
               having count(*) >= 2),
      sizes as (select eval_id, len(shingles) as n_eval_shingles from ev)
    select h.doc_id, h.eval_id, h.n_shared,
           round(h.n_shared / s.n_eval_shingles, 6) as containment
    from hits h join sizes s using (eval_id)
    """,
)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/pipeline.py): corpus docs
    sharing >= 2 distinct word 3-grams with a held-out eval slice
    (doc_id % 100 == 0). The eval side is broadcast — the corpus scan
    never shuffles; this is the GPT-3-style n-gram-overlap
    decontamination pass at its 100 TB shape."""
    from ..operators.pipeline import eval_ngram_contamination
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    ev = d.filter(F.col("doc_id") % 100 == 0)
    co = d.filter(F.col("doc_id") % 100 != 0)
    return eval_ngram_contamination(co, ev, k=3, min_shared=2)


@query(
    "bloom_decontamination",
    _SHINGLE_SQL + """
    , ev as (select shingles from sh where doc_id % 100 = 0),
    evpos as (
        select distinct (h1 + i * h2) % 65536 as p
        from (
            select cast(('0x' || substr(md5(g), 1, 8)) as bigint) as h1,
                   cast(('0x' || substr(md5(g), 9, 8)) as bigint) as h2
            from (select distinct unnest(shingles) as g from ev)
        ) cross join unnest([0, 1]) as ti(i)
    ),
    cg as (select doc_id, unnest(shingles) as g from sh),
    cpos as (
        select doc_id, g, i,
               (cast(('0x' || substr(md5(g), 1, 8)) as bigint)
                + i * cast(('0x' || substr(md5(g), 9, 8)) as bigint))
               % 65536 as p
        from cg cross join unnest([0, 1]) as ti(i)
    ),
    chit as (
        select doc_id, g
        from cpos join evpos using (p)
        group by doc_id, g
        having count(distinct i) = 2
    ),
    hits as (select doc_id, count(*) as n from chit group by doc_id)
    select d.doc_id,
           cast(coalesce(h.n, 0) as bigint) as n_bloom_hits,
           coalesce(h.n, 0) >= 2 as contaminated
    from documents d left join hits h using (doc_id)
    """,
)
def bloom_decontamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/pipeline.py:
    bloom_bitmap + bloom_contamination): the eval slice's word 3-grams
    are folded into a 65536-bit md5-double-hashed Bloom bitmap, and
    the corpus check is a join-free, shuffle-free map expression with
    the bitmap inlined as a plan literal — the decontamination shape
    that piggybacks on any corpus pass at 100 TB. The oracle replays
    membership via the position SET (identical semantics: the bitmap
    has exactly the eval positions' bits set)."""
    from ..operators.pipeline import bloom_bitmap, bloom_contamination
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    ev = d.filter(F.col("doc_id") % 100 == 0)
    bmp = bloom_bitmap(ev, k=3, n_bits=1 << 16, n_hashes=2)
    return bloom_contamination(d, bmp, k=3, n_hashes=2, min_hits=2).select(
        "doc_id", "n_bloom_hits", "contaminated"
    )


@query(
    "sample_uniform_hash",
    """
    select doc_id, lang, source from documents
    where substr(md5(cast(doc_id as varchar)), 1, 4) < '2000'
    """,
)
def sample_uniform_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% uniform sample by md5(id) prefix
    (operators/pipeline.py:hash_sample): reproducible across engines,
    runs, and partitionings — a pure pushed-down filter, unlike
    df.sample() whose output depends on partition layout."""
    from ..operators.pipeline import hash_sample

    d = t(spark, sf_dir, "documents")
    return hash_sample(d, 0.125).select("doc_id", "lang", "source")


@query(
    "sample_stratified_quota",
    """
    select doc_id, lang, sample_rank from (
      select doc_id, lang,
             row_number() over (partition by lang
                order by substr(md5(cast(doc_id as varchar)), 1, 8), doc_id)
               as sample_rank
      from documents) where sample_rank <= 20
    """,
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quota sample: 20 docs per language, chosen by
    smallest md5(id) (operators/pipeline.py:stratified_quota_sample).
    Rank-pruned window — O(k) memory per stratum at scale."""
    from ..operators.pipeline import stratified_quota_sample

    d = t(spark, sf_dir, "documents")
    return stratified_quota_sample(d, ["lang"], 20).select(
        "doc_id", "lang", "sample_rank"
    )


@query(
    "sequence_packing",
    """
    with base as (
      select doc_id,
             case when length(trim(text)) = 0 then 0
                  else len(string_split_regex(trim(text), '\\s+')) end as n_tokens,
             doc_id % 16 as bucket
      from documents
    ),
    cum as (
      select doc_id, n_tokens, bucket,
             sum(n_tokens) over (partition by bucket order by doc_id
                 rows between unbounded preceding and current row) as c
      from base
    )
    select doc_id, n_tokens, bucket,
           cast(floor((c - n_tokens) / 512) as bigint) as seq_id,
           cast((c - n_tokens) % 512 as bigint) as seq_offset
    from cum
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/pipeline.py):
    contiguous fill of 512-token training sequences inside 16 hash
    buckets — one window per bucket, no global sort, no driver state;
    at 100 TB raise n_buckets to O(cores) and the plan is unchanged."""
    from ..operators.pipeline import pack_sequences

    d = t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=512, n_buckets=16)


_PII_AUG_SQL = (
    "text || case when doc_id % 7 = 0 then"
    " ' contact alice.smith+x@example-corp.com or"
    " https://example.com/a?tok=9f&u=bob@x.io now'"
    " when doc_id % 11 = 0 then"
    " ' call +1 (415) 555-0199 or 020 7946 0958 today'"
    " else '' end"
)


@query(
    "pii_stats",
    f"""
    with aug as (select doc_id, {_PII_AUG_SQL} as t from documents)
    select doc_id,
           len(regexp_extract_all(t, 'https?://[^\\s]+')) as n_url,
           len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) as n_email,
           len(regexp_extract_all(t, '\\+?[0-9][0-9()\\s.-]{{7,}}[0-9]')) as n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                'https?://[^\\s]+', '<URL>', 'g'),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                '\\+?[0-9][0-9()\\s.-]{{7,}}[0-9]', '<PHONE>', 'g')) as redacted_md5
    from aug
    """,
)
def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/text.py:redact_pii): URL /
    email / phone counts on raw text and the md5 of the redacted text.
    The synthetic corpus contains no PII, so a deterministic augmented
    column injects known instances on both engines identically — the
    operator itself is generic. Pure codegen map work, zero shuffle;
    the patterns are valid and identical in Java regex and RE2."""
    from ..functions.text import pii_counts, redact_pii

    d = t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(
                    " contact alice.smith+x@example-corp.com or"
                    " https://example.com/a?tok=9f&u=bob@x.io now"
                ),
            )
            .when(
                F.col("doc_id") % 11 == 0,
                F.lit(" call +1 (415) 555-0199 or 020 7946 0958 today"),
            )
            .otherwise(F.lit("")),
        ),
    )
    cnts = pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        cnts["n_url"].alias("n_url"),
        cnts["n_email"].alias("n_email"),
        cnts["n_phone"].alias("n_phone"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
    )


# --------------------------------------------------------------------
# corpus hygiene round 2: line-level dedup, repetition signals,
# temperature mixing, incremental merge (operators/pipeline.py,
# functions/text.py)
# --------------------------------------------------------------------

# every multi-line gate re-wraps the (single-line) documents fixture
# into 8-word lines first, so cross-document line duplicates actually
# exist; the SQL mirror of functions/text.py:rewrap_lines
_CHUNKED_SQL = """
    select doc_id,
           array_to_string(
             list_transform(
               generate_series(0,
                 cast(ceil(len(string_split(text, ' ')) / 8.0) as int) - 1),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i*8+1, i*8+8), ' ')),
             chr(10)) as t
    from documents
"""


@query(
    "line_dedup_corpus",
    f"""
    with chunked as ({_CHUNKED_SQL}),
    lines as (
        select doc_id,
               unnest(string_split(t, chr(10))) as line,
               unnest(generate_series(1, len(string_split(t, chr(10))))) as pos
        from chunked
    ),
    dup as (
        select md5(line) as h from lines group by 1 having count(*) > 1
    ),
    kept as (
        select l.doc_id, l.line, l.pos
        from lines l
        left join dup d on md5(l.line) = d.h and length(l.line) >= 5
        where d.h is null
    ),
    rebuilt as (
        select doc_id, count(*) as n_kept,
               string_agg(line, chr(10) order by pos) as t2
        from kept group by doc_id
    )
    select c.doc_id,
           cast(coalesce(r.n_kept, 0) as bigint) as n_lines_kept,
           md5(coalesce(r.t2, '')) as clean_md5
    from chunked c left join rebuilt r using (doc_id)
    """,
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup
    (operators/pipeline.py:dedup_corpus_lines): lines occurring more
    than once corpus-wide (and ≥ 5 chars) are dropped from every
    document; surviving lines are re-assembled in order. Only 32-byte
    line hashes ever shuffle; the duplicated-hash set joins back
    broadcast-size."""
    from ..functions.text import rewrap_lines
    from ..operators.pipeline import dedup_corpus_lines
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    chunked = d.select("doc_id", rewrap_lines("text", 8).alias("text"))
    out = dedup_corpus_lines(chunked, max_occurrences=1, min_line_chars=5)
    return out.select(
        "doc_id",
        "n_lines_kept",
        F.md5(F.col("text")).alias("clean_md5"),
    )


@query(
    "repetition_signals",
    f"""
    with chunked as ({_CHUNKED_SQL}),
    s as (
        select doc_id,
               string_split(t, chr(10)) as lines,
               string_split_regex(trim(t), '\\s+') as words
        from chunked
    )
    select doc_id,
           cast(len(lines) as bigint) as n_lines,
           cast(len(words) as bigint) as n_words,
           round((len(lines) - len(list_distinct(lines)))
                 / cast(len(lines) as double), 6) as dup_line_frac,
           round((len(words) - len(list_distinct(words)))
                 / cast(len(words) as double), 6) as dup_word_frac
    from s
    """,
)
def repetition_signals_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals
    (functions/text.py:repetition_signals): duplicate-line and
    duplicate-word fractions. Pure array expressions — per-doc map
    work, zero shuffle."""
    from ..functions.text import repetition_signals, rewrap_lines

    d = t(spark, sf_dir, "documents")
    chunked = d.select("doc_id", rewrap_lines("text", 8).alias("t"))
    sig = repetition_signals(F.col("t"))
    return chunked.select(
        "doc_id",
        sig["n_lines"].cast("long").alias("n_lines"),
        sig["n_words"].cast("long").alias("n_words"),
        F.round(sig["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(sig["dup_word_frac"], 6).alias("dup_word_frac"),
    )


@query(
    "temperature_mix",
    """
    with g as (
        select lang, cast(count(*) as double) as n
        from documents group by lang
    ),
    r as (
        select lang,
               least(1.0, 250.0 * (pow(n, 0.5) / sum(pow(n, 0.5)) over ())
                     / n) as rate
        from g
    )
    select d.doc_id, d.lang, d.source
    from documents d join r using (lang)
    where ('0x' || substr(md5(cast(d.doc_id as varchar) || 'mix'), 1, 8))::bigint
          < r.rate * 4294967296.0
    """,
)
def temperature_mix_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing
    (operators/pipeline.py:temperature_mix): per-language acceptance
    rates ∝ count^0.5 re-weight the corpus toward rare languages,
    selection by md5(id ∥ 'mix') prefix so the mix replays
    bit-identically in any engine AND draws independently of the other
    hash samplers. Corpus never shuffles — tiny rate table broadcast
    back."""
    from ..operators.pipeline import temperature_mix

    d = t(spark, sf_dir, "documents")
    return temperature_mix(d, "lang", alpha=0.5, target_total=250).select(
        "doc_id", "lang", "source"
    )


@query(
    "stratified_topk",
    """
    select doc_id, lang, n_chars, quality_rank from (
        select doc_id, lang, n_chars,
               cast(row_number() over (partition by lang
                    order by n_chars desc, doc_id asc) as bigint)
                 as quality_rank
        from documents
    ) where quality_rank <= 25
    """,
)
def stratified_topk_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality cap (operators/pipeline.py:stratified_topk):
    the 25 longest documents per language, ties by min id — the
    FineWeb-style "best k per source" selection. Rank-pruned
    (WindowGroupLimit): O(k) memory per stratum, one shuffle on the
    stratum key."""
    from ..operators.pipeline import stratified_topk

    return stratified_topk(
        t(spark, sf_dir, "documents"), ["lang"], 25, "n_chars"
    ).select("doc_id", "lang", "n_chars", "quality_rank")


@query(
    "curriculum_order",
    """
    with cuts as (
        select quantile_cont(n_chars, [1.0/3, 2.0/3]) as qs from documents
    ),
    staged as (
        select d.doc_id,
               len(list_filter(qs, c -> d.n_chars <= c)) as stage,
               ('0x' || substr(md5(cast(d.doc_id as varchar) || 'curr'),
                               1, 8))::bigint % 8 as shard,
               substr(md5(cast(d.doc_id as varchar) || 'curr'), 1, 8) as h
        from documents d, cuts
    )
    select doc_id, stage, shard,
           cast(row_number() over (partition by stage, shard
                                   order by h, doc_id) as bigint)
             as shard_pos
    from staged
    """,
)
def curriculum_order_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule (operators/pipeline.py:curriculum_order):
    3 stages cut at exact score terciles (longest documents = stage
    0), deterministic md5 (shard, shard_pos) within each stage. Stage
    assignment is a broadcast cut-array comparison — never a global
    ntile — so the only corpus shuffle is the bounded per-(stage,
    shard) position sort."""
    from ..operators.pipeline import curriculum_order

    return curriculum_order(
        t(spark, sf_dir, "documents"), "n_chars", n_stages=3, n_shards=8
    )


@query(
    "budget_mix",
    """
    with sizes as (
        select lang,
               cast(sum(len(string_split_regex(lower(trim(text)), '\\s+')))
                    as double) as t
        from documents group by lang
    ),
    r as (
        select lang,
               least(1.0, 8000.0 * w / t) as rate
        from (
            select lang, t,
                   case lang when 'en' then 0.5
                             when 'fr' then 0.3
                             when 'zh' then 0.2 end as w
            from sizes
        )
        where w is not null
    )
    select d.doc_id, d.lang, d.source
    from documents d join r using (lang)
    where ('0x' || substr(md5(cast(d.doc_id as varchar) || 'budget'), 1, 8))::bigint
          < r.rate * 4294967296.0
    """,
)
def budget_mix_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (operators/pipeline.py:
    budget_mix): per-language acceptance rate min(1, budget·w/tokens)
    pins each group's contribution to an explicit 8000-token budget
    at 50/30/20 en/fr/zh weights; unweighted languages are dropped;
    selection by md5(id ∥ 'budget') prefix replays bit-identically
    and draws independently of the other samplers."""
    from ..operators.pipeline import budget_mix

    return budget_mix(
        t(spark, sf_dir, "documents"),
        8000.0,
        {"en": 0.5, "fr": 0.3, "zh": 0.2},
    ).select("doc_id", "lang", "source")


@query(
    "quantile_length_filter",
    """
    with q as (
        select quantile_cont(n_chars, [0.02, 0.98]) as qs from documents
    )
    select d.doc_id, d.n_chars
    from documents d, q
    where d.n_chars >= qs[1] and d.n_chars <= qs[2]
    """,
)
def quantile_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative outlier trim (operators/pipeline.py:
    quantile_filter): keep documents inside the [2 %, 98 %] n_chars
    quantile range — the data-driven length filter (truncation stubs,
    concatenation blobs) a fixed threshold can't express. Exact
    interpolated percentile on both engines (approx_percentile is the
    documented 100 TB swap)."""
    from ..operators.pipeline import quantile_filter

    return quantile_filter(
        t(spark, sf_dir, "documents"), "n_chars", 0.02, 0.98
    ).select("doc_id", "n_chars")


@query(
    "corpus_delta_merge",
    """
    with ex as (select * from documents where doc_id % 2 = 0),
    delta as (
        select doc_id, text, lang, source, n_chars
        from documents where doc_id % 2 = 1
        union all
        select doc_id + 10000, text, lang, source, n_chars
        from documents where doc_id % 2 = 0 and doc_id % 10 = 0
        union all
        select doc_id + 20000, text, lang, source, n_chars
        from documents where doc_id % 2 = 1 and doc_id % 10 = 1
    ),
    fp as (
        select *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                  as h
        from delta
    ),
    seen as (
        select distinct md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                            'g')) as h
        from ex
    ),
    fresh as (
        select f.* from fp f left join seen s on f.h = s.h where s.h is null
    ),
    keep as (select h, min(doc_id) as keep_id from fresh group by h)
    select f.doc_id, f.lang, f.source
    from fresh f join keep k on f.h = k.h and f.doc_id = k.keep_id
    """,
)
def corpus_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion
    (operators/pipeline.py:merge_corpus_delta): a delta containing
    re-identified copies of existing docs (anti-joined out on the
    normalized content fingerprint) and internal duplicates (min-id
    wins) merges down to exactly the genuinely-new rows. The corpus
    side reduces to its fingerprint set before the join — hashes
    shuffle, documents don't."""
    from ..operators.pipeline import merge_corpus_delta

    d = t(spark, sf_dir, "documents")
    ex = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    delta = (
        odd.unionByName(
            ex.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 10000
            )
        ).unionByName(
            odd.filter(F.col("doc_id") % 10 == 1).withColumn(
                "doc_id", F.col("doc_id") + 20000
            )
        )
    )
    return merge_corpus_delta(ex, delta).select("doc_id", "lang", "source")


@query(
    "jsonl_roundtrip",
    """
    select doc_id, lang, n_chars, md5(text) as text_md5 from documents
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source round trip (sources/etl.py:write_jsonl/read_jsonl):
    documents → one-JSON-object-per-line files → explicit-schema
    rescan. The oracle reads the SOURCE parquet: a lossless round trip
    must hash-match it (md5 of the text proves byte fidelity through
    JSON escaping). Schema is explicit on the rescan — inference
    double-reads the input at scale."""
    import tempfile

    from ..sources.etl import read_jsonl, write_jsonl

    base = tempfile.mkdtemp(prefix="ppack_jsonl_roundtrip_")
    d = t(spark, sf_dir, "documents")
    write_jsonl(d, base + "/docs")
    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    back = read_jsonl(spark, base + "/docs", schema)
    return back.select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("text_md5")
    )


# winnowed span fingerprints (width 8, window 4) through the
# corpus-repeated set — shared by the detection and removal gates
_WINNOW_SQL = """
    with base as (
        select doc_id,
               list_transform(
                 generate_series(0,
                   greatest(len(string_split(text, ' ')) - 8, 0)),
                 i -> md5(array_to_string(
                        list_slice(string_split(text, ' '), i+1, i+8), ' ')))
                 as kg
        from documents
    ),
    fp as (
        select doc_id, kg,
               unnest(list_distinct(list_transform(
                 generate_series(0, greatest(len(kg) - 4, 0)),
                 j -> list_min(list_slice(kg, j+1, j+4))))) as span_hash
        from base
    ),
    e as (
        select doc_id,
               cast(list_position(kg, span_hash) - 1 as bigint) as span_pos,
               span_hash
        from fp
    ),
    rep as (
        select span_hash, count(*) as n_occurrences
        from e group by span_hash having count(*) >= 2
    )
"""


@query(
    "repeated_spans",
    _WINNOW_SQL + """
    select e.doc_id, e.span_pos, e.span_hash, rep.n_occurrences
    from e join rep using (span_hash)
    """,
)
def repeated_spans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection (operators/pipeline.py:repeated_spans):
    winnowed fingerprints of 8-token spans (window 4), spans occurring
    ≥ 2 times corpus-wide — content-defined selection guarantees any
    shared substring of ≥ 11 tokens matches regardless of alignment.
    Only 32-byte winnowed hashes shuffle."""
    from ..operators.pipeline import repeated_spans
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    out = repeated_spans(d, width=8, window=4, min_occurrences=2)
    return out.select(
        "doc_id",
        "span_pos",
        "span_hash",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


@query(
    "remove_repeated_spans",
    _WINNOW_SQL + """
    , allpos as (
        select doc_id, j - 1 as pos, kg[j] as h
        from (select doc_id, kg,
                     unnest(generate_series(1, len(kg))) as j
              from base)
    ),
    occ as (
        select a.doc_id, a.pos
        from allpos a join (select span_hash from rep) r
          on a.h = r.span_hash
    ),
    starts as (
        select doc_id, list(pos order by pos) as ss from occ group by doc_id
    ),
    rb as (
        select d.doc_id,
               string_split(d.text, ' ') as tk,
               list_filter(string_split(d.text, ' '),
                 (tok, ti) -> len(list_filter(
                     coalesce(s.ss, cast([] as bigint[])),
                     p -> p <= ti - 1 and ti - 1 < p + 8)) = 0) as kept
        from documents d left join starts s using (doc_id)
    )
    select doc_id,
           -- array_to_string([]) is NULL in DuckDB but '' in Spark's
           -- array_join: normalize the fully-covered-doc case
           md5(case when tk is null then null
                    else coalesce(array_to_string(kept, ' '), '') end)
             as clean_md5,
           cast(len(tk) - len(kept) as bigint) as n_tokens_removed
    from rb
    """,
)
def remove_repeated_spans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup materialization
    (operators/pipeline.py:remove_repeated_spans): tokens covered by
    any occurrence of a corpus-repeated winnowed span are excised from
    every document — the Lee et al. substring-dedup deliverable. The
    oracle replays detection, full-coverage masking, and the token
    rebuild, hash-checking the cleaned text itself."""
    from ..operators.pipeline import remove_repeated_spans
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    out = remove_repeated_spans(d, width=8, window=4, min_occurrences=2)
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_tokens_removed"
    )


@query(
    "quality_filter_flags",
    """
    with s as (
        select doc_id, text,
               string_split_regex(trim(text), '\\s+') as words
        from documents
    )
    select doc_id,
           cast(len(words) as bigint) as n_words,
           round(list_aggregate(list_transform(words, w -> length(w)), 'sum')
                 / cast(greatest(len(words), 1) as double), 6)
             as mean_word_len,
           round((length(text)
                  - length(replace(replace(text, '#', ''), '…', '')))
                 / cast(greatest(length(text), 1) as double), 6)
             as symbol_ratio,
           cast(contains(lower(text), 'lorem ipsum') as int) as has_lorem,
           cast(contains(text, '{') as int) as has_curly,
           cast((len(words) >= 5
                 and list_aggregate(list_transform(words, w -> length(w)),
                                    'sum')
                     / cast(greatest(len(words), 1) as double) >= 3.0
                 and list_aggregate(list_transform(words, w -> length(w)),
                                    'sum')
                     / cast(greatest(len(words), 1) as double) <= 10.0
                 and (length(text)
                      - length(replace(replace(text, '#', ''), '…', '')))
                     / cast(greatest(length(text), 1) as double) <= 0.1
                 and not contains(lower(text), 'lorem ipsum')
                 and not contains(text, '{')) as int) as keep
    from s
    """,
)
def quality_filter_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher document quality heuristics
    (functions/text.py:c4_quality_flags): word-count floor,
    mean-word-length band, symbol-ratio cap, boilerplate markers, and
    the conjunction ``keep``. Pure map pass — no shuffle."""
    from ..functions.text import c4_quality_flags

    d = t(spark, sf_dir, "documents")
    q = c4_quality_flags("text")
    return d.select(
        "doc_id",
        q["n_words"].cast("long").alias("n_words"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        F.round(q["symbol_ratio"], 6).alias("symbol_ratio"),
        q["has_lorem_ipsum"].cast("int").alias("has_lorem"),
        q["has_curly_brace"].cast("int").alias("has_curly"),
        q["keep"].cast("int").alias("keep"),
    )


@query(
    "orc_roundtrip",
    """
    select doc_id, lang, n_chars, md5(text) as text_md5 from documents
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round trip (sources/etl.py:write_orc/read_orc):
    documents → ORC files → rescan. The oracle reads the SOURCE
    parquet: a lossless round trip must hash-match it. Schema is
    self-describing in ORC footers (no inference pass)."""
    import tempfile

    from ..sources.etl import read_orc, write_orc

    base = tempfile.mkdtemp(prefix="ppack_orc_roundtrip_")
    d = t(spark, sf_dir, "documents")
    write_orc(d, base + "/docs")
    back = read_orc(spark, base + "/docs")
    return back.select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("text_md5")
    )


_PREP_CHAIN_SQL = f"""
    with chunked as ({_CHUNKED_SQL}),
    q as (
        select doc_id, t from (
            select doc_id, t,
                   string_split_regex(trim(t), '\\s+') as words
            from chunked)
        where len(words) >= 5
          and list_aggregate(list_transform(words, w -> length(w)), 'sum')
              / cast(greatest(len(words), 1) as double) between 3.0 and 10.0
          and (length(t) - length(replace(replace(t, '#', ''), '…', '')))
              / cast(greatest(length(t), 1) as double) <= 0.1
          and not contains(lower(t), 'lorem ipsum')
          and not contains(t, '{{')
    ),
    lines as (
        select doc_id,
               unnest(string_split(t, chr(10))) as line,
               unnest(generate_series(1, len(string_split(t, chr(10))))) as pos
        from q
    ),
    dup as (
        select md5(line) as h from lines group by 1 having count(*) > 1
    ),
    kept as (
        select l.doc_id, l.line, l.pos
        from lines l
        left join dup d on md5(l.line) = d.h and length(l.line) >= 1
        where d.h is null
    ),
    rebuilt as (
        select q.doc_id,
               coalesce(string_agg(k.line, chr(10) order by k.pos), '') as t2
        from q left join kept k using (doc_id)
        group by q.doc_id
    ),
    nonempty as (
        select doc_id, t2 from rebuilt where length(trim(t2)) > 0
    ),
    fp as (
        select doc_id, t2,
               md5(regexp_replace(lower(trim(t2)), '\\s+', ' ', 'g')) as h
        from nonempty
    ),
    win as (select h, min(doc_id) as keep_id from fp group by h),
    surv as (
        select f.doc_id, f.t2
        from fp f join win w on f.h = w.h and f.doc_id = w.keep_id
    ),
    ev as (select doc_id as eval_id, t from chunked where doc_id % 101 = 3),
    evsh as (
        select eval_id,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from (select eval_id,
                     string_split_regex(lower(trim(t)), '\\s+') as tk
              from ev)
    ),
    ssh as (
        select doc_id,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from (select doc_id,
                     string_split_regex(lower(trim(t2)), '\\s+') as tk
              from surv)
    ),
    hits as (
        select s.doc_id
        from (select doc_id, unnest(shingles) as g from ssh) s
        join (select eval_id, unnest(shingles) as g from evsh) e using (g)
        group by s.doc_id, e.eval_id
        having count(*) >= 2
    ),
    decon as (
        select s.doc_id, s.t2
        from surv s
        left join (select distinct doc_id from hits) c using (doc_id)
        where c.doc_id is null
    )
"""


@query(
    "corpus_pipeline_e2e",
    _PREP_CHAIN_SQL + """
    select doc_id, md5(t2) as clean_md5
    from decon
    where substr(md5(cast(doc_id as varchar)), 1, 4) < '8000'
    """,
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-preparation chain
    (operators/pipeline.py:prepare_corpus): quality filter → corpus
    line dedup → exact dedup on cleaned text → eval-set
    decontamination (docs sharing ≥2 word 3-grams with an eval doc are
    dropped) → deterministic 50% hash sample, end-to-end in ONE lazy
    plan — the oracle replays every stage in SQL, so composition order
    and inter-stage dataflow are hash-checked, not just each stage
    alone. The eval set is a deterministic slice of the corpus itself
    (doc_id % 101 = 3), which guarantees real contamination hits.

    Scale adjudication (round 9): SCALE_r09 read exp_hi 1.30 on the
    0.5→1.0 hop; a stage-by-stage profile at both scales shows every
    stage growing ~linearly (quality 4.1→5.2 s, line dedup 1.3→1.9,
    decontaminate 7.5→13.4, total ×1.75 for ×2 data ≈ exp 0.8) — the
    single-sample proof hop caught scheduler noise, not a quadratic
    stage. The decontamination join's output is bounded by Σ_g
    cnt_corpus(g)·cnt_eval(g) over hashed 3-grams; with the eval set a
    fixed 1/101 slice both sides grow ∝ n but the gram vocabulary
    grows too, and the measured join stays ~linear."""
    from ..functions.text import rewrap_lines
    from ..operators.pipeline import prepare_corpus
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    chunked = d.select("doc_id", rewrap_lines("text", 8).alias("text"))
    eval_docs = chunked.filter(F.col("doc_id") % 101 == 3)
    out = prepare_corpus(chunked, eval_docs=eval_docs, sample_fraction=0.5)
    return out.select("doc_id", F.md5("text").alias("clean_md5"))


def _lsh_core_sql(
    num_hashes: int,
    band_size: int,
    recursive: bool = False,
    max_bucket: int | None = None,
) -> str:
    """DuckDB replay of the MinHash-LSH chain for ANY
    (num_hashes, band_size): shingles → single-digest double-hashed
    signature → bands → ordered candidate ``pairs`` CTE. Mirrors
    operators/dedup.py:minhash_signatures/_lsh_bands expression for
    expression, so fixture (8/2) and production (128/8) settings gate
    against one template instead of hand-edited copies."""
    n_bands = num_hashes // band_size
    head = (
        "with recursive" + _SHINGLE_SQL.replace("with toks", " toks", 1)
        if recursive
        else _SHINGLE_SQL
    )
    band_list = ", ".join(str(b) for b in range(n_bands))
    cap_clause = (
        " semi join (select b, val from bands group by b, val"
        f" having count(*) <= {max_bucket}) kb"
        " on bands.b = kb.b and bands.val = kb.val"
    ) if max_bucket is not None else ""
    return head + f"""
    , hp as (
        select doc_id,
               list_transform(shingles, x -> struct_pack(
                   h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                   h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint))) as hp
        from sh
    ),
    sig as (
        select doc_id,
               list_transform(range(0, {num_hashes}), i ->
                   list_min(list_transform(hp,
                       p -> (p.h1 + i * p.h2) % 4294967296))) as sig
        from hp
    ),
    bands as (
        select doc_id, b,
               array_to_string(list_slice(sig, b*{band_size} + 1,
                                          b*{band_size} + {band_size}),
                               '|') as val
        from sig cross join unnest([{band_list}]) as tb(b)
    ),
    kbands as (
        select bands.* from bands{cap_clause}
    ),
    pairs as (
        select distinct a.doc_id as id_left, b.doc_id as id_right
        from kbands a
        join kbands b on a.b = b.b and a.val = b.val and a.doc_id < b.doc_id
    )
    """


def _near_dup_comp_sql(num_hashes: int, band_size: int, threshold: float) -> str:
    """Shared oracle prefix for every near-dup consumer: LSH
    candidates → signature-agreement verify (≥ ``threshold``) →
    recursive-CTE closure → ``comp`` CTE of (node, component-min-id).
    Mirrors operators/dedup.py:near_dup_components."""
    core = _lsh_core_sql(num_hashes, band_size, recursive=True)
    return core + f""",
    vpairs as (
        select p.id_left, p.id_right
        from pairs p
        join sig sa on sa.doc_id = p.id_left
        join sig sb on sb.doc_id = p.id_right
        where list_aggregate(list_transform(generate_series(1, {num_hashes}),
                  i -> case when sa.sig[i] = sb.sig[i] then 1 else 0 end),
              'sum') / {num_hashes}.0 >= {threshold}
    ),
    edges as (
        select id_left as a, id_right as b from vpairs
        union
        select id_right, id_left from vpairs
    ),
    reach(src, dst) as (
        select a, b from edges
        union
        select r.src, e.b from reach r join edges e on r.dst = e.a
    ),
    comp as (
        select src as node, least(src, min(dst)) as component
        from reach group by src
    )
    """


def _near_dedup_corpus_sql(
    num_hashes: int, band_size: int, threshold: float
) -> str:
    """Full near-dedup-corpus oracle: LSH candidates → signature-
    agreement verify (≥ ``threshold``) → recursive-CTE closure →
    corpus minus non-canonical cluster members."""
    return _near_dup_comp_sql(num_hashes, band_size, threshold) + """
    select d.doc_id, d.source
    from documents d
    left join (select node from comp where node <> component) l
      on d.doc_id = l.node
    where l.node is null
    """


_STAGE_REPORT_SQL = _PREP_CHAIN_SQL + """
    select cast(0 as bigint) as stage_idx, 'input' as stage,
           cast((select count(*) from chunked) as bigint) as n_docs
    union all
    select 1, 'quality', (select count(*) from q)
    union all
    select 2, 'line_dedup', (select count(*) from nonempty)
    union all
    select 3, 'exact_dedup', (select count(*) from surv)
    union all
    select 4, 'decontaminate', (select count(*) from decon)
    """


@query("corpus_stage_report", _STAGE_REPORT_SQL)
def corpus_stage_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-survival funnel (operators/pipeline.py:
    corpus_stage_report): document counts at every prepare_corpus
    boundary, observed on one run of the real chain and replayed
    against the SAME shared CTE chain the e2e gate uses
    (_PREP_CHAIN_SQL) — the two gates cannot drift apart. The
    observability artifact a data-prep run publishes next to its
    output."""
    from ..functions.text import rewrap_lines
    from ..operators.pipeline import corpus_stage_report
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    chunked = d.select("doc_id", rewrap_lines("text", 8).alias("text"))
    eval_docs = chunked.filter(F.col("doc_id") % 101 == 3)
    return corpus_stage_report(chunked, eval_docs=eval_docs)


@query("corpus_stage_report_reuse", _STAGE_REPORT_SQL)
def corpus_stage_report_reuse_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E134 — the stage-survival funnel at the price of one pipeline
    pass, which the observed report always pays: the same report and
    oracle as ``corpus_stage_report``, kept registered so the bench
    roster and the gate count stay unchanged."""
    return corpus_stage_report_gate(spark, sf_dir)


@query(
    "minhash_lsh_pairs_capped",
    _lsh_core_sql(8, 2, max_bucket=25)
    + "select id_left, id_right from pairs",
)
def minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-capped LSH banding (operators/dedup.py:
    minhash_lsh_pairs max_bucket_size): buckets holding more than 25
    documents (boilerplate — at 100 TB one such bucket alone can emit
    billions of pairs) are dropped before the candidate join, bounding
    the b² fan-out; members of a dropped bucket still meet through any
    of their other bands. The oracle replays the per-bucket count
    filter."""
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        num_hashes=8, band_size=2, k=3, max_bucket_size=25,
    )


@query("near_dedup_corpus", _near_dedup_corpus_sql(8, 2, 0.5))
def near_dedup_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed fuzzy-dedup deliverable
    (operators/dedup.py:near_dedup_corpus): LSH candidate pairs →
    signature-agreement verify (est. Jaccard ≥ 0.5 — ≥4 of 8 MinHash
    positions agree) → connected components → corpus minus every
    non-canonical cluster member. The verify stage is replayed in the
    oracle, so the gate checks the precision filter, not just raw-LSH
    clustering."""
    from ..operators.dedup import near_dedup_corpus

    return near_dedup_corpus(
        t(spark, sf_dir, "documents"),
        num_hashes=8, band_size=2, k=3, verify_threshold=0.5,
    ).select("doc_id", "source")


@query(
    "minhash_lsh_pairs_wide",
    _lsh_core_sql(128, 8) + "select id_left, id_right from pairs",
)
def minhash_lsh_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale LSH banding: 128 hashes in 16 bands of 8 — the
    standard corpus-dedup paper setting (vs the 8/2 fixture setting),
    gating that the single-digest double-hashing signature stays
    map-bound as signature width grows 16× and that band collision
    keeps only high-similarity candidates
    (operators/dedup.py:minhash_lsh_pairs)."""
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), num_hashes=128, band_size=8, k=3
    )


@query("near_dedup_corpus_wide", _near_dedup_corpus_sql(128, 8, 0.5))
def near_dedup_corpus_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near_dedup_corpus at the production LSH settings (128 hashes,
    16 bands of 8, signature-verify ≥ 0.5): the whole verified chain —
    wide signatures, banding, estimate filter, components, anti-join —
    gated end-to-end at the configuration a 100 TB run would use."""
    from ..operators.dedup import near_dedup_corpus

    return near_dedup_corpus(
        t(spark, sf_dir, "documents"),
        num_hashes=128, band_size=8, k=3, verify_threshold=0.5,
    ).select("doc_id", "source")


@query(
    "dup_rate_report",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    eh as (
        select doc_id, source,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as h
        from documents
    ),
    ew as (select h, min(doc_id) as keep from eh group by h),
    el as (
        select e.doc_id, e.source
        from eh e join ew w on e.h = w.h and e.doc_id <> w.keep
    ),
    nl as (
        select c.node as doc_id, d.source
        from comp c join documents d on d.doc_id = c.node
        where c.node <> c.component
    ),
    base as (
        select source, cast(count(*) as bigint) as n_docs
        from documents group by source
    )
    select b.source, b.n_docs,
           cast(coalesce(e.n, 0) as bigint) as n_exact_dup,
           cast(coalesce(n.n, 0) as bigint) as n_near_dup,
           round(coalesce(e.n, 0) / b.n_docs, 6) as exact_dup_rate,
           round(coalesce(n.n, 0) / b.n_docs, 6) as near_dup_rate
    from base b
    left join (select source, count(*) as n from el group by source) e
      using (source)
    left join (select source, count(*) as n from nl group by source) n
      using (source)
    """,
)
def dup_rate_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication diagnostic (operators/dedup.py:
    dup_rate_report): document count, exact-duplicate count
    (non-canonical content-hash members) and verified near-duplicate
    count (non-canonical cluster members) per source, with rates —
    the "which sources are syndication sinks?" report that directs
    dedup budget. Exact side + the full verified-LSH component chain
    both replayed in SQL."""
    from ..operators.dedup import dup_rate_report

    return dup_rate_report(t(spark, sf_dir, "documents"))


@query(
    "bcubed_quality",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    docs as (
        select doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as truth
        from documents
    ),
    pred as (
        select d.doc_id, coalesce(c.component, d.doc_id) as cluster, d.truth
        from docs d left join comp c on d.doc_id = c.node
    ),
    ct as (select cluster, truth, count(*) as n_ct from pred group by 1, 2),
    cs as (select cluster, sum(n_ct) as n_c from ct group by 1),
    tm as (select truth, sum(n_ct) as n_t from ct group by 1),
    x as (
        select ct.n_ct, cs.n_c, tm.n_t
        from ct join cs using (cluster) join tm using (truth)
    ),
    agg as (
        select cast(coalesce(sum(n_ct), 0) as bigint) as n_records,
               sum(n_ct * n_ct / n_c) as psum,
               sum(n_ct * n_ct / n_t) as rsum
        from x
    )
    select n_records,
           round(psum / n_records, 6) as "precision",
           round(rsum / n_records, 6) as recall,
           round(case when (psum / n_records + rsum / n_records) > 0
                      then 2 * (psum / n_records) * (rsum / n_records)
                           / (psum / n_records + rsum / n_records)
                 end, 6) as f1
    from agg
    """,
)
def bcubed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E125 — B-cubed cluster-quality scoring
    (eval.py:bcubed_metrics) of the engine's OWN verified near-dup
    clustering against the exact-content pseudo-truth: predicted
    clusters from `near_dup_components` (the shared LSH → verify →
    closure stage, singletons coalesced to their own id), true
    classes from `content_hash` (exact-dup groups). Near-dup should
    contain exact-dup, so recall sits near 1 and precision measures
    how much MORE the fuzzy clustering merges — the report a dedup
    operator reads before trusting a threshold. The oracle replays
    the whole derivation: the verified-LSH closure (shared
    `_near_dup_comp_sql` CTE), the singleton coalesce, the
    (cluster × truth) cell table, both marginals, and precision /
    recall / F1 computed from the UNROUNDED sums."""
    from ..eval import bcubed_metrics
    from ..operators.dedup import content_hash, near_dup_components

    docs = t(spark, sf_dir, "documents")
    comp = near_dup_components(docs)
    labelled = docs.select("doc_id", content_hash("text").alias("truth"))
    pred = (
        labelled.join(comp, labelled["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
    )
    return bcubed_metrics(pred, labelled, id_col="doc_id")


@query(
    "cluster_size_histogram",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    pred as (
        select d.doc_id, coalesce(c.component, d.doc_id) as cluster
        from documents d left join comp c on d.doc_id = c.node
    ),
    sizes as (
        select cluster, count(*) as cluster_size from pred group by 1
    )
    select cluster_size,
           cast(count(*) as bigint) as n_clusters,
           cast(cluster_size * count(*) as bigint) as n_records
    from sizes group by 1
    """,
)
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E133 — cluster-size distribution
    (operators/cluster.py:cluster_size_report) of the engine's OWN
    verified near-dup clustering, singletons coalesced to their id —
    the no-truth-needed pre-flight read before a closure acts (a
    mega-cluster row is the chaining failure verified candidates
    exist to prevent). One label-keyed groupBy then a
    size-distribution-sized rollup; the oracle replays the shared
    closure CTE, the singleton coalesce, and both groupings."""
    from ..operators.cluster import cluster_size_report
    from ..operators.dedup import near_dup_components

    docs = t(spark, sf_dir, "documents")
    comp = near_dup_components(docs)
    pred = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id")
        )
    )
    return cluster_size_report(pred)


@query(
    "ari_quality",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    docs as (
        select doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as truth
        from documents
    ),
    pred as (
        select d.doc_id, coalesce(c.component, d.doc_id) as cluster, d.truth
        from docs d left join comp c on d.doc_id = c.node
    ),
    ct as (select cluster, truth, count(*) as n_ct from pred group by 1, 2),
    cells as (
        select cast(coalesce(sum(n_ct), 0) as bigint) as n_records,
               coalesce(sum(cast(n_ct as double) * (n_ct - 1) / 2), 0) as idx
        from ct
    ),
    sc as (
        select coalesce(sum(cast(n_c as double) * (n_c - 1) / 2), 0) as sc
        from (select cluster, sum(n_ct) as n_c from ct group by 1)
    ),
    st as (
        select coalesce(sum(cast(n_t as double) * (n_t - 1) / 2), 0) as st
        from (select truth, sum(n_ct) as n_t from ct group by 1)
    ),
    x as (
        select n_records, idx, sc, st,
               cast(n_records as double) * (n_records - 1) / 2 as cn2
        from cells cross join sc cross join st
    )
    select n_records,
           round(case when cn2 > 0
                      then (cn2 + 2 * idx - sc - st) / cn2 end, 6)
               as rand_index,
           round(case when cn2 > 0 then
                      case when (sc + st) / 2 <> sc * st / cn2
                           then (idx - sc * st / cn2)
                                / ((sc + st) / 2 - sc * st / cn2)
                           else 1.0 end
                 end, 6) as ari
    from x
    """,
)
def ari_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E130 — Adjusted Rand Index (eval.py:adjusted_rand_index,
    Hubert & Arabie 1985) of the engine's OWN verified near-dup
    clustering against the exact-content-hash pseudo-truth — the
    chance-corrected PAIRWISE twin of `bcubed_quality`, computed from
    the identical (cluster × truth) cell table: one id join, one
    groupBy, three cell-table-sized aggregates; the metric defined
    over all C(n,2) record pairs never materializes a pair. The
    oracle replays the shared verified-LSH closure CTE, the singleton
    coalesce, the cell table, all three C(·,2) sums in DOUBLE, and
    the Rand/ARI arithmetic including the degenerate-denominator
    convention."""
    from ..eval import adjusted_rand_index
    from ..operators.dedup import content_hash, near_dup_components

    docs = t(spark, sf_dir, "documents")
    comp = near_dup_components(docs)
    labelled = docs.select("doc_id", content_hash("text").alias("truth"))
    pred = (
        labelled.join(comp, labelled["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
    )
    return adjusted_rand_index(pred, labelled, id_col="doc_id")


@query(
    "near_dedup_keep_best",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    members as (
        select c.node, c.component, d.n_chars
        from comp c join documents d on d.doc_id = c.node
    ),
    winners as (
        select node as w from (
            select node, row_number() over (
                partition by component
                order by n_chars desc, node asc) as rn
            from members
        ) where rn = 1
    ),
    losers as (
        select node from comp
        where node not in (select w from winners)
    )
    select d.doc_id, d.source
    from documents d
    left join losers l on d.doc_id = l.node
    where l.node is null
    """,
)
def near_dedup_keep_best_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup (operators/dedup.py:
    near_dedup_keep_best): within each VERIFIED near-dup cluster keep
    the longest document (score = n_chars, ties → min id) instead of
    the min-id one — the keep policy for pipelines that scored
    documents before deduping. The oracle replays signatures, banding,
    the estimate verify, the recursive closure, AND the per-cluster
    argmax."""
    from ..operators.dedup import near_dedup_keep_best

    return near_dedup_keep_best(
        t(spark, sf_dir, "documents"), "n_chars",
        num_hashes=8, band_size=2, k=3, verify_threshold=0.5,
    ).select("doc_id", "source")


@query(
    "corpus_split_leakage_safe",
    _near_dup_comp_sql(8, 2, 0.5) + """,
    canon as (
        select d.doc_id, d.lang,
               coalesce(c.component, d.doc_id) as cid
        from documents d left join comp c on d.doc_id = c.node
    )
    select doc_id, lang,
           case when substr(md5(cast(cid as varchar) || 'split'), 1, 4)
                    < 'cccc' then 'train'
                when substr(md5(cast(cid as varchar) || 'split'), 1, 4)
                    < 'e666' then 'val'
                else 'test' end as split
    from canon
    """,
)
def corpus_split_leakage_safe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 splitting (operators/pipeline.py:
    split_corpus_leakage_safe): the split hash runs on each document's
    verified near-dup cluster canonical id, so near-copies can never
    straddle train/eval — the contamination mode a plain id-hash
    split invites. Cluster membership AND the salted range assignment
    are both replayed in the oracle."""
    from ..operators.pipeline import split_corpus_leakage_safe

    return split_corpus_leakage_safe(
        t(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        num_hashes=8, band_size=2, k=3, verify_threshold=0.5,
    ).select("doc_id", "lang", "split")


@query(
    "minhash_lsh_pairs_ab",
    _SHINGLE_SQL + """
    , hp as (
        select doc_id,
               list_transform(shingles, x -> struct_pack(
                   h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                   h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint))) as hp
        from sh
    ),
    sig as (
        select doc_id,
               list_transform(range(0, 8), i ->
                   list_min(list_transform(hp,
                       p -> (p.h1 + i * p.h2) % 4294967296))) as sig
        from hp
    ),
    bands as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' ||
               cast(sig[2*b + 2] as varchar) as val
        from sig cross join unnest([0, 1, 2, 3]) as tb(b)
    )
    select distinct a.doc_id as id_left, b.doc_id as id_right
    from bands a
    join bands b on a.b = b.b and a.val = b.val
    where a.doc_id % 2 = 0 and b.doc_id % 2 = 1
    """,
)
def minhash_lsh_pairs_ab_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LSH matching
    (operators/dedup.py:minhash_lsh_pairs_ab): even docs as corpus A,
    odd docs as corpus B, candidates = (A, B) pairs sharing a MinHash
    band — fuzzy dataset-to-dataset matching with no self-join
    ordering filter (different id namespaces)."""
    from ..operators.dedup import minhash_lsh_pairs_ab

    d = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs_ab(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        num_hashes=8, band_size=2, k=3,
    )


@query(
    "corpus_delta_merge_fuzzy",
    """
    with ex as (select * from documents where doc_id % 2 = 0),
    delta as (select * from documents where doc_id % 2 = 1),
    fpd as (
        select *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                  as h
        from delta
    ),
    seen as (
        select distinct md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                            'g')) as h
        from ex
    ),
    fresh0 as (
        select f.* from fpd f left join seen s on f.h = s.h where s.h is null
    ),
    win as (select h, min(doc_id) as keep_id from fresh0 group by h),
    fresh as (
        select f.doc_id, f.text, f.source
        from fresh0 f join win w on f.h = w.h and f.doc_id = w.keep_id
    ),
    shd as (
        select doc_id,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from (select doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') as tk
              from fresh)
    ),
    she as (
        select doc_id,
               case when len(tk) >= 3 then
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')))
               else [array_to_string(tk, ' ')] end as shingles
        from (select doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') as tk
              from ex)
    ),
    bandd as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' ||
               cast(sig[2*b + 2] as varchar) as val
        from (
            select doc_id,
                   list_transform(range(0, 8), i ->
                       list_min(list_transform(hp,
                           p -> (p.h1 + i * p.h2) % 4294967296))) as sig
            from (
                select doc_id,
                       list_transform(shingles, x -> struct_pack(
                           h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                           h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint)))
                         as hp
                from shd)
        ) cross join unnest([0, 1, 2, 3]) as tb(b)
    ),
    bande as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' ||
               cast(sig[2*b + 2] as varchar) as val
        from (
            select doc_id,
                   list_transform(range(0, 8), i ->
                       list_min(list_transform(hp,
                           p -> (p.h1 + i * p.h2) % 4294967296))) as sig
            from (
                select doc_id,
                       list_transform(shingles, x -> struct_pack(
                           h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                           h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint)))
                         as hp
                from she)
        ) cross join unnest([0, 1, 2, 3]) as tb(b)
    ),
    cand as (
        select distinct d.doc_id as id_left, e.doc_id as id_right
        from bandd d join bande e on d.b = e.b and d.val = e.val
    ),
    near as (
        select distinct c.id_left as doc_id
        from cand c
        join shd a on a.doc_id = c.id_left
        join she b on b.doc_id = c.id_right
        where len(list_intersect(a.shingles, b.shingles))
              / cast(greatest(len(list_distinct(a.shingles || b.shingles)), 1)
                     as double) >= 0.7
    )
    select f.doc_id, f.source
    from fresh f left join near n on f.doc_id = n.doc_id
    where n.doc_id is null
    """,
)
def corpus_delta_merge_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy incremental ingestion
    (operators/pipeline.py:merge_corpus_delta_fuzzy): exact
    fingerprint anti-join + within-delta dedup, THEN near-duplicate
    rejection — cross-corpus MinHash banding proposes candidates,
    exact n-gram Jaccard >= 0.7 confirms. Every stage replayed in the
    oracle SQL."""
    from ..operators.pipeline import merge_corpus_delta_fuzzy

    d = t(spark, sf_dir, "documents")
    return merge_corpus_delta_fuzzy(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        jaccard_threshold=0.7,
    ).select("doc_id", "source")


@query(
    "corpus_split",
    """
    select doc_id, lang,
           case when substr(md5(cast(doc_id as varchar) || 'split'), 1, 4)
                    < 'cccc' then 'train'
                when substr(md5(cast(doc_id as varchar) || 'split'), 1, 4)
                    < 'e666' then 'val'
                else 'test' end as split
    from documents
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by salted
    md5(id ∥ 'split')-prefix ranges (operators/pipeline.py:
    split_corpus): stable across runs/engines/partitionings, no row
    lost or duplicated, membership derivable from the id alone, and
    independent of the other samplers' hash (distinct salt). Zero
    shuffle."""
    from ..operators.pipeline import split_corpus

    d = t(spark, sf_dir, "documents")
    return split_corpus(d, {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "lang", "split"
    )


@query(
    "events_funnel",
    """
    with e as (
        select user_id, event_type,
               cast(floor(epoch(ts)) as bigint) as ts_s
        from events
    ),
    s1 as (
        select user_id, min(ts_s) as t from e
        where event_type = 'view' group by user_id
    ),
    s2 as (
        select e.user_id, min(e.ts_s) as t
        from e join s1 on e.user_id = s1.user_id
        where e.event_type = 'click' and e.ts_s > s1.t
          and e.ts_s <= s1.t + 86400
        group by e.user_id
    ),
    s3 as (
        select e.user_id, min(e.ts_s) as t
        from e join s2 on e.user_id = s2.user_id
        where e.event_type = 'purchase' and e.ts_s > s2.t
          and e.ts_s <= s2.t + 86400
        group by e.user_id
    )
    select 1 as step, 'view' as event_type,
           (select count(*) from s1) as n_users
    union all
    select 2, 'click', (select count(*) from s2)
    union all
    select 3, 'purchase', (select count(*) from s3)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel view → click → purchase, each step
    within 24 h of the previous (operators/pipeline.py:funnel_counts):
    k chained conditional aggregations, each pass scanning one pushed-
    down event type and joining the shrinking per-user frontier."""
    from ..operators.pipeline import funnel_counts

    e = t(spark, sf_dir, "events").withColumn("ts_s", _epoch_s(F.col("ts")))
    return funnel_counts(
        e, ["view", "click", "purchase"], within_s=86400
    )


@query("ann_pq_topk_scan")  # production ADC scan path: BLAS matrix
# algebra whose summation order SQL cannot replay — recall@10 >= 0.8
# vs exact is asserted in tests/test_ann.py; the oracle-grade twin is
# ann_pq_topk
def ann_pq_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k, production shape
    (operators/ann.py:cosine_topk_pq): m-BYTE codes + per-query ADC
    lookup tables scanned via mapInPandas with per-partition
    shortlists — the 100 TB memory-scale path benchmarked here; the
    hash-checked fixed-point twin (ann_pq_topk) carries the
    correctness row."""
    from ..operators.ann import cosine_topk_pq

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_pq(queries, e, k=10)


@query("ann_ivfpq_topk_scan")  # production path twin of ann_ivfpq_topk
# (see ann_pq_topk_scan); recall-gated in tests/test_ann.py
def ann_ivfpq_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN, production shape (operators/ann.py:
    cosine_topk_ivfpq — FAISS-IVFPQ): n_probe inverted lists bound the
    scan, m-byte PQ codes bound bytes per candidate, pandas-UDF ADC,
    exact re-rank on the shortlist."""
    from ..operators.ann import cosine_topk_ivfpq

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_ivfpq(
        queries, e, k=10, n_centroids=8, n_probe=6, shortlist_mult=12
    )


def _ivfpq_fixed_sql(
    m: int = 8,
    pq_k: int = 16,
    dims: int = 64,
    iters: int = 2,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 6,
    shortlist: int = 120,
    topk: int = 10,
) -> str:
    """IVF+PQ oracle: the ann_ivf_topk coarse-quantizer CTE chain
    (md5 seeds, rounded Lloyd rounds, probe selection) composed with
    the shared PQ parts; each ADC contribution joins through the
    query's probed lists before scoring."""
    ivf = f"""
    e as (select vec_id, embedding from embeddings),
    c0 as (
        select cast(rn - 1 as int) as centroid, cvec from (
            select row_number() over (
                       order by md5(cast(vec_id as varchar) || ':ivfseed'),
                                vec_id
                   ) as rn,
                   list_transform(embedding, x -> x::double) as cvec
            from e
        ) where rn <= {n_centroids}
    ),{_ivf_assign_sql('c0', 'a1')},{_ivf_update_sql('a1', 'c0', 'c1')},
    {_ivf_assign_sql('c1', 'a2')},{_ivf_update_sql('a2', 'c1', 'c2')},
    {_ivf_assign_sql('c2', 'af')},
    qc as (
        select q.vec_id as query_id, c.centroid,
               {_cos_sql('q.embedding', 'c.cvec')} as cd
        from e q cross join c2 c
        where q.vec_id < {n_queries}
    ),
    pr as (
        select query_id, centroid from (
            select *, row_number() over (
                partition by query_id order by cd desc, centroid
            ) as rn from qc
        ) where rn <= {n_probe}
    ),
    cand as (
        select p.query_id, af.vec_id as nid
        from pr p join af on p.centroid = af.centroid
        where p.query_id <> af.vec_id
    )"""
    cand_join = (
        " join cand cd on cd.nid = f.vec_id and cd.query_id = l.query_id"
    )
    return (
        "with "
        + ivf
        + ","
        + ",".join(_pq_parts(m, pq_k, dims, iters, n_queries))
        + _pq_tail_sql(
            m, shortlist, topk, cand_join=cand_join, self_filter=""
        )
    )


@query("ann_ivfpq_topk", _ivfpq_fixed_sql())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN, ORACLE-GRADE since round 7
    (operators/ann.py:cosine_topk_ivfpq_fixed — the FAISS-IVFPQ shape
    with both trainings engine-replayable): the deterministic coarse
    quantizer bounds each query to its n_probe lists, md5-seeded PQ
    codebooks score candidates via pure-fold ADC lookup tables, exact
    re-rank on the shortlist. The DuckDB oracle replays BOTH trainings
    plus probe selection and scoring. The numpy scan path
    (cosine_topk_ivfpq) remains the production variant, recall-gated
    in tests/test_ann.py."""
    from ..operators.ann import cosine_topk_ivfpq_fixed

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_ivfpq_fixed(
        queries, e, k=10, n_centroids=8, n_probe=6, m=8, pq_centroids=16,
        shortlist_mult=12,
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "events_cohort_retention",
    """
    with e as (
        select user_id, cast(floor(epoch(ts)) as bigint) as ts_s
        from events
    ),
    f as (select user_id, min(ts_s) as first_ts from e group by user_id)
    select cast(floor(f.first_ts / 604800) as bigint) as cohort_period,
           cast(floor(e.ts_s / 604800)
                - floor(f.first_ts / 604800) as bigint) as period_offset,
           count(distinct e.user_id) as n_users
    from e join f using (user_id)
    group by 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle
    (operators/pipeline.py:cohort_retention): users cohorted by the
    week of their first event; distinct active users per
    (cohort, weeks-since-first) cell."""
    from ..operators.pipeline import cohort_retention

    e = t(spark, sf_dir, "events").withColumn("ts_s", _epoch_s(F.col("ts")))
    return cohort_retention(e, period_s=604_800)


@query(
    "top_term_coverage",
    """
    with w as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as word
        from documents
    ),
    c as (select doc_id, word, count(*) as n from w group by doc_id, word)
    select doc_id,
           cast(sum(n) as bigint) as n_words,
           round(max(n) / cast(sum(n) as double), 6) as top_word_frac
    from c group by doc_id
    """,
)
def top_term_coverage_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-term coverage
    (operators/pipeline.py:top_term_coverage): fraction of tokens
    taken by the most frequent token per doc."""
    from ..operators.pipeline import top_term_coverage

    return top_term_coverage(t(spark, sf_dir, "documents"))


_LM_SCORE_SQL = """
    with tok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as t
        from documents
    ),
    c as (select t, count(*) as n from tok group by t),
    tot as (select sum(n) as total_n, count(*) as vocab from c),
    p as (
        select t, ln((n + 1.0) / (total_n + 1.0 * vocab)) as lp
        from c cross join tot
    ),
    scored as (
        select doc_id,
               cast(count(*) as bigint) as n_tokens,
               round(avg(lp), 6) as mean_logprob
        from tok join p using (t)
        group by doc_id
    )
"""


@query(
    "lm_quality_score",
    _LM_SCORE_SQL + "select doc_id, n_tokens, mean_logprob from scored",
)
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring
    (operators/pipeline.py:unigram_logprob): per-doc mean log-prob
    under the corpus's own smoothed unigram model — the cheap stand-in
    for KenLM perplexity ranking. Vocab table broadcast; corpus
    shuffles once on the doc id for the mean."""
    from ..operators.pipeline import unigram_logprob

    return unigram_logprob(t(spark, sf_dir, "documents"))


@query("distinct_sketch_merge")
def distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL cardinality tracking (operators/pipeline.py:
    distinct_count_sketches / merge_distinct_count_sketches): per-half
    sketches of the documents table unioned into whole-corpus distinct
    estimates without rescanning — approximate by design (DataSketches
    HLL, ~1.6 % at lg_k=12), so no SQL oracle; accuracy vs exact
    counts is gated in tests/test_pipeline.py."""
    from ..operators.pipeline import (
        distinct_count_sketches,
        merge_distinct_count_sketches,
    )

    d = t(spark, sf_dir, "documents")
    a = distinct_count_sketches(d.filter(F.col("doc_id") % 2 == 0),
                                ["doc_id", "lang", "source"])
    b = distinct_count_sketches(d.filter(F.col("doc_id") % 2 == 1),
                                ["doc_id", "lang", "source"])
    return merge_distinct_count_sketches(a, b).select(
        "column", F.round("estimate", 2).alias("estimate")
    )


@query(
    "lm_ref_score",
    """
    with tok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as t
        from documents
    ),
    mtok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as t
        from documents where doc_id % 2 = 0
    ),
    c as (select t, count(*) as n from mtok group by t),
    tot as (select sum(n) as total_n, count(*) as vocab from c),
    p as (
        select t, ln((n + 1.0) / (total_n + 1.0 * vocab)) as lp
        from c cross join tot
    )
    select tok.doc_id,
           cast(count(*) as bigint) as n_tokens,
           round(avg(coalesce(p.lp,
                 ln(1.0 / (tot.total_n + 1.0 * tot.vocab)))), 6)
             as mean_logprob
    from tok
    left join p using (t)
    cross join tot
    group by tok.doc_id
    """,
)
def lm_ref_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LM scoring (operators/pipeline.py:unigram_logprob
    with model_df): every document scored under a unigram model built
    from the even-id half of the corpus only — the CCNet reference-
    model shape; out-of-reference grams take the add-α floor, replayed
    term-for-term in the oracle."""
    from ..operators.pipeline import unigram_logprob

    d = t(spark, sf_dir, "documents")
    return unigram_logprob(d, model_df=d.filter(F.col("doc_id") % 2 == 0))


@query(
    "lm_perplexity_buckets",
    _LM_SCORE_SQL + """
    select s.doc_id, d.lang,
           case ntile(3) over (partition by d.lang
                               order by s.mean_logprob desc, s.doc_id)
                when 1 then 'head' when 2 then 'middle' else 'tail' end
             as bucket
    from scored s join documents d using (doc_id)
    """,
)
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split
    (operators/pipeline.py:perplexity_buckets): per-language ntile(3)
    over the LM score, deterministic tie-break by id."""
    from ..operators.pipeline import perplexity_buckets, unigram_logprob

    d = t(spark, sf_dir, "documents")
    scored = unigram_logprob(d).join(d.select("doc_id", "lang"), "doc_id")
    return perplexity_buckets(scored).select("doc_id", "lang", "bucket")


_LM_INTERP_SQL = """
    with tok as (
        select doc_id,
               string_split_regex(lower(trim(text)), '\\s+') as ts
        from documents
    ),
    pos as (
        select doc_id,
               case when i > 1 then ts[i - 1] end as prev,
               ts[i] as cur
        from tok cross join unnest(range(1, len(ts) + 1)) as r(i)
    ),
    uni as (select cur as w, count(*) as n from pos group by cur),
    tot as (select sum(n) as total_n, count(*) as vocab from uni),
    pu as (
        select w, (n + 1.0) / (total_n + 1.0 * vocab) as pu
        from uni cross join tot
    ),
    big as (
        select prev, cur, count(*) as nb
        from pos where prev is not null group by prev, cur
    ),
    ctx as (select prev, sum(nb) as np from big group by prev),
    pb as (select b.prev, b.cur, b.nb, c.np from big b join ctx c using (prev))
    select pos.doc_id,
           cast(count(*) as bigint) as n_tokens,
           round(avg(case when pos.prev is null then ln(pu.pu)
                          else ln({lam} * (pb.nb / pb.np)
                                  + {oml} * pu.pu) end), 6) as mean_logprob
    from pos
    join pu on pos.cur = pu.w
    left join pb on pos.prev = pb.prev and pos.cur = pb.cur
    group by pos.doc_id
"""


@query(
    "lm_interp_score",
    # float-parity contract: (1-λ) = 0.30000000000000004 as a DOUBLE,
    # not the decimal "0.3" — the Spark side computes F.lit(1.0 - 0.7)
    # (operators/pipeline.py:interpolated_bigram_logprob), and the
    # oracle must multiply by the bit-identical IEEE value or the
    # 6-decimal rounding can land on opposite sides of a boundary.
    # repr() round-trips the exact double into SQL text; if the Spark
    # side ever takes λ as a parameter, format THIS string from the
    # same Python float, never from a hand-typed decimal.
    _LM_INTERP_SQL.format(lam=repr(0.7), oml=repr(1.0 - 0.7)),
)
def lm_interp_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM scoring
    (operators/pipeline.py:interpolated_bigram_logprob): position 1
    scores the smoothed unigram, later positions
    log(0.7·P_ML(cur|prev) + 0.3·P_uni(cur)) — the unigram backoff
    keeps rare continuations off the add-α floor, tracking true LM
    perplexity closer than either pure model. Unigram table
    broadcast; bigram ML join strategy left to AQE. The (1−λ)
    literal is repr()'d into the oracle so both engines multiply by
    the identical double."""
    from ..operators.pipeline import interpolated_bigram_logprob

    return interpolated_bigram_logprob(t(spark, sf_dir, "documents"))


@query(
    "dsir_importance",
    """
    with co_tok as (
        select doc_id,
               ('0x' || substr(md5(unnest(string_split_regex(
                   lower(trim(text)), '\\s+'))), 1, 8))::bigint % 4096 as f
        from documents
    ),
    ta_tok as (
        select ('0x' || substr(md5(unnest(string_split_regex(
                   lower(trim(text)), '\\s+'))), 1, 8))::bigint % 4096 as f
        from documents where lang = 'fr'
    ),
    cc as (select f, count(*) as nc from co_tok group by f),
    tc as (select f, count(*) as nt from ta_tok group by f),
    ct as (select sum(nc) as totc from cc),
    tt as (select sum(nt) as tott from tc),
    r as (
        select coalesce(cc.f, tc.f) as f,
               ln((coalesce(nt, 0) + 1.0) / (tott + 1.0 * 4096))
               - ln((coalesce(nc, 0) + 1.0) / (totc + 1.0 * 4096)) as llr
        from cc full outer join tc on cc.f = tc.f
        cross join ct cross join tt
    )
    select co_tok.doc_id,
           cast(count(*) as bigint) as n_tokens,
           round(avg(r.llr), 6) as importance_score
    from co_tok join r on co_tok.f = r.f
    group by co_tok.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting
    (operators/pipeline.py:dsir_importance_weights): French docs as
    the target domain, hashed-unigram log likelihood ratio scores over
    the whole corpus — the data-selection scoring pass; md5-bucket
    features make it exactly SQL-replayable."""
    from ..operators.pipeline import dsir_importance_weights

    d = t(spark, sf_dir, "documents")
    return dsir_importance_weights(d, d.filter(F.col("lang") == "fr"))


@query(
    "minhash_jaccard_est",
    _SHINGLE_SQL + """
    , hp as (
        select doc_id,
               list_transform(shingles, x -> struct_pack(
                   h1 := cast(('0x' || substr(md5(x), 1, 8)) as bigint),
                   h2 := cast(('0x' || substr(md5(x), 9, 8)) as bigint))) as hp
        from sh
    ),
    sig as (
        select doc_id,
               list_transform(range(0, 8), i ->
                   list_min(list_transform(hp,
                       p -> (p.h1 + i * p.h2) % 4294967296))) as sig
        from hp
    ),
    bands as (
        select doc_id, b,
               cast(sig[2*b + 1] as varchar) || '|' ||
               cast(sig[2*b + 2] as varchar) as val
        from sig cross join unnest([0, 1, 2, 3]) as tb(b)
    ),
    pairs as (
        select distinct a.doc_id as id_left, b.doc_id as id_right
        from bands a
        join bands b on a.b = b.b and a.val = b.val and a.doc_id < b.doc_id
    )
    select p.id_left, p.id_right,
           round(list_aggregate(list_transform(generate_series(1, 8),
                     i -> case when sa.sig[i] = sb.sig[i] then 1 else 0 end),
                 'sum') / 8.0, 6) as est_jaccard
    from pairs p
    join sig sa on sa.doc_id = p.id_left
    join sig sb on sb.doc_id = p.id_right
    """,
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement Jaccard estimate over the LSH candidates
    (operators/dedup.py:minhash_jaccard_estimate): ranks/filters
    candidate pairs moving only 8 longs per doc — exact shingle
    verification is then paid only above the estimate threshold.
    Signature-first composition: the (id, sig) table is computed once
    and feeds both the banded candidate join and the estimator — each
    document is shingled and hashed exactly once."""
    from ..operators.dedup import (
        minhash_jaccard_estimate,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    d = t(spark, sf_dir, "documents")
    sig = minhash_signatures(d, num_hashes=8, k=3)
    pairs = minhash_lsh_pairs(d, num_hashes=8, band_size=2, k=3, signatures=sig)
    return minhash_jaccard_estimate(pairs, num_hashes=8, signatures=sig)


@query(
    "corpus_data_card",
    """
    with s as (
        select lang, source, text,
               string_split_regex(trim(text), '\\s+') as words,
               case when length(trim(text)) = 0 then 0
                    else len(string_split_regex(trim(text), '\\s+')) end
                 as n_tok
        from documents
    ),
    f as (
        select lang, source, n_tok,
               case when len(words) >= 5
                 and list_aggregate(list_transform(words, w -> length(w)),
                                    'sum')
                     / cast(greatest(len(words), 1) as double)
                     between 3.0 and 10.0
                 and (length(text)
                      - length(replace(replace(text, '#', ''), '…', '')))
                     / cast(greatest(length(text), 1) as double) <= 0.1
                 and not contains(lower(text), 'lorem ipsum')
                 and not contains(text, '{') then 1 else 0 end as keep,
               case when len(regexp_extract_all(text, 'https?://[^\\s]+'))
                       + len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       + len(regexp_extract_all(text,
                           '\\+?[0-9][0-9()\\s.-]{7,}[0-9]')) > 0
                    then 1 else 0 end as has_pii
        from s
    )
    select lang, source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_tok) as bigint) as total_tokens,
           round(avg(n_tok), 6) as mean_tokens,
           round(avg(keep), 6) as quality_keep_rate,
           round(avg(has_pii), 6) as pii_doc_rate
    from f group by lang, source
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card rollup (operators/pipeline.py:corpus_stats): per
    (lang, source) document/token counts, quality keep rate, PII
    incidence — the dataset-release summary in one shuffle."""
    from ..operators.pipeline import corpus_stats

    return corpus_stats(t(spark, sf_dir, "documents"))


@query(
    "lm_bigram_score",
    """
    with tok as (
        select doc_id,
               string_split_regex(lower(trim(text)), '\\s+') as tk
        from documents
    ),
    grams as (
        select doc_id,
               unnest(list_transform(
                 generate_series(0, greatest(len(tk) - 2, 0)),
                 i -> array_to_string(list_slice(tk, i+1, i+2), ' '))) as t
        from tok
    ),
    c as (select t, count(*) as n from grams group by t),
    tot as (select sum(n) as total_n, count(*) as vocab from c),
    p as (
        select t, ln((n + 1.0) / (total_n + 1.0 * vocab)) as lp
        from c cross join tot
    )
    select grams.doc_id,
           cast(count(*) as bigint) as n_tokens,
           round(avg(p.lp), 6) as mean_logprob
    from grams join p using (t)
    group by grams.doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring
    (operators/pipeline.py:unigram_logprob with n=2): token-bigram
    log-probabilities with multiplicity — a materially closer KenLM
    stand-in than unigrams (word order now matters)."""
    from ..operators.pipeline import unigram_logprob

    return unigram_logprob(t(spark, sf_dir, "documents"), n=2)


@query(
    "semantic_dedup",
    f"""
    with recursive hp as (
        select p, list_transform(range(0, 64), d ->
            (('0x' || substr(md5(cast(p as varchar) || ':' ||
                             cast(d as varchar)), 1, 8))::bigint
             / 2147483648.0 - 1.0)) as pv
        from (select unnest(range(0, (
            select greatest(4, least(24,
                cast(ceil(log2(greatest(count(*), 1) / 32.0)) as bigint)))
            from embeddings))) as p)
    ),
    bk as (
        select e.vec_id, e.embedding,
               sum(case when {_DOT_SQL.format(a='e.embedding', b='hp.pv')} > 0
                        then (1::bigint << p) else 0 end) as bucket
        from embeddings e cross join hp
        group by e.vec_id, e.embedding
    ),
    pairs as (
        select a.vec_id as id_left, b.vec_id as id_right
        from bk a
        join bk b on a.bucket = b.bucket and a.vec_id < b.vec_id
        where round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.3
    ),
    edges as (
        select id_left as a, id_right as b from pairs
        union
        select id_right, id_left from pairs
    ),
    reach(src, dst) as (
        select a, b from edges
        union
        select r.src, e.b from reach r join edges e on r.dst = e.a
    ),
    comp as (
        select src as node, least(src, min(dst)) as component
        from reach group by src
    )
    select e.vec_id, e.label
    from embeddings e
    left join (select node from comp where node <> component) l
      on e.vec_id = l.node
    where l.node is null
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/ann.py:semantic_dedup_corpus): embedding-
    space near-duplicate removal — deterministic hyperplane sign-sketch
    buckets (md5-derived planes, engine-replayable) confine the
    quadratic cosine work to within-bucket pairs; pairs with
    round(cos, 6) ≥ 0.3 resolve through connected components and only
    the min-id canonical per component (plus all singletons) survives.
    Round 9: the plane count SCALES with the corpus
    (``n_planes=None`` → clamp(ceil(log2(n/32)), 4, 24)) — a fixed
    count left expected bucket populations growing ∝ n, the quadratic
    tail SCALE_r08 measured at exp 1.13 / 59 s at sf1. Both engines
    derive the count from the same count(*), so the oracle replays
    the hyperplanes, sign buckets, bucket-blocked cosine pairs,
    recursive closure, and anti-join bit-for-bit at ANY scale. The
    k-means-clustered variant (the paper's own bucketing, via
    ivf_index) is property-tested in tests/test_ann.py — iterative
    training is not SQL-expressible."""
    from ..operators.ann import semantic_dedup_corpus

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return semantic_dedup_corpus(e, dims=64, n_planes=None, eps=0.3).select(
        "vec_id", "label"
    )


@query(
    "corpus_shuffle",
    """
    with h as (
        select doc_id, lang,
               md5(cast(doc_id as varchar) || 'shuffle') as hh
        from documents
    ),
    sh as (
        select doc_id, lang, hh,
               ('0x' || substr(hh, 1, 8))::bigint % 16 as shard
        from h
    )
    select doc_id, lang, shard,
           cast(row_number() over (
               partition by shard order by hh, doc_id
           ) as bigint) as shard_pos
    from sh
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle
    (operators/pipeline.py:shuffle_corpus): every doc gets a
    (shard, shard_pos) slot in a md5(id ∥ salt)-derived pseudo-random
    permutation — reproducible across runs/engines, ONE shuffle on the
    shard id plus per-shard bounded sorts, never a global total order
    (a global row_number would serialize on one partition)."""
    from ..operators.pipeline import shuffle_corpus

    d = t(spark, sf_dir, "documents")
    return shuffle_corpus(d, n_shards=16).select(
        "doc_id", "lang", "shard", "shard_pos"
    )


@query(
    "doc_chunks",
    """
    with tok as (
        select doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') as tk
        from documents
    ),
    st as (
        select doc_id, tk,
               generate_subscripts(range(0, len(tk), 24), 1) - 1 as chunk_id,
               unnest(range(0, len(tk), 24)) as s
        from tok
    )
    select doc_id,
           cast(chunk_id as bigint) as chunk_id,
           cast(s as bigint) as chunk_start,
           cast(len(tk[s+1:s+32]) as bigint) as chunk_n_tokens,
           md5(array_to_string(tk[s+1:s+32], ' ')) as chunk_md5
    from st
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed token-window document chunking with overlap
    (operators/pipeline.py:chunk_documents): 32-token windows every 24
    tokens (8 overlap) — the RAG-indexing / long-doc training-example
    shape. Pure map pass (tokenize → sequence of starts → posexplode →
    slice): zero shuffle, pipelines into the scan. The oracle replays
    tokenization, stride grid, slicing, and the chunk text md5."""
    from ..operators.pipeline import chunk_documents

    d = t(spark, sf_dir, "documents")
    out = chunk_documents(d, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id", "chunk_id", "chunk_start", "chunk_n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@query(
    "corpus_upsample",
    """
    with r as (
        select doc_id, lang, source,
               case when lang = 'en' then 2.5
                    when lang = 'fr' then 0.5
                    when lang = 'zh' then 0.0
                    else 1.0 end as rate,
               ('0x' || substr(md5(cast(doc_id as varchar) || 'epochs'),
                               1, 8))::bigint as hv
        from documents
    ),
    n as (
        select doc_id, lang, source,
               cast(floor(rate) as bigint)
               + case when hv < (rate - floor(rate)) * 4294967296.0
                      then 1 else 0 end as n_copies
        from r
    )
    select doc_id, lang, source,
           cast(unnest(range(0, n_copies)) as bigint) as epoch_idx
    from n
    where n_copies > 0
    """,
)
def corpus_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor upsampling (operators/pipeline.py:
    upsample_corpus): per-language epoch counts à la LLaMA data
    recipes — en 2.5 epochs (every doc twice, a deterministic
    md5-selected half a third time), fr 0.5, zh dropped, others 1.0.
    Map-side explode(sequence) fan-out: no shuffle, no join, corpus
    read once regardless of total epoch mass; the fractional-copy
    subset is a salted hash_sample draw, decorrelated from the other
    samplers."""
    from ..operators.pipeline import upsample_corpus

    d = t(spark, sf_dir, "documents")
    return upsample_corpus(
        d, "lang", {"en": 2.5, "fr": 0.5, "zh": 0.0}
    ).select("doc_id", "lang", "source", "epoch_idx")


@query(
    "zorder_layout",
    """
    with e as (
        select event_id, user_id,
               cast(floor(epoch(ts)) as bigint) // 86400 as day
        from events
    ),
    b as (
        select min(user_id) as mnu, max(user_id) as mxu,
               min(day) as mnd, max(day) as mxd
        from e
    ),
    c as (
        select event_id,
               least(greatest(cast(floor((user_id - mnu) * 256.0 /
                     (mxu - mnu + 1)) as bigint), 0), 255) as cu,
               least(greatest(cast(floor((day - mnd) * 256.0 /
                     (mxd - mnd + 1)) as bigint), 0), 255) as cd
        from e cross join b
    )
    select event_id,
           cast((((cu >> 0) & 1) << 0)
               + (((cu >> 1) & 1) << 2)
               + (((cu >> 2) & 1) << 4)
               + (((cu >> 3) & 1) << 6)
               + (((cu >> 4) & 1) << 8)
               + (((cu >> 5) & 1) << 10)
               + (((cu >> 6) & 1) << 12)
               + (((cu >> 7) & 1) << 14)
               + (((cd >> 0) & 1) << 1)
               + (((cd >> 1) & 1) << 3)
               + (((cd >> 2) & 1) << 5)
               + (((cd >> 3) & 1) << 7)
               + (((cd >> 4) & 1) << 9)
               + (((cd >> 5) & 1) << 11)
               + (((cd >> 6) & 1) << 13)
               + (((cd >> 7) & 1) << 15) as bigint) as z
    from c
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout key (sources/etl.py:zorder_key): events
    gridded to 8 bits per dimension on (user_id, day), bits
    interleaved into one sort key — sorting by it makes parquet
    min-max stats tight bounding boxes in BOTH dimensions, so range
    filters on either column prune files (write path:
    write_zordered, file-level skipping asserted in tests/test_etl.py).
    Pure shift/mask codegen expression, bit-identical in the oracle;
    the scale-to-grid double division is whole-number-exact by the
    documented 2^53 numerator guard."""
    from ..sources.etl import zorder_key

    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.floor(_epoch_s(F.col("ts")) / 86400).cast("long").alias("day"),
    )
    st = e.agg(
        F.min("user_id").alias("mnu"), F.max("user_id").alias("mxu"),
        F.min("day").alias("mnd"), F.max("day").alias("mxd"),
    ).collect()[0]
    if st["mnu"] is None:  # empty input: no bounds, no layout to build
        return e.select("event_id", F.lit(None).cast("long").alias("z"))
    z = zorder_key(
        ["user_id", "day"],
        [(st["mnu"], st["mxu"]), (st["mnd"], st["mxd"])],
        bits=8,
    )
    return e.select("event_id", z.alias("z"))


@query(
    "blocking_estimate",
    """
    with a0 as (
        select c_nationkey, count(*) as na from customer
        where c_nationkey is not null group by c_nationkey
    ),
    b0 as (
        select c_nationkey, count(*) as nb from customer
        where c_nationkey is not null group by c_nationkey
    ),
    a1 as (
        select substr(c_name, 1, 12) as k0, c_mktsegment as k1,
               count(*) as na
        from customer
        where c_name is not null and c_mktsegment is not null
        group by 1, 2
    ),
    b1 as (
        select substr(c_name, 1, 12) as k0, c_mktsegment as k1,
               count(*) as nb
        from customer
        where c_name is not null and c_mktsegment is not null
        group by 1, 2
    )
    select cast(0 as bigint) as pass_idx,
           cast(coalesce((select sum(a0.na * b0.nb) from a0
                          join b0 using (c_nationkey)), 0) as bigint)
               as est_pairs
    union all
    select cast(1 as bigint),
           cast(coalesce((select sum(a1.na * b1.nb) from a1
                          join b1 on a1.k0 = b1.k0 and a1.k1 = b1.k1), 0)
                as bigint)
    """,
)
def blocking_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-free blocking-size prediction
    (blocking.py:estimate_blocking_counts): per-pass candidate counts
    from per-key histograms — Σ cnt_a(v)·cnt_b(v), table-sized work
    instead of pair-sized. The number equals what
    ``blocking_pass_counts`` measures by materializing the pairs
    (asserted in tests/test_blocking.py); at 100 TB this is the
    guardrail you can afford to run on every candidate rule set."""
    from ..blocking import estimate_blocking_counts
    from ..spec import BlockingRule

    customer = t(spark, sf_dir, "customer").withColumn(
        "__pfx", F.substring("c_name", 1, 12)
    )
    return estimate_blocking_counts(
        customer,
        customer,
        [
            BlockingRule.on("c_nationkey"),
            BlockingRule.on("__pfx", "c_mktsegment"),
        ],
    )


@query(
    "key_skew_report",
    """
    with c as (
        select user_id, event_type, count(*) as n
        from events group by user_id, event_type
    ),
    tot as (select count(*) as t from events)
    select user_id, event_type, n,
           round(n / (select t from tot), 6) as frac
    from c
    order by n desc, user_id asc, event_type asc
    limit 15
    """,
)
def key_skew_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shuffle-key diagnostic (blocking.py:
    key_skew_report): top-15 hottest (user_id, event_type) keys with
    corpus fraction — the rows that become stragglers when this key
    partitions a shuffle. One partial-aggregated shuffle + global
    top-n (TakeOrderedAndProject, no full sort)."""
    from ..blocking import key_skew_report

    ev = t(spark, sf_dir, "events")
    return key_skew_report(ev, ["user_id", "event_type"], top_n=15)


@query(
    "trainer_export_e2e",
    """
    with s0 as (
        select doc_id, text,
               string_split_regex(trim(text), '\\s+') as words
        from documents
    ),
    q as (
        select doc_id, text from s0
        where len(words) >= 5
          and list_aggregate(list_transform(words, w -> length(w)), 'sum')
              / cast(greatest(len(words), 1) as double) >= 3.0
          and list_aggregate(list_transform(words, w -> length(w)), 'sum')
              / cast(greatest(len(words), 1) as double) <= 10.0
          and (length(text)
               - length(replace(replace(text, '#', ''), '…', '')))
              / cast(greatest(length(text), 1) as double) <= 0.1
          and not contains(lower(text), 'lorem ipsum')
          and not contains(text, '{')
    ),
    fp as (
        select doc_id, text,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as h
        from q
    ),
    win as (select h, min(doc_id) as keep_id from fp group by h),
    surv as (
        select f.doc_id, f.text
        from fp f join win w on f.h = w.h and f.doc_id = w.keep_id
    ),
    tok as (
        select doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') as tk
        from surv
    ),
    st as (
        select doc_id, tk,
               generate_subscripts(range(0, len(tk), 32), 1) - 1 as chunk_id,
               unnest(range(0, len(tk), 32)) as s
        from tok
    ),
    ch as (
        select doc_id * 1000 + chunk_id as uid,
               cast(len(tk[s+1:s+32]) as bigint) as n_tokens
        from st
    ),
    pk as (
        select uid, n_tokens, uid % 8 as bucket,
               sum(n_tokens) over (
                   partition by uid % 8 order by uid
                   rows unbounded preceding
               ) as cum
        from ch
    ),
    pk2 as (
        select uid, n_tokens, bucket,
               cast((cum - n_tokens) // 256 as bigint) as seq_id,
               cast((cum - n_tokens) % 256 as bigint) as seq_offset
        from pk
    ),
    sh as (
        select *, md5(cast(uid as varchar) || 'shuffle') as hh from pk2
    )
    select uid, n_tokens, bucket, seq_id, seq_offset,
           ('0x' || substr(hh, 1, 8))::bigint % 8 as shard,
           cast(row_number() over (
               partition by ('0x' || substr(hh, 1, 8))::bigint % 8
               order by hh, uid
           ) as bigint) as shard_pos
    from sh
    """,
)
def trainer_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trainer-materialization chain composed end-to-end in
    ONE lazy plan: prepare_corpus (quality filter → normalized exact
    dedup) → chunk_documents (32-token windows) → pack_sequences
    (256-token budget, 8 hash buckets) → shuffle_corpus (8-shard
    deterministic training order). The oracle replays every stage —
    composition order and inter-stage dataflow are hash-checked, the
    same guarantee corpus_pipeline_e2e gives the hygiene chain, here
    for the raw-text → training-shard path. Shard files themselves
    are written by write_sharded (size-bound tested in
    tests/test_etl.py); this gate pins the rows/slots they receive."""
    from ..operators.pipeline import (
        chunk_documents,
        pack_sequences,
        prepare_corpus,
        shuffle_corpus,
    )
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    corpus = prepare_corpus(d, quality=True, line_dedup=False, exact_dedup=True)
    chunks = chunk_documents(corpus, chunk_tokens=32, overlap=0).withColumn(
        "uid", F.col("doc_id") * 1000 + F.col("chunk_id")
    )
    packed = pack_sequences(
        chunks, budget=256, n_buckets=8, id_col="uid",
        token_col="chunk_n_tokens",
    )
    shuffled = shuffle_corpus(packed, id_col="uid", n_shards=8)
    return shuffled.select(
        "uid", "n_tokens", "bucket", "seq_id", "seq_offset",
        "shard", "shard_pos",
    )


@query(
    "quality_classifier_score",
    f"""
    with base as (
        select doc_id, lang, trim(text) as t,
               length(trim(text)) as n_chars,
               string_split_regex(lower(trim(text)), '\\s+') as tk
        from documents
    ),
    feat as (
        select doc_id, lang,
               ln(1 + len(tk)::double) as f0,
               (n_chars - (len(tk) - 1)) / len(tk)::double as f1,
               len(regexp_extract_all(t, '[^\\w\\s]')) / n_chars::double
                   as f2,
               len(list_filter(tk, x -> list_contains({_EN_SQL}, x)))
                   / len(tk)::double as f3
        from base
    )
    select doc_id, lang,
           round(1.0 / (1.0 + exp(-(-2.0 + 0.35 * f0 + 0.1 * f1
                                    + -8.0 * f2 + 6.0 * f3))), 6)
               as quality_prob
    from feat
    """,
)
def quality_classifier_score_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/pipeline.py:
    quality_classifier_score): σ(intercept + w·features) over the
    quality feature vector with FIXED example weights — training
    (train_quality_classifier, Spark ML logistic regression on a
    bounded labeled set) is iterative and not SQL-expressible, but the
    deployed artifact is four scalars inlined into a pure codegen
    scoring expression, which the oracle replays term-for-term. This
    is the fasttext-classifier-style filter stage of an LLM data
    pipeline: corpus only ever sees a zero-shuffle map pass
    (separation quality property-tested in tests/test_pipeline.py)."""
    from ..operators.pipeline import quality_classifier_score

    d = t(spark, sf_dir, "documents")
    model = {"intercept": -2.0, "weights": [0.35, 0.1, -8.0, 6.0]}
    return quality_classifier_score(d, model).select(
        "doc_id", "lang", "quality_prob"
    )


@query(
    "dedup_keep_best",
    """
    with c as (
        select doc_id, text, lang from documents
        union all
        select doc_id + 10000, text, lang from documents
        where doc_id % 5 = 0
    ),
    s as (
        select doc_id, text, lang,
               cast(doc_id % 7 as double) as score,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as h
        from c
    )
    select doc_id, lang, score from (
        select doc_id, lang, score,
               row_number() over (
                   partition by h order by score desc, doc_id asc
               ) as rn
        from s
    ) where rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup
    (operators/dedup.py:exact_dedup_keep_best): re-identified copies
    are planted (doc_id+10000 for every 5th doc) with DIFFERENT
    deterministic scores (doc_id % 7), and the highest-scoring copy
    per content hash must win (ties → min id). The argmax is a struct
    max inside one partial-aggregated groupBy on the 32-byte hash —
    no corpus window; winners left-semi join back."""
    from ..operators.dedup import exact_dedup_keep_best

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    planted = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    c = d.unionByName(planted).withColumn(
        "score", (F.col("doc_id") % 7).cast("double")
    )
    return exact_dedup_keep_best(c, "score").select("doc_id", "lang", "score")


@query(
    "salted_join_orders",
    """
    select o.o_orderkey, c.c_custkey, c.c_mktsegment
    from orders o join customer c on o.o_custkey = c.c_custkey
    """,
)
def salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-table salted equi-join
    (operators/util.py:salted_join): orders×customer on the custkey
    with 5 salts — the probe side's hot keys split 5 ways, the
    build side replicates 5×, and the result must equal the plain
    join row-for-row (the oracle IS the plain join). The skew play for
    a right side too big or too skew-correlated to broadcast, where
    AQE's sort-merge-only splitting can't reach."""
    from ..operators.util import salted_join

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return salted_join(
        o, c, on=["c_custkey"], salt_from="o_orderkey", num_salts=5
    ).select("o_orderkey", "c_custkey", "c_mktsegment")


@query(
    "tfidf_cosine_pairs",
    """
    with tok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as term
        from documents
    ),
    tf as (
        select doc_id, term, count(*) as tf from tok group by doc_id, term
    ),
    dfreq as (select term, count(*) as df from tf group by term),
    kept as (
        select tf.doc_id, tf.term,
               tf.tf * ln(500.0 / dfreq.df) as w
        from tf join dfreq using (term)
        where dfreq.df <= 100
    ),
    nrm as (select doc_id, sqrt(sum(w * w)) as nn from kept group by doc_id),
    dots as (
        select a.doc_id as id_left, b.doc_id as id_right,
               sum(a.w * b.w) as dot
        from kept a
        join kept b on a.term = b.term and a.doc_id < b.doc_id
        group by a.doc_id, b.doc_id
    )
    select id_left, id_right,
           round(dot / (na.nn * nb.nn), 6) as cos_sim
    from dots
    join nrm na on dots.id_left = na.doc_id
    join nrm nb on dots.id_right = nb.doc_id
    where round(dot / (na.nn * nb.nn), 6) >= 0.2
    """,
)
def tfidf_cosine_pairs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity pairs
    (operators/dedup.py:tfidf_cosine_pairs): inverted-index
    term-at-a-time TF-IDF cosine with df-capped pruning (df ≤ 100) —
    the hottest terms ARE the quadratic join blowup, and idf already
    sends their weights to ~0, so dropping them bounds fan-out at
    negligible recall cost. The lexical complement to the
    dense-embedding near-dup family; every shuffle keys on term or
    doc id. n_docs=500 matches the sf0.01 fixture (the driver gates at
    that scale; the oracle inlines the same constant)."""
    from ..operators.dedup import tfidf_cosine_pairs

    d = t(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(d, n_docs=500, max_df=100, threshold=0.2)


@query(
    "script_fractions",
    r"""
    with base as (
        select doc_id, lang, text,
               greatest(length(regexp_replace(text, '\s+', '', 'g')),
                        1)::double as n
        from documents
    )
    select doc_id, lang,
           round(len(regexp_extract_all(text,
                 '[A-Za-z\x{00c0}-\x{024f}]')) / n, 6) as latin_frac,
           round(len(regexp_extract_all(text,
                 '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]'))
                 / n, 6) as cjk_frac,
           round(len(regexp_extract_all(text,
                 '[\x{0400}-\x{04ff}]')) / n, 6) as cyrillic_frac
    from base
    """,
)
def script_fractions_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition (functions/text.py:script_fractions):
    per-script fraction of non-space characters — the writing-system
    detector that runs BEFORE stopword lang-id (and flags mojibake /
    script soup). Pure regexp-count codegen, zero shuffle; the
    [\\x{...}] class syntax parses identically in Java regex and RE2,
    so the oracle replays the patterns verbatim. The synthetic fixture
    is ASCII-only (the gate pins the computation; the multi-script
    signal is unit-tested on planted CJK/Cyrillic text)."""
    from ..functions.text import script_fractions

    d = t(spark, sf_dir, "documents")
    s = script_fractions("text")
    return d.select(
        "doc_id", "lang",
        F.round(s["latin"], 6).alias("latin_frac"),
        F.round(s["cjk"], 6).alias("cjk_frac"),
        F.round(s["cyrillic"], 6).alias("cyrillic_frac"),
    )


@query(
    "events_trailing_agg",
    """
    select event_id, user_id,
           round(avg(value) over (
               partition by user_id order by cast(floor(epoch(ts)) as bigint)
               range between 3600 preceding and current row
           ), 6) as avg_3600s,
           cast(count(*) over (
               partition by user_id order by cast(floor(epoch(ts)) as bigint)
               range between 3600 preceding and current row
           ) as bigint) as count_3600s
    from events
    """,
)
def events_trailing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row trailing 1-hour aggregates
    (operators/pipeline.py:trailing_window_agg): every event carries
    the avg/count of its user's events in the preceding hour — the
    moving-average shape tumbling/hopping windows can't express (they
    emit per-window, not per-event). Native RANGE frame: one shuffle
    on the key, O(rows) frame walk, no self-join fan-out."""
    from ..operators.pipeline import trailing_window_agg

    ev = t(spark, sf_dir, "events")
    out = trailing_window_agg(
        ev, ["user_id"], _epoch_s(F.col("ts")), "value", 3600
    )
    return out.select("event_id", "user_id", "avg_3600s", "count_3600s")


@query(
    "events_anomaly_flags",
    """
    with base as (
        select event_id, user_id, value,
               avg(value) over w as m,
               stddev_samp(value) over w as s,
               count(*) over w as c
        from events
        window w as (
            partition by user_id
            order by cast(floor(epoch(ts)) as bigint)
            range between 3600 preceding and 1 preceding
        )
    )
    select event_id, user_id, value,
           round(m, 6) as trailing_mean,
           round(s, 6) as trailing_std,
           cast(c as bigint) as n_prior,
           round(case when c >= 5 and s is not null and s > 0
                      then (value - m) / s end, 6) as zscore,
           coalesce(case when c >= 5 and s is not null and s > 0
                         then abs((value - m) / s) > 2.5 end,
                    false) as is_anomaly
    from base
    """,
)
def events_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating event outlier flags (operators/pipeline.py:
    trailing_zscore_flags): each event judged against its OWN user's
    strictly-prior 1-hour baseline (range frame -3600..-1 excludes
    the row and its timestamp peers, so outliers never dilute the
    statistics they're judged by); cold starts (< 5 prior events,
    degenerate stddev) never flag. One key shuffle, O(rows) frame
    walk — the same plan shape as events_trailing_agg."""
    from ..operators.pipeline import trailing_zscore_flags

    ev = t(spark, sf_dir, "events")
    out = trailing_zscore_flags(
        ev, ["user_id"], _epoch_s(F.col("ts")), "value", 3600,
        z_threshold=2.5, min_count=5,
    )
    return out.select(
        "event_id", "user_id", "value", "trailing_mean",
        "trailing_std", "n_prior", "zscore", "is_anomaly",
    )


@query(
    "profile_columns",
    """
    with s as (select * from events)
    select 'event_id' as column,
           count(event_id) as n_non_null,
           cast(sum(case when event_id is null then 1 else 0 end) as bigint)
               as n_null,
           count(distinct event_id) as n_distinct,
           cast(min(event_id) as varchar) as min_value,
           cast(max(event_id) as varchar) as max_value,
           round(avg(event_id), 6) as mean,
           round(stddev_samp(event_id), 6) as stddev
    from s
    union all
    select 'event_type',
           count(event_type),
           cast(sum(case when event_type is null then 1 else 0 end) as bigint),
           count(distinct event_type),
           cast(min(event_type) as varchar),
           cast(max(event_type) as varchar),
           null, null
    from s
    union all
    select 'value',
           count(value),
           cast(sum(case when value is null then 1 else 0 end) as bigint),
           count(distinct value),
           cast(min(value) as varchar),
           cast(max(value) as varchar),
           round(avg(value), 6),
           round(stddev_samp(value), 6)
    from s
    """,
)
def profile_columns_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/pipeline.py:profile_columns): one
    aggregation pass computes every column's count/null/distinct/
    min/max/mean/stddev, unpivoted to a row per column — the
    first-look data-quality report. The gate pins ``approx=False``
    (exact distincts) so the oracle hash replays a deterministic
    number; the OPERATOR default is ``approx=True`` (HLL) since r10 —
    the 100 TB-appropriate setting, per the r9 verdict's polish item."""
    from ..operators.pipeline import profile_columns

    ev = t(spark, sf_dir, "events")
    return profile_columns(ev, ["event_id", "event_type", "value"], approx=False)


def _psi_sql(cols: "tuple[str, ...]" = ("value", "user_id"), k: int = 10) -> str:
    """PSI oracle generator: per column, the reference-min/max
    fixed-width bucket CASE, per-side bucket counts, a full join of
    the two proportion tables (bins empty on BOTH sides contribute
    exactly 0, so omitting them matches the engine's all-bins sum),
    and the ε-floored PSI sum."""
    blocks, selects = [], []
    for c in cols:
        bucket = (
            f"case when {c} is null then -1 "
            f"when st.mn_{c} is null then 0 "
            # constant reference: match-bin vs other-bin (engine's
            # degenerate rule since r11 — a shifted constant registers)
            f"when st.mx_{c} = st.mn_{c} then "
            f"(case when cast({c} as double) = st.mn_{c} then 0 else 1 end) "
            f"else least(greatest(cast(floor((cast({c} as double) - st.mn_{c}) "
            f"/ ((st.mx_{c} - st.mn_{c}) / {k}.0)) as int), 0), {k - 1}) end"
        )
        blocks.append(
            f"""rb_{c} as (
        select {bucket} as b, count(*) as n
        from ref cross join st group by 1
    ),
    cb_{c} as (
        select {bucket} as b, count(*) as n
        from cur cross join st group by 1
    ),
    p_{c} as (
        select greatest(coalesce(r.n, 0) * 1.0 / (select n from rn), 1e-06) as pr,
               greatest(coalesce(c.n, 0) * 1.0 / (select n from cn), 1e-06) as pc
        from rb_{c} r full outer join cb_{c} c on r.b = c.b
    ),
    psi_{c} as (select sum((pc - pr) * ln(pc / pr)) as psi from p_{c})"""
        )
        selects.append(
            f"select '{c}' as \"column\", (select n from rn) as n_ref, "
            f"(select n from cn) as n_cur, "
            f"round((select psi from psi_{c}), 6) as psi"
        )
    mn_mx = ", ".join(
        f"min(cast({c} as double)) as mn_{c}, max(cast({c} as double)) as mx_{c}"
        for c in cols
    )
    return (
        "with ref as (select * from events),\n"
        "    cur as (select * from events where event_type = 'purchase'),\n"
        f"    st as (select {mn_mx} from ref),\n"
        "    rn as (select count(*) as n from ref),\n"
        "    cn as (select count(*) as n from cur),\n    "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    union all\n    ".join(selects)
    )


def _psi_cat_sql(cols: "tuple[str, ...]" = ("source", "lang"), k: int = 8) -> str:
    """Categorical-PSI oracle generator: per column, the reference
    top-k bin pick (count desc, value asc — the engine's deterministic
    tie-break), membership classification into value/OTHER/NULL bins
    via a left join against the bin list, per-side bin counts, and the
    same ε-floored full-join PSI sum as the numeric oracle (bins empty
    on BOTH sides contribute exactly 0)."""
    blocks, selects = [], []
    for c in cols:
        blocks.append(
            f"""cats_{c} as (
        select {c} as v from ref where {c} is not null
        group by 1 order by count(*) desc, v asc limit {k}
    ),
    rb_{c} as (
        select case when d.{c} is null then '__null__'
                    when t.v is not null then cast(d.{c} as varchar)
                    else '__other__' end as b, count(*) as n
        from ref d left join cats_{c} t on d.{c} = t.v
        group by 1
    ),
    cb_{c} as (
        select case when d.{c} is null then '__null__'
                    when t.v is not null then cast(d.{c} as varchar)
                    else '__other__' end as b, count(*) as n
        from cur d left join cats_{c} t on d.{c} = t.v
        group by 1
    ),
    p_{c} as (
        select greatest(coalesce(r.n, 0) * 1.0 / (select n from rn), 1e-06) as pr,
               greatest(coalesce(c.n, 0) * 1.0 / (select n from cn), 1e-06) as pc
        from rb_{c} r full outer join cb_{c} c on r.b = c.b
    ),
    psi_{c} as (select sum((pc - pr) * ln(pc / pr)) as psi from p_{c})"""
        )
        selects.append(
            f"select '{c}' as \"column\", (select n from rn) as n_ref, "
            f"(select n from cn) as n_cur, "
            f"round((select psi from psi_{c}), 6) as psi"
        )
    return (
        "with ref as (select * from documents),\n"
        "    cur as (select * from documents where n_chars < 500),\n"
        "    rn as (select count(*) as n from ref),\n"
        "    cn as (select count(*) as n from cur),\n    "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    union all\n    ".join(selects)
    )


@query("psi_cat_drift_report", _psi_cat_sql())
def psi_cat_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E132 — categorical PSI drift
    (operators/pipeline.py:psi_report_categorical): source and
    language mix of the short-document slice (n_chars < 500) against
    the full corpus — the mix-stability readout a training-data
    release gates on. Bins are the reference's top-8 categories
    (count-desc, value-asc tie-break — deterministic) + OTHER + NULL;
    one reference groupBy per column picks the bins, then one
    conditional-sum pass per side counts every column's bins with the
    bin lists riding the plan as literals. The oracle replays the
    top-k pick, the membership CASE, both count passes, and the
    ε-floored ln sum."""
    from ..operators.pipeline import psi_report_categorical

    d = t(spark, sf_dir, "documents")
    return psi_report_categorical(
        d.filter(F.col("n_chars") < 500), d, ["source", "lang"], top_k=8
    )


@query("psi_drift_report", _psi_sql())
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E131 — Population Stability Index drift monitor
    (operators/pipeline.py:psi_report): the purchase-event slice as
    the 'current' population against the full event stream as the
    reference, PSI per numeric column (value, user_id) over 10
    reference-min/max fixed-width bins plus a NULL bin, ε-floored —
    the report a pipeline reads before trusting a new crawl against
    the training mix. Two 1-row conditional-sum aggregations (every
    column's bins in one pass per side, the profile_columns shape),
    PSI arithmetic on their crossJoin; the oracle replays the edges,
    the clamped bucket CASE, both count passes, the proportion floor,
    and the ln sum. On this synthetic stream purchases are an
    unbiased slice, so both columns read stable (PSI < 0.01) — the
    gate pins the arithmetic, not a planted drift; the planted-drift
    behavior is unit-tested."""
    from ..operators.pipeline import psi_report

    ev = t(spark, sf_dir, "events")
    return psi_report(
        ev.filter(F.col("event_type") == "purchase"),
        ev,
        ["value", "user_id"],
        n_buckets=10,
    )


@query(
    "events_asof_forward",
    """
    with clicks as (
        select user_id, event_id, ts from events where event_type = 'click'
    ),
    purch as (
        select user_id, ts, max(value) as purchase_value
        from events where event_type = 'purchase'
        group by user_id, ts
    )
    select c.user_id, c.event_id,
           cast(floor(epoch(c.ts)) as bigint) as click_ts_s,
           cast(floor(epoch(p.ts)) as bigint) as purchase_ts_s,
           round(p.purchase_value, 6) as purchase_value
    from clicks c
    asof join purch p on c.user_id = p.user_id and c.ts <= p.ts
    """,
)
def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py, direction='forward'):
    each click joined to the user's NEXT purchase at-or-after it — the
    'next event after' labeling shape (conversion attribution,
    time-to-next-failure). Gated against DuckDB's native forward ASOF
    (ON c.ts <= p.ts); same one-shuffle union-sort plan with the sort
    reversed."""
    from ..operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        clicks, purch, on="user_id", ts="ts",
        right_cols=["purchase_value"], direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        _epoch_s(F.col("ts")).alias("click_ts_s"),
        _epoch_s(F.col("ts_matched")).alias("purchase_ts_s"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


# --------------------------------------------------------------------
# URL canonicalization + URL-keyed dedup (round 11, E136/E137 — the
# CCNet first-stage dedup key). The documents table carries no URL
# column, so the gates DERIVE a deterministic messy-URL population
# from (doc_id, source) — scheme/host case noise, www, default ports,
# tracking params, fragments, trailing slashes, a scheme-less cohort —
# and both engines replay the derivation term for term (the
# oracle-the-deterministic-derivation pattern every VALUES-free
# synthetic gate here uses). doc_id % 50 collides many docs onto one
# canonical URL, so the dedup gate exercises real group sizes.
# --------------------------------------------------------------------

_MESSY_URL_SQL = r"""
    with urls as (
        select doc_id,
               case when doc_id % 7 = 0 then
                   'EXAMPLE.com/Plain/' || cast(doc_id % 50 as varchar) || '#x'
               else
                   'HTTPS://WWW.' || source || '.Example.COM'
                   || (case when doc_id % 4 = 0 then ':443' else '' end)
                   || '/Docs/' || cast(doc_id % 50 as varchar)
                   || (case doc_id % 5
                           when 0 then '/?utm_source=feed&b=2&a=1#frag'
                           when 1 then '?gclid=xyz&z=9'
                           when 2 then '/'
                           when 3 then '#sec2'
                           else '' end)
               end as url
        from documents
    )
"""

_CANON_URL_SQL = r""",
    c1 as (
        select doc_id, url, regexp_replace(trim(url), '#.*$', '') as u
        from urls
    ),
    c2 as (
        select doc_id, url, u,
               lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                   as scheme,
               regexp_replace(
                   lower(regexp_extract(
                       u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                   '^www\.', '') as hp,
               regexp_extract(
                   u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) as rest
        from c1
    ),
    c3 as (
        select doc_id, url, u, scheme, rest,
               case when scheme = 'http' then regexp_replace(hp, ':80$', '')
                    when scheme = 'https' then regexp_replace(hp, ':443$', '')
                    else hp end as host
        from c2
    ),
    c4 as (
        select doc_id, url, u, scheme, host,
               regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
                   as path,
               array_to_string(list_sort(list_filter(
                   string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
                   x -> x <> '' and not regexp_matches(x,
                       '^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref|ref_src)(=.*)?$')
               )), '&') as q
        from c3
    ),
    canon as (
        select doc_id, url,
               case when scheme <> '' then
                   scheme || '://' || host || path
                   || (case when q <> '' then '?' || q else '' end)
               else lower(u) end as canonical
        from c4
    )
"""


def _messy_urls(docs: DataFrame) -> DataFrame:
    m5 = F.col("doc_id") % 5
    structured = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"), (F.col("doc_id") % 50).cast("string"),
        F.when(m5 == 0, F.lit("/?utm_source=feed&b=2&a=1#frag"))
        .when(m5 == 1, F.lit("?gclid=xyz&z=9"))
        .when(m5 == 2, F.lit("/"))
        .when(m5 == 3, F.lit("#sec2"))
        .otherwise(F.lit("")),
    )
    schemeless = F.concat(
        F.lit("EXAMPLE.com/Plain/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("#x"),
    )
    url = F.when(F.col("doc_id") % 7 == 0, schemeless).otherwise(structured)
    return docs.select("doc_id", url.alias("url"))


@query(
    "url_canonicalize",
    _MESSY_URL_SQL + _CANON_URL_SQL + """
    select doc_id, canonical as url from canon
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E136 — URL canonicalization
    (functions/text.py:canonical_url): fragment strip, scheme/host
    lowercasing, www and default-port drop, trailing-slash drop,
    tracking-parameter strip + surviving-param sort, with a
    lower(trim()) fallback for scheme-less inputs. Pure codegen
    regexp/array expressions, zero shuffle; the oracle replays every
    step in DuckDB SQL over the same derived messy-URL population."""
    from ..functions.text import canonical_url

    docs = t(spark, sf_dir, "documents")
    u = _messy_urls(docs)
    return u.select("doc_id", canonical_url("url").alias("url"))


@query(
    "url_dedup",
    _MESSY_URL_SQL + _CANON_URL_SQL + """
    select u.doc_id, u.url
    from urls u
    join (select min(doc_id) as doc_id from canon group by canonical) w
      on u.doc_id = w.doc_id
    """,
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E137 — URL-keyed exact dedup
    (operators/pipeline.py:dedup_corpus_by_url): keep the min-id
    document per canonical URL — the CCNet FIRST dedup stage, run on
    the URL string alone before any content hashing. Only (id,
    canonical-key) pairs shuffle through a map-side-partial groupBy;
    the winners come back as a left-semi join on the id. The derived
    population collides ~doc_count/50 docs per canonical key, so the
    groups are real; the oracle replays derivation, canonicalization,
    and the min-id winner pick."""
    from ..operators.pipeline import dedup_corpus_by_url

    docs = t(spark, sf_dir, "documents")
    u = _messy_urls(docs)
    return dedup_corpus_by_url(u, url_col="url", id_col="doc_id")


@query(
    "url_host_report",
    _MESSY_URL_SQL + _CANON_URL_SQL + """,
    hosts as (
        select case when canonical like '%://%'
                    then regexp_extract(canonical,
                             '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
                    else regexp_extract(canonical, '^([^/?#]*)', 1)
               end as host
        from canon
    ),
    hc as (
        select host, count(*) as n_docs
        from hosts where host is not null group by 1
    )
    select host, n_docs,
           round(n_docs * 1.0 / (select sum(n_docs) from hc), 6) as share,
           cast(row_number() over (order by n_docs desc, host asc) as bigint)
               as rank
    from hc
    """,
)
def url_host_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E139 — per-host crawl-mix report
    (operators/pipeline.py:url_host_report): documents per canonical
    host, corpus share, deterministic rank — the no-truth pre-flight a
    web-corpus build reads before acting on a crawl (a host at 40 %
    of the corpus is a crawler-trap signal no per-document score
    surfaces). One host-keyed groupBy, share/rank windows on the
    host-table-sized frame; the oracle replays canonicalization, host
    extraction, and the share/rank arithmetic."""
    from ..operators.pipeline import url_host_report

    docs = t(spark, sf_dir, "documents")
    return url_host_report(_messy_urls(docs), url_col="url")


def _ks_sql(cols: "tuple[str, ...]" = ("value", "user_id"), k: int = 20) -> str:
    """Binned-KS oracle generator: the SAME bucket CASE as the PSI
    oracle (shared degenerate rules), per-side bin counts, cumulative
    CDFs over a dense bin grid (long cumulative counts, one division
    each), the max absolute gap, and the signed null-rate delta."""
    blocks, selects = [], []
    for c in cols:
        bucket = (
            f"case when {c} is null then -1 "
            f"when st.mn_{c} is null then 0 "
            f"when st.mx_{c} = st.mn_{c} then "
            f"(case when cast({c} as double) = st.mn_{c} then 0 else 1 end) "
            f"else least(greatest(cast(floor((cast({c} as double) - st.mn_{c}) "
            f"/ ((st.mx_{c} - st.mn_{c}) / {k}.0)) as int), 0), {k - 1}) end"
        )
        blocks.append(
            f"""rb_{c} as (
        select {bucket} as b, count(*) as n
        from ref cross join st group by 1
    ),
    cb_{c} as (
        select {bucket} as b, count(*) as n
        from cur cross join st group by 1
    ),
    cdf_{c} as (
        select g.b,
               sum(coalesce(r.n, 0)) over (order by g.b) * 1.0
                   / nullif((select count({c}) from ref), 0) as fr,
               sum(coalesce(cb.n, 0)) over (order by g.b) * 1.0
                   / nullif((select count({c}) from cur), 0) as fc
        from (select unnest(generate_series(0, {k - 1})) as b) g
        left join (select b, n from rb_{c} where b >= 0) r using (b)
        left join (select b, n from cb_{c} where b >= 0) cb using (b)
    ),
    ks_{c} as (select max(abs(fc - fr)) as ks from cdf_{c})"""
        )
        selects.append(
            f"select '{c}' as \"column\", (select n from rn) as n_ref, "
            f"(select n from cn) as n_cur, "
            f"round((select ks from ks_{c}), 6) as ks, "
            f"round((select count(*) - count({c}) from cur) * 1.0 "
            f"      / nullif((select n from cn), 0) "
            f"    - (select count(*) - count({c}) from ref) * 1.0 "
            f"      / nullif((select n from rn), 0), 6) as null_delta"
        )
    mn_mx = ", ".join(
        f"min(cast({c} as double)) as mn_{c}, max(cast({c} as double)) as mx_{c}"
        for c in cols
    )
    return (
        "with ref as (select * from events),\n"
        "    cur as (select * from events where event_type = 'purchase'),\n"
        f"    st as (select {mn_mx} from ref),\n"
        "    rn as (select count(*) as n from ref),\n"
        "    cn as (select count(*) as n from cur),\n    "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    union all\n    ".join(selects)
    )


@query("ks_drift_report", _ks_sql())
def ks_drift_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E138 — binned two-sample Kolmogorov-Smirnov drift monitor
    (operators/pipeline.py:ks_drift_report): the max CDF gap per
    numeric column between the purchase-event slice and the full
    stream, over 20 reference-range fixed-width bins — the classic
    worst-single-quantile companion to `psi_drift_report`'s
    mass-weighted sum, computed from the SAME two 1-row
    conditional-sum aggregations (no global sort — the binned
    statistic understates exact KS by at most one bin's mass).
    NULL-rate movement reported separately as a signed delta. The
    oracle replays the shared bucket CASE, both count passes, the
    long-cumulative CDFs, the max gap, and the null-delta arithmetic.
    On this synthetic stream purchases are an unbiased slice, so both
    columns read ~0 — the gate pins the arithmetic; planted-drift
    behavior is unit-tested."""
    from ..operators.pipeline import ks_drift_report

    ev = t(spark, sf_dir, "events")
    return ks_drift_report(
        ev.filter(F.col("event_type") == "purchase"),
        ev,
        ["value", "user_id"],
        n_buckets=20,
    )


@query(
    "events_asof_tolerance",
    """
    with clicks as (
        select user_id, event_id, ts from events where event_type = 'click'
    ),
    purch as (
        select user_id, ts, max(value) as purchase_value
        from events where event_type = 'purchase'
        group by user_id, ts
    )
    select c.user_id, c.event_id,
           cast(floor(epoch(c.ts)) as bigint) as click_ts_s,
           cast(floor(epoch(p.ts)) as bigint) as purchase_ts_s,
           round(p.purchase_value, 6) as purchase_value
    from clicks c
    asof join purch p on c.user_id = p.user_id and c.ts >= p.ts
    where epoch(c.ts) - epoch(p.ts) <= 86400
    """,
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E140 — bounded-gap as-of join (operators/asof.py,
    ``tolerance``, the pandas merge_asof surface): each click joined
    to the user's most recent purchase AT MOST ONE DAY older — a
    nearest match farther than the window counts as no match, since
    attribution to last month's purchase is noise, not signal.
    Correct as a post-predicate on the carried match (the as-of match
    is the nearest row; if it misses the window, every other
    candidate misses by more), so the plan is the same one-shuffle
    union-sort with one extra codegen'd filter. Oracle: DuckDB native
    ASOF JOIN plus the same epoch-gap predicate."""
    from ..operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        clicks, purch, on="user_id", ts="ts",
        right_cols=["purchase_value"], tolerance=86400.0,
    )
    return out.select(
        "user_id",
        "event_id",
        _epoch_s(F.col("ts")).alias("click_ts_s"),
        _epoch_s(F.col("ts_matched")).alias("purchase_ts_s"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


@query(
    "weighted_sample",
    """
    with u as (
        select doc_id, lang, n_chars,
               (cast(('0x' || substr(md5(cast(doc_id as varchar) || 'ws1'),
                                     1, 8)) as bigint) + 1)
                   / 4294967297.0 as u
        from documents
    ),
    keyed as (
        select doc_id, lang, n_chars, ln(u) / cast(n_chars as double) as k
        from u where n_chars is not null and n_chars > 0
    )
    select doc_id, lang, n_chars
    from (
        select doc_id, lang, n_chars,
               row_number() over (partition by lang
                                  order by k desc, doc_id asc) as rn
        from keyed
    ) where rn <= 30
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E141 — deterministic weighted sampling without replacement
    (operators/pipeline.py:weighted_hash_sample, Efraimidis-Spirakis
    A-ES on a hash-derived uniform): 30 documents per language with
    inclusion odds proportional to document length — "k per stratum,
    preferring long documents" without the tail censoring of a hard
    top-k. The ordering key ln(u)/w is a codegen'd expression on the
    scan; the stratified draw is a rank-pruned window
    (WindowGroupLimit). Oracle replays the md5-uniform, the key, and
    the per-stratum rank."""
    from ..operators.pipeline import weighted_hash_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_hash_sample(
        docs, k=30, weight_col="n_chars", strata=["lang"]
    )


# --------------------------------------------------------------------
# E142-E145: BM25 ranked retrieval, per-host boilerplate removal,
# exact prefix-filter Jaccard join, bounded-memory heavy hitters
# --------------------------------------------------------------------

# Fixed query workload for the BM25 gate: three queries over the
# corpus vocabulary — common terms (high df, low idf), plus 'dup'
# (the one rare vocabulary word, ~0.09 % of tokens) so the idf term
# actually separates scores.
_BM25_QUERIES: "list[tuple[int, str]]" = [
    (1, "hash"), (1, "join"), (1, "table"),
    (2, "window"), (2, "agg"), (2, "spark"),
    (3, "dup"), (3, "merge"), (3, "customer"),
]

_BM25_Q_SQL = "values " + ", ".join(
    f"({qid}, '{term}')" for qid, term in _BM25_QUERIES
)


@query(
    "bm25_search",
    f"""
    with q as (
        select cast(query_id as bigint) as query_id, term
        from ({_BM25_Q_SQL}) as v(query_id, term)
    ),
    tok as (
        select doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) as term
        from documents
    ),
    tf as (
        select doc_id, term, count(*) as tf
        from tok
        where term <> '' and term in (select distinct term from q)
        group by doc_id, term
    ),
    dl as (
        select doc_id,
               case when text is null then null
                    when length(trim(text)) = 0 then 0.0
                    else len(string_split_regex(lower(trim(text)),
                                                '\\s+'))::double
               end as dl
        from documents
    ),
    stats as (
        select (select count(text) from documents)::double as n_docs,
               (select avg(dl) from dl) as avgdl
    ),
    dfreq as (select term, count(*) as df from tf group by term),
    scored as (
        select q.query_id, tf.doc_id,
               round(sum(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
               ), 6) as score
        from tf
        join dl on tf.doc_id = dl.doc_id
        join dfreq d on tf.term = d.term
        cross join stats s
        join q on tf.term = q.term
        group by q.query_id, tf.doc_id
    )
    select query_id, doc_id, score, cast(rank as bigint) as rank
    from (
        select *, row_number() over (
            partition by query_id order by score desc, doc_id asc
        ) as rank
        from scored
    ) where rank <= 10
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E142 — BM25 ranked keyword retrieval
    (operators/search.py:bm25_topk): top-10 documents per query under
    Okapi BM25 (k1=1.2, b=0.75, Lucene-smoothed idf). The corpus
    token stream prunes through a broadcast semi-join on the query
    terms before anything shuffles; N/avgdl/df are broadcast one-row
    or query-term-sized frames; the final per-query top-k is a
    rank-pruned window. The oracle replays tokenization, statistics,
    and the scoring arithmetic term for term on the same fixed query
    workload."""
    from ..operators.search import bm25_topk

    docs = t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, term string")
    return bm25_topk(docs, q, k=10)


# Host-boilerplate fixture: ride the messy-URL population (hosts =
# 21 canonical authorities) and plant two per-host banner lines at
# controlled document frequencies — 80 % (above the 50 % threshold →
# removed) and ~33 % (below → kept) — on top of the 8-word-rewrapped
# document body. Both engines replay the derivation.
_HOST_FX_SQL = _MESSY_URL_SQL + _CANON_URL_SQL + r""",
    hostx as (
        select doc_id,
               case when canonical like '%://%'
                    then regexp_extract(canonical,
                             '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
                    else regexp_extract(canonical, '^([^/?#]*)', 1)
               end as host
        from canon
    ),
    hosts as (
        select doc_id, case when host = '' then null else host end as host
        from hostx
    ),
    fx as (
        select d.doc_id, h.host,
               concat_ws(chr(10),
                   case when d.doc_id % 5 <> 0
                        then 'cookie consent required on ' || h.host end,
                   case when d.doc_id % 3 = 0
                        then 'subscribe to ' || h.host || ' newsletter' end,
                   array_to_string(
                     list_transform(
                       generate_series(0,
                         cast(ceil(len(string_split(d.text, ' ')) / 8.0)
                              as int) - 1),
                       i -> array_to_string(
                              list_slice(string_split(d.text, ' '),
                                         i*8+1, i*8+8), ' ')),
                     chr(10))
               ) as text
        from documents d join hosts h using (doc_id)
    )
"""


@query(
    "host_boilerplate",
    _HOST_FX_SQL + r""",
    hostn as (
        select host, count(*) as host_n
        from fx where host is not null and text is not null
        group by host
    ),
    withls as (
        select doc_id, host, string_split(text, chr(10)) as ls
        from fx where host is not null and text is not null
    ),
    exploded as (
        select doc_id, host, ls,
               unnest(generate_series(1, len(ls))) as i
        from withls
    ),
    lines as (
        select doc_id, host, i - 1 as pos, ls[i] as line from exploded
    ),
    ldf as (
        select host, md5(line) as h, count(distinct doc_id) as n_docs_with
        from lines group by 1, 2
    ),
    boiler as (
        select l.host, l.h
        from ldf l join hostn n using (host)
        where n.host_n >= 5 and l.n_docs_with >= 0.5 * n.host_n
    ),
    kept as (
        select ln.doc_id, ln.pos, ln.line
        from lines ln
        anti join boiler b on ln.host = b.host and md5(ln.line) = b.h
    ),
    rebuilt as (
        select doc_id, string_agg(line, chr(10) order by pos) as clean,
               count(*) as n_kept
        from kept group by doc_id
    )
    select f.doc_id, f.host,
           case when f.text is null then null
                when f.host is null then f.text
                else coalesce(r.clean, '') end as text,
           cast(case when f.text is null then null
                     when f.host is null
                     then len(string_split(f.text, chr(10)))
                     else coalesce(r.n_kept, 0) end as bigint)
               as n_lines_kept
    from fx f left join rebuilt r using (doc_id)
    """,
)
def host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E143 — per-host boilerplate line removal
    (operators/pipeline.py:remove_host_boilerplate): lines appearing
    in ≥ 50 % of a host's documents (hosts with ≥ 5 docs) vanish from
    that host's documents only — the RefinedWeb cleanup between URL
    dedup and content dedup. The fixture plants per-host banners at
    80 % (removed) and ~33 % (kept) document frequency over the
    rewrapped body; the oracle replays URL canonicalization, host
    extraction, banner planting, the per-(host, line-hash) distinct-
    doc counts, the threshold, and the reassembly."""
    from ..functions.text import canonical_host, rewrap_lines
    from ..operators.pipeline import remove_host_boilerplate

    docs = t(spark, sf_dir, "documents")
    u = _messy_urls(docs)
    base = docs.select("doc_id", "text").join(u, "doc_id")
    host_fx = canonical_host(F.col("url"))
    fixture = base.select(
        "doc_id",
        "url",
        F.concat_ws(
            "\n",
            F.when(
                F.col("doc_id") % 5 != 0,
                F.concat(F.lit("cookie consent required on "), host_fx),
            ),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("subscribe to "), host_fx, F.lit(" newsletter")
                ),
            ),
            rewrap_lines("text", 8),
        ).alias("text"),
    )
    out = remove_host_boilerplate(
        fixture, url_col="url", min_frac=0.5, min_host_docs=5
    )
    return out.select("doc_id", "host", "text", "n_lines_kept")


@query(
    "jaccard_prefix_pairs",
    _SHINGLE_SQL + r""",
    ssz as (
        select doc_id, shingles, len(shingles) as sz
        from sh where len(shingles) > 0
    ),
    ex as (select doc_id, sz, unnest(shingles) as tok from ssz),
    dfq as (select tok, count(*) as df from ex group by tok),
    ordr as (
        select e.doc_id, e.sz, list(e.tok order by d.df, e.tok) as ord
        from ex e join dfq d using (tok)
        group by e.doc_id, e.sz
    ),
    pref as (
        select doc_id, sz,
               unnest(ord[1 : sz - cast(ceil(0.5 * sz) as int) + 1]) as tok
        from ordr
    ),
    cand as (
        select distinct a.doc_id as id_left, b.doc_id as id_right
        from pref a join pref b on a.tok = b.tok
        where a.doc_id < b.doc_id
          and b.sz >= 0.5 * a.sz and a.sz >= 0.5 * b.sz
    ),
    ver as (
        select c.id_left, c.id_right,
               len(list_intersect(l.shingles, r.shingles))::double
               / (len(l.shingles) + len(r.shingles)
                  - len(list_intersect(l.shingles, r.shingles))) as jaccard
        from cand c
        join ssz l on c.id_left = l.doc_id
        join ssz r on c.id_right = r.doc_id
    )
    select id_left, id_right, round(jaccard, 6) as jaccard
    from ver where jaccard >= 0.5
    """,
)
def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E144 — exact all-pairs Jaccard join via prefix filtering
    (operators/dedup.py:jaccard_prefix_join, SSJoin/PPJoin): every
    document pair with 3-gram Jaccard ≥ 0.5, found with NO blocking
    key and NO LSH miss rate — candidates come from an equi-join on
    each document's globally-rarest shingles (prefix-filter lemma),
    length-filtered, then verified exactly JVM-side. The oracle
    replays the rarity ordering, prefix extraction, candidate join,
    and verification; the brute-force cross-check lives in
    tests/test_dedup.py."""
    from ..operators.dedup import jaccard_prefix_join

    return jaccard_prefix_join(
        t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


@query(
    "heavy_hitters",
    r"""
    with tok as (
        select unnest(string_split_regex(lower(trim(text)), '\s+')) as term
        from documents
    ),
    tokf as (select term from tok where term <> ''),
    tot as (select count(*) as n from tokf)
    select term, count(*) as n_occurrences,
           round(count(*) * 1.0 / (select n from tot), 6) as share
    from tokf group by term
    having count(*) > 0.01 * (select n from tot)
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E145 — exact φ-heavy-hitter terms at bounded memory
    (operators/pipeline.py:heavy_hitter_terms, Misra-Gries 1982 +
    exact recount): every token above 1 % of the corpus token stream,
    computed without ever shuffling the full vocabulary — per-
    partition MG summaries (≤ ceil(1/φ) counters) union into a
    candidate superset, candidates recount exactly via broadcast
    semi-join. Output is exact and partition-layout-invariant; the
    corpus vocabulary splits 30 common terms (~3.3 %, kept) vs 'dup'
    (~0.09 %, dropped), so the threshold actually selects. The oracle
    pays the full group-by-count this operator avoids."""
    from ..operators.pipeline import heavy_hitter_terms

    return heavy_hitter_terms(
        t(spark, sf_dir, "documents"), phi=0.01
    )


# --------------------------------------------------------------------
# E146-E149: governance pre-flights — k-anonymity audit/suppression,
# expectation validation, referential-integrity orphans
# --------------------------------------------------------------------

@query(
    "k_anonymity_report",
    """
    with g as (
        select c_nationkey, c_mktsegment, count(*) as n
        from customer group by 1, 2
    )
    select cast(10 as bigint) as k,
           cast(sum(n) as bigint) as n_rows,
           cast(count(*) as bigint) as n_groups,
           cast(sum(case when n < 10 then 1 else 0 end) as bigint)
               as n_violating_groups,
           cast(sum(case when n < 10 then n else 0 end) as bigint)
               as rows_at_risk,
           cast(min(n) as bigint) as min_group_size,
           min(n) >= 10 as is_k_anonymous
    from g
    """,
)
def k_anonymity_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E146 — k-anonymity audit
    (operators/governance.py:k_anonymity_report, Sweeney 2002): does
    any (nationkey, mktsegment) quasi-identifier combination isolate
    fewer than 10 customers? One groupBy on the quasi columns then a
    group-table-sized rollup; 35 of the 125 groups violate at k=10 so
    every output column carries signal. The oracle replays the group
    table and the rollup arithmetic."""
    from ..operators.governance import k_anonymity_report

    c = t(spark, sf_dir, "customer")
    return k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=10)


@query(
    "t_closeness_report",
    """
    with base as (
        select c_nationkey, c_mktsegment,
               cast(floor(c_acctbal / 1000.0) as bigint) as band
        from customer
    ),
    cells as (
        select c_nationkey, c_mktsegment, band, count(*) as nqv
        from base group by 1, 2, 3
    ),
    gtot as (
        select c_nationkey, c_mktsegment, sum(nqv) as nq
        from cells group by 1, 2
    ),
    vtot as (select band, sum(nqv) as nv from cells group by 1),
    ntot as (select cast(sum(nv) as double) as n from vtot),
    q as (
        select band,
               cast(floor(1000000000.0 * (cast(nv as double) / ntot.n)
                          + 0.5) as bigint) as qi
        from vtot cross join ntot
    ),
    qtot as (select coalesce(sum(qi), 0) as qtot from q),
    per as (
        select c.c_nationkey, c.c_mktsegment, g.nq, q.qi,
               abs(cast(floor(1000000000.0
                              * (cast(c.nqv as double) / cast(g.nq as double))
                              + 0.5) as bigint) - q.qi) as diff
        from cells c
        join gtot g using (c_nationkey, c_mktsegment)
        join q on c.band is not distinct from q.band
    ),
    grp as (
        select max(nq) as nq,
               sum(diff) + (qtot.qtot - sum(qi)) as tvd_i
        from per cross join qtot
        group by c_nationkey, c_mktsegment, qtot.qtot
    )
    select cast(0.35 as double) as t,
           cast(coalesce(sum(nq), 0) as bigint) as n_rows,
           cast(count(*) as bigint) as n_groups,
           cast(coalesce(sum(case when cast(tvd_i as double) > 700000000.0
                                  then 1 else 0 end), 0) as bigint)
               as n_violating_groups,
           cast(coalesce(sum(case when cast(tvd_i as double) > 700000000.0
                                  then nq else 0 end), 0) as bigint)
               as rows_at_risk,
           coalesce(max(cast(tvd_i as double) / 2000000000.0), 0.0) as max_tvd,
           coalesce(max(cast(tvd_i as double)) <= 700000000.0, true)
               as is_t_close
    from grp
    """,
)
def t_closeness_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E169 — t-closeness audit
    (operators/governance.py:t_closeness_report, Li, Li &
    Venkatasubramanian 2007): per (nationkey, mktsegment) group, the
    total-variation distance between the group's acctbal-band
    distribution and the global one, flagged where it exceeds
    t = 0.35 (splitting the groups at sf0.01 and reading clean at
    sf0.1 — sparser groups sit farther from the global distribution,
    so the same spec exercises both report branches across scales) — the skewness-attack companion the k-anonymity (E146) and
    l-diversity (E155) audits can't see. Distances are carried in
    fixed-point integer nano-units (each probability floored to the
    grid once, then exact integer sums — the graph-family
    determinization) and absent values contribute via the complement
    identity, so no group x value cross join materializes; one
    (quasi, sensitive) groupBy is the only pass over the data. The
    oracle replays the cell table, both fixed-point distributions,
    the complement arithmetic, and the rollup."""
    from ..operators.governance import t_closeness_report

    c = t(spark, sf_dir, "customer").withColumn(
        "band", F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    )
    return t_closeness_report(
        c, ["c_nationkey", "c_mktsegment"], "band", t=0.35
    )


@query(
    "k_anonymity_suppress",
    """
    with g as (
        select c_nationkey, c_mktsegment
        from customer group by 1, 2 having count(*) < 10
    )
    select c.*
    from customer c
    anti join g
      on c.c_nationkey is not distinct from g.c_nationkey
     and c.c_mktsegment is not distinct from g.c_mktsegment
    """,
)
def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E147 — k-anonymity suppression
    (operators/governance.py:suppress_rare_groups): drop every row
    whose quasi-identifier group has < 10 members — the baseline
    treatment when no generalization hierarchy exists. The violating-
    group set broadcasts back as a NULL-safe left-anti join; the
    oracle replays the group filter and the anti join."""
    from ..operators.governance import suppress_rare_groups

    c = t(spark, sf_dir, "customer")
    return suppress_rare_groups(c, ["c_nationkey", "c_mktsegment"], k=10)


_EXPECT_RULES: "list[tuple[str, str]]" = [
    ("quantity_in_range", "l_quantity between 1 and 50"),
    ("discount_le_6pct", "l_discount <= 0.06"),
    ("tax_lt_discount", "l_tax < l_discount"),
    ("shipdate_not_null", "l_shipdate is not null"),
]


@query(
    "expectation_report",
    f"""
    with agg as (
        select count(*) as n_rows,
               {", ".join(
                   f"sum(case when ({pred}) then 0 else 1 end) as v{i}"
                   for i, (_, pred) in enumerate(_EXPECT_RULES)
               )}
        from lineitem
    )
    select rule, cast(n_rows as bigint) as n_rows,
           cast(n_violations as bigint) as n_violations,
           round(n_violations * 1.0 / n_rows, 6) as violation_rate
    from (
        {" union all ".join(
            f"select '{name}' as rule, n_rows, v{i} as n_violations from agg"
            for i, (name, _) in enumerate(_EXPECT_RULES)
        )}
    )
    """,
)
def expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E148 — declarative expectation validation
    (operators/governance.py:validate_expectations): four release-
    gate rules over lineitem evaluated corpus-wide in ONE conditional-
    sum aggregation pass (adding rules adds columns, not passes),
    unpivoted to a per-rule report. Two rules pass clean and two
    carry real violation rates, so the gate checks both tails. NULL
    predicate results count as violations in both engines (explicit
    not-TRUE counting). The oracle replays each rule's conditional
    sum and the rate arithmetic."""
    from ..operators.governance import validate_expectations

    li = t(spark, sf_dir, "lineitem")
    return validate_expectations(li, _EXPECT_RULES)


@query(
    "fk_orphans",
    """
    with par as (
        select distinct o_orderkey from orders where o_orderkey % 10 <> 0
    ),
    orph as (
        select count(*) as n
        from lineitem l
        anti join par p on l.l_orderkey = p.o_orderkey
    )
    select cast((select count(*) from lineitem) as bigint) as n_rows,
           cast((select n from orph) as bigint) as n_orphans,
           round((select n from orph) * 1.0
                 / (select count(*) from lineitem), 6) as orphan_rate
    """,
)
def fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E149 — referential-integrity orphan check
    (operators/governance.py:fk_orphans_report): lineitem rows whose
    order key matches no parent order — the ETL regression a 100 TB
    ingest must catch before training joins silently drop rows. The
    fixture drops every 10th order from the parent side so ~10 % of
    lineitems are genuinely orphaned; one left-anti join on the key
    folded into a 1-row count. NULL child keys count as orphans. The
    oracle replays the parent filter, the anti join, and the rate."""
    from ..operators.governance import fk_orphans_report

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 != 0
    )
    return fk_orphans_report(li, orders, "l_orderkey", "o_orderkey")


# --------------------------------------------------------------------
# E150-E151: corpus snapshot diff, exact join-size pre-flight
# --------------------------------------------------------------------

@query(
    "corpus_diff",
    r"""
    with newt as (
        select doc_id,
               case when doc_id % 7 = 0 then text || ' appended-revision'
                    else text end as text
        from documents where doc_id % 11 <> 0
        union all
        select doc_id + 10000000 as doc_id, text
        from documents where doc_id % 13 = 0
    ),
    oh as (
        select doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                   as old_hash
        from documents
    ),
    nh as (
        select doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                   as new_hash
        from newt
    )
    select coalesce(o.doc_id, n.doc_id) as doc_id,
           case when o.doc_id is null then 'added'
                when n.doc_id is null then 'removed'
                when o.old_hash is not distinct from n.new_hash
                     then 'unchanged'
                else 'changed' end as status,
           o.old_hash, n.new_hash
    from oh o full outer join nh n on o.doc_id = n.doc_id
    """,
)
def corpus_diff_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E150 — corpus snapshot diff
    (operators/pipeline.py:corpus_diff): per-document added / removed
    / changed / unchanged between two corpus versions, keyed on the
    same whitespace-normalized content hash the exact-dedup family
    uses. The fixture derives the "new" snapshot deterministically
    (every 11th doc removed, every 7th survivor edited, every 13th
    re-added under a shifted id); each side reduces to (id, 32-byte
    hash) in a map pass before the one full-outer join — text never
    shuffles. The oracle replays derivation, hashing, and the status
    CASE."""
    from ..operators.pipeline import corpus_diff

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.filter(F.col("doc_id") % 11 != 0)
    mutated = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" appended-revision")),
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text"
    )
    return corpus_diff(docs, mutated.unionAll(added))


@query(
    "join_size_estimate",
    """
    with lc as (
        select o_custkey as k, count(*) as n
        from orders where o_custkey is not null group by 1
    ),
    rc as (
        select user_id as k, count(*) as n
        from events where user_id is not null group by 1
    ),
    m as (select lc.n * rc.n as contrib from lc join rc using (k))
    select cast(coalesce((select sum(contrib) from m), 0) as bigint)
               as est_rows,
           cast((select count(*) from lc) as bigint) as n_keys_left,
           cast((select count(*) from rc) as bigint) as n_keys_right,
           cast((select count(*) from m) as bigint) as n_keys_matching,
           cast((select max(contrib) from m) as bigint) as max_key_rows,
           round((select max(contrib) from m) * 1.0
                 / (select sum(contrib) from m), 6) as skew_ratio
    """,
)
def join_size_estimate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E151 — exact join-size pre-flight
    (operators/pipeline.py:join_size_estimate): |orders ⋈ events on
    custkey=user_id| predicted WITHOUT running the join — Σ_k
    n_A(k)·n_B(k) over the two key tables, plus the hottest key's
    contribution and skew ratio (the "salt this before it explodes"
    number). Both sides have real per-key multiplicities so the
    product sum is a genuine two-sided estimate; the oracle replays
    both key tables, the product join, and the rollup."""
    from ..operators.pipeline import join_size_estimate

    orders = t(spark, sf_dir, "orders")
    events = t(spark, sf_dir, "events")
    return join_size_estimate(
        orders, events, ["o_custkey"], ["user_id"]
    )


# --------------------------------------------------------------------
# E152: incremental IVF index maintenance (append without retrain)
# --------------------------------------------------------------------

@query(
    "ann_ivf_append",
    f"""
    with eall as (select vec_id, embedding from embeddings),
    e as (select vec_id, embedding from eall where vec_id % 10 <> 0),
    en as (select vec_id, embedding from eall where vec_id % 10 = 0),
    c0 as (
        select cast(rn - 1 as int) as centroid, cvec from (
            select row_number() over (
                       order by md5(cast(vec_id as varchar) || ':ivfseed'),
                                vec_id
                   ) as rn,
                   list_transform(embedding, x -> x::double) as cvec
            from e
        ) where rn <= 8
    ),{_ivf_assign_sql('c0', 'a1')},{_ivf_update_sql('a1', 'c0', 'c1')},
    {_ivf_assign_sql('c1', 'a2')},{_ivf_update_sql('a2', 'c1', 'c2')},
    {_ivf_assign_sql('c2', 'af')},
    an as (
        select vec_id, centroid from (
            select n.vec_id, c.centroid,
                   row_number() over (
                       partition by n.vec_id order by
                       list_reduce(list_transform(generate_series(1, 64),
                           i -> (n.embedding[i]::double - c.cvec[i])
                              * (n.embedding[i]::double - c.cvec[i])),
                           (x, y) -> x + y) asc,
                       c.centroid asc
                   ) as rn
            from en n cross join c2 c
        ) where rn = 1
    ),
    lists as (select * from af union all select * from an),
    qc as (
        select q.vec_id as query_id, c.centroid,
               {_cos_sql('q.embedding', 'c.cvec')} as cd
        from eall q cross join c2 c
        where q.vec_id < 5
    ),
    pr as (
        select query_id, centroid from (
            select *, row_number() over (
                partition by query_id order by cd desc, centroid
            ) as rn from qc
        ) where rn <= 5
    ),
    scored as (
        select p.query_id, l.vec_id as neighbor_id,
               round({_cos_sql('qe.embedding', 'ce.embedding')}, 6) as cos_sim
        from pr p
        join lists l on p.centroid = l.centroid
        join eall qe on qe.vec_id = p.query_id
        join eall ce on ce.vec_id = l.vec_id
        where p.query_id <> l.vec_id
    )
    select query_id, neighbor_id, cos_sim, rank from (
        select *, row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as rank
        from scored
    ) where rank <= 10
    """,
)
def ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E152 — incremental IVF maintenance
    (operators/ann.py:ivf_index_append, the FAISS add() contract):
    train the deterministic quantizer on 90 % of the vectors, append
    the other 10 % in ONE nearest-centroid map pass over the delta
    (centroids frozen — no Lloyd retrain), then serve queries off the
    merged inverted lists. The oracle replays the full train-side
    index build, the delta assignment against the FINAL centroids,
    the list union, probe selection, and re-rank — so 'appending is
    bit-identical to what the trainer would have assigned' is
    hash-checked, not asserted."""
    from ..operators.ann import cosine_topk_ivf, ivf_index_append, ivf_index_fixed

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    train = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    idx = ivf_index_fixed(train, dims=64, n_centroids=8, iters=2)
    idx2 = ivf_index_append(idx, delta)
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(
        queries, e, k=10, n_probe=5, index=idx2
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------
# E153-E156: exact cross-corpus similarity join, fuzzy (whole-document
# Jaccard) decontamination, l-diversity audit, corpus mix report
# --------------------------------------------------------------------

# Brute-force A-B Jaccard pairs shared by the ab-join gate and the
# fuzzy-decontamination gate: A = doc_id % 10 != 0 (training corpus),
# B = doc_id % 10 == 0 (held-out eval slice) — 6 genuine cross-split
# near-dup pairs at sf0.01, so both gates carry signal.
_AB_JACCARD_SQL = _SHINGLE_SQL + """
    , a as (select doc_id, shingles from sh where doc_id % 10 <> 0),
    b as (select doc_id, shingles from sh where doc_id % 10 = 0),
    ab as (
        select a.doc_id as id_a, b.doc_id as id_b,
               len(list_intersect(a.shingles, b.shingles))::double
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) as jaccard
        from a join b on true
    )
"""


@query(
    "jaccard_prefix_pairs_ab",
    _AB_JACCARD_SQL + """
    select id_a, id_b, round(jaccard, 6) as jaccard
    from ab where jaccard >= 0.5
    """,
)
def jaccard_prefix_pairs_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E153 — exact cross-corpus set-similarity join
    (operators/dedup.py:jaccard_prefix_join_ab, SSJoin/PPJoin R-S
    form): every (train-doc, eval-doc) pair with 3-gram Jaccard ≥
    0.5, deterministically — the no-miss-rate twin of
    minhash_lsh_pairs_ab. Both sides order shingles by one shared
    bucketed-frequency table (fixed-size, broadcast); candidates come
    from the cross-side prefix equi-join and verify exactly. The
    oracle brute-forces the A x B pair space — paying the quadratic
    cost the prefix filter exists to avoid."""
    from ..operators.dedup import jaccard_prefix_join_ab

    d = t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 10 != 0)
    b = d.filter(F.col("doc_id") % 10 == 0)
    return jaccard_prefix_join_ab(a, b, k=3, threshold=0.5)


@query(
    "fuzzy_decontamination",
    _AB_JACCARD_SQL + """
    , hit as (select distinct id_a from ab where jaccard >= 0.5)
    select d.*
    from documents d
    where d.doc_id % 10 <> 0
      and d.doc_id not in (select id_a from hit)
    """,
)
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E154 — whole-document fuzzy decontamination
    (operators/pipeline.py:decontaminate_fuzzy): drop every training
    document whose 3-gram Jaccard against ANY eval-slice document is
    ≥ 0.5 — the near-duplicate complement of the n-gram-overlap pass
    (eval_decontamination), catching lightly-reworded full copies.
    Contamination is found with the EXACT prefix-filter join, not
    LSH: a decontamination miss is a benchmark leak, so probabilistic
    recall is the wrong tool. The oracle brute-forces the pair space
    and replays the anti-join."""
    from ..operators.pipeline import decontaminate_fuzzy

    d = t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    ev = d.filter(F.col("doc_id") % 10 == 0)
    return decontaminate_fuzzy(corpus, ev, k=3, threshold=0.5)


@query(
    "l_diversity_report",
    """
    with g as (
        select c_nationkey, c_mktsegment, count(*) as n,
               count(distinct cast(floor(c_acctbal / 2000) as bigint))
                   as div
        from customer group by 1, 2
    )
    select cast(6 as bigint) as l,
           cast(sum(n) as bigint) as n_rows,
           cast(count(*) as bigint) as n_groups,
           cast(sum(case when div < 6 then 1 else 0 end) as bigint)
               as n_violating_groups,
           cast(sum(case when div < 6 then n else 0 end) as bigint)
               as rows_at_risk,
           cast(min(div) as bigint) as min_diversity,
           min(div) >= 6 as is_l_diverse
    from g
    """,
)
def l_diversity_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E155 — l-diversity audit
    (operators/governance.py:l_diversity_report, Machanavajjhala et
    al. 2007): k-anonymity's homogeneity-attack companion — does any
    (nationkey, mktsegment) group carry fewer than 6 distinct
    account-balance bands? 86 of the 125 groups violate at l=6 and
    min diversity is 3, so every output column carries signal. One
    groupBy computing count + count-distinct, then a group-table-
    sized rollup; the oracle replays both."""
    from ..operators.governance import l_diversity_report

    c = t(spark, sf_dir, "customer").withColumn(
        "balance_band",
        F.floor(F.col("c_acctbal") / 2000).cast("long"),
    )
    return l_diversity_report(
        c, ["c_nationkey", "c_mktsegment"], "balance_band", l=6
    )


@query(
    "corpus_mix",
    """
    with g as (
        select source, sum(coalesce(n_chars, 0))::double as w
        from documents group by source
    ),
    tot as (select sum(w) as t from g),
    p as (select w / t as p from g cross join tot where w > 0)
    select cast((select count(*) from p) as bigint) as n_groups,
           round((select t from tot), 6) as total_weight,
           round(-sum(p * ln(p)), 6) as entropy,
           round(case when (select count(*) from p) <= 1 then 0.0
                 else -sum(p * ln(p)) / ln((select count(*) from p))
                 end, 6) as normalized_entropy,
           round(sum(p * p), 6) as hhi,
           round(max(p), 6) as top_share
    from p
    """,
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E156 — corpus-composition concentration report
    (operators/pipeline.py:corpus_mix_report): one-row domain-mix
    observability over the source column, weighted by character
    count — n_groups, Shannon entropy (nats), normalized entropy,
    Herfindahl-Hirschman index, top group share. One partial-
    aggregated groupBy, one broadcast 1-row total, one rollup; the
    oracle replays the share table and every statistic."""
    from ..operators.pipeline import corpus_mix_report

    d = t(spark, sf_dir, "documents")
    return corpus_mix_report(d, "source", weight_col="n_chars")


# --------------------------------------------------------------------
# mergeable sketches (operators/sketch.py): deterministic HLL /
# Count-Min / fixed-edge histogram — E157-E159
# --------------------------------------------------------------------

# Shared token stream: whitespace tokens of lowered/trimmed text,
# blanks dropped (same convention as the tf-idf / heavy-hitter gates).
_TOK_SQL = """
    toks as (
        select source, tok from (
            select source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) as tok
            from documents
        ) where tok <> ''
    )"""

# HLL rho in SQL: leading zero bits of the 32-bit word at md5 hex
# chars 9-16, via string ops only (no floating log2 — see
# operators/sketch.py:_hll_rho).
_HLL_RHO_SQL = """
        case when regexp_replace(substr(md5(tok || ':hllr'), 9, 8), '^0*', '') = ''
             then 33
             else (8 - length(regexp_replace(substr(md5(tok || ':hllr'), 9, 8), '^0*', ''))) * 4
                  + (case substr(regexp_replace(substr(md5(tok || ':hllr'), 9, 8), '^0*', ''), 1, 1)
                     when '1' then 3 when '2' then 2 when '3' then 2
                     when '4' then 1 when '5' then 1 when '6' then 1 when '7' then 1
                     else 0 end)
                  + 1
             end"""

# alpha_m·m² computed ONCE in Python and inlined as the identical
# double literal into both engines' plans (repr round-trips exactly).
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_ALPHA_MM = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M


@query(
    "hll_cardinality",
    f"""
    with {_TOK_SQL},
    regs as (
        select cast(('0x' || substr(md5(tok || ':hlli'), 1, 8)) as bigint)
                   % {_HLL_M} as register,
               max({_HLL_RHO_SQL}) as rho
        from toks group by 1
    ),
    agg as (
        select count(*) as nreg,
               coalesce(sum(power(2.0, -rho)), 0.0) as spow
        from regs
    ),
    est as (
        select case when ({_HLL_ALPHA_MM!r} / (({_HLL_M}.0 - nreg) + spow))
                         <= {2.5 * _HLL_M!r}
                     and ({_HLL_M} - nreg) > 0
               then {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - nreg))
               else {_HLL_ALPHA_MM!r} / (({_HLL_M}.0 - nreg) + spow)
               end as e
        from agg
    )
    select round(e, 4) as est_distinct,
           (select count(distinct tok) from toks) as exact_distinct,
           round(round(e, 4) / (select count(distinct tok) from toks) - 1.0, 6)
               as rel_err
    from est
    """,
)
def hll_cardinality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E157 — deterministic HyperLogLog cardinality
    (operators/sketch.py): per-source register tables over the token
    stream, merged by register-wise max, estimated with the Flajolet
    harmonic estimator + linear-counting small-range correction — the
    oracle-checkable twin of the DataSketches-based E97 (which stays
    the library-grade alternative). The gate publishes the estimate
    NEXT TO the exact distinct count and the relative error, so the
    driver hash doubles as an accuracy record (~1 % here, inside the
    1.04/√1024 ≈ 3.3 % bound). Sketch rows (≤1024/source), not
    tokens, shuffle through the merge; the oracle replays hashing,
    register max, merge (by computing the global table directly —
    equality IS the losslessness proof), and the estimator arithmetic
    (Σ2^-rho is dyadic-exact in any summation order)."""
    from ..functions.text import tokens
    from ..operators.sketch import (
        hll_cardinality_estimate,
        hll_registers,
        merge_hll_registers,
    )

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    per_source = hll_registers(toks, "tok", p=_HLL_P, by="source")
    merged = merge_hll_registers(per_source)
    est = hll_cardinality_estimate(merged, p=_HLL_P)
    exact = toks.agg(F.countDistinct("tok").cast("long").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("estimate").alias("est_distinct"),
        "exact_distinct",
        F.round(F.col("estimate") / F.col("exact_distinct") - 1.0, 6).alias(
            "rel_err"
        ),
    )


@query(
    "cms_frequency",
    f"""
    with {_TOK_SQL},
    cells as (
        select j as row,
               cast(('0x' || substr(md5(tok || ':cms' || j), 1, 8)) as bigint)
                   % 1024 as bucket,
               count(*) as cnt
        from toks cross join unnest([0, 1, 2, 3]) as tj(j)
        group by 1, 2
    ),
    ex as (select tok, count(*) as exact_n from toks group by tok),
    top as (select tok, exact_n from ex order by exact_n desc, tok asc limit 15),
    qc as (
        select tok, j as row,
               cast(('0x' || substr(md5(tok || ':cms' || j), 1, 8)) as bigint)
                   % 1024 as bucket
        from top cross join unnest([0, 1, 2, 3]) as tj(j)
    ),
    est as (
        select tok, min(coalesce(c.cnt, 0)) as est_n
        from qc left join cells c using (row, bucket)
        group by tok
    )
    select t.tok as term, t.exact_n, e.est_n, e.est_n - t.exact_n as overcount
    from top t join est e using (tok)
    """,
)
def cms_frequency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E158 — Count-Min frequency sketch (operators/sketch.py,
    Cormode & Muthukrishnan 2005): per-source 4×1024 cell tables over
    the token stream, merged by cell-wise sum, point-queried for the
    15 most frequent terms. The gate publishes estimate NEXT TO exact
    count and the overcount (always ≥ 0 — CMS never undercounts), so
    the driver hash records the accuracy too. Only sketch cells
    shuffle through the merge; the oracle replays the salted bucket
    hashing, the merge (global build — losslessness proof as in
    E157), and the min-over-rows estimate."""
    from ..functions.text import tokens
    from ..operators.sketch import cms_estimate, cms_sketch, merge_cms_sketches

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    sk = merge_cms_sketches(
        cms_sketch(toks, "tok", depth=4, width=1024, by="source")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(15)
    est = cms_estimate(sk, top.select("tok"), term_col="tok", depth=4, width=1024)
    return (
        top.join(est, top["tok"] == est["term"])
        .select(
            "term",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("estimate").alias("est_n"),
            (F.col("estimate") - F.col("exact_n")).cast("long").alias("overcount"),
        )
    )


@query(
    "histogram_quantiles",
    """
    with st as (
        select min(cast(value as double)) as mn, max(cast(value as double)) as mx
        from events
    ),
    b as (
        -- degenerate-range guard mirrors the Spark _hist_bin branch
        -- (operators/sketch.py): mx == mn puts everything in bin 0
        -- instead of dividing by a zero bin width
        select case when st.mx = st.mn then 0
                    else least(greatest(cast(floor((cast(value as double) - st.mn)
                        / ((st.mx - st.mn) / 64)) as int), 0), 63) end as bin
        from events, st where value is not null
    ),
    h as (select bin, count(*) as cnt from b group by bin),
    c as (
        select bin, cast(cnt as double) as cnt,
               cast(sum(cnt) over (order by bin) as double) as cum,
               (select cast(sum(cnt) as double) from h) as total
        from h
    ),
    q as (select unnest([0.25, 0.5, 0.9, 0.99]) as quantile)
    select q.quantile,
           round(st.mn + (c.bin + ((q.quantile * c.total) - (c.cum - c.cnt)) / c.cnt)
                     * ((st.mx - st.mn) / 64), 6) as estimate
    from c cross join q cross join st
    where c.cum >= q.quantile * c.total
      and c.cum - c.cnt < q.quantile * c.total
    """,
)
def histogram_quantiles_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E159 — mergeable fixed-edge histogram quantiles
    (operators/sketch.py): one global (min, max) pass fixes the
    64-bin edges (the shard agreement that makes the sketch
    mergeable), per-event-type histograms merge by bin-wise sum, and
    p25/p50/p90/p99 come from linear interpolation inside the
    crossing bin — error bounded by one bin width, no global sort,
    the t-digest swap the SCALE docs promise made concrete and
    oracle-replayable. Only ≤64-row histograms shuffle; the oracle
    computes the global histogram directly (merge losslessness, as in
    E157/E158) and replays the interpolation arithmetic."""
    from ..operators.sketch import (
        histogram_quantiles,
        histogram_sketch,
        merge_histogram_sketches,
        value_range,
    )

    ev = t(spark, sf_dir, "events")
    rng = value_range(ev, "value")
    if rng is None:
        return spark.createDataFrame([], "quantile double, estimate double")
    lo, hi = rng
    per_type = histogram_sketch(ev, "value", lo, hi, k=64, by="event_type")
    merged = merge_histogram_sketches(per_type)
    return histogram_quantiles(merged, [0.25, 0.5, 0.9, 0.99], lo, hi, k=64)


# --------------------------------------------------------------------
# link graph (operators/graph.py): PageRank / degree census — E160-E161
# --------------------------------------------------------------------

# Deterministic synthetic link graph over the documents corpus (the
# parquet tables carry no native edges — same derivation pattern as
# the _messy_urls population): page node = source '/p' (doc_id % 97);
# every doc links to the pages of docs (id·31+7) mod n and
# (id·17+3) mod n; self-loops dropped.
_LINK_EDGE_SQL = """
    pages as (
        select doc_id, source || '/p' || cast(doc_id % 97 as varchar) as node
        from documents
    ),
    nd as (select count(*) as n from documents),
    tg as (
        select doc_id, unnest([(doc_id * 31 + 7) % nd.n,
                               (doc_id * 17 + 3) % nd.n]) as tgt
        from documents cross join nd
    ),
    edges as (
        select ps.node as src, pd.node as dst
        from tg
        join pages ps on tg.doc_id = ps.doc_id
        join pages pd on tg.tgt = pd.doc_id
        where ps.node <> pd.node
    )"""


def _link_edges(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_LINK_EDGE_SQL``."""
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("source"), F.lit("/p"), (F.col("doc_id") % 97).cast("string")
        ).alias("node"),
    )
    nd = docs.agg(F.count(F.lit(1)).alias("__n"))
    tg = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    (F.col("doc_id") * 31 + 7) % F.col("__n"),
                    (F.col("doc_id") * 17 + 3) % F.col("__n"),
                )
            ).alias("tgt"),
        )
    )
    src = pages.withColumnRenamed("node", "src")
    dst = pages.select(F.col("doc_id").alias("tgt"), F.col("node").alias("dst"))
    return (
        tg.join(src, "doc_id")
        .join(dst, "tgt")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _pagerank_sql(
    iters: int = 3,
    damping: float = 0.85,
    seeded: bool = False,
    final: bool = True,
) -> str:
    """Oracle CTE chain replaying operators/graph.py:pagerank —
    normalized edge shares, the teleport vector ``sv`` (uniform 1/N,
    or, with ``seeded``, a prior ``seedw(node, w)`` CTE's positive
    weights normalized over the graph nodes they match — Haveliwala
    personalized PageRank), init at sv, per-iteration dangling mass +
    inflow + teleport onto sv — all carried in FIXED-POINT integer
    nano-units exactly like the Spark loop (graph.py: per-edge
    contributions floored to bigint before the sum, so every
    cross-node aggregation is an exact integer sum in any order; the
    remaining float steps are single IEEE ops on bit-identical
    inputs). Each ``r{i}`` exposes both ``pr_i`` (integer) and ``pr``
    (the divided-back double). With ``final=False`` the chain stops
    after ``r{iters}`` (plus ``sv``/``nn`` CTEs) so composed oracles
    — the authority-mix gate — can keep building."""
    d = damping
    out = """,
    ew as (
        select src, dst, cast(count(*) as double) as w
        from edges group by src, dst
    ),
    outw as (select src, sum(w) as outw from ew group by src),
    shares as (
        select ew.src, ew.dst, ew.w / outw.outw as share
        from ew join outw using (src)
    ),
    nodes as (select src as node from ew union select dst from ew),
    nn as (select cast(count(*) as double) as n from nodes)"""
    if seeded:
        out += """,
    sw as (
        select node, sum(w) as w from seedw where w > 0 group by node
    ),
    stot as (
        select sum(sw.w) as tot from sw join nodes using (node)
    ),
    sv as (
        select n.node, coalesce(sw.w, 0.0) / stot.tot as s
        from nodes n left join sw using (node) cross join stot
    )"""
    else:
        out += """,
    sv as (select node, 1.0 / nn.n as s from nodes cross join nn)"""
    sc = "1000000000.0"
    out += f""",
    r0 as (select node, cast(floor(s * {sc} + 0.5) as bigint) as pr_i from sv)"""
    prev = "r0"
    for i in range(1, iters + 1):
        out += f""",
    dang{i} as (
        select cast(coalesce(sum(pr_i), 0) as bigint) as dang from {prev}
        where node not in (select src from outw)
    ),
    infl{i} as (
        select s.dst as node,
               cast(sum(cast(floor(r.pr_i * s.share) as bigint)) as bigint)
                   as infl
        from {prev} r join shares s on r.node = s.src
        group by s.dst
    ),
    r{i} as (
        select sv.node,
               cast(floor({(1.0 - d)!r} * sv.s * {sc}
                          + {d!r} * (cast(coalesce(i.infl, 0) as double)
                                     + cast(dg.dang as double) * sv.s)
                          + 0.5) as bigint) as pr_i
        from sv
        left join infl{i} i on sv.node = i.node
        cross join dang{i} dg
    )"""
        prev = f"r{i}"
    if final:
        out += f"""
    select node, pr_i / {sc} as pagerank,
           cast(row_number() over (order by pr_i desc, node asc) as bigint)
               as rank
    from {prev}
    """
    return out


@query("host_pagerank", "with " + _LINK_EDGE_SQL + _pagerank_sql(3, 0.85))
def host_pagerank_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E160 — fixed-iteration PageRank link authority
    (operators/graph.py:pagerank): 3 power iterations at damping
    0.85 over the derived page-link graph, dangling mass
    redistributed uniformly, ranks rounded per iteration so the
    oracle walks the identical trajectory. Per iteration: one
    node-keyed equi-join + one node-keyed groupBy (rank vector rows
    only), lineage-cut between iterations (the E112 contract); the
    oracle replays edge derivation, share normalization, and all
    three iterations as CTEs."""
    from ..operators.graph import pagerank

    d = t(spark, sf_dir, "documents")
    return pagerank(_link_edges(d), damping=0.85, iters=3)


@query(
    "link_degree_report",
    "with " + _LINK_EDGE_SQL + """
    select node,
           coalesce(o.out_edges, 0) as out_edges,
           coalesce(i.in_edges, 0) as in_edges,
           coalesce(o.out_neighbors, 0) as out_neighbors,
           coalesce(i.in_neighbors, 0) as in_neighbors,
           cast(row_number() over (
               order by coalesce(i.in_edges, 0) desc, node asc
           ) as bigint) as rank
    from (select src as node from edges union select dst from edges) n
    left join (
        select src, count(*) as out_edges, count(distinct dst) as out_neighbors
        from edges group by src
    ) o on n.node = o.src
    left join (
        select dst, count(*) as in_edges, count(distinct src) as in_neighbors
        from edges group by dst
    ) i on n.node = i.dst
    """,
)
def link_degree_report_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E161 — per-node degree census (operators/graph.py:
    degree_report): total and distinct in/out degrees over the same
    derived link graph, ranked by in-degree — the pre-flight that
    catches extraction bugs (a node with a six-figure out-degree)
    before PageRank launders them into authority. Two node-keyed
    aggregations + one outer merge; the oracle replays both."""
    from ..operators.graph import degree_report

    d = t(spark, sf_dir, "documents")
    return degree_report(_link_edges(d))


# --------------------------------------------------------------------
# embedding curation (operators/ann.py): cluster-balanced sampling /
# hard-negative mining — E162-E163
# --------------------------------------------------------------------

@query(
    "cluster_balanced_sample",
    f"""
    with e as (select vec_id, embedding from embeddings),
    c0 as (
        select cast(rn - 1 as int) as centroid, cvec from (
            select row_number() over (
                       order by md5(cast(vec_id as varchar) || ':ivfseed'),
                                vec_id
                   ) as rn,
                   list_transform(embedding, x -> x::double) as cvec
            from e
        ) where rn <= 8
    ),{_ivf_assign_sql('c0', 'a1')},{_ivf_update_sql('a1', 'c0', 'c1')},
    {_ivf_assign_sql('c1', 'a2')},{_ivf_update_sql('a2', 'c1', 'c2')},
    {_ivf_assign_sql('c2', 'af')}
    select vec_id, centroid, pick from (
        select vec_id, centroid,
               cast(row_number() over (
                   partition by centroid
                   order by md5(cast(vec_id as varchar) || ':cbs'), vec_id
               ) as bigint) as pick
        from af
    ) where pick <= 10
    """,
)
def cluster_balanced_sample_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E162 — embedding-cluster-balanced diversity sample
    (operators/ann.py:cluster_balanced_sample): cap 10 vectors per
    coarse cluster of the deterministic IVF quantizer
    (ivf_index_fixed — E108's md5-seeded rounded-Lloyd build), picked
    in engine-neutral md5 order — the cluster-cap step of
    semantic-diversity curation (bound every neighborhood's share
    instead of uniform-sampling the over-represented one). One hash
    projection + one per-cluster WindowGroupLimit on top of the index
    the ANN path already trained; the oracle replays the full
    quantizer build plus the capped pick."""
    from ..operators.ann import cluster_balanced_sample, ivf_index_fixed

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    idx = ivf_index_fixed(e, dims=64, n_centroids=8, iters=2)
    return cluster_balanced_sample(idx, cap=10).select(
        "vec_id", "centroid", "pick"
    )


@query(
    "hard_negative_topk",
    f"""
    with q as (select vec_id, label, embedding from embeddings where vec_id < 5),
    c as (select vec_id, label, embedding from embeddings),
    scored as (
        select q.vec_id as query_id, c.vec_id as neighbor_id,
               c.label as neighbor_label,
               round({_cos_sql('q.embedding', 'c.embedding')}, 6) as cos_sim
        from q cross join c
        where q.vec_id <> c.vec_id and q.label <> c.label
    )
    select query_id, neighbor_id, neighbor_label, cos_sim, rank from (
        select *, cast(row_number() over (
            partition by query_id order by cos_sim desc, neighbor_id
        ) as bigint) as rank
        from scored
    ) where rank <= 10
    """,
)
def hard_negative_topk_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E163 — hard-negative mining (operators/ann.py:hard_negatives):
    per query vector, the top-10 most similar corpus vectors with a
    DIFFERENT label — the contrastive-training negatives that
    actually move a retrieval model (near-misses, not random draws).
    Same broadcast-query × corpus-scan shape as the exact top-k gate
    with the label filter pruning before the rank window; the oracle
    replays scoring, exclusion, and ranking."""
    from ..operators.ann import hard_negatives

    e = t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = e.filter(F.col("vec_id") < 5)
    return hard_negatives(queries, e, k=10).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------
# round-14 additions: KLL-style quantile sketch (E164), personalized
# PageRank (E165), authority-weighted corpus mixing (E166)
# --------------------------------------------------------------------

def _lz32_sql(key: str, salt: str) -> str:
    """SQL replay of operators/sketch.py:_lz32 — leading zero BITS of
    the 32-bit word at md5 hex chars 1-8 (32 when all zero), via the
    same no-floating-log2 hex CASE as ``_HLL_RHO_SQL``."""
    rest = f"regexp_replace(substr(md5({key} || '{salt}'), 1, 8), '^0*', '')"
    return f"""
        case when {rest} = ''
             then 32
             else (8 - length({rest})) * 4
                  + (case substr({rest}, 1, 1)
                     when '1' then 3 when '2' then 2 when '3' then 2
                     when '4' then 1 when '5' then 1 when '6' then 1 when '7' then 1
                     else 0 end)
             end"""


_KLL_K = 1024
_KLL_QS = [0.25, 0.5, 0.9, 0.99]


@query(
    "kll_quantiles",
    f"""
    with vals as (
        select cast(value as double) as v,
               {_lz32_sql('cast(event_id as varchar)', ':kll')} as tier
        from events where value is not null
    ),
    th as (select tier, count(*) as c from vals group by tier),
    lv as (
        select min(tier) as level from (
            select tier, sum(c) over (order by tier desc) as cum from th
        ) where cum <= {_KLL_K}
    ),
    ret as (select v from vals cross join lv where tier >= lv.level),
    nn as (select cast(count(*) as double) as n from ret),
    rk as (select v, row_number() over (order by v) as rn from ret),
    q as (select unnest([{', '.join(repr(q) for q in _KLL_QS)}]) as quantile),
    tg as (
        select q.quantile, q.quantile * (nn.n - 1) + 1 as t,
               cast(floor(q.quantile * (nn.n - 1) + 1) as bigint) as lo,
               cast(ceil(q.quantile * (nn.n - 1) + 1) as bigint) as hi
        from q cross join nn
    ),
    ex as (
        select unnest([{', '.join(repr(q) for q in _KLL_QS)}]) as quantile,
               unnest(qc) as exact
        from (select quantile_cont(v, [{', '.join(repr(q) for q in _KLL_QS)}])
                  as qc from vals)
    )
    select tg.quantile,
           round(l.v + (tg.t - tg.lo) * (h.v - l.v), 6) as estimate,
           round(ex.exact, 6) as exact,
           round(round(l.v + (tg.t - tg.lo) * (h.v - l.v), 6)
                 - round(ex.exact, 6), 6) as err
    from tg
    join rk l on tg.lo = l.rn
    join rk h on tg.hi = h.rn
    join ex on tg.quantile = ex.quantile
    """,
)
def kll_quantiles_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E164 — KLL-style mergeable quantile sketch with NO range
    contract (operators/sketch.py:kll_sketch): per-event-type
    sketches (each ≤ 1024 rows — level picked as the smallest md5
    tier with ≤ k survivors) merged losslessly (merge == direct
    build, bit-for-bit — the theta-style max-level rule) and read at
    p25/p50/p90/p99 with the standard q·(n-1) interpolation. Unlike
    E159's fixed-edge histogram, shards never have to agree on
    [lo, hi] up front — the sketch a month-spanning ingest can
    actually run. The gate publishes estimate NEXT TO the exact
    quantile and the error, so the driver hash records accuracy
    (O(1/√k) rank error); the oracle computes the global sketch
    directly — equality with Spark's merged per-shard build IS the
    losslessness proof, as in E157/E158 — and replays tiering, the
    level pick, ranking, and interpolation."""
    from ..operators.sketch import kll_quantiles, kll_sketch, merge_kll_sketches

    ev = t(spark, sf_dir, "events")
    per = kll_sketch(ev, "value", "event_id", k=_KLL_K, by="event_type")
    merged = merge_kll_sketches(per, k=_KLL_K)
    est = kll_quantiles(merged, _KLL_QS, round_digits=6)
    exact_row = ev.agg(
        *[
            F.round(
                F.percentile(F.col("value").cast("double"), F.lit(q)), 6
            ).alias(f"__q{i}")
            for i, q in enumerate(_KLL_QS)
        ]
    )
    stack_args = ", ".join(
        f"{q}D, __q{i}" for i, q in enumerate(_KLL_QS)
    )
    exact = exact_row.select(
        F.expr(f"stack({len(_KLL_QS)}, {stack_args}) as (quantile, exact)")
    )
    return est.join(F.broadcast(exact), "quantile").select(
        "quantile",
        "estimate",
        "exact",
        F.round(F.col("estimate") - F.col("exact"), 6).alias("err"),
    )


@query(
    "host_pagerank_seeded",
    "with " + _LINK_EDGE_SQL + """,
    seedw as (
        select node, case when node like 'src1/%' then 2.0 else 1.0 end as w
        from (select distinct node from pages)
        where node like 'src1/%' or node like 'src7/%'
    )""" + _pagerank_sql(3, 0.85, seeded=True),
)
def host_pagerank_seeded_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E165 — personalized (seeded) PageRank
    (operators/graph.py:pagerank with ``seeds``, Haveliwala 2002):
    teleport and dangling mass land on a weighted seed set (src1
    pages at weight 2, src7 pages at weight 1) instead of uniformly —
    the crawl-frontier ranking that scores hosts by proximity to a
    trusted/topical seed list. Same per-iteration join/groupBy shape
    and rounded trajectory as E160 (a uniform all-node seed table
    reproduces it exactly — property-tested); the oracle replays seed
    normalization over the matched graph nodes plus all three
    iterations."""
    from ..operators.graph import pagerank

    d = t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.col("source"), F.lit("/p"), (F.col("doc_id") % 97).cast("string")
        ).alias("node")
    ).distinct()
    seeds = pages.filter(
        F.col("node").startswith("src1/") | F.col("node").startswith("src7/")
    ).select(
        "node",
        F.when(F.col("node").startswith("src1/"), F.lit(2.0))
        .otherwise(F.lit(1.0))
        .alias("w"),
    )
    return pagerank(
        _link_edges(d), damping=0.85, iters=3, seeds=seeds, seed_weight="w"
    )


@query(
    "host_authority_mix",
    _MESSY_URL_SQL + _CANON_URL_SQL + """,
    hosts as (
        select doc_id,
               case when canonical like '%://%'
                    then regexp_extract(canonical,
                             '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
                    else regexp_extract(canonical, '^([^/?#]*)', 1)
               end as host
        from canon
    ),
    nd as (select count(*) as n from documents),
    tg as (
        select doc_id, unnest([(doc_id * 31 + 7) % nd.n,
                               (doc_id * 17 + 3) % nd.n]) as tgt
        from documents cross join nd
    ),
    edges as (
        select hs.host as src, hd.host as dst
        from tg
        join hosts hs on tg.doc_id = hs.doc_id
        join hosts hd on tg.tgt = hd.doc_id
        where hs.host <> hd.host
    )""" + _pagerank_sql(3, 0.85, final=False) + """,
    auth as (select node as host, pr_i / 1000000000.0 as authority
             from r3 where pr_i > 0),
    g as (select h.host, cast(count(*) as double) as cnt from hosts h group by 1),
    rates as (
        select g.host,
               round(least(1.0,
                   200.0 * (pow(a.authority, 1.0)
                            / sum(pow(a.authority, 1.0)) over ()) / g.cnt), 9)
                   as rate
        from g join auth a using (host)
    )
    select h.doc_id, h.host
    from hosts h join rates r using (host)
    where cast(('0x' || substr(md5(cast(h.doc_id as varchar) || 'authority'), 1, 8))
               as bigint) < r.rate * 4294967296.0
    """,
)
def host_authority_mix_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E166 — authority-weighted corpus mixing
    (operators/pipeline.py:authority_mix composed with
    operators/graph.py:pagerank through
    functions/text.py:canonical_host): canonicalize the messy URL
    population (E136), roll the derived doc→doc links up to a
    host→host link graph, PageRank it (3 iterations, E160's rounded
    trajectory), and down-sample the corpus so each host's share of
    the ~200-doc output is proportional to its LINK AUTHORITY instead
    of its page count — the integration step that stops a
    million-page crawler trap from dominating a training mix. Also
    exposed as the CorpusPipeline ``authority_mix`` stage
    (plans/corpus.py). Corpus rows never shuffle: the host graph and
    rate table are host-table-sized broadcasts, selection is the
    engine-neutral md5(id ∥ 'authority') prefix, and the per-host
    rate is rounded to 9 so both engines compare against
    bit-identical rates; the oracle replays canonicalization, graph
    derivation, all PageRank iterations, and the rate arithmetic."""
    from ..functions.text import canonical_host
    from ..operators.graph import pagerank
    from ..operators.pipeline import authority_mix

    d = t(spark, sf_dir, "documents")
    # (doc_id, host) is the lightweight decision proxy (guide §8):
    # four subtrees read it (edge src/dst sides, the per-host count,
    # the final rate join) and each would re-run the regex
    # canonicalization over the documents scan — checkpoint the
    # id+host pairs once; the corpus payload itself never persists.
    hosts = _messy_urls(d).select(
        "doc_id", canonical_host("url").alias("host")
    ).localCheckpoint(eager=False)
    nd = d.agg(F.count(F.lit(1)).alias("__n"))
    tg = (
        d.select("doc_id")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    (F.col("doc_id") * 31 + 7) % F.col("__n"),
                    (F.col("doc_id") * 17 + 3) % F.col("__n"),
                )
            ).alias("tgt"),
        )
    )
    hsrc = hosts.select("doc_id", F.col("host").alias("src"))
    hdst = hosts.select(
        F.col("doc_id").alias("tgt"), F.col("host").alias("dst")
    )
    edges = (
        tg.join(hsrc, "doc_id")
        .join(hdst, "tgt")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    pr = pagerank(edges, damping=0.85, iters=3)
    auth = pr.select(
        F.col("node").alias("host"), F.col("pagerank").alias("authority")
    )
    return authority_mix(
        hosts,
        auth,
        group_col="host",
        weight_col="authority",
        target_total=200,
        alpha=1.0,
        id_col="doc_id",
        salt="authority",
    ).select("doc_id", "host")


# --------------------------------------------------------------------
# E167: HITS hubs & authorities (round 14)
# --------------------------------------------------------------------


def _hits_sql(iters: int = 3) -> str:
    """Oracle CTE chain replaying operators/graph.py:hits — collapsed
    edge weights, uniform integer hub init, then per iteration the
    authority<-hubs and hub<-authorities updates with per-edge
    contributions floored to bigint before each cross-node sum and
    one IEEE division per L1 normalization — the same fixed-point
    nano-unit trajectory the Spark loop walks (see graph.py:hits)."""
    sc = "1000000000.0"
    out = f""",
    ew as (
        select src, dst, cast(count(*) as double) as w
        from edges group by src, dst
    ),
    nodes as (select src as node from ew union select dst from ew),
    nn as (select cast(count(*) as double) as n from nodes),
    h0 as (
        select node, cast(floor({sc} / nn.n + 0.5) as bigint) as h_i
        from nodes cross join nn
    )"""
    prev = "h0"
    for i in range(1, iters + 1):
        out += f""",
    araw{i} as (
        select ew.dst as node,
               cast(sum(cast(floor(ew.w * h.h_i) as bigint)) as bigint) as raw
        from {prev} h join ew on h.node = ew.src
        group by ew.dst
    ),
    atot{i} as (select cast(sum(raw) as bigint) as tot from araw{i}),
    a{i} as (
        select n.node,
               cast(floor({sc} * (cast(coalesce(ar.raw, 0) as double)
                                  / cast(at.tot as double)) + 0.5) as bigint)
                   as a_i
        from nodes n
        left join araw{i} ar on n.node = ar.node
        cross join atot{i} at
    ),
    hraw{i} as (
        select ew.src as node,
               cast(sum(cast(floor(ew.w * a.a_i) as bigint)) as bigint) as raw
        from a{i} a join ew on a.node = ew.dst
        group by ew.src
    ),
    htot{i} as (select cast(sum(raw) as bigint) as tot from hraw{i}),
    h{i} as (
        select n.node,
               cast(floor({sc} * (cast(coalesce(hr.raw, 0) as double)
                                  / cast(ht.tot as double)) + 0.5) as bigint)
                   as h_i
        from nodes n
        left join hraw{i} hr on n.node = hr.node
        cross join htot{i} ht
    )"""
        prev = f"h{i}"
    out += f"""
    select h{iters}.node,
           h{iters}.h_i / {sc} as hub,
           a{iters}.a_i / {sc} as authority,
           cast(row_number() over (
               order by a{iters}.a_i desc, h{iters}.node asc
           ) as bigint) as rank
    from h{iters} join a{iters} on h{iters}.node = a{iters}.node
    """
    return out


@query("host_hits", "with " + _LINK_EDGE_SQL + _hits_sql(3))
def host_hits_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E167 — fixed-iteration HITS hubs & authorities
    (operators/graph.py:hits, Kleinberg 1999): 3 mutual
    authority<-hubs / hub<-authorities updates, L1-normalized, over
    the same derived page-link graph as E160 — the frontier readout
    that separates pages worth FETCHING (high authority) from index
    pages worth RE-CRAWLING for links (high hub). Per iteration: two
    node-keyed equi-joins + two node-keyed groupBys over (node,
    bigint) rows, lineage-cut between iterations; the trajectory is
    carried in fixed-point integer nano-units so the oracle replays
    edge collapse, the uniform init, and all six update/normalize
    steps bit-for-bit as CTEs."""
    from ..operators.graph import hits

    d = t(spark, sf_dir, "documents")
    return hits(_link_edges(d), iters=3)


# --------------------------------------------------------------------
# E170: span-level benchmark decontamination (round 14)
# --------------------------------------------------------------------

_SPAN_DECON_SQL = """
    with co as (select doc_id, text from documents where doc_id % 10 != 3),
    ev as (select doc_id, text from documents where doc_id % 10 = 3),
    evh as (
        select distinct unnest(list_transform(
            generate_series(0,
                greatest(len(string_split(text, ' ')) - 8, 0)),
            i -> md5(array_to_string(
                   list_slice(string_split(text, ' '), i+1, i+8), ' '))))
            as h
        from ev
    ),
    coh as (
        select doc_id, j - 1 as pos, kg[j] as h
        from (
            select doc_id, kg, unnest(generate_series(1, len(kg))) as j
            from (
                select doc_id,
                       list_transform(
                         generate_series(0,
                             greatest(len(string_split(text, ' ')) - 8, 0)),
                         i -> md5(array_to_string(
                                list_slice(string_split(text, ' '), i+1, i+8),
                                ' '))) as kg
                from co
            )
        )
    ),
    hits as (
        select doc_id, pos from coh where h in (select h from evh)
    )
"""

_SPAN_IVL_SQL = """,
    pe as (
        select doc_id, pos,
               max(pos + 8) over (partition by doc_id order by pos
                   rows between unbounded preceding and 1 preceding)
                   as prev_end
        from hits
    ),
    isl as (
        select doc_id, pos,
               sum(case when prev_end is null or pos > prev_end
                        then 1 else 0 end)
                   over (partition by doc_id order by pos
                         rows unbounded preceding) as island
        from pe
    ),
    ivl as (
        select doc_id, island, min(pos) as s, max(pos) + 8 as e
        from isl group by 1, 2
    ),
    nt as (
        select doc_id,
               cast(len(string_split(text, ' ')) as bigint) as ntk
        from co
    )
"""


@query(
    "span_decontamination",
    _SPAN_DECON_SQL + _SPAN_IVL_SQL + """
    select i.doc_id, cast(s as bigint) as span_start,
           cast(least(e, nt.ntk) as bigint) as span_end,
           cast(least(e, nt.ntk) - s as bigint) as span_tokens
    from ivl i join nt using (doc_id)
    """,
)
def span_decontamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E170 — span-level contamination report
    (operators/pipeline.py:span_contamination_report): the maximal
    contaminated regions of each corpus document against a held-out
    eval slice (doc_id % 10 == 3) — every verbatim-shared 8-token
    span, merged gaps-and-islands style into half-open token
    intervals clamped to the doc length. The localization the E36/
    E154 doc-drop passes can't give: a long document quoting one
    benchmark paragraph keeps everything but the quote. Only 32-byte
    hashes reach the semi join (eval side broadcast); the merge
    windows partition on doc id over HIT positions only. The oracle
    replays span hashing on both sides, the semi join, and the
    interval merge."""
    from ..operators.pipeline import span_contamination_report
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    co = d.filter(F.col("doc_id") % 10 != 3)
    ev = d.filter(F.col("doc_id") % 10 == 3)
    return span_contamination_report(co, ev, width=8)


@query(
    "span_decontaminated_corpus",
    _SPAN_DECON_SQL + """,
    starts as (
        select doc_id, list(pos order by pos) as ss from hits group by doc_id
    ),
    rb as (
        select c.doc_id,
               string_split(c.text, ' ') as tk,
               list_filter(string_split(c.text, ' '),
                 (tok, ti) -> len(list_filter(
                     coalesce(s.ss, cast([] as bigint[])),
                     p -> p <= ti - 1 and ti - 1 < p + 8)) = 0) as kept
        from co c left join starts s using (doc_id)
    )
    select doc_id,
           md5(case when tk is null then null
                    else coalesce(array_to_string(kept, ' '), '') end)
             as clean_md5,
           cast(len(tk) - len(kept) as bigint) as n_tokens_removed
    from rb
    """,
)
def span_decontaminated_corpus_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E170 — span-decontaminated corpus materialization
    (operators/pipeline.py:span_decontaminate): tokens covered by any
    8-token span shared verbatim with the eval slice are excised;
    uncontaminated documents pass through byte-identical
    (property-tested). Same rebuild tail as the E69 span-dedup
    materialization (_excise_spans); the oracle replays detection,
    coverage masking, and the token rebuild, hash-checking the
    cleaned text itself."""
    from ..operators.pipeline import span_decontaminate
    from ..operators.util import spread

    d = spread(t(spark, sf_dir, "documents"))
    co = d.filter(F.col("doc_id") % 10 != 3)
    ev = d.filter(F.col("doc_id") % 10 == 3)
    out = span_decontaminate(co, ev, width=8)
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_tokens_removed"
    )


# --------------------------------------------------------------------
# E172: triangle census / clustering coefficient (round 14)
# --------------------------------------------------------------------


_HASH_EDGE_SQL = """
    with e2 as (
        select doc_id, unnest([1, 2]) as k from documents
    ),
    edges as (
        select 'h' || cast(cast(('0x' || substr(md5(
                   cast(doc_id as varchar) || ':s' || cast(k as varchar)),
                   1, 8)) as bigint) % 60 as varchar) as src,
               'h' || cast(cast(('0x' || substr(md5(
                   cast(doc_id as varchar) || ':d' || cast(k as varchar)),
                   1, 8)) as bigint) % 60 as varchar) as dst
        from e2
    )"""


@query(
    "host_triangles",
    _HASH_EDGE_SQL + """,
    und as (
        select least(src, dst) as a, greatest(src, dst) as b
        from edges where src <> dst
        group by 1, 2
    ),
    deg as (
        select node, count(*) as degree from (
            select a as node from und union all select b as node from und
        ) group by node
    ),
    o as (
        select case when da.degree < db.degree
                      or (da.degree = db.degree and a < b)
                    then a else b end as u,
               case when da.degree < db.degree
                      or (da.degree = db.degree and a < b)
                    then b else a end as v
        from und
        join deg da on und.a = da.node
        join deg db on und.b = db.node
    ),
    tri as (
        select o1.u as x, o1.v as y, o2.v as z
        from o o1
        join o o2 on o1.v = o2.u
        join o o3 on o3.u = o1.u and o3.v = o2.v
    ),
    tcnt as (
        select node, count(*) as triangles from (
            select x as node from tri
            union all select y from tri
            union all select z from tri
        ) group by node
    )
    select d.node, cast(d.degree as bigint) as degree,
           cast(coalesce(t.triangles, 0) as bigint) as triangles,
           round(case when d.degree >= 2
                      then 2.0 * coalesce(t.triangles, 0)
                           / (d.degree * (d.degree - 1.0))
                      else 0.0 end, 6) as clustering
    from deg d left join tcnt t on d.node = t.node
    """,
)
def host_triangles_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E172 — exact triangle census + local clustering coefficient
    (operators/graph.py:triangle_report, degree-ordered orientation
    per Suri & Vassilvitskii 2011) over the undirected E160 page-link
    graph — the link-farm detector: a crawler-trap ring clusters at
    ≈ 1 while organically-cited pages sit in sparse neighborhoods.
    Each triangle is found exactly once from its lowest-(degree,
    node) corner, so wedge fan-out is bounded by oriented out-degrees
    (a hub generates none). The gate graph is an md5-derived random
    host graph (60 buckets, 2 edges per document — the E160 affine
    page graph is triangle-free by construction, so it cannot
    exercise this operator); the oracle replays the edge hashing,
    the undirected
    collapse, degree table, orientation CASE, the two-join path
    closure, and the incidence rollup."""
    from ..operators.graph import triangle_report

    d = t(spark, sf_dir, "documents")
    e2 = d.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("k")
    )

    def _node(tag: str):
        h = F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(tag),
                F.col("k").cast("string"),
            )
        )
        return F.concat(
            F.lit("h"),
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 60).cast(
                "string"
            ),
        )

    edges = e2.select(_node(":s").alias("src"), _node(":d").alias("dst"))
    return triangle_report(edges)
