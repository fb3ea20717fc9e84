"""Declared-query registry: every operator from SURVEY §2 as a named
(spark_query, oracle_sql) pair over the driver's fixtures.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the oracle SQL is the ANSI equivalent DuckDB runs on the same parquet
(views pre-registered by the driver). Column names and float rounding
are aligned on both sides (FIXTURES.md determinism rules).

The linkage queries follow FIXTURES §6: ``customer`` self-link with
blocking on ``c_nationkey`` plus a name-prefix expression pass, an
exact comparator on ``c_mktsegment`` and an acctbal-difference bucket
comparator standing in for JW buckets (so the oracle needs no UDF).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..blocking import extract_blocks, ordered_pairs
from ..exprs import bucket_comparator, exact_comparator, match_weight_column, with_suffix
from ..pairs import compute_pairs_dataset
from ..patterns import do_comparisons, pattern_counts, u_probability_frequencies
from ..sources.etl import load_tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, [name])[name]


# --------------------------------------------------------------------
# Linkage core (SURVEY §2a/§2b ops 1-5, 8, 13-18)
# --------------------------------------------------------------------

# Fixed FS parameters for scoring queries (m/u per comparator level) —
# parameter-compilation is tested independently of EM (FIXTURES §5).
M_PROBS = {
    "mktsegment": {"agree": 0.9, "disagree": 0.1},
    "acctbal": {"close": 0.7, "near": 0.2, "far": 0.1},
}
U_PROBS = {
    "mktsegment": {"agree": 0.2, "disagree": 0.8},
    "acctbal": {"close": 0.05, "near": 0.15, "far": 0.8},
}

def _comparators():
    # built lazily: Column construction needs an active SparkContext
    bal_diff = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    return {
        "mktsegment": exact_comparator("c_mktsegment"),
        "acctbal": bucket_comparator(
            bal_diff,
            [(bal_diff < 100, "close"), (bal_diff < 1000, "near")],
            "far",
        ),
    }

_PAIRS_SQL = """
    with a as (select * from customer), b as (select * from customer),
    pass1 as (
        select a.c_custkey as c_custkey_left, b.c_custkey as c_custkey_right
        from a join b on a.c_nationkey = b.c_nationkey
    ),
    pass2 as (
        select a.c_custkey as c_custkey_left, b.c_custkey as c_custkey_right
        from a join b
          on substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
         and a.c_mktsegment = b.c_mktsegment
    ),
    pairs as (
        select distinct c_custkey_left, c_custkey_right
        from (select * from pass1 union all select * from pass2)
        where c_custkey_left < c_custkey_right
    )
"""

_CMP_SQL = _PAIRS_SQL + """,
    joined as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_mktsegment as seg_l, a.c_acctbal as bal_l, a.c_nationkey as nat_l,
               b.c_mktsegment as seg_r, b.c_acctbal as bal_r, b.c_nationkey as nat_r
        from pairs p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    cmp as (
        select c_custkey_left, c_custkey_right, nat_l, nat_r,
               case when seg_l = seg_r then 'agree'
                    when seg_l <> seg_r then 'disagree' end as mktsegment,
               case when abs(bal_l - bal_r) < 100 then 'close'
                    when abs(bal_l - bal_r) < 1000 then 'near'
                    else 'far' end as acctbal
        from joined
    )
"""

_WEIGHT_SQL = """
        (case when mktsegment is not null then
            ln((case mktsegment when 'agree' then 0.9 when 'disagree' then 0.1 end)
             / (case mktsegment when 'agree' then 0.2 when 'disagree' then 0.8 end))
         else 0.0 end
       + case when acctbal is not null then
            ln((case acctbal when 'close' then 0.7 when 'near' then 0.2 when 'far' then 0.1 end)
             / (case acctbal when 'close' then 0.05 when 'near' then 0.15 when 'far' then 0.8 end))
         else 0.0 end)
"""


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    pairs = extract_blocks(
        customer,
        customer,
        "c_custkey",
        "c_custkey",
        blocking_variables=["c_nationkey"],
        blocking_expressions=[
            (F.substring("c_name_left", 1, 12) == F.substring("c_name_right", 1, 12))
            & (F.col("c_mktsegment_left") == F.col("c_mktsegment_right"))
        ],
    )
    return ordered_pairs(pairs)


def _comparisons(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    return do_comparisons(
        joined, _comparators(), keep=["c_custkey_left", "c_custkey_right"]
    )


@query(
    "suffix_projection",
    """
    select c_custkey as c_custkey_left, c_name as c_name_left,
           c_nationkey as c_nationkey_left, c_acctbal as c_acctbal_left,
           c_mktsegment as c_mktsegment_left
    from customer
    """,
)
def suffix_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 8 add_suffix (utils.R:11-18): pure projection rename."""
    return with_suffix(t(spark, sf_dir, "customer"), "_left")


@query("blocking_multi_pass", _PAIRS_SQL + "select * from pairs")
def blocking_multi_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 1+15 extract_blocks (linking.R:14-38): equi pass ∪ derived-key
    expression pass, distinct, ordered-pair dedup (scratch.R:28)."""
    return _candidate_pairs(spark, sf_dir)


@query(
    "blocking_pass_counts",
    """
    with a as (select * from customer), b as (select * from customer)
    select 0 as pass_idx, count(*) as n_pairs
    from a join b on a.c_nationkey = b.c_nationkey
    union all
    select 1 as pass_idx, count(*) as n_pairs
    from a join b
      on substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
     and a.c_mktsegment = b.c_mktsegment
    """,
)
def blocking_pass_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking guardrail (VERDICT r1 scale-risk note): per-pass
    candidate counts as one job, surfacing the pass that would explode
    quadratically at 100x before the join runs."""
    from ..blocking import blocking_pass_counts
    from ..spec import BlockingRule

    customer = t(spark, sf_dir, "customer")
    return blocking_pass_counts(
        customer,
        customer,
        "c_custkey",
        "c_custkey",
        [
            BlockingRule.on("c_nationkey"),
            BlockingRule.where(
                (F.substring("c_name_left", 1, 12) == F.substring("c_name_right", 1, 12))
                & (F.col("c_mktsegment_left") == F.col("c_mktsegment_right"))
            ),
        ],
    )


@query(
    "blocking_salted_pass",
    """
    select a.c_custkey as id_left, b.c_custkey as id_right
    from customer a
    join customer b
      on a.c_nationkey = b.c_nationkey
     and a.c_custkey < b.c_custkey
    """,
)
def blocking_salted_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted triangle-decomposition self-join (blocking.py
    salted_block_pairs): the explicit skew path for hot blocking keys.
    Oracle is the plain unsalted block join — the decomposition must
    reproduce every unordered pair exactly once."""
    from ..blocking import salted_block_pairs

    customer = t(spark, sf_dir, "customer")
    return salted_block_pairs(customer, "c_custkey", "c_nationkey", num_salts=8)


@query(
    "snm_pairs",
    """
    with ranked as (
        select c_custkey,
               row_number() over (order by c_acctbal nulls first,
                                           c_custkey) - 1 as r
        from customer
    )
    select least(a.c_custkey, b.c_custkey) as c_custkey_left,
           greatest(a.c_custkey, b.c_custkey) as c_custkey_right
    from ranked a join ranked b
      on b.r > a.r and b.r - a.r < 5
    """,
)
def snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E129 — sorted-neighborhood blocking (Hernández & Stolfo '95;
    blocking.py:sorted_neighborhood_pairs): customers sorted by
    account balance (id tiebreak), every pair within a 5-record
    window of the GLOBAL sort order — a pair budget of exactly 4n
    with no quadratic hot block possible. The engine mints the global
    rank without a one-task sort (``operators/util.py:distributed_rank``:
    range buckets, a local row_number and in-plan bucket offsets) and
    turns the rank-band predicate into two equi passes on window-sized
    rank blocks; the oracle replays the same total order with a plain
    ROW_NUMBER + band self-join, so the hash check proves the
    distributed rank equals the single-node one. NULLS FIRST pinned on
    both sides."""
    from ..blocking import sorted_neighborhood_pairs

    customer = t(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        customer, "c_custkey", F.col("c_acctbal"), window=5
    )


@query(
    "pairs_dataset",
    _PAIRS_SQL + """
    select p.c_custkey_left, p.c_custkey_right,
           a.c_mktsegment as c_mktsegment_left, a.c_acctbal as c_acctbal_left,
           b.c_mktsegment as c_mktsegment_right, b.c_acctbal as c_acctbal_right
    from pairs p
    left join customer a on p.c_custkey_left = a.c_custkey
    left join customer b on p.c_custkey_right = b.c_custkey
    """,
)
def pairs_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 2 compute_pairs_dataset (linking.R:49-60): double left join."""
    customer = t(spark, sf_dir, "customer")
    return compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    ).select(
        "c_custkey_left",
        "c_custkey_right",
        "c_mktsegment_left",
        "c_acctbal_left",
        "c_mktsegment_right",
        "c_acctbal_right",
    )


@query(
    "comparison_vectors",
    _CMP_SQL + "select c_custkey_left, c_custkey_right, mktsegment, acctbal from cmp",
)
def comparison_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 3-6 do_comparisons (linking.R:72-74) with exact (R if_else
    NULL semantics) and bucket (case_when default) comparators."""
    return _comparisons(spark, sf_dir)


@query(
    "pattern_counts",
    _CMP_SQL + "select mktsegment, acctbal, count(*) as n from cmp group by 1, 2",
)
def pattern_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 13 (scratch.R:51-54): the EM sufficient statistic."""
    cmp = _comparisons(spark, sf_dir).select("mktsegment", "acctbal")
    return pattern_counts(cmp, ["mktsegment", "acctbal"])


@query(
    "u_prob_frequencies",
    """
    with n as (select count(*) as n from customer),
    sample_ids as (
        select c_custkey as idl, (c_custkey * 37 + 11) % (select n from n) as idr
        from customer
    ),
    joined as (
        select a.c_mktsegment as seg_l, a.c_acctbal as bal_l,
               b.c_mktsegment as seg_r, b.c_acctbal as bal_r
        from sample_ids p
        left join customer a on p.idl = a.c_custkey
        left join customer b on p.idr = b.c_custkey
    ),
    cmp as (
        select case when seg_l = seg_r then 'agree'
                    when seg_l <> seg_r then 'disagree' end as mktsegment,
               case when abs(bal_l - bal_r) < 100 then 'close'
                    when abs(bal_l - bal_r) < 1000 then 'near'
                    else 'far' end as acctbal
        from joined
    ),
    longf as (
        select 'mktsegment' as comparator, mktsegment as level from cmp
        union all
        select 'acctbal' as comparator, acctbal as level from cmp
    ),
    counts as (
        select comparator, level, count(*) as n
        from longf where level is not null
        group by 1, 2
    )
    select comparator, level, n,
           round(n / (sum(n) over (partition by comparator)), 9) as p
    from counts
    """,
)
def u_prob_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 14 calculate_u_probs tail (scratch.R:58-98) over a
    deterministic modular pair sample (FIXTURES: the random pair list
    must be fixture-stable across engines, so the sampler here is the
    affine map id → (37·id+11) mod n rather than an RNG stream)."""
    customer = t(spark, sf_dir, "customer")
    n = customer.count()
    sample = customer.select(
        F.col("c_custkey").alias("c_custkey_left"),
        ((F.col("c_custkey") * 37 + 11) % n).alias("c_custkey_right"),
    )
    joined = compute_pairs_dataset(customer, customer, "c_custkey", "c_custkey", sample)
    cmp = do_comparisons(joined, _comparators())
    freqs = u_probability_frequencies(cmp)
    return freqs.select("comparator", "level", "n", F.round("p", 9).alias("p"))


_JW_SAMPLE_BUCKETS_SQL = """
    with n as (select count(*) as n from customer),
    sample_ids as (
        select c_custkey as c_custkey_left,
               (c_custkey * 37 + 11) % (select n from n) as c_custkey_right
        from customer
    ),
    named as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_name as name_l, b.c_name as name_r
        from sample_ids p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    )
    select c_custkey_left, c_custkey_right,
           round(jaro_winkler_similarity(name_l, name_r), 6) as jw_sim,
           case when jaro_winkler_similarity(name_l, name_r) = 1 then 'full agreement'
                when jaro_winkler_similarity(name_l, name_r) > 0.9 then 'strong partial agreement'
                when jaro_winkler_similarity(name_l, name_r) > 0.85 then 'weak partial agreement'
                else 'no agreement' end as name_bucket
    from named
    """


@query("jw_comparator_buckets", _JW_SAMPLE_BUCKETS_SQL)
def jw_comparator_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 6 build_jw_comparator_expressions (comparators.R:4-14): the
    reference's signature Jaro-Winkler bucket comparator, gated against
    DuckDB's builtin jaro_winkler_similarity. The deterministic modular
    pair sample includes id 0 (no such custkey), exercising the
    NULL→default-bucket CASE semantics. One ArrowEvalPython node per
    stage: Spark deduplicates the equal jw_similarity UDF calls, so the
    similarity is computed once per pair (verified via explain)."""
    from ..similarity import jw_comparator, jw_similarity

    customer = t(spark, sf_dir, "customer")
    n = customer.count()
    sample = customer.select(
        F.col("c_custkey").alias("c_custkey_left"),
        ((F.col("c_custkey") * 37 + 11) % n).alias("c_custkey_right"),
    )
    joined = compute_pairs_dataset(customer, customer, "c_custkey", "c_custkey", sample)
    sim = jw_similarity(F.col("c_name_left"), F.col("c_name_right"))
    return do_comparisons(
        joined,
        {
            "jw_sim": F.round(sim, 6),
            "name_bucket": jw_comparator("c_name"),
        },
        keep=["c_custkey_left", "c_custkey_right"],
    )


@query(
    "levenshtein_comparator",
    """
    with n as (select count(*) as n from customer),
    sample_ids as (
        select c_custkey as c_custkey_left,
               (c_custkey * 37 + 11) % (select n from n) as c_custkey_right
        from customer
    ),
    named as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_name as name_l, b.c_name as name_r
        from sample_ids p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    sim as (
        select c_custkey_left, c_custkey_right,
               case when greatest(length(name_l), length(name_r)) = 0 then 1.0
                    else 1.0 - levenshtein(name_l, name_r)
                          / cast(greatest(length(name_l), length(name_r)) as double)
               end as lev
        from named
    )
    select c_custkey_left, c_custkey_right,
           round(lev, 6) as lev_sim,
           case when lev = 1 then 'full agreement'
                when lev > 0.9 then 'strong partial agreement'
                when lev > 0.85 then 'weak partial agreement'
                else 'no agreement' end as name_bucket
    from sim
    """,
)
def levenshtein_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-Levenshtein comparator (similarity.py): the JVM
    builtin edit distance, fully codegen — the preferred fuzzy
    comparator at scale (no Python round trip, unlike JW). Same bucket
    thresholds as the JW factory; NULL inputs yield NULL similarity →
    default bucket."""
    from ..exprs import bucket_comparator
    from ..similarity import levenshtein_similarity

    customer = t(spark, sf_dir, "customer")
    n = customer.count()
    sample = customer.select(
        F.col("c_custkey").alias("c_custkey_left"),
        ((F.col("c_custkey") * 37 + 11) % n).alias("c_custkey_right"),
    )
    joined = compute_pairs_dataset(customer, customer, "c_custkey", "c_custkey", sample)
    lev = levenshtein_similarity(F.col("c_name_left"), F.col("c_name_right"))
    return do_comparisons(
        joined,
        {
            "lev_sim": F.round(lev, 6),
            "name_bucket": bucket_comparator(
                lev,
                [
                    (lev == 1.0, "full agreement"),
                    (lev > 0.9, "strong partial agreement"),
                    (lev > 0.85, "weak partial agreement"),
                ],
                "no agreement",
            ),
        },
        keep=["c_custkey_left", "c_custkey_right"],
    )


@query(
    "jw_approx_buckets",
    """
    with pairs as (
        select l.p_partkey as id_l, r.p_partkey as id_r,
               l.p_name as ln, r.p_name as rn
        from part l join part r
          on l.p_brand = r.p_brand and l.p_partkey < r.p_partkey
    ),
    m as (
        select id_l, id_r, ln, rn,
               cast(least(length(ln), length(rn)) as double)
                 / greatest(length(ln), length(rn)) as ab,
               case when substr(ln,1,4) = substr(rn,1,4) then 4
                    when substr(ln,1,3) = substr(rn,1,3) then 3
                    when substr(ln,1,2) = substr(rn,1,2) then 2
                    when substr(ln,1,1) = substr(rn,1,1) then 1
                    else 0 end as pl,
               1.0 - levenshtein(ln, rn)
                       / cast(greatest(length(ln), length(rn)) as double) as lev
        from pairs
    ),
    f as (
        select id_l, id_r, ln, rn,
               (ln <> rn)
               and ((2.0 + ab) / 3.0
                    + 0.1 * pl * (1.0 - (2.0 + ab) / 3.0) > 0.85)
               and (lev >= 0.4) as ok
        from m
    )
    select id_l as p_partkey_left, id_r as p_partkey_right,
           coalesce(ok, false) as prefilter_pass,
           case when ln = rn and length(ln) > 0 then 'full agreement'
                when ok and jaro_winkler_similarity(ln, rn) > 0.9
                     then 'strong partial agreement'
                when ok and jaro_winkler_similarity(ln, rn) > 0.85
                     then 'weak partial agreement'
                else 'no agreement' end as name_bucket
    from f
    """,
)
def jw_approx_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison.jw_approx (spec.py / similarity.py:jw_approx_comparator):
    the JW bucket comparator behind the JVM prefilter — equal pairs
    bucket without Python, pairs failing the sound length/prefix bound
    or the conservative Levenshtein floor ship (NULL, NULL) through
    Arrow and take the default bucket; only contenders reach the numpy
    kernel. Gated on the brand-blocked part-name self-join (TPC-H part
    names are permuted color words — the transposition-heavy case
    where JW and Levenshtein diverge most, so the floor's
    conservatism is actually exercised: at sf0.1, 6,056,375 of the
    7,998,672 pairs (75.7 %) skip the kernel, counted by replaying the
    prefilter in DuckDB, and tests/test_similarity.py pins zero bucket
    changes vs plain jw). The oracle replays the prefilter arithmetic
    verbatim plus DuckDB's own jaro_winkler_similarity.

    The probe side is ``spread()`` first (round 9): part.parquet at
    sf0.1 is one ~1 MB split, so the broadcast self-join and
    EVERYTHING downstream — the 8M-pair Levenshtein prefilter and the
    Arrow kernel — inherited a 1-2 core pin. The round-8 board read
    this gate at 21 s and attributed it to the numpy JW kernel; the
    measured decomposition at r9 is ~7 s single-threaded JVM
    Levenshtein + ~4 s single-threaded kernel hop, and with the pair
    set partitioned by cores the same plan runs in ~1.6 s. The
    kernel was never the bottleneck — the parallelism was."""
    from ..operators.util import spread
    from ..similarity import jw_approx_comparator, jw_prefilter

    part = t(spark, sf_dir, "part")
    l = spread(part).select(
        F.col("p_partkey").alias("p_partkey_left"),
        F.col("p_brand").alias("__b"),
        F.col("p_name").alias("p_name_left"),
    )
    r = part.select(
        F.col("p_partkey").alias("p_partkey_right"),
        F.col("p_brand").alias("__b"),
        F.col("p_name").alias("p_name_right"),
    )
    pairs = l.join(r, "__b").filter(
        F.col("p_partkey_left") < F.col("p_partkey_right")
    )
    return pairs.select(
        "p_partkey_left",
        "p_partkey_right",
        F.coalesce(
            jw_prefilter("p_name_left", "p_name_right"), F.lit(False)
        ).alias("prefilter_pass"),
        jw_approx_comparator(
            "p_name", "p_name_left", "p_name_right"
        ).alias("name_bucket"),
    )


@query("jw_sql_buckets", _JW_SAMPLE_BUCKETS_SQL)
def jw_sql_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same gate as ``jw_comparator_buckets``, registered under its
    own name so the bench roster and the gate count stay unchanged."""
    return jw_comparator_buckets(spark, sf_dir)


_SOUNDEX_FIXTURE = [
    # (pair_id, name_left, name_right, expected phonetic level)
    (0, "Robert", "Rupert", "agree"),
    (1, "Ashcraft", "Ashcroft", "agree"),
    (2, "Jackson", "Jaxon", "agree"),
    (3, "Mueller", "Miller", "agree"),
    (4, "Smith", "Smyth", "agree"),
    (5, "Honeyman", "Hanman", "disagree"),
    (6, "Robert", "Smith", "disagree"),
    (7, "Lee", "Lu", "agree"),
    (8, "O'Brien", "OBrien", "agree"),
    (9, "Tymczak", "Pfister", "disagree"),
    (10, "x", "Robert", "disagree"),
    (11, None, "Smith", None),  # NULL input → NULL gamma (missing level)
]


@query(
    "soundex_comparator",
    """
    select cast(pair_id as bigint) as pair_id, phonetic
    from (values
        (0, 'agree'), (1, 'agree'), (2, 'agree'), (3, 'agree'),
        (4, 'agree'), (5, 'disagree'), (6, 'disagree'), (7, 'agree'),
        (8, 'agree'), (9, 'disagree'), (10, 'disagree'), (11, null)
    ) as t(pair_id, phonetic)
    """,
)
def soundex_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison.soundex (spec.py): phonetic agreement via the Spark
    builtin American Soundex. DuckDB has no soundex, so the oracle is
    a VALUES fixture of known codes (Robert/Rupert → R163, Ashcraft/
    Ashcroft → A261, ...) including the NULL-propagation row."""
    from ..spec import Comparison

    df = spark.createDataFrame(
        [(p, l, r) for p, l, r, _ in _SOUNDEX_FIXTURE],
        "pair_id long, name_left string, name_right string",
    )
    cmp = Comparison.soundex("name")
    return df.select("pair_id", cmp.expression.alias("phonetic"))


@query(
    "match_weight_scoring",
    _CMP_SQL + f"""
    select c_custkey_left, c_custkey_right, mktsegment, acctbal,
           round({_WEIGHT_SQL}, 6) as weight
    from cmp
    """,
)
def match_weight_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 16-17 (scratch.R:109-124): fitted params compiled into one
    generated CASE-WHEN log-likelihood-ratio expression — in-plan,
    codegen, no UDF.

    Perf adjudication (round 9, closing the r8 'FS-spine creep' watch
    item): stage-level inspection shows this chain is already fully
    parallel — the distinct and rehydration-join stages run 64/35
    tasks with all 32 cores busy, so its ~3.7 s at sf0.1 is genuine
    ~9M-pair work (distinct + two hash joins + comparator CASE-WHENs),
    not the single-split pin other gates had. A spread() on the pair
    table was MEASURED SLOWER (extra shuffle of the chain's biggest
    intermediate: 3.7 → 5.3-6.2 s) and is deliberately absent; the
    r7→r8 driver-bench drift on this family was bench-group
    re-packing, fixed by the crc32-stable groups in bench.py."""
    cmp = _comparisons(spark, sf_dir)
    w = match_weight_column(M_PROBS, U_PROBS)
    return cmp.withColumn("weight", F.round(w, 6))


_TF_SCORING_SQL = _PAIRS_SQL + f""",
    joined as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_mktsegment as seg_l, a.c_acctbal as bal_l,
               b.c_mktsegment as seg_r, b.c_acctbal as bal_r
        from pairs p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    cmp as (
        select c_custkey_left, c_custkey_right, seg_l,
               case when seg_l = seg_r then 'agree'
                    when seg_l <> seg_r then 'disagree' end as mktsegment,
               case when abs(bal_l - bal_r) < 100 then 'close'
                    when abs(bal_l - bal_r) < 1000 then 'near'
                    else 'far' end as acctbal
        from joined
    ),
    tf as (
        select c_mktsegment as value,
               count(*) / (select cast(count(*) as double) from customer
                           where c_mktsegment is not null) as tf
        from customer where c_mktsegment is not null
        group by c_mktsegment
    )
    select c_custkey_left, c_custkey_right, mktsegment, acctbal,
           round({_WEIGHT_SQL}, 6) as weight,
           round({_WEIGHT_SQL}
                 + case when mktsegment = 'agree' and tf.tf is not null
                        then ln(0.2 / tf.tf) else 0.0 end, 6) as weight_tf
    from cmp left join tf on cmp.seg_l = tf.value
"""


@query("tf_adjusted_scoring", _TF_SCORING_SQL)
def tf_adjusted_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E168 — term-frequency adjusted match weights
    (scoring.py:tf_adjusted_weights, Winkler 1988's value-specific
    weights): on exact-agree pairs the average-u Bayes factor is
    replaced with the agreeing VALUE's own frequency —
    ``ln(u_agree / tf(value))`` added to the base weight — so
    agreeing on a common segment is priced as weaker evidence than
    agreeing on a rare one. The tf table (scoring.py:
    term_frequency_table) is one value-keyed groupBy with the 1-row
    total broadcast back in-plan; the adjustment join is
    value-cardinality-sized (AQE broadcasts it) and the correction
    itself one codegen CASE — the pair frame never shuffles. The
    oracle replays the tf division, the join, and the CASE with the
    identical arithmetic; ``weight_tf = weight`` exactly on
    disagree/missing rows (property-tested)."""
    from ..scoring import TFAdjustment, term_frequency_table, tf_adjusted_weights

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        _comparators(),
        keep=["c_custkey_left", "c_custkey_right", "c_mktsegment_left"],
    )
    scored = cmp.withColumn("weight", match_weight_column(M_PROBS, U_PROBS))
    tf = term_frequency_table(customer, "c_mktsegment")
    out = tf_adjusted_weights(
        scored,
        [
            TFAdjustment(
                gamma_col="mktsegment",
                value_col="c_mktsegment_left",
                u_agree=U_PROBS["mktsegment"]["agree"],
                tf_table=tf,
            )
        ],
    )
    return out.select(
        "c_custkey_left",
        "c_custkey_right",
        "mktsegment",
        "acctbal",
        F.round(F.col("weight"), 6).alias("weight"),
        F.round(F.col("weight_tf"), 6).alias("weight_tf"),
    )


# --------------------------------------------------------------------
# Scale-appropriate blocking spec (round-8, VERDICT r7 item 2).
#
# The reference's own spec blocks on nation (scratch.R:117-129) — 25
# FIXED blocks, so candidate pairs grow ~n² and the chain measured
# exp 2.47 at sf0.2→0.5 (SCALE_r07). That is a property of the SPEC,
# not the engine; at 100 TB a linkage user must pick keys whose block
# sizes stay bounded as n grows. This chain is that demonstration:
# truncated-name blocking (prefix-17 = "name agrees up to the last
# character", a standard typo-tolerant rule) keeps ~10 records per
# block at EVERY scale, and the second pass (prefix-16 + segment)
# ~20 — so the pair budget is ~14n, linear by construction. The spec
# was chosen with the engine's own estimator
# (`blocking_estimate_scaled` publishes the per-pass predictions next
# to the naive nation pass's — table-sized work, runnable at 100 TB
# BEFORE paying for the join) and the chain is scale-proven at
# sf0.2→1 in SCALE_r08.json.
# --------------------------------------------------------------------

_PAIRS_SCALED_SQL = """
    with a as (select * from customer), b as (select * from customer),
    pass1 as (
        select a.c_custkey as c_custkey_left, b.c_custkey as c_custkey_right
        from a join b on substr(a.c_name, 1, 17) = substr(b.c_name, 1, 17)
    ),
    pass2 as (
        select a.c_custkey as c_custkey_left, b.c_custkey as c_custkey_right
        from a join b
          on substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
         and a.c_mktsegment = b.c_mktsegment
    ),
    pairs as (
        select distinct c_custkey_left, c_custkey_right
        from (select * from pass1 union all select * from pass2)
        where c_custkey_left < c_custkey_right
    )
"""

_CMP_SCALED_SQL = _PAIRS_SCALED_SQL + """,
    joined as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_mktsegment as seg_l, a.c_acctbal as bal_l,
               b.c_mktsegment as seg_r, b.c_acctbal as bal_r
        from pairs p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    cmp as (
        select c_custkey_left, c_custkey_right,
               case when seg_l = seg_r then 'agree'
                    when seg_l <> seg_r then 'disagree' end as mktsegment,
               case when abs(bal_l - bal_r) < 100 then 'close'
                    when abs(bal_l - bal_r) < 1000 then 'near'
                    else 'far' end as acctbal
        from joined
    )
"""


# The scaled cmp CTE plus the nationkey pseudo-truth columns the eval
# gates label with (the unscaled _CMP_SQL carries them already)
_CMP_SCALED_NAT_SQL = _PAIRS_SCALED_SQL + """,
    joined as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_mktsegment as seg_l, a.c_acctbal as bal_l, a.c_nationkey as nat_l,
               b.c_mktsegment as seg_r, b.c_acctbal as bal_r, b.c_nationkey as nat_r
        from pairs p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    cmp as (
        select c_custkey_left, c_custkey_right, nat_l, nat_r,
               case when seg_l = seg_r then 'agree'
                    when seg_l <> seg_r then 'disagree' end as mktsegment,
               case when abs(bal_l - bal_r) < 100 then 'close'
                    when abs(bal_l - bal_r) < 1000 then 'near'
                    else 'far' end as acctbal
        from joined
    )
"""


def _candidate_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    pairs = extract_blocks(
        customer,
        customer,
        "c_custkey",
        "c_custkey",
        blocking_expressions=[
            F.substring("c_name_left", 1, 17)
            == F.substring("c_name_right", 1, 17),
            (
                F.substring("c_name_left", 1, 16)
                == F.substring("c_name_right", 1, 16)
            )
            & (F.col("c_mktsegment_left") == F.col("c_mktsegment_right")),
        ],
    )
    return ordered_pairs(pairs)


def _comparisons_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey",
        _candidate_pairs_scaled(spark, sf_dir),
    )
    return do_comparisons(
        joined, _comparators(), keep=["c_custkey_left", "c_custkey_right"]
    )


@query("blocking_multi_pass_scaled", _PAIRS_SCALED_SQL + "select * from pairs")
def blocking_multi_pass_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_blocks under the LINEAR blocking spec (truncated-name
    passes — see the section comment above): both passes are
    expression rules whose equality conjuncts Catalyst extracts into
    derived-key hash joins, exactly like the flagship spec's pass 2 —
    no plan-shape difference, only a pair budget that stays ~14n
    instead of ~n²/25."""
    return _candidate_pairs_scaled(spark, sf_dir)


@query(
    "comparison_vectors_scaled",
    _CMP_SCALED_SQL
    + "select c_custkey_left, c_custkey_right, mktsegment, acctbal from cmp",
)
def comparison_vectors_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """do_comparisons over the linear-spec candidate pairs — the same
    comparator projection as `comparison_vectors`, riding a pair set
    that scales ~n instead of ~n² (the r7 scale proof's exp-2.47
    finding was the nation spec's workload, not the operator's plan)."""
    return _comparisons_scaled(spark, sf_dir)


@query(
    "match_weight_scoring_scaled",
    _CMP_SCALED_SQL + f"""
    select c_custkey_left, c_custkey_right, mktsegment, acctbal,
           round({_WEIGHT_SQL}, 6) as weight
    from cmp
    """,
)
def match_weight_scoring_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter weight scoring over the linear-spec pairs: the
    full flagship chain (block → rehydrate → compare → score) with a
    pair budget that survives 100×."""
    cmp = _comparisons_scaled(spark, sf_dir)
    w = match_weight_column(M_PROBS, U_PROBS)
    return cmp.withColumn("weight", F.round(w, 6))


@query(
    "jw_scaled_buckets",
    _PAIRS_SCALED_SQL + """,
    named as (
        select p.c_custkey_left, p.c_custkey_right,
               a.c_name as ln, b.c_name as rn
        from pairs p
        left join customer a on p.c_custkey_left = a.c_custkey
        left join customer b on p.c_custkey_right = b.c_custkey
    ),
    m as (
        select c_custkey_left, c_custkey_right, ln, rn,
               cast(least(length(ln), length(rn)) as double)
                 / greatest(length(ln), length(rn)) as ab,
               case when substr(ln,1,4) = substr(rn,1,4) then 4
                    when substr(ln,1,3) = substr(rn,1,3) then 3
                    when substr(ln,1,2) = substr(rn,1,2) then 2
                    when substr(ln,1,1) = substr(rn,1,1) then 1
                    else 0 end as pl,
               1.0 - levenshtein(ln, rn)
                       / cast(greatest(length(ln), length(rn)) as double) as lev
        from named
    ),
    f as (
        select c_custkey_left, c_custkey_right, ln, rn,
               (ln <> rn)
               and ((2.0 + ab) / 3.0
                    + 0.1 * pl * (1.0 - (2.0 + ab) / 3.0) > 0.85)
               and (lev >= 0.4) as ok
        from m
    )
    select c_custkey_left, c_custkey_right,
           case when ln = rn and length(ln) > 0 then 'full agreement'
                when ok and jaro_winkler_similarity(ln, rn) > 0.9
                     then 'strong partial agreement'
                when ok and jaro_winkler_similarity(ln, rn) > 0.85
                     then 'weak partial agreement'
                else 'no agreement' end as name_bucket
    from f
    """,
)
def jw_scaled_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature JW comparator riding the LINEAR
    blocking spec — the round-7 verdict's remaining JW ask
    (demonstrate the chain at sf0.5+ under production blocking, not
    just the brand-block quadratic): Comparison.jw_approx over the
    truncated-name candidate pairs, whose ~14n pair budget keeps the
    Arrow kernel's input volume linear in n. Scale rows to sf1 in
    SCALE_r08.json (the nation/brand-blocked JW gates cap at
    sf0.2-0.5 by QUAD contract). Oracle replays the prefilter
    arithmetic and DuckDB's own jaro_winkler_similarity over the same
    pair CTE as the other scaled gates."""
    from ..similarity import jw_approx_comparator

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey",
        _candidate_pairs_scaled(spark, sf_dir),
    )
    return joined.select(
        "c_custkey_left",
        "c_custkey_right",
        jw_approx_comparator("c_name").alias("name_bucket"),
    )


@query(
    "blocking_estimate_scaled",
    """
    with a0 as (
        select c_nationkey, count(*) as n from customer
        where c_nationkey is not null group by c_nationkey
    ),
    a1 as (
        select substr(c_name, 1, 17) as k, count(*) as n from customer
        where c_name is not null group by 1
    ),
    a2 as (
        select substr(c_name, 1, 16) as k0, c_mktsegment as k1, count(*) as n
        from customer
        where c_name is not null and c_mktsegment is not null
        group by 1, 2
    )
    select cast(0 as bigint) as pass_idx,
           cast(coalesce((select sum(x.n * y.n) from a0 x
                          join a0 y using (c_nationkey)), 0) as bigint)
               as est_pairs
    union all
    select cast(1 as bigint),
           cast(coalesce((select sum(x.n * y.n) from a1 x
                          join a1 y using (k)), 0) as bigint)
    union all
    select cast(2 as bigint),
           cast(coalesce((select sum(x.n * y.n) from a2 x
                          join a2 y on x.k0 = y.k0 and x.k1 = y.k1), 0)
                as bigint)
    """,
)
def blocking_estimate_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimator run that PICKS the linear spec: per-pass
    predicted pair counts for the naive nation pass (idx 0) next to
    the two truncated-name passes (idx 1-2), from per-key histograms
    only — table-sized work. Reading the artifact across scale
    factors shows pass 0 growing ~n² while passes 1-2 grow ~n: this
    is the 100 TB pre-flight check that replaces materializing a bad
    pass even once (blocking.py:estimate_blocking_counts)."""
    from ..blocking import estimate_blocking_counts
    from ..spec import BlockingRule

    customer = (
        t(spark, sf_dir, "customer")
        .withColumn("__pfx17", F.substring("c_name", 1, 17))
        .withColumn("__pfx16", F.substring("c_name", 1, 16))
    )
    return estimate_blocking_counts(
        customer,
        customer,
        [
            BlockingRule.on("c_nationkey"),
            BlockingRule.on("__pfx17"),
            BlockingRule.on("__pfx16", "c_mktsegment"),
        ],
    )


@query(
    "threshold_rank",
    _CMP_SQL + f"""
    select c_custkey_left, c_custkey_right,
           round({_WEIGHT_SQL}, 6) as weight
    from cmp
    where {_WEIGHT_SQL} > 1.5
    """,
)
def threshold_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 18 (scratch.R:130-135): threshold + rank by weight."""
    cmp = _comparisons(spark, sf_dir)
    w = match_weight_column(M_PROBS, U_PROBS)
    return (
        cmp.withColumn("weight_raw", w)
        .filter(F.col("weight_raw") > 1.5)
        .select(
            "c_custkey_left",
            "c_custkey_right",
            F.round("weight_raw", 6).alias("weight"),
        )
        .orderBy(F.desc("weight"))
    )


@query(
    "threshold_topk",
    _CMP_SQL + f"""
    , scored as (
      select c_custkey_left, c_custkey_right,
             round({_WEIGHT_SQL}, 6) as weight
      from cmp where round({_WEIGHT_SQL}, 6) > 1.5
    )
    select * from (
      select c_custkey_left, c_custkey_right, weight,
             row_number() over (partition by c_custkey_left
                 order by weight desc, c_custkey_right) as match_rank
      from scored
    ) where match_rank <= 3
    """,
)
def threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring.threshold_and_rank(top_k=, per=): best-3 candidates per
    left record above the threshold — the rank-pruned review contract.
    WindowGroupLimit keeps only k rows per group in the sort buffer
    (plan-asserted in tests/test_plans.py), so this replaces the full
    O(pairs) distributed sort of `threshold_rank` whenever the consumer
    wants top candidates rather than a total order. Ranked on the
    ROUNDED weight with an id tie-break so the surviving rows are
    engine-independent."""
    from ..scoring import threshold_and_rank

    cmp = _comparisons(spark, sf_dir)
    scored = cmp.withColumn("weight", F.round(match_weight_column(M_PROBS, U_PROBS), 6))
    return threshold_and_rank(
        scored,
        threshold=1.5,
        top_k=3,
        per="c_custkey_left",
        tie_breakers=("c_custkey_right",),
    ).select("c_custkey_left", "c_custkey_right", "weight", "match_rank")


@query(
    "posterior_probability",
    _CMP_SQL + f"""
    , scored as (
        select c_custkey_left, c_custkey_right, {_WEIGHT_SQL} as weight from cmp
    )
    select c_custkey_left, c_custkey_right,
           round(weight, 6) as weight,
           round((0.05 / 0.95) * exp(weight)
                 / ((0.05 / 0.95) * exp(weight) + 1.0), 9) as match_probability
    from scored
    """,
)
def posterior_probability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring.posterior_probability: weight → p = λ·e^w/(λ·e^w+(1−λ))
    with fitted λ inlined as a literal — in-plan, codegen, the exact
    expression the oracle replays with λ=0.05."""
    from ..em import FSParams
    from ..scoring import posterior_probability

    cmp = _comparisons(spark, sf_dir)
    scored = cmp.withColumn("weight", match_weight_column(M_PROBS, U_PROBS))
    params = FSParams(
        m_probabilities=M_PROBS, u_probabilities=U_PROBS, lam=0.05, total_pairs=0.0
    )
    return posterior_probability(scored, params).select(
        "c_custkey_left",
        "c_custkey_right",
        F.round("weight", 6).alias("weight"),
        F.round("match_probability", 9).alias("match_probability"),
    )


@query(
    "calibration_curve",
    _CMP_SQL + f"""
    , scored as (
        select nat_l, nat_r, {_WEIGHT_SQL} as weight from cmp
    )
    select round(weight) as weight_bin,
           round(avg(case when nat_l = nat_r then 1.0 else 0.0 end), 9) as match_rate,
           count(*) as n_pairs
    from scored
    group by 1
    """,
)
def calibration_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 18-20 (scratch.R:131-139): nationkey equality as the
    pseudo ground-truth cluster; mean truth by rounded weight."""
    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(F.col("c_nationkey_left") == F.col("c_nationkey_right")).cast("double"),
        ),
    )
    w = match_weight_column(M_PROBS, U_PROBS, {"mktsegment": "mktsegment", "acctbal": "acctbal"})
    return (
        cmp.withColumn("weight", w)
        .groupBy(F.round("weight").alias("weight_bin"))
        .agg(
            F.round(F.avg("true_match"), 9).alias("match_rate"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


@query(
    "threshold_sweep",
    _CMP_SQL + f"""
    , scored as (
        select case when nat_l = nat_r then 1.0 else 0.0 end as tm,
               {_WEIGHT_SQL} as weight from cmp
    ),
    bucketed as (
        select cast(case when weight >= 5 then 5.0
                         when weight >= 2 then 2.0
                         when weight >= 0 then 0.0
                         when weight >= -5 then -5.0
                         when weight >= -20 then -20.0
                         when weight >= -40 then -40.0
                    end as double) as b,
               count(*) as n, sum(tm) as t
        from scored group by 1
    ),
    ts as (
        select cast(v as double) as threshold
        from (values (-40.0), (-20.0), (-5.0), (0.0), (2.0), (5.0)) t(v)
    ),
    cum as (
        select ts.threshold,
               sum(coalesce(bk.n, 0)) over w as n_pred,
               sum(coalesce(bk.t, 0)) over w as n_true_pos,
               (select sum(t) from bucketed) as tot
        from ts left join bucketed bk on ts.threshold = bk.b
        window w as (order by ts.threshold desc
                     rows between unbounded preceding and current row)
    ),
    pr as (
        select threshold, n_pred, n_true_pos, tot,
               case when n_pred > 0 then n_true_pos / n_pred end as p,
               case when tot > 0 then n_true_pos / tot end as r
        from cum
    )
    select threshold,
           cast(n_pred as bigint) as n_pred,
           cast(n_true_pos as double) as n_true_pos,
           round(p, 6) as "precision",
           round(r, 6) as recall,
           round(case when p is not null and r is not null and p + r > 0
                      then 2 * p * r / (p + r) end, 6) as f1
    from pr
    """,
)
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E124 — the full operating-characteristic table the reference's
    single hard-coded τ=5 precision readout (scratch.R:130-135) only
    samples: pairwise precision/recall/F1 at six thresholds over the
    FS-scored candidate pairs (nationkey equality as pseudo-truth,
    same as `calibration_curve`), in ONE pass over the pair table
    (eval.py:threshold_sweep_metrics — largest-passed-threshold
    bucketing, k-row cumulative window, below-every-τ bucket kept in
    recall's denominator). The oracle replays the bucket CASE, the
    left join against the threshold axis, the descending cumulative
    window, the grand-truth subquery, and F1 computed from the
    UNROUNDED precision/recall."""
    from ..eval import threshold_sweep_metrics

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(
                F.col("c_nationkey_left") == F.col("c_nationkey_right")
            ).cast("double"),
        ),
    )
    w = match_weight_column(
        M_PROBS, U_PROBS, {"mktsegment": "mktsegment", "acctbal": "acctbal"}
    )
    labelled = cmp.withColumn("weight", w)
    return threshold_sweep_metrics(
        labelled, thresholds=[-40.0, -20.0, -5.0, 0.0, 2.0, 5.0]
    )


@query(
    "supervised_mu",
    _CMP_SQL + """
    , lab as (
        select case when nat_l = nat_r then true else false end as t,
               mktsegment, acctbal
        from cmp
    ),
    longt as (
        select t, comparator, level from (
            select t, 'mktsegment' as comparator, mktsegment as level
            from lab
            union all
            select t, 'acctbal' as comparator, acctbal as level from lab
        ) where level is not null
    ),
    cell as (
        select comparator, level,
               sum(case when t then 1 else 0 end) as n_match,
               sum(case when t then 0 else 1 end) as n_nonmatch
        from longt group by 1, 2
    )
    select comparator, level,
           cast(n_match as bigint) as n_match,
           cast(n_nonmatch as bigint) as n_nonmatch,
           round(case when sum(n_match) over (partition by comparator) > 0
                      then n_match
                           / sum(n_match) over (partition by comparator)
                 end, 6) as m,
           round(case when sum(n_nonmatch) over (partition by comparator) > 0
                      then n_nonmatch
                           / sum(n_nonmatch) over (partition by comparator)
                 end, 6) as u
    from cell
    """,
)
def supervised_mu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E171 — supervised m/u estimation from labeled pairs
    (patterns.py:mu_from_labels): per comparator level, the
    maximum-likelihood ``P(level | match)`` / ``P(level | non-match)``
    over the nationkey-pseudo-truth-labeled candidate pairs — the
    direct-estimation path a linkage user takes when a clerical
    review sample or golden-record join exists, skipping EM entirely
    (run_em converges toward exactly these estimates). One unpivot +
    one cell-table count over the pair chain (pattern_counts scale
    shape); the oracle replays the label CASE, the unpivot, the
    conditional sums, and the windowed normalization."""
    from ..patterns import mu_from_labels

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(
                F.col("c_nationkey_left") == F.col("c_nationkey_right")
            ).cast("double"),
        ),
    )
    return mu_from_labels(
        cmp, truth_col="true_match", gamma_cols=["mktsegment", "acctbal"]
    )


@query(
    "best_threshold",
    _CMP_SQL + f"""
    , scored as (
        select case when nat_l = nat_r then 1.0 else 0.0 end as tm,
               round({_WEIGHT_SQL}, 6) as weight from cmp
    ),
    counts as (
        select weight as threshold, count(*) as n, sum(tm) as t
        from scored group by 1
    ),
    cum as (
        select threshold,
               sum(n) over w as n_pred,
               sum(t) over w as n_true_pos,
               sum(t) over () as tot
        from counts
        window w as (order by threshold desc
                     rows between unbounded preceding and current row)
    ),
    pr as (
        select threshold, n_pred, n_true_pos,
               n_true_pos / n_pred as p,
               case when tot > 0 then n_true_pos / tot end as r
        from cum
    )
    select threshold,
           cast(n_pred as bigint) as n_pred,
           cast(n_true_pos as double) as n_true_pos,
           round(p, 6) as "precision",
           round(r, 6) as recall,
           round(case when p + r > 0 then 2 * p * r / (p + r) end, 6) as f1
    from pr
    order by (case when p + r > 0 then 2 * p * r / (p + r) end)
             desc nulls last,
             threshold desc
    limit 1
    """,
)
def best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E126 — exact F1-maximal threshold selection
    (eval.py:best_threshold_by_f1) over the same FS-scored labelled
    pairs as `threshold_sweep`: every distinct (6-dp-rounded, the
    engine's committed weight precision) weight is a candidate τ, one
    groupBy gives per-weight counts, cumulative sums down the
    descending weight axis give each candidate's confusion counts,
    and the argmax row wins with ties broken toward the larger
    (higher-precision) threshold. The argmax ordering is engine-
    stable because every candidate's F1 is one IEEE expression over
    exact integer counts. The oracle replays the rounding, the
    grouping, both windows, the F1 expression, and the ORDER BY ...
    LIMIT 1 selection itself."""
    from ..eval import best_threshold_by_f1

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(
                F.col("c_nationkey_left") == F.col("c_nationkey_right")
            ).cast("double"),
        ),
    )
    w = match_weight_column(
        M_PROBS, U_PROBS, {"mktsegment": "mktsegment", "acctbal": "acctbal"}
    )
    labelled = cmp.withColumn("weight", F.round(w, 6))
    return best_threshold_by_f1(labelled)


# Shared oracle body for the eval-family facade gates: the unscaled
# gate prepends _CMP_SQL (nation-blocked pairs), the _scaled gate
# prepends _CMP_SCALED_NAT_SQL (linear truncated-name spec) — same
# weights, same truth rule, same sweep/argmax arithmetic, so the two
# gates cannot drift apart.
_EVAL_REPORT_BODY_SQL = f"""
    , scored as (
        select case when nat_l = nat_r then 1.0 else 0.0 end as tm,
               round({_WEIGHT_SQL}, 6) as weight from cmp
    ),
    counts as (
        select weight as w, count(*) as n, sum(tm) as t
        from scored group by 1
    ),
    bucketed as (
        select cast(case when w >= 5 then 5.0
                         when w >= 2 then 2.0
                         when w >= 0 then 0.0
                         when w >= -5 then -5.0
                         when w >= -20 then -20.0
                         when w >= -40 then -40.0
                    end as double) as b,
               sum(n) as n, sum(t) as t
        from counts group by 1
    ),
    ts as (
        select cast(v as double) as threshold
        from (values (-40.0), (-20.0), (-5.0), (0.0), (2.0), (5.0)) t(v)
    ),
    cum as (
        select ts.threshold,
               sum(coalesce(bk.n, 0)) over w as n_pred,
               sum(coalesce(bk.t, 0)) over w as n_true_pos,
               (select sum(t) from bucketed) as tot
        from ts left join bucketed bk on ts.threshold = bk.b
        window w as (order by ts.threshold desc
                     rows between unbounded preceding and current row)
    ),
    pr as (
        select threshold, n_pred, n_true_pos, tot,
               case when n_pred > 0 then n_true_pos / n_pred end as p,
               case when tot > 0 then n_true_pos / tot end as r
        from cum
    ),
    sweep as (
        select 'sweep' as metric, threshold,
               cast(n_pred as bigint) as n_pred,
               cast(n_true_pos as double) as n_true_pos,
               round(p, 6) as "precision",
               round(r, 6) as recall,
               round(case when p is not null and r is not null and p + r > 0
                          then 2 * p * r / (p + r) end, 6) as f1
        from pr
    ),
    bcum as (
        select w as threshold,
               sum(n) over win as n_pred,
               sum(t) over win as n_true_pos,
               sum(t) over () as tot
        from counts
        window win as (order by w desc
                       rows between unbounded preceding and current row)
    ),
    bpr as (
        select threshold, n_pred, n_true_pos,
               n_true_pos / n_pred as p,
               case when tot > 0 then n_true_pos / tot end as r
        from bcum
    ),
    best as (
        select 'best' as metric, threshold,
               cast(n_pred as bigint) as n_pred,
               cast(n_true_pos as double) as n_true_pos,
               round(p, 6) as "precision",
               round(r, 6) as recall,
               round(case when p + r > 0 then 2 * p * r / (p + r) end, 6)
                   as f1
        from bpr
        order by (case when p + r > 0 then 2 * p * r / (p + r) end)
                 desc nulls last,
                 threshold desc
        limit 1
    )
    select * from sweep union all select * from best
    """


@query("linkage_eval_report", _CMP_SQL + _EVAL_REPORT_BODY_SQL)
def linkage_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-family facade (round-9 verdict item 5): the SAME
    operating-characteristic table as `threshold_sweep` plus the SAME
    F1-argmax row as `best_threshold`, from ONE execution of the
    26 M-pair FS chain (eval.py:evaluation_report / Linker.evaluate).
    Run as separate gates, sweep and best-threshold each re-execute
    blocking → rehydration → comparison → scoring for a ≤ k-row
    answer; here the ∏(levels)-row per-weight counts table — the
    sufficient statistic for every pairwise threshold metric — is
    lazily localCheckpoint-ed so the pair scan happens once and both
    metrics read the tiny frame (the threshold_sweep bucket-table
    pattern applied one level up). Weights are 6-dp-rounded (the
    engine's committed precision, `best_threshold`'s convention) so
    both metrics share one counts frame bit-for-bit; the oracle
    replays the rounding, the shared counts CTE, both cumulative
    windows, the F1 expressions, and the argmax selection. Bench
    target: ≈ `match_weight_scoring` + ε, since the eval math runs on
    constant-size frames. Per-operator gates are kept — this gate is
    the composition. Reference parity: generalizes scratch.R:130-139
    the way a production linkage run reports."""
    from ..eval import evaluation_report

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey", _candidate_pairs(spark, sf_dir)
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(
                F.col("c_nationkey_left") == F.col("c_nationkey_right")
            ).cast("double"),
        ),
    )
    w = match_weight_column(
        M_PROBS, U_PROBS, {"mktsegment": "mktsegment", "acctbal": "acctbal"}
    )
    labelled = cmp.withColumn("weight", F.round(w, 6))
    return evaluation_report(
        labelled, thresholds=[-40.0, -20.0, -5.0, 0.0, 2.0, 5.0]
    )


@query(
    "linkage_eval_report_scaled", _CMP_SCALED_NAT_SQL + _EVAL_REPORT_BODY_SQL
)
def linkage_eval_report_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E135 — the eval-family facade riding the LINEAR blocking spec
    (round-11 verdict item 5): `linkage_eval_report` is correct by
    design on the reference-shaped nation spec but inherits its
    quadratic pair budget and scale cap, so it was the one headline
    whose published exponent LOOKS superlinear without the cap
    explanation. This gate runs the identical evaluation_report —
    same weights, same nationkey pseudo-truth, same thresholds, one
    pair-chain execution — over the estimator-picked truncated-name
    spec (the `match_weight_scoring_scaled` chain, ~14n pairs), the
    spec a 100 TB linkage run would actually evaluate under; it runs
    to sf1 uncapped in the scale proof. Oracle = the scaled cmp CTE +
    the SAME shared sweep/argmax body as the unscaled gate."""
    from ..eval import evaluation_report

    customer = t(spark, sf_dir, "customer")
    joined = compute_pairs_dataset(
        customer, customer, "c_custkey", "c_custkey",
        _candidate_pairs_scaled(spark, sf_dir),
    )
    cmp = do_comparisons(
        joined,
        dict(
            _comparators(),
            true_match=(
                F.col("c_nationkey_left") == F.col("c_nationkey_right")
            ).cast("double"),
        ),
    )
    w = match_weight_column(
        M_PROBS, U_PROBS, {"mktsegment": "mktsegment", "acctbal": "acctbal"}
    )
    labelled = cmp.withColumn("weight", F.round(w, 6))
    return evaluation_report(
        labelled, thresholds=[-40.0, -20.0, -5.0, 0.0, 2.0, 5.0]
    )


@query(
    "linkage_em_params",
    """
    select comparator, level,
           cast(m as double) as m, cast(u as double) as u,
           cast(weight as double) as weight, cast(lam as double) as lam
    from (values
        ('addr_cmp', 'different', 0.0, 0.9833, -39.6889, 0.048006918),
        ('addr_cmp', 'same', 1.0, 0.0167, 4.0923, 0.048006918),
        ('name_cmp', 'different', 0.0, 0.979798, -40.7416, 0.048006918),
        ('name_cmp', 'same', 1.0, 0.020202, 3.902, 0.048006918)
    ) as t(comparator, level, m, u, weight, lam)
    """,
)
def linkage_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 7 run_em (linking.R:78-156) on the SURVEY §2d item-12 fixed
    pattern-counts fixture: a deterministic table whose EM fixed point
    was computed by the INDEPENDENT probability-space reimplementation
    in tests/test_em.py (brute_force_em) and inlined as the oracle's
    VALUES. run_em converges to it (machine-precision stationary by
    iter ~25; maxiter=40), so the driver gate checks actual fitted
    values — m, u, FS weight, lambda — not just row counts. The
    missing-data patterns (None rows) exercise the NULL semantics of
    linking.R:103,108,127-136."""
    import pandas as pd

    from ..em import run_em

    fixture = pd.DataFrame(
        {
            "name_cmp": ["same", "same", "different", "different", None, "same"],
            "addr_cmp": ["same", "different", "same", "different", "same", None],
            "n": [900, 150, 120, 8000, 50, 40],
        }
    )
    params = run_em(
        fixture,
        total_pairs=20000.0,
        u_probabilities={
            "name_cmp": {"same": 0.15, "different": 0.85},
            "addr_cmp": {"same": 0.15, "different": 0.85},
        },
        maxiter=40,
        levels={
            "name_cmp": ["same", "different"],
            "addr_cmp": ["same", "different"],
        },
        lambda_init=0.1,
    )
    rows = [
        (
            name,
            level,
            round(params.m_probabilities[name][level], 6),
            round(params.u_probabilities[name][level], 6),
            round(params.weights[name][level], 4),
            round(params.lam, 9),
        )
        for name in sorted(params.m_probabilities)
        for level in sorted(params.m_probabilities[name])
    ]
    return spark.createDataFrame(
        rows,
        "comparator string, level string, m double, u double, weight double, lam double",
    )


@query(
    "calibration_glm",
    """
    select cast(intercept as double) as intercept,
           cast(coefficient as double) as coefficient
    from (values (-0.311, 1.195)) as t(intercept, coefficient)
    """,
)
def calibration_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eval.fit_calibration (reference scratch.R:137 ``glm(true_match ~
    weight, binomial)``) on an sf-independent deterministic fixture:
    weight is an integer-arithmetic grid in [−4, 4] and truth a
    deterministic pseudo-uniform draw against a logistic curve with
    (intercept, slope) = (−0.3, 1.2), so the unique MLE is a fixed
    point (rounded to 3 decimals) this VALUES oracle pins. Iterative
    Spark ML — not SQL-expressible — hence the fixed-point-style gate,
    same pattern as linkage_em_params."""
    from ..eval import fit_calibration

    w = (F.col("id") % 81).cast("double") / 10.0 - 4.0
    u = ((F.col("id") * 2654435761) % 1000003).cast("double") / 1000003.0
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(1.2) * w - F.lit(0.3))))
    labelled = spark.range(0, 2000).select(
        w.alias("weight"), (u < p).cast("double").alias("true_match")
    )
    intercept, coefficient = fit_calibration(labelled)
    return spark.createDataFrame(
        [(round(intercept, 3), round(coefficient, 3))],
        "intercept double, coefficient double",
    )


@query("linkage_em_end_to_end")  # no SQL oracle: iterative driver-side
# EM over data-derived pattern counts; numerics gated by
# linkage_em_params (fixed-point oracle) and tests/test_em.py
def linkage_em_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 7 run_em end-to-end: pattern counts from the blocked customer
    self-link, u from the deterministic modular sample, 10 EM
    iterations; returns (comparator, level, m, u, weight)."""
    from ..em import run_em
    from ..patterns import collect_probabilities

    customer = t(spark, sf_dir, "customer")
    n = customer.count()
    sample = customer.select(
        F.col("c_custkey").alias("c_custkey_left"),
        ((F.col("c_custkey") * 37 + 11) % n).alias("c_custkey_right"),
    )
    u0 = collect_probabilities(
        u_probability_frequencies(
            do_comparisons(
                compute_pairs_dataset(customer, customer, "c_custkey", "c_custkey", sample),
                _comparators(),
            )
        )
    )
    counts = pattern_counts(
        _comparisons(spark, sf_dir).select("mktsegment", "acctbal"),
        ["mktsegment", "acctbal"],
    ).toPandas()
    params = run_em(
        counts,
        total_pairs=n * n / 2.0,
        u_probabilities=u0,
        maxiter=10,
        levels={"mktsegment": ["agree", "disagree"], "acctbal": ["close", "far", "near"]},
    )
    rows = [
        (
            name,
            level,
            round(params.m_probabilities[name][level], 9),
            round(params.u_probabilities[name][level], 9),
            round(params.weights[name][level], 9),
        )
        for name in sorted(params.m_probabilities)
        for level in sorted(params.m_probabilities[name])
    ]
    return spark.createDataFrame(
        rows, "comparator string, level string, m double, u double, weight double"
    )


@query(
    "etl_roundtrip",
    """
    select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    from customer
    """,
)
def etl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 21-22 (scratch.R:142-156; SURVEY §2d item 11): TSV dataset →
    column select → hive-partitioned parquet write (partitionBy
    mktsegment ≈ the reference's municipality_desc) → glob rescan. The
    oracle reads the SOURCE table: a lossless round trip must
    hash-match it, independent of driver execution order. An explicit
    schema is used on the TSV rescan (never inferSchema at scale — it
    double-reads the input)."""
    import os
    import tempfile

    from ..sources.etl import read_parquet_glob, tsv_to_partitioned_parquet

    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    customer = t(spark, sf_dir, "customer")
    base = tempfile.mkdtemp(prefix="ppack_etl_roundtrip_")
    tsv_dir = os.path.join(base, "tsv")
    pq_dir = os.path.join(base, "parquet")
    customer.select(*cols).write.mode("overwrite").option("sep", "\t").option(
        "header", "true"
    ).csv(tsv_dir)
    schema = (
        "c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string"
    )
    tsv_to_partitioned_parquet(
        spark, tsv_dir, pq_dir, columns=cols, partition_by="c_mktsegment", schema=schema
    )
    import glob as _glob

    if not _glob.glob(os.path.join(pq_dir, "*", "*.parquet")):
        # empty source: the writer emits no partition files, so the
        # round trip of nothing is an empty frame with the same schema
        return customer.select(*cols).limit(0)
    out = read_parquet_glob(spark, pq_dir + "/*/*.parquet").select(*cols)
    # cast back to the fixture's exact dtypes so the rescan is
    # schema-identical to the oracle's source scan
    for f in customer.schema.fields:
        if f.name in cols:
            out = out.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return out.select(*cols)


@query(
    "two_dataset_linkage",
    """
    with p as (
        select c.c_custkey as c_custkey_left,
               s.s_suppkey as supp_id_right,
               abs(c.c_acctbal - s.s_acctbal) as d
        from customer c
        join supplier s on c.c_nationkey = s.s_nationkey
    )
    select c_custkey_left, supp_id_right,
           case when d < 100 then 'close'
                when d < 1000 then 'near'
                else 'far' end as acctbal,
           round(case when d < 100 then ln(0.7 / 0.05)
                      when d < 1000 then ln(0.2 / 0.15)
                      else ln(0.1 / 0.8) end, 6) as weight
    from p
    """,
)
def two_dataset_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A-B (link, not dedup) path end-to-end: customer × supplier
    blocked on nationkey, pair rehydration across two schemas with
    distinct id names (c_custkey vs s_suppkey — no ordered-pair
    filter, which would silently drop cross-namespace matches),
    bucket comparator over the suffixed columns, fixed-parameter FS
    weight. Complements the self-link chain above: every linkage gate
    so far is a dedup; the reference's primary use is linking TWO
    datasets (linking.R:14 takes data_a/data_b), and the suffix/id
    plumbing differs enough to deserve its own oracle row
    (cluster-side A-B safety is tested via cluster_links in
    tests/test_accuracy.py)."""
    tb = load_tables(spark, sf_dir, ["customer", "supplier"])
    cust = tb["customer"].select("c_custkey", "c_nationkey", "c_acctbal")
    supp = tb["supplier"].select(
        F.col("s_suppkey").alias("supp_id"),
        F.col("s_nationkey").alias("c_nationkey"),
        F.col("s_acctbal").alias("c_acctbal"),
    )
    ids = extract_blocks(
        cust, supp, "c_custkey", "supp_id",
        blocking_variables=["c_nationkey"],
    )
    pairs = compute_pairs_dataset(cust, supp, "c_custkey", "supp_id", ids)
    bal = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    cmp = do_comparisons(
        pairs,
        {
            "acctbal": bucket_comparator(
                bal, [(bal < 100, "close"), (bal < 1000, "near")], "far"
            )
        },
        keep=["c_custkey_left", "supp_id_right"],
    )
    m = {"acctbal": {"close": 0.7, "near": 0.2, "far": 0.1}}
    u = {"acctbal": {"close": 0.05, "near": 0.15, "far": 0.8}}
    return cmp.withColumn(
        "weight", F.round(match_weight_column(m, u), 6)
    )


@query(
    "linkage_ab_clusters",
    """
    with recursive cust as (
        select c_custkey, n_regionkey as region, c_acctbal
        from customer join nation on c_nationkey = n_nationkey
    ),
    supp as (
        select s_suppkey, n_regionkey as region, s_acctbal
        from supplier join nation on s_nationkey = n_nationkey
    ),
    pairs as (
        select c.c_custkey, s.s_suppkey,
               abs(c.c_acctbal - s.s_acctbal) as d
        from cust c join supp s on c.region = s.region
        where abs(c.c_acctbal - s.s_acctbal) < 500
    ),
    e0 as (
        select 'a:' || cast(c_custkey as varchar) as node_l,
               'b:' || cast(s_suppkey as varchar) as node_r
        from pairs
        where (case when d < 10 then ln(0.8 / 0.1)
                    else ln(0.2 / 0.9) end) > 1.0
    ),
    edges as (
        select node_l as a, node_r as b from e0
        union
        select node_r, node_l from e0
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
    select 'a' as source, cast(c.c_custkey as varchar) as c_custkey,
           coalesce(p.component, 'a:' || cast(c.c_custkey as varchar))
               as cluster_id
    from cust c
    left join comp p on p.node = 'a:' || cast(c.c_custkey as varchar)
    union all
    select 'b', cast(s.s_suppkey as varchar),
           coalesce(p.component, 'b:' || cast(s.s_suppkey as varchar))
    from supp s
    left join comp p on p.node = 'b:' || cast(s.s_suppkey as varchar)
    """,
)
def linkage_ab_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A-B linkage resolved to ENTITIES end-to-end through the
    Linker class: customer × supplier blocked by a NATION-BRIDGED
    non-equi rule (region comes through the nation dimension as a
    broadcast join on both sides; the blocking pass is
    `BlockingRule.where("region_left = region_right and
    abs(acctbal_l - acctbal_r) < 500")` — Catalyst extracts the
    region equality into hash-join keys, the band stays a residual
    predicate), fixed-FS-parameter scoring, then
    :meth:`Linker.cluster_links` — source-tagged (``a:``/``b:``) node
    ids into connected components so overlapping id domains can never
    conflate A's record k with B's record k (the exact failure
    ``Linker.cluster`` refuses, linker.py:225). Output is every record
    of BOTH datasets with its cluster label (singletons = own tagged
    id); the oracle replays blocking, thresholding, tagging, the
    recursive closure, and both singleton-coalescing attach joins.
    Reference parity: scratch.R:143-156 (NCVR A-B linkage) +
    cluster-side resolution the reference leaves to its ground-truth
    column (scratch.R:131-133). At sf0.01 and sf0.1 the edge set
    (~10.8k symmetrized rows at sf0.1) is below the driver bound, so
    the components step here is the driver union-find; the distributed
    path is covered by the ``distributed(...)`` parity tests in
    tests/test_cluster.py."""
    from ..em import FSParams
    from ..spec import BlockingRule, Comparison, LinkerSpec
    from .linker import Linker

    tb = load_tables(spark, sf_dir, ["customer", "supplier", "nation"])
    nat = tb["nation"].select("n_nationkey", "n_regionkey")
    cust = (
        tb["customer"]
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_regionkey").alias("region"), "c_acctbal")
    )
    supp = (
        tb["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").alias("supp_id"),
            F.col("n_regionkey").alias("region"),
            F.col("s_acctbal").alias("c_acctbal"),
        )
    )
    d = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    spec = LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="supp_id",
        blocking_rules=[
            BlockingRule.where(
                "region_left = region_right "
                "and abs(c_acctbal_left - c_acctbal_right) < 500"
            )
        ],
        comparisons=[
            Comparison(
                name="bal",
                expression=bucket_comparator(d, [(d < 10, "close")], "near"),
                levels=("close", "near"),
            )
        ],
    )
    linker = Linker(spark, cust, supp, spec)
    linker.params = FSParams(
        m_probabilities={"bal": {"close": 0.8, "near": 0.2}},
        u_probabilities={"bal": {"close": 0.1, "near": 0.9}},
        lam=1e-4,
        total_pairs=float(cust.count()) * supp.count(),
    )
    return linker.cluster_links(threshold=1.0).select(
        "source", F.col("c_custkey").cast("string").alias("c_custkey"), "cluster_id"
    )


# -- round 9: the A-B linkage scale path (verdict item 5) -------------
#
# `two_dataset_linkage` / `linkage_ab_clusters` block on nationkey /
# region — FIXED-cardinality keys, so their pair budgets grow ~n²/25
# and ~n²/5·band: correct to the reference's contract but the first
# thing a real user re-specs at scale. The linear twin below is the
# E120 pattern applied to A-B: banded-balance blocking passes whose
# key cardinality (25 nations × 1 100 ten-unit balance buckets, then
# 11 000 unit buckets) dwarfs n at every measured scale, keeping
# per-block populations ~constant; `blocking_estimate_ab` is the
# table-sized pre-flight whose per-pass predictions PICK that spec.

_AB_PAIRS_SCALED_SQL = """
    with p0 as (
        select c.c_custkey as c_custkey_left, s.s_suppkey as supp_id_right
        from customer c join supplier s
          on c.c_nationkey = s.s_nationkey
         and cast(floor(c.c_acctbal / 10) as bigint)
             = cast(floor(s.s_acctbal / 10) as bigint)
    ),
    p1 as (
        select c.c_custkey as c_custkey_left, s.s_suppkey as supp_id_right
        from customer c join supplier s
          on cast(floor(c.c_acctbal) as bigint)
             = cast(floor(s.s_acctbal) as bigint)
    ),
    pairs as (
        select distinct c_custkey_left, supp_id_right
        from (select * from p0 union all select * from p1)
    )
"""


@query(
    "two_dataset_linkage_scaled",
    _AB_PAIRS_SCALED_SQL + """
    select p.c_custkey_left, p.supp_id_right,
           case when abs(c.c_acctbal - s.s_acctbal) < 100 then 'close'
                when abs(c.c_acctbal - s.s_acctbal) < 1000 then 'near'
                else 'far' end as acctbal,
           round(case when abs(c.c_acctbal - s.s_acctbal) < 100
                          then ln(0.7 / 0.05)
                      when abs(c.c_acctbal - s.s_acctbal) < 1000
                          then ln(0.2 / 0.15)
                      else ln(0.1 / 0.8) end, 6) as weight
    from pairs p
    left join customer c on p.c_custkey_left = c.c_custkey
    left join supplier s on p.supp_id_right = s.s_suppkey
    """,
)
def two_dataset_linkage_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`two_dataset_linkage` under the estimator-picked LINEAR spec:
    two banded-balance equi passes — (nationkey, floor(bal/10)) then
    (floor(bal),) — whose blocks stay ~constant-sized as both tables
    grow, so the A-B pair budget scales ~n instead of the nation
    spec's ~n²/25. Same operators (extract_blocks across two schemas,
    compute_pairs_dataset rehydration, bucket comparator, fixed-FS
    weight), same plan shape (derived-key hash joins); only the
    workload's pair budget changes. Scale-proven to sf1 in
    SCALE_r09.json; `blocking_estimate_ab` is the pre-flight that
    predicts both specs' budgets without materializing either."""
    from ..spec import BlockingRule

    tb = load_tables(spark, sf_dir, ["customer", "supplier"])
    cust = tb["customer"].select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.floor(F.col("c_acctbal") / 10).alias("__bal10"),
        F.floor(F.col("c_acctbal")).alias("__bal1"),
    )
    supp = tb["supplier"].select(
        F.col("s_suppkey").alias("supp_id"),
        F.col("s_nationkey").alias("c_nationkey"),
        F.col("s_acctbal").alias("c_acctbal"),
        F.floor(F.col("s_acctbal") / 10).alias("__bal10"),
        F.floor(F.col("s_acctbal")).alias("__bal1"),
    )
    ids = extract_blocks(
        cust, supp, "c_custkey", "supp_id",
        blocking_variables=[
            BlockingRule.on("c_nationkey", "__bal10"),
            BlockingRule.on("__bal1"),
        ],
    )
    pairs = compute_pairs_dataset(
        cust.drop("__bal10", "__bal1"), supp.drop("__bal10", "__bal1"),
        "c_custkey", "supp_id", ids,
    )
    bal = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    cmp = do_comparisons(
        pairs,
        {
            "acctbal": bucket_comparator(
                bal, [(bal < 100, "close"), (bal < 1000, "near")], "far"
            )
        },
        keep=["c_custkey_left", "supp_id_right"],
    )
    m = {"acctbal": {"close": 0.7, "near": 0.2, "far": 0.1}}
    u = {"acctbal": {"close": 0.05, "near": 0.15, "far": 0.8}}
    return cmp.withColumn("weight", F.round(match_weight_column(m, u), 6))


@query(
    "blocking_estimate_ab",
    """
    with a0 as (
        select c_nationkey as k, count(*) as n from customer
        where c_nationkey is not null group by 1
    ),
    b0 as (
        select s_nationkey as k, count(*) as n from supplier
        where s_nationkey is not null group by 1
    ),
    a1 as (
        select c_nationkey as k0, cast(floor(c_acctbal / 10) as bigint) as k1,
               count(*) as n
        from customer
        where c_nationkey is not null and c_acctbal is not null
        group by 1, 2
    ),
    b1 as (
        select s_nationkey as k0, cast(floor(s_acctbal / 10) as bigint) as k1,
               count(*) as n
        from supplier
        where s_nationkey is not null and s_acctbal is not null
        group by 1, 2
    ),
    a2 as (
        select cast(floor(c_acctbal) as bigint) as k, count(*) as n
        from customer where c_acctbal is not null group by 1
    ),
    b2 as (
        select cast(floor(s_acctbal) as bigint) as k, count(*) as n
        from supplier where s_acctbal is not null group by 1
    )
    select cast(0 as bigint) as pass_idx,
           cast(coalesce((select sum(x.n * y.n) from a0 x
                          join b0 y using (k)), 0) as bigint) as est_pairs
    union all
    select cast(1 as bigint),
           cast(coalesce((select sum(x.n * y.n) from a1 x
                          join b1 y on x.k0 = y.k0 and x.k1 = y.k1), 0)
                as bigint)
    union all
    select cast(2 as bigint),
           cast(coalesce((select sum(x.n * y.n) from a2 x
                          join b2 y using (k)), 0) as bigint)
    """,
)
def blocking_estimate_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A-B pre-flight: predicted pair counts for the naive nation
    pass (idx 0) next to the two banded-balance passes (idx 1-2), from
    one per-key histogram per side — table-sized work on BOTH tables,
    never pair-sized (blocking.py:estimate_blocking_counts across two
    datasets). Across scale factors pass 0 grows ~n² while passes 1-2
    stay ~n: this run is what picks `two_dataset_linkage_scaled`'s
    spec, the same estimator-driven workflow E120 demonstrated for the
    self-link chain."""
    from ..blocking import estimate_blocking_counts
    from ..spec import BlockingRule

    tb = load_tables(spark, sf_dir, ["customer", "supplier"])
    cust = (
        tb["customer"]
        .withColumn("__bal10", F.floor(F.col("c_acctbal") / 10))
        .withColumn("__bal1", F.floor(F.col("c_acctbal")))
    )
    supp = (
        tb["supplier"]
        .withColumn("__bal10", F.floor(F.col("s_acctbal") / 10))
        .withColumn("__bal1", F.floor(F.col("s_acctbal")))
    )
    return estimate_blocking_counts(
        cust,
        supp,
        [
            BlockingRule.on_pairs({"c_nationkey": "s_nationkey"}),
            BlockingRule.on_pairs(
                {"c_nationkey": "s_nationkey", "__bal10": "__bal10"}
            ),
            BlockingRule.on("__bal1"),
        ],
    )


@query(
    "linkage_ab_clusters_scaled",
    _AB_PAIRS_SCALED_SQL.replace("with p0", "with recursive p0", 1)
    + """
    , e0 as (
        select 'a:' || cast(p.c_custkey_left as varchar) as node_l,
               'b:' || cast(p.supp_id_right as varchar) as node_r
        from pairs p
        join customer c on p.c_custkey_left = c.c_custkey
        join supplier s on p.supp_id_right = s.s_suppkey
        where (case when abs(c.c_acctbal - s.s_acctbal) < 10
                    then ln(0.8 / 0.1) else ln(0.2 / 0.9) end) > 1.0
    ),
    edges as (
        select node_l as a, node_r as b from e0
        union
        select node_r, node_l from e0
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
    select 'a' as source, cast(c.c_custkey as varchar) as c_custkey,
           coalesce(p.component, 'a:' || cast(c.c_custkey as varchar))
               as cluster_id
    from customer c
    left join comp p on p.node = 'a:' || cast(c.c_custkey as varchar)
    union all
    select 'b', cast(s.s_suppkey as varchar),
           coalesce(p.component, 'b:' || cast(s.s_suppkey as varchar))
    from supplier s
    left join comp p on p.node = 'b:' || cast(s.s_suppkey as varchar)
    """,
)
def linkage_ab_clusters_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`linkage_ab_clusters`' cluster-resolution half on the
    estimator-picked LINEAR spec (round-9 verdict item 4): the same
    Linker → cluster_links chain, but blocked by the two
    banded-balance equi passes `two_dataset_linkage_scaled` proved to
    sf1 — (nationkey, floor(bal/10)) then (floor(bal),) —
    so the pair budget (and with it the edge set feeding connected
    components) grows ~n instead of the region spec's ~n²/5. Edges
    are pairs with |balance delta| < 10 (FS weight > 1 under the
    fixed close/near parameters); the balance-band graph still chains
    customers through shared suppliers into high-diameter components.
    At sf0.01 and sf0.1 that graph is below the driver bound, so the
    components step is the driver union-find (the distributed path is
    covered by the ``distributed(...)`` parity tests); past the bound
    the kernel's star finisher handles the high diameter. Output and
    oracle shape match `linkage_ab_clusters`: every record of BOTH
    datasets with its source-tagged min-label cluster id, singletons =
    own tagged id; the oracle replays the banded blocking, the threshold, and the
    recursive closure. Reference parity: scratch.R:143-156 re-specced
    the way a 100 TB user would."""
    from ..em import FSParams
    from ..spec import BlockingRule, Comparison, LinkerSpec
    from .linker import Linker

    tb = load_tables(spark, sf_dir, ["customer", "supplier"])
    cust = tb["customer"].select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.floor(F.col("c_acctbal") / 10).alias("__bal10"),
        F.floor(F.col("c_acctbal")).alias("__bal1"),
    )
    supp = tb["supplier"].select(
        F.col("s_suppkey").alias("supp_id"),
        F.col("s_nationkey").alias("c_nationkey"),
        F.col("s_acctbal").alias("c_acctbal"),
        F.floor(F.col("s_acctbal") / 10).alias("__bal10"),
        F.floor(F.col("s_acctbal")).alias("__bal1"),
    )
    d = F.abs(F.col("c_acctbal_left") - F.col("c_acctbal_right"))
    spec = LinkerSpec(
        unique_id_left="c_custkey",
        unique_id_right="supp_id",
        blocking_rules=[
            BlockingRule.on("c_nationkey", "__bal10"),
            BlockingRule.on("__bal1"),
        ],
        comparisons=[
            Comparison(
                name="bal",
                expression=bucket_comparator(d, [(d < 10, "close")], "near"),
                levels=("close", "near"),
            )
        ],
    )
    linker = Linker(spark, cust, supp, spec)
    linker.params = FSParams(
        m_probabilities={"bal": {"close": 0.8, "near": 0.2}},
        u_probabilities={"bal": {"close": 0.1, "near": 0.9}},
        lam=1e-4,
        total_pairs=float(cust.count()) * supp.count(),
    )
    return linker.cluster_links(threshold=1.0).select(
        "source", F.col("c_custkey").cast("string").alias("c_custkey"), "cluster_id"
    )


@query(
    "blocking_spec_choice",
    """
    with a0 as (
        select c_nationkey as k, count(*) as n from customer
        where c_nationkey is not null group by 1
    ),
    b0 as (
        select s_nationkey as k, count(*) as n from supplier
        where s_nationkey is not null group by 1
    ),
    a1 as (
        select c_nationkey as k0, cast(floor(c_acctbal / 10) as bigint) as k1,
               count(*) as n
        from customer
        where c_nationkey is not null and c_acctbal is not null
        group by 1, 2
    ),
    b1 as (
        select s_nationkey as k0, cast(floor(s_acctbal / 10) as bigint) as k1,
               count(*) as n
        from supplier
        where s_nationkey is not null and s_acctbal is not null
        group by 1, 2
    ),
    a2 as (
        select cast(floor(c_acctbal) as bigint) as k, count(*) as n
        from customer where c_acctbal is not null group by 1
    ),
    b2 as (
        select cast(floor(s_acctbal) as bigint) as k, count(*) as n
        from supplier where s_acctbal is not null group by 1
    ),
    a3 as (
        select cast(floor(c_acctbal / 10) as bigint) as k, count(*) as n
        from customer where c_acctbal is not null group by 1
    ),
    b3 as (
        select cast(floor(s_acctbal / 10) as bigint) as k, count(*) as n
        from supplier where s_acctbal is not null group by 1
    ),
    est as (
        select 'nation' as spec,
               cast(coalesce((select sum(x.n * y.n) from a0 x
                              join b0 y using (k)), 0) as bigint) as est_pairs
        union all
        select 'banded',
               cast(coalesce((select sum(x.n * y.n) from a1 x
                              join b1 y on x.k0 = y.k0 and x.k1 = y.k1), 0)
                    as bigint)
             + cast(coalesce((select sum(x.n * y.n) from a2 x
                              join b2 y using (k)), 0) as bigint)
        union all
        select 'bal10',
               cast(coalesce((select sum(x.n * y.n) from a3 x
                              join b3 y using (k)), 0) as bigint)
    ),
    bgt as (
        select 25 * ((select count(*) from customer)
                     + (select count(*) from supplier)) as budget
    )
    select spec, est_pairs,
           est_pairs <= budget as within_budget,
           row_number() over (
               order by (est_pairs <= budget) desc,
                        case when est_pairs <= budget then -est_pairs
                             else est_pairs end asc,
                        spec asc
           ) = 1 as chosen
    from est cross join bgt
    """,
)
def blocking_spec_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E122 — the estimator-driven spec selection as one operator call
    (`choose_blocking_spec`, blocking.py): three candidate A-B specs —
    the reference-shaped naive nation pass, the banded two-pass spec
    `two_dataset_linkage_scaled` runs, and a single balance-band pass
    — ranked against a budget of 25·(|A|+|B|) candidate pairs. Cost
    per spec is the SUM of its passes' histogram-predicted join sizes
    (the work actually paid before pair-dedup); within budget the
    LARGEST spec wins (candidates ≈ recall), so the choice is
    scale-dependent by design: at sf0.01 the nation spec fits the
    budget and is chosen, at sf0.1 its ~n²/25 estimate blows past
    25·n and the engine picks a linear spec instead — the same
    decision a 100 TB pre-flight makes, hash-checked at both scales
    because the oracle replays the histograms, the per-spec sums, the
    budget arithmetic, and the ranking window bit-for-bit."""
    from ..blocking import choose_blocking_spec
    from ..spec import BlockingRule

    tb = load_tables(spark, sf_dir, ["customer", "supplier"])
    cust = (
        tb["customer"]
        .withColumn("__bal10", F.floor(F.col("c_acctbal") / 10))
        .withColumn("__bal1", F.floor(F.col("c_acctbal")))
    )
    supp = (
        tb["supplier"]
        .withColumn("__bal10", F.floor(F.col("s_acctbal") / 10))
        .withColumn("__bal1", F.floor(F.col("s_acctbal")))
    )
    budget = 25 * (tb["customer"].count() + tb["supplier"].count())
    return choose_blocking_spec(
        cust,
        supp,
        {
            "nation": [BlockingRule.on_pairs({"c_nationkey": "s_nationkey"})],
            "banded": [
                BlockingRule.on_pairs(
                    {"c_nationkey": "s_nationkey", "__bal10": "__bal10"}
                ),
                BlockingRule.on("__bal1"),
            ],
            "bal10": [BlockingRule.on("__bal10")],
        },
        budget_pairs=budget,
    )


@query(
    "bucketed_join_revenue",
    """
    select c_mktsegment,
           count(*) as n_orders,
           round(sum(o_totalprice), 4) as revenue
    from customer join orders on c_custkey = o_custkey
    group by c_mktsegment
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 ``write_bucketed`` as a gate row: both join sides persisted
    bucketed + bucket-sorted by the join key, re-read from the catalog,
    then joined — a SortMergeJoin with NO Exchange on either side (the
    shuffle is paid once at write and amortized over every later join;
    plan-asserted in tests/test_etl.py). Layout must not change values,
    so the oracle is the plain join-aggregate on the raw parquet."""
    import tempfile

    from ..sources.etl import write_bucketed

    base = tempfile.mkdtemp(prefix="ppack_bucketed_gate_")
    cb = write_bucketed(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "gate_cust_bucketed", "c_custkey", num_buckets=16, path=base + "/cust",
    )
    ob = write_bucketed(
        t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        "gate_ord_bucketed", "o_custkey", num_buckets=16, path=base + "/ord",
    )
    return (
        cb.join(ob, cb["c_custkey"] == ob["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


# --------------------------------------------------------------------
# Generic relational surface (SURVEY §2c) over the star schema
# --------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    select l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) as sum_qty,
           round(sum(l_extendedprice), 4) as sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) as sum_charge,
           round(avg(l_quantity), 6) as avg_qty,
           round(avg(l_extendedprice), 6) as avg_price,
           round(avg(l_discount), 6) as avg_disc,
           count(*) as count_order
    from lineitem
    where l_shipdate <= timestamp '1998-09-02'
    group by l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with 8 aggregates; the
    headline whole-stage-codegen benchmark query."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "segment_revenue",
    """
    select c.c_mktsegment,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) as revenue,
           count(distinct o.o_orderkey) as n_orders
    from customer c
    join orders o on c.c_custkey = o.o_custkey
    join lineitem l on o.o_orderkey = l.l_orderkey
    where o.o_orderdate < timestamp '1998-01-01'
    group by c.c_mktsegment
    """,
)
def segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped 3-way join with pushdown: the date filter reaches the
    orders scan; customer (small) broadcasts."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c.select("c_custkey", "c_mktsegment"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "top_orders_per_customer",
    """
    select o_custkey, o_orderkey, o_totalprice, rn
    from (
        select o_custkey, o_orderkey, o_totalprice,
               row_number() over (
                   partition by o_custkey
                   order by o_totalprice desc, o_orderkey
               ) as rn
        from orders
    ) where rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (deterministic tie-break)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
