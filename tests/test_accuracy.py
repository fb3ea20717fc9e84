"""End-to-end accuracy fixture (reference scratch.R:130-139 style, the
splink ``historical_figures`` pattern): a synthetic dirty-duplicates
table with KNOWN entity clusters, driven through the full Linker
pipeline — blocking → comparisons → u sampling → EM → scoring →
threshold → connected-components clustering — asserting pairwise
precision/recall and recovered-partition quality against ground truth.

The fixture is deterministic: entity "surnames" are md5-derived 20-char
strings (distinct entities collide on ~0 characters), duplicates get 1
or 2 character substitutions at fixed tail positions (normalized
Levenshtein 0.95 / 0.90 — the strong/weak comparator buckets), copies
share the entity's city block and category, and balances differ by
<100 within an entity and ≥1000 across entities.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import ppack_spark as pp

N_ENTITIES = 40


def _surname(entity: int) -> str:
    return hashlib.md5(f"entity:{entity}".encode()).hexdigest()[:20]


def _dirty(name: str, copy: int, entity: int) -> str:
    """copy 0: exact; copy 1: one substitution (lev sim 0.95) except
    every 4th entity keeps an EXACT duplicate (so 'full agreement'
    is observed among true pairs); copy 2: two substitutions (lev sim
    0.90 → 'weak' bucket)."""
    sub = {"0": "z", "1": "y", "2": "x"}

    def repl(s: str, pos: int) -> str:
        c = s[pos]
        return s[:pos] + sub.get(c, "0" if c != "0" else "1") + s[pos + 1 :]

    if copy == 1:
        return name if entity % 4 == 0 else repl(name, 14)
    if copy == 2:
        return repl(repl(name, 14), 17)
    return name


def _fixture_rows():
    rows = []
    rid = 0
    for e in range(N_ENTITIES):
        n_copies = 2 + (e % 2)  # clusters of size 2 or 3
        base = _surname(e)
        for c in range(n_copies):
            rows.append(
                (
                    rid,
                    e,  # ground-truth cluster
                    _dirty(base, c, e),
                    f"city{e % 7}",
                    f"cat{e % 5}",
                    1000.0 * e + 30.0 * c,
                )
            )
            rid += 1
    return rows


TRUTH_PAIRS = None  # filled lazily


def _truth_pairs(rows):
    truth = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if a[1] == b[1]:
                truth.add((min(a[0], b[0]), max(a[0], b[0])))
    return truth


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(
        _fixture_rows(),
        "rec_id long, entity long, name string, city string, cat string, balance double",
    )


@pytest.fixture(scope="module")
def fitted_linker(spark, fixture_df):
    bal_diff = F.abs(F.col("balance_left") - F.col("balance_right"))
    spec = pp.LinkerSpec(
        unique_id_left="rec_id",
        unique_id_right="rec_id",
        blocking_rules=[
            pp.BlockingRule.on("city"),
            pp.BlockingRule.where(
                F.substring("name_left", 1, 10) == F.substring("name_right", 1, 10)
            ),
        ],
        comparisons=[
            pp.Comparison.levenshtein("name"),
            pp.Comparison.exact("cat"),
            pp.Comparison.buckets(
                "balance",
                bal_diff,
                [(bal_diff < 100, "close"), (bal_diff < 1000, "near")],
                "far",
            ),
        ],
    )
    linker = pp.Linker(spark, fixture_df, None, spec)
    linker.estimate(maxiter=25, u_sample_size=4000, seed=11, lambda_init=0.05)
    return linker


def test_pairwise_precision_and_recall(fitted_linker):
    """scratch.R:130-135: weight>τ pairs vs ground-truth clusters."""
    pred = {
        (r["rec_id_left"], r["rec_id_right"])
        for r in fitted_linker.score(threshold=5.0)
        .select("rec_id_left", "rec_id_right")
        .collect()
    }
    truth = _truth_pairs(_fixture_rows())
    assert pred, "no pairs above threshold — estimation collapsed"
    tp = len(pred & truth)
    precision = tp / len(pred)
    recall = tp / len(truth)
    assert precision >= 0.95, (precision, len(pred), tp)
    assert recall >= 0.90, (recall, len(truth), tp)


def test_cluster_recovers_partition(fitted_linker, fixture_df):
    """Linker.cluster() must reproduce the ground-truth partition:
    same-entity records share a cluster_id, distinct entities don't
    (allowing the few dropped weak-copy edges the recall bound admits
    — measured as ≥0.9 Rand-index-style pair agreement)."""
    out = fitted_linker.cluster(threshold=5.0).select("rec_id", "entity", "cluster_id")
    rows = [(r["rec_id"], r["entity"], r["cluster_id"]) for r in out.collect()]
    same_entity = same_cluster = both = 0
    for i, (_, ea, ca) in enumerate(rows):
        for _, eb, cb in rows[i + 1 :]:
            se, sc = ea == eb, ca == cb
            same_entity += se
            same_cluster += sc
            both += se and sc
    # pairwise cluster precision/recall against the truth partition
    assert both / same_cluster >= 0.95
    assert both / same_entity >= 0.90


# --- two-dataset (A×B) linkage with OVERLAPPING id domains -----------
#
# Dataset A holds the clean record of each entity with rec_id = e.
# Dataset B holds two dirty copies per entity whose rec_ids are chosen
# to COLLIDE with A's domain for different entities: B's copy-1 of
# entity e carries rec_id (e+7) % N — so A's record v and B's record v
# are ALWAYS distinct entities. Untagged connected components would
# merge every such pair (the r2 ADVICE conflation bug); cluster_links'
# source-tagged nodes must keep them apart while still linking the
# true (A-entity, B-copy) pairs.


def _ab_fixture_rows():
    a_rows, b_rows = [], []
    for e in range(N_ENTITIES):
        base = _surname(e)
        a_rows.append((e, e, base, f"city{e % 7}", f"cat{e % 5}", 1000.0 * e))
        for c in (1, 2):
            rid = (e + 7) % N_ENTITIES if c == 1 else N_ENTITIES + e
            b_rows.append(
                (rid, e, _dirty(base, c, e), f"city{e % 7}", f"cat{e % 5}",
                 1000.0 * e + 30.0 * c)
            )
    return a_rows, b_rows


@pytest.fixture(scope="module")
def fitted_ab_linker(spark):
    a_rows, b_rows = _ab_fixture_rows()
    schema = "rec_id long, entity long, name string, city string, cat string, balance double"
    data_a = spark.createDataFrame(a_rows, schema)
    data_b = spark.createDataFrame(b_rows, schema)
    bal_diff = F.abs(F.col("balance_left") - F.col("balance_right"))
    spec = pp.LinkerSpec(
        unique_id_left="rec_id",
        unique_id_right="rec_id",
        blocking_rules=[
            pp.BlockingRule.on("city"),
            pp.BlockingRule.where(
                F.substring("name_left", 1, 10) == F.substring("name_right", 1, 10)
            ),
        ],
        comparisons=[
            pp.Comparison.levenshtein("name"),
            pp.Comparison.exact("cat"),
            pp.Comparison.buckets(
                "balance",
                bal_diff,
                [(bal_diff < 100, "close"), (bal_diff < 1000, "near")],
                "far",
            ),
        ],
    )
    linker = pp.Linker(spark, data_a, data_b, spec)
    linker.estimate(maxiter=25, u_sample_size=4000, seed=11, lambda_init=0.05)
    return linker


def test_ab_linkage_precision_and_recall(fitted_ab_linker):
    """Cross-dataset pair quality: clusters from cluster_links joined
    a-side × b-side must recover the true (A-entity, B-copy) pairs."""
    out = fitted_ab_linker.cluster_links(threshold=5.0)
    a = {r["rec_id"]: r["cluster_id"] for r in out.filter(F.col("source") == "a").collect()}
    b = {r["rec_id"]: r["cluster_id"] for r in out.filter(F.col("source") == "b").collect()}
    a_rows, b_rows = _ab_fixture_rows()
    assert len(a) == len(a_rows) and len(b) == len(b_rows)  # every record covered
    pred = {(ra, rb) for ra, ca in a.items() for rb, cb in b.items() if ca == cb}
    truth = {(e, rb) for rb, e, *_ in b_rows}
    assert pred, "no cross-dataset links — estimation collapsed"
    tp = len(pred & truth)
    assert tp / len(pred) >= 0.95, (tp, len(pred))
    assert tp / len(truth) >= 0.90, (tp, len(truth))


def test_ab_linkage_no_id_conflation(fitted_ab_linker):
    """Every id value v shared by both datasets names DIFFERENT
    entities by construction — A's v and B's v must never share a
    cluster (the exact failure mode of untagged components)."""
    out = fitted_ab_linker.cluster_links(threshold=5.0)
    a = {r["rec_id"]: r["cluster_id"] for r in out.filter(F.col("source") == "a").collect()}
    b = {r["rec_id"]: r["cluster_id"] for r in out.filter(F.col("source") == "b").collect()}
    shared = set(a) & set(b)
    assert len(shared) == N_ENTITIES  # B's copy-1 ids blanket A's domain
    conflated = [v for v in shared if a[v] == b[v]]
    assert conflated == []


def test_em_learned_informative_params(fitted_linker):
    """The EM must land on the informative fixed point: m(full/strong
    agreement) ≫ u, positive weights for agreement levels, λ near the
    true match share."""
    params = fitted_linker.params
    w = params.weights["name"]
    assert w["full agreement"] > 0
    assert w["strong partial agreement"] > 0
    assert w["no agreement"] < 0
    truth = _truth_pairs(_fixture_rows())
    n = len(_fixture_rows())
    lam_true = len(truth) / (n * n / 2.0)
    assert params.lam == pytest.approx(lam_true, rel=0.5)
