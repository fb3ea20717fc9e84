"""ppack_spark — a PySpark-native probabilistic record-linkage and
data-pipeline engine.

Re-expresses the capability surface of the reference package
(nerskin/ppack: Fellegi-Sunter linkage — blocking, pairwise
comparison, EM parameter estimation, match-weight scoring — authored
as dplyr/SQL plans executed by DuckDB) as idiomatic Spark: a typed
spec layer compiles to Catalyst-optimized DataFrame plans; only the
tiny pattern-counts sufficient statistic crosses to the driver, where
a vectorized numpy EM fits the model; fitted parameters compile back
into codegen-able Column expressions for distributed scoring.

Beyond linkage parity, the ``operators``/``functions`` subpackages add
the large-scale training-data pipeline surface: exact and near
deduplication (MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search, text analysis, and multimodal column
plumbing.
"""

from .blocking import (
    blocking_pass_counts,
    choose_blocking_spec,
    estimate_blocking_counts,
    extract_blocks,
    key_skew_report,
    ordered_pairs,
    pick_blocking_spec,
)
from .em import FSParams, run_em
from .exprs import (
    bucket_comparator,
    dict_lookup_case_when,
    exact_comparator,
    match_weight_column,
    suffixed,
    with_suffix,
)
from .operators.asof import asof_join
from .operators.cluster import (
    attach_cluster_ids,
    connected_components,
)
from .operators.rangejoin import range_join_bucketed
from .pairs import compute_pairs_dataset, sample_pair_ids_inplan
from .patterns import (
    collect_probabilities,
    do_comparisons,
    pattern_counts,
    u_probability_frequencies,
)
from .plans import CorpusPipeline, CorpusSpec, Linker
from .scoring import label_with_truth, posterior_probability, score_pairs, threshold_and_rank
from .session import get_spark
from .similarity import jaro_winkler, jw_similarity, levenshtein_similarity
from .spec import EXACT_LEVELS, JW_LEVELS, BlockingRule, Comparison, LinkerSpec

__version__ = "0.1.0"

__all__ = [
    "BlockingRule",
    "Comparison",
    "CorpusPipeline",
    "CorpusSpec",
    "EXACT_LEVELS",
    "FSParams",
    "JW_LEVELS",
    "Linker",
    "LinkerSpec",
    "asof_join",
    "attach_cluster_ids",
    "blocking_pass_counts",
    "bucket_comparator",
    "choose_blocking_spec",
    "estimate_blocking_counts",
    "key_skew_report",
    "pick_blocking_spec",
    "connected_components",
    "collect_probabilities",
    "compute_pairs_dataset",
    "dict_lookup_case_when",
    "do_comparisons",
    "exact_comparator",
    "extract_blocks",
    "get_spark",
    "jaro_winkler",
    "jw_similarity",
    "label_with_truth",
    "levenshtein_similarity",
    "match_weight_column",
    "ordered_pairs",
    "pattern_counts",
    "posterior_probability",
    "range_join_bucketed",
    "run_em",
    "sample_pair_ids_inplan",
    "score_pairs",
    "suffixed",
    "threshold_and_rank",
    "u_probability_frequencies",
    "with_suffix",
]
