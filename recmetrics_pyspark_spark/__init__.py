"""recmetrics_pyspark_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
camiloakv/recmetrics-pyspark (reference surveyed in SURVEY.md): recommender
metrics (coverage, novelty, personalization, intra-list similarity,
long-tail stats) as single-pass DataFrame pipelines, extended with the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal plumbing, event-time streaming).

Design rules (SURVEY.md §7):
- DataFrame/SQL only; no RDDs, no driver-side collects of unaggregated data.
- One Spark action per metric; everything else stays lazy for Catalyst.
- Broadcast small dimensions; AQE on; no dynamic pivot, no dense Gram matrix.
"""

from .session import get_spark, release_shared, shared
from .sources.io import TABLES, load_table, load_tables, register_views

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "shared",
    "release_shared",
    "TABLES",
    "load_table",
    "load_tables",
    "register_views",
    "__version__",
]
