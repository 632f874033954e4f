"""Workload definitions: which declared queries run, at which scale.

A workload reads one scale factor of the seed-42 test corpus under
``perfbench/data`` and runs an ordered list of names from
``__spark_entry__.queries()``. Lists keep the declaration order of
``queries()``: composite queries are declared after the parts whose
shared builds they read, so a query's time is its own marginal cost, as
in ``bench.py``. Both lists are fixed, so runs with different seeds are
plain repeats (README.md says why the seed does not pick a sample).
"""

from __future__ import annotations

# The paper's own surface: recommender metrics over the synthetic
# recommendation lists built from lineitem. `coverage` writes the shared
# build (the top-10 lists) that `novelty` reads; `item_item_topk` builds
# the item-item similarities.
RECSYS = ["coverage", "personalization", "item_item_topk", "novelty", "long_tail_stats"]

# Every 20th query, in declaration order, of the declared queries that
# have an oracle and are neither heavy nor too costly to check (README.md
# lists the left-out ones and how they were measured): a spread over the
# operator families where each query does little executor work, so the
# fixed cost of a query (building, planning, job submission) shows.
SURFACE = [
    "calibration_kl", "scd2_customer_priority", "q_first_last_orders",
    "personalization_weighted", "doc_fingerprint", "hourly_anomaly",
    "q_case_null_buckets", "q15_top_supplier", "serendipity",
    "quantile_normalize", "ngram_novelty_by_source", "line_dedup_pages_mindf3",
]

WORKLOADS = {
    "recsys-sf0.01": {"sf": 0.01, "queries": RECSYS},
    "surface-sf0.001": {"sf": 0.001, "queries": SURFACE},
}
