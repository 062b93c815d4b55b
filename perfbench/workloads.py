"""Which queries the batch workload runs.

Two rules pick from the engine's query registry, so a query added to one of
the reference modules joins the reference list without an edit here:

- reference list: every oracle-bearing query registered by the reference
  modules below (the paper's relational, time-series, as-of and tick-bar
  surface plus the flagship plan), 96 queries;
- heavy tail: every other oracle-bearing query whose round-14 warm median
  (``r14_medians.json``, sf0.1, 32 cores) was at least 2.9 s, 18 queries.

The ``batch_mix`` workload runs a fixed slice of each list (``run_slice``)
in a fixed order, the same for every seed, so runs with different seeds are
comparable; the seed chooses which queries a run checks (``check_share``).
"""

from __future__ import annotations

import json
import os

PACKAGE = "real_time_scraping_and_predicting_time_series_data_spark"
REFERENCE_MODULES = tuple(
    f"{PACKAGE}.{m}"
    for m in (
        "operators.relational",
        "operators.timeseries",
        "operators.asof",
        "operators.tickbars",
        "plans.flagship",
    )
)
HEAVY_MIN_S = 2.9
R14_MEDIANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "r14_medians.json")

BATCH_WORKLOADS = ("batch_mix",)
STREAM_WORKLOADS = ("reference_stream",)


def r14_medians() -> dict[str, float]:
    with open(R14_MEDIANS, encoding="utf-8") as f:
        return json.load(f)["queries"]


def reference_batch_names(queries: dict) -> list[str]:
    """``queries`` is the registry's name -> Query map."""
    return sorted(
        n for n, q in queries.items() if q.oracle is not None and q.fn.__module__ in REFERENCE_MODULES
    )


def heavy_tail_names(queries: dict, medians: dict[str, float]) -> list[str]:
    return sorted(
        n
        for n, q in queries.items()
        if q.oracle is not None
        and q.fn.__module__ not in REFERENCE_MODULES
        and medians.get(n, 0.0) >= HEAVY_MIN_S
    )


# A full pass over either list takes minutes on a small machine (about 100 s
# for each on 4 cores), far beyond one benchmark run.  Each run therefore
# executes a fixed slice of each:
# - reference: every 16th query of the sorted list, a spread of the
#   relational, time-series, as-of and tick-bar families;
# - heavy tail: one build-bound and one execution-bound query.
#   events_markov_attribution spends most of its time in eager jobs before
#   the action; udf_grouped_map_zscore spends its time in a Python
#   grouped-map kernel.  graph_k_core would be the natural build-bound pick,
#   but its DuckDB oracle needs over 2 GB at sf0.1, more than a benchmark run
#   can spend on a check.
REFERENCE_STRIDE = 16
HEAVY_SLICE = ("events_markov_attribution", "udf_grouped_map_zscore")


def run_slice(queries: dict) -> list[str]:
    """The queries one ``batch_mix`` run executes."""
    heavy = heavy_tail_names(queries, r14_medians())
    missing = [n for n in HEAVY_SLICE if n not in heavy]
    if missing:
        raise ValueError(f"heavy-tail slice names queries outside the rule: {missing}")
    return reference_batch_names(queries)[::REFERENCE_STRIDE] + list(HEAVY_SLICE)


# Checking a result (collect plus an exact row-by-row comparison with the
# oracle) can cost ten times the query itself on a large result, so each run
# checks a seed-chosen share of its slice: seeds 0..CHECK_SHARES-1 together
# check every query.
CHECK_SHARES = 4


def check_share(names: list[str], seed: int) -> list[str]:
    ordered = sorted(names)
    return [n for i, n in enumerate(ordered) if i % CHECK_SHARES == seed % CHECK_SHARES]
