"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

import datagen
import metrics
import tracing
import workloads

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json"
)

HEAVY_TAIL = [
    "stats_spearman_corr", "dedup_embedding_cosine", "sim_pq_relation_topk",
    "dedup_jaccard_prefix_filter", "ts_resample_interpolate", "graph_copurchase_pagerank",
    "graph_kcore_peel", "graph_k_core", "dedup_clusters_star", "udf_grouped_map_zscore",
    "ml_per_key_forecast_eval", "dedup_semantic_multiprobe_serve",
    "dedup_semantic_drift_serve", "corpus_cluster_split", "events_markov_attribution",
    "sim_topk_relation_lloyd", "corpus_df_index_serve", "dedup_clusters_stopgram",
]


# -- percentile rule -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (20, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95),
     (999, 95), (1000, 99), (9999, 99), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert metrics.tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert metrics.percentile(values, 50) == 50
    assert metrics.percentile(values, 90) == 90
    assert metrics.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


# -- due-time latency accounting ---------------------------------------------------


def test_latency_runs_from_due_time_to_commit():
    due = {1: 100.0, 2: 105.0, 3: 110.0}
    consumed_by = {1: 1, 2: 2, 3: None}  # poll 3 never consumed
    commit = {1: 110.0, 2: 121.0}
    assert metrics.tick_latencies(due, consumed_by, commit) == {1: 10.0, 2: 16.0}


def test_latency_charges_a_late_generator_to_the_poll():
    # written 3 s late, committed 1 s after it was written: latency is 4 s
    due, written, committed = 100.0, 103.0, 104.0
    assert written > due
    assert metrics.tick_latencies({7: due}, {7: 5}, {5: committed}) == {7: 4.0}


def test_uncommitted_batch_is_not_a_latency_sample():
    assert metrics.tick_latencies({1: 0.0}, {1: 4}, {}) == {}


def test_max_backlog_counts_written_but_uncommitted_polls():
    written = {1: 0.0, 2: 5.0, 3: 10.0}
    committed = {1: 9.0, 2: 19.0, 3: 29.0}
    assert metrics.max_backlog(written, committed) == 2
    assert metrics.max_backlog(written, {}) == 3
    # a commit at the same instant as a write drains first
    assert metrics.max_backlog({1: 0.0, 2: 5.0}, {1: 5.0}) == 1


# -- metric names ------------------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "exec.shuffle_read_bytes", "a", "9x", "x" * 64])
def test_valid_names(name):
    assert metrics.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "x y", "x/y", "x" * 65, "é"])
def test_invalid_names(name):
    assert not metrics.valid_name(name)


def test_units():
    for unit in ("ms", "s", "1/s", "count", "%", "MB", "frac"):
        assert metrics.valid_unit(unit)
    for unit in ("", "meters per sec", "x" * 17):
        assert not metrics.valid_unit(unit)


def test_benchmark_json_metrics_are_well_formed():
    with open(BENCHMARK_JSON, encoding="utf-8") as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(metrics.valid_name(n) for n in names)
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert metrics.valid_unit(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and metrics.valid_unit(m["unit"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert [w["name"] for w in bench["workloads"]] == list(
        workloads.BATCH_WORKLOADS + workloads.STREAM_WORKLOADS
    )


# -- workload rules ----------------------------------------------------------------


@pytest.fixture(scope="module")
def registry_queries():
    pytest.importorskip("pyspark")
    from real_time_scraping_and_predicting_time_series_data_spark.plans import registry

    return registry.all_queries()


def test_reference_batch_rule_gives_96_oracle_bearing_reference_queries(registry_queries):
    names = workloads.reference_batch_names(registry_queries)
    assert len(names) == 96
    for n in names:
        q = registry_queries[n]
        assert q.oracle is not None and q.fn.__module__ in workloads.REFERENCE_MODULES


def test_heavy_tail_rule_gives_the_frozen_18(registry_queries):
    assert workloads.heavy_tail_names(registry_queries, workloads.r14_medians()) == sorted(HEAVY_TAIL)


def test_run_slice_comes_from_the_rules(registry_queries):
    names = workloads.run_slice(registry_queries)
    ref = workloads.reference_batch_names(registry_queries)
    assert names[: len(ref[:: workloads.REFERENCE_STRIDE])] == ref[:: workloads.REFERENCE_STRIDE]
    assert set(names) - set(ref) == set(workloads.HEAVY_SLICE) <= set(HEAVY_TAIL)


def test_check_shares_cover_every_query():
    names = [f"q{i}" for i in range(11)]
    shares = [workloads.check_share(names, s) for s in range(workloads.CHECK_SHARES)]
    assert sorted(n for share in shares for n in share) == sorted(names)
    assert workloads.check_share(names, 7) == shares[7 % workloads.CHECK_SHARES]


# -- inputs --------------------------------------------------------------------------


def test_tick_walk_is_seeded_and_leaves_a_third_unchanged():
    a, b = datagen.TickWalk(3), datagen.TickWalk(3)
    polls = [a.poll() for _ in range(40)]
    assert polls == [b.poll() for _ in range(40)]
    assert all(len(p) == datagen.N_KEYS for p in polls)
    same = sum(
        prev["value"] == cur["value"] for p0, p1 in zip(polls, polls[1:]) for prev, cur in zip(p0, p1)
    )
    frac = same / (39 * datagen.N_KEYS)
    assert 0.25 < frac < 0.42
    assert polls[0] != datagen.TickWalk(4).poll()


def test_write_poll_is_atomic_rename(tmp_path):
    drop, stage = tmp_path / "drop", tmp_path / "stage"
    drop.mkdir()
    stage.mkdir()
    path = datagen.write_poll(str(drop), str(stage), 3, datagen.TickWalk(1).poll())
    assert os.path.basename(path) == "poll_00003.json"
    assert list(stage.iterdir()) == []
    assert len(open(path, encoding="utf-8").read().splitlines()) == datagen.N_KEYS


# -- tracing -------------------------------------------------------------------------


def test_event_log_totals_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q#0|exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "q#0|catalog"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 5e7, "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 50}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 5}},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = tracing.parse_event_logs(str(tmp_path))
    exec_totals = tracing.job_totals(jobs, stages, lambda j: j["group"].endswith("|exec"))
    assert exec_totals["jobs"] == 1
    assert exec_totals["stages"] == 1  # stage 1 was skipped: no tasks
    assert exec_totals["tasks"] == 2
    assert exec_totals["task_run_s"] == pytest.approx(0.15)
    assert exec_totals["task_cpu_s"] == pytest.approx(0.05)
    assert exec_totals["shuffle_read_bytes"] == 7 and exec_totals["shuffle_write_bytes"] == 11
    assert exec_totals["spill_bytes"] == 3
    assert tracing.job_totals(jobs, stages, lambda j: j["group"].endswith("|catalog"))["tasks"] == 1


def test_span_self_time_excludes_children():
    t = tracing.Tracer(spark=None)
    t.trace_id = "q#0"
    with t.span("build", group=False):
        with t.span("catalog", group=False):
            pass
    build = next(s for s in t.spans if s.name == "build")
    catalog = next(s for s in t.spans if s.name == "catalog")
    assert catalog.parent == "build" and catalog.trace_id == build.trace_id == "q#0"
    assert t.self_s("build") == pytest.approx(
        (build.end - build.start) - (catalog.end - catalog.start)
    )


def test_wrap_records_outermost_calls_only():
    class Owner:
        @staticmethod
        def inner():
            return 1

    t = tracing.Tracer(spark=None)
    t.wrap(Owner, "inner", "catalog", outermost_only=True, group=False)

    def outer():
        with t.span("catalog", group=False):
            return Owner.inner()

    assert outer() == 1 and Owner.inner() == 1
    assert t.calls("catalog") == 2
    t.unwrap_all()
    assert not hasattr(Owner.inner, "__wrapped_original__")


def test_busy_share_discounts_hypervisor_steal():
    # fields: user nice system idle iowait irq softirq steal
    before = [100, 0, 10, 500, 0, 0, 0, 0]
    after = [160, 0, 20, 600, 5, 0, 0, 30]  # 70 busy ticks, 30 stolen
    assert metrics.busy_share(before, after) == pytest.approx(0.7)
    assert metrics.busy_share(before, before) == 1.0
    assert metrics.busy_share(before, [100, 0, 10, 900, 0, 0, 0, 0]) == 1.0  # idle only
