"""Benchmark entry point: run one workload, check its outputs, print metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
with keys ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  Everything else goes to stderr.  Inputs,
Spark scratch space and the last trace live under ``.perfbench/`` in the
current directory.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import types

import datagen
import metrics
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEMORY = "3g"
RUN_TIMEOUT_S = 170
JVM_EXIT_GRACE_S = 10
KILL_GRACE_S = 5
PR_SET_CHILD_SUBREAPER = 36
STREAM_DRAIN_S = 150  # from process start; leaves time for the check and exit


def load_engine() -> types.SimpleNamespace:
    """Import the engine's public functions.  Fails (and the run exits
    non-zero) when the engine package is not next to the benchmark."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    p = workloads.PACKAGE
    mod = lambda name: importlib.import_module(f"{p}.{name}")  # noqa: E731
    session, parity = mod("session"), mod("testing.parity")
    streams, timeseries = mod("sources.streams"), mod("operators.timeseries")
    return types.SimpleNamespace(
        registry=mod("plans.registry"),
        get_spark=session.get_spark,
        release_persisted_rdds=session.release_persisted_rdds,
        register_views=mod("catalog").register_views,
        duckdb_connection=parity.duckdb_connection,
        compare_frames=parity.compare_frames,
        ForecastPipeline=mod("streaming.pipeline").ForecastPipeline,
        LinearForecaster=mod("ml.forecast").LinearForecaster,
        file_tick_stream=streams.file_tick_stream,
        TICK_SCHEMA=streams.TICK_SCHEMA,
        change_dedup=timeseries.change_dedup,
        anchored_variation=timeseries.anchored_variation,
    )


def session_conf(run_dir: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # the serial collector sizes the heap from occupancy alone, so the
        # JVM's resident memory follows the work done, not pause timings
        "spark.driver.extraJavaOptions": f"-XX:+UseSerialGC -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log is not None:
        import tracing

        conf.update(tracing.event_log_conf(event_log))
    return conf


def set_up(engine, data: str, master: str, conf: dict) -> tuple[object, float]:
    """One engine set-up: session start, a catalog view over every table and
    one warm-up query.  Returns the session and the set-up time net of
    hypervisor steal."""
    clock = metrics.StealClock()
    spark = engine.get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    engine.register_views(spark, data)
    spark.sql("SELECT count(*) FROM events").collect()
    return spark, clock.stop()[1]


def set_up_median(engine, data: str, master: str, conf: dict) -> tuple[object, list[float]]:
    """``SETUPS`` set-ups in a row (the first starts the JVM, the others a new
    SparkContext in it); the last session stays open for the workload."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s = set_up(engine, data, master, conf)
        times.append(s)
    print(f"[perfbench] set-ups: {', '.join(f'{t:.3f}' for t in times)} s", file=sys.stderr)
    return spark, times


# -- batch ---------------------------------------------------------------------


def batch_workload(args, engine, data, run_dir, master, trace_dir):
    import batch

    names = workloads.run_slice(engine.registry.all_queries())
    spark, setups = set_up_median(engine, data, master, session_conf(run_dir, trace_dir))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)
        tracer.wrap_catalog(workloads.PACKAGE)
    res = batch.run_batch(spark, engine, names, data, args.seed, args.seconds,
                          os.path.join(run_dir, "tmp"), tracer)
    spark.stop()
    walls = [e.wall_s for e in res.executions]
    attempted = len(res.executions)
    failed = sum(not e.ok for e in res.executions)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(res.pass_s),
        "latency_p50_s": statistics.median(walls),
        "peak_rss_mb": res.peak_rss_mb,
        "ok_frac": (attempted - failed) / attempted,
    }
    layers = None
    if tracer is not None:
        tracer.unwrap_all()
        tracer.write(os.path.join(os.path.dirname(trace_dir), "spans.jsonl"))
        layers = batch_layers(tracer, res, trace_dir, setups, walls, args.cores)
    return not res.wrong and failed == 0, attempted, failed, e2e, layers


def batch_layers(tracer, res, trace_dir, setups, walls, cores) -> dict[str, float]:
    import tracing

    jobs, stages = tracing.parse_event_logs(trace_dir)

    def group(layer):
        return tracing.job_totals(jobs, stages, lambda j: (j["group"] or "").endswith("|" + layer))

    catalog, build, execute = group("catalog"), group("build"), group("exec")
    exec_s = tracer.total_s("exec")
    out = {
        "catalog.jobs": catalog["jobs"],
        "catalog.s": tracer.total_s("catalog"),
        "catalog.calls": tracer.calls("catalog"),
        "build.s": tracer.self_s("build"),
        "build.jobs": build["jobs"],
        "session.released_rdds": res.released_rdds,
        "session.release_s": tracer.total_s("release"),
        "catalyst.analysis_ms": res.catalyst["analysis"],
        "catalyst.optimization_ms": res.catalyst["optimization"],
        "catalyst.planning_ms": res.catalyst["planning"],
        "catalyst.exchanges": res.catalyst["exchanges"],
        "exec.s": exec_s,
        "exec.busy_frac": execute["task_run_s"] / (cores * exec_s) if exec_s else 0.0,
        "trace.pass_s": statistics.median(res.pass_s),
        "trace.latency_p50_s": statistics.median(walls),
        "raw.pass_s": statistics.median(res.raw_pass_s),
        "raw.latency_p50_s": statistics.median(e.raw_s for e in res.executions),
    }
    out.update({f"exec.{k}": v for k, v in execute.items()})
    return common_layers(out, tracer, setups, walls, res.steal_frac)


# -- stream --------------------------------------------------------------------


def stream_workload(args, engine, data, run_dir, master, trace_dir, deadline):
    import stream

    spark, setups = set_up_median(engine, data, master, session_conf(run_dir, trace_dir))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)
    res = stream.run_stream(spark, engine, os.path.join(run_dir, "stream"), args.seed,
                            args.seconds, deadline, tracer)
    spark.stop()
    lat = list(res.latencies.values())
    if not lat:
        raise RuntimeError("no poll committed: the stream produced no latency sample")
    attempted = res.offered
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": res.pass_s,
        "latency_p50_s": statistics.median(lat),
        "peak_rss_mb": res.peak_rss_mb,
        "ok_frac": (attempted - res.failed) / attempted,
    }
    layers = None
    if tracer is not None:
        tracer.unwrap_all()
        tracer.write(os.path.join(os.path.dirname(trace_dir), "spans.jsonl"))
        layers = stream_layers(tracer, res, trace_dir, setups, lat)
    return res.correct and res.failed == 0, attempted, res.failed, e2e, layers


def stream_layers(tracer, res, trace_dir, setups, lat) -> dict[str, float]:
    import tracing

    timed = set(res.timed_batches)
    prog = [p for p in res.progress if p["batchId"] in timed and p["numInputRows"] > 0]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    jobs, stages = tracing.parse_event_logs(trace_dir)
    per_batch = tracing.job_totals(jobs, stages, lambda j: j["batch"] is not None and int(j["batch"]) in timed)
    n_batches = max(1, len(timed))
    fit = [s.end - s.start for s in tracer.spans if s.name == "ml.fit" and int(s.trace_id) in timed]
    out = {
        "source.latest_offset_ms": med(p["durationMs"].get("latestOffset", 0) for p in prog),
        "source.get_batch_ms": med(p["durationMs"].get("getBatch", 0) for p in prog),
        "source.backlog_max_polls": res.backlog_max_polls,
        "gen.late_ms_max": res.gen_late_ms_max,
        "stateful.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "stateful.state_mem_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "stateful.commit_ms": med(s["commitTimeMs"] for s in state),
        "stateful.shuffle_partitions": state[-1].get("numShufflePartitions", 0) if state else 0,
        "pipeline.add_batch_ms": med(p["durationMs"].get("addBatch", 0) for p in prog),
        "pipeline.query_planning_ms": med(p["durationMs"].get("queryPlanning", 0) for p in prog),
        "pipeline.jobs_per_batch": per_batch["jobs"] / n_batches,
        "pipeline.tasks_per_batch": per_batch["tasks"] / n_batches,
        "pipeline.store_bytes_written": res.store_bytes_written,
        "ml.fit_s": sum(fit) / n_batches,
        "trace.pass_s": res.pass_s,
        "trace.latency_p50_s": statistics.median(lat),
        "raw.pass_s": res.raw_pass_s,
        "raw.latency_p50_s": med(res.raw_latencies.values()),
    }
    return common_layers(out, tracer, setups, lat, res.steal_frac)


def common_layers(out: dict, tracer, setups: list[float], samples: list[float],
                  steal: float) -> dict[str, float]:
    tail = metrics.tail_percentile(len(samples))
    out.update(
        {
            "session.first_setup_s": setups[0],
            "host.steal_frac": steal,
            "trace.bookkeeping_s": tracer.bookkeeping_s,
            "latency.samples": len(samples),
            "latency.tail_pct": tail or 0.0,
            "latency.tail_s": metrics.percentile(samples, tail) if tail else 0.0,
        }
    )
    return out


# -- processes -----------------------------------------------------------------


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    grandchild orphaned by its parent (a PySpark worker daemon whose JVM
    exited first) is re-parented here and can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(entry))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop and wait for every process the run started: the Spark JVM is
    asked to exit by closing its stdin (the gateway exits on EOF), then
    whatever is left (the JVM, its Python workers, the tick generator) gets
    SIGTERM and, after a grace period, SIGKILL.  Returns once this process
    has no child left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    start = time.monotonic()
    sig = None
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - start
        if waited > JVM_EXIT_GRACE_S + KILL_GRACE_S:
            sig = signal.SIGKILL
        elif waited > JVM_EXIT_GRACE_S:
            sig = signal.SIGTERM
        if sig is not None:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# -- main ----------------------------------------------------------------------


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {RUN_TIMEOUT_S} s")


def declared_metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)[kind]


def main(argv=None) -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=workloads.BATCH_WORKLOADS + workloads.STREAM_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] threads (default: every core this process may use)")
    args = ap.parse_args(argv)

    adopt_orphans()
    engine = load_engine()
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    bench_dir = os.path.join(os.getcwd(), ".perfbench")
    data = datagen.ensure_tables(os.path.join(bench_dir, "data"))
    run_dir = os.path.join(bench_dir, "runs", str(os.getpid()))
    trace_dir = os.path.join(bench_dir, "last_trace", "eventlog") if args.trace else None
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    if trace_dir is not None:
        shutil.rmtree(os.path.dirname(trace_dir), ignore_errors=True)
        os.makedirs(trace_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # no JVM, the launcher included, keeps its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    master = f"local[{args.cores}]"

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        if args.workload in workloads.STREAM_WORKLOADS:
            out = stream_workload(args, engine, data, run_dir, master, trace_dir,
                                  started + STREAM_DRAIN_S)
        else:
            out = batch_workload(args, engine, data, run_dir, master, trace_dir)
    finally:
        signal.alarm(0)
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
    correct, attempted, failed, e2e, layers = out
    values = layers if args.trace else e2e
    names = {m["name"] for m in declared}
    undeclared = sorted(set(values) - names)
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
    if not args.trace:
        values = {n: values[n] for n in names}  # every end-to-end metric, or KeyError
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in declared},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
