"""Batch workloads: one closed-loop client runs registered queries to the
``noop`` sink, one after another, and checks each result against its DuckDB
oracle outside the timed region."""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import metrics
import workloads
from tracing import Tracer, catalyst_phases

ORACLE_MEMORY = "2GB"


@dataclass
class Execution:
    name: str
    wall_s: float  # net of hypervisor steal (metrics.StealClock)
    raw_s: float
    ok: bool


@dataclass
class BatchResult:
    executions: list[Execution] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    raw_pass_s: list[float] = field(default_factory=list)
    wrong: set[str] = field(default_factory=set)
    catalyst: dict[str, float] = field(default_factory=dict)
    released_rdds: int = 0
    peak_rss_mb: float = 0.0
    steal_frac: float = 0.0  # of the CPU time the timed passes asked for


def _no_span(name: str):
    return nullcontext()


def _check(spark, engine, query, sf_dir: str, con) -> bool:
    """Run the query again and compare its rows with its DuckDB oracle."""
    try:
        got = query.fn(spark, sf_dir).toPandas()
        result = engine.compare_frames(query.name, got, con.sql(query.oracle).df())
    except Exception:  # noqa: BLE001 - a crashing check is a wrong result
        traceback.print_exc(file=sys.stderr)
        return False
    finally:
        engine.release_persisted_rdds(spark)
    if not result.ok:
        print(f"[perfbench] {query.name}: {result.detail}", file=sys.stderr)
    return result.ok


def _run_query(spark, engine, query, sf_dir: str, span, phases: dict | None) -> tuple[bool, int]:
    """Build the query, run it to the noop sink and release its pins; returns
    (succeeded, RDDs released).  With ``phases`` (traced runs) the query's
    Catalyst phase times are added to it."""
    ok = True
    try:
        with span("build"):
            df = query.fn(spark, sf_dir)
        if phases is not None:
            with span("catalyst"):
                for k, v in catalyst_phases(df).items():
                    phases[k] += v
        with span("exec"):
            df.write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        ok = False
    with span("release"):
        released = engine.release_persisted_rdds(spark)
    return ok, released


def run_batch(spark, engine, names: list[str], sf_dir: str, seed: int, seconds: float,
              spill_dir: str, tracer: Tracer | None) -> BatchResult:
    """Timed passes over ``names`` until ``seconds`` of query time have been
    measured, at least one.  Then the seed's share of the queries is checked
    against their oracles, untimed.

    A query's wall time is its build (the registered function returning a
    DataFrame, eager checkpoint jobs included), its action and the session's
    release of persisted RDDs.  The first pass times each query's first
    execution in the process, which is what a spark-submit job pays; the
    order is fixed because that cost depends on which queries ran before."""
    queries = engine.registry.all_queries()
    res = BatchResult()
    res.catalyst = dict.fromkeys(("analysis", "optimization", "planning", "exchanges"), 0.0)
    span = tracer.span if tracer is not None else _no_span
    pass_index = 0
    timed = metrics.StealClock()
    while pass_index == 0 or sum(res.raw_pass_s) < seconds:
        executions = []
        for name in names:
            if tracer is not None:
                tracer.trace_id = f"{name}#{pass_index}"
            clock = metrics.StealClock()
            ok, released = _run_query(spark, engine, queries[name], sf_dir, span,
                                      res.catalyst if tracer is not None else None)
            res.released_rdds += released
            raw, net, share = clock.stop()
            print(f"[perfbench] {name}: {raw:.3f} s, {net:.3f} s net of steal, ok={ok}",
                  file=sys.stderr)
            executions.append(Execution(name, net, raw, ok))
        res.executions += executions
        res.pass_s.append(sum(e.wall_s for e in executions))
        res.raw_pass_s.append(sum(e.raw_s for e in executions))
        pass_index += 1
    res.steal_frac = 1.0 - timed.stop()[2]
    print(f"[perfbench] steal share of the timed passes: {res.steal_frac:.3f}", file=sys.stderr)

    res.peak_rss_mb = metrics.peak_rss_mb(spark)  # before the oracles run in this process
    if tracer is not None:
        tracer.unwrap_all()  # the checks' own catalog calls are not part of the pass
    con = engine.duckdb_connection(sf_dir)
    con.sql(f"SET memory_limit='{ORACLE_MEMORY}'")
    con.sql(f"SET temp_directory='{spill_dir}'")
    try:
        for name in workloads.check_share(names, seed):
            if tracer is not None:
                tracer.trace_id = f"{name}#check"
            t = time.perf_counter()
            with span("check"):
                if not _check(spark, engine, queries[name], sf_dir, con):
                    res.wrong.add(name)
            print(f"[perfbench] check {name}: {time.perf_counter() - t:.3f} s", file=sys.stderr)
    finally:
        con.close()
    for e in res.executions:
        e.ok = e.ok and e.name not in res.wrong
    return res
