"""Stream workload: the paper's own pipeline.

``ForecastPipeline(lookback=5, horizon=3, retrain_every=10)`` runs on
``file_tick_stream`` with a ``processingTime="0 seconds"`` trigger.  Before
timing starts, one warm-up file backfills ``BACKFILL_POLLS`` polls of
history, enough ticks per key for the model to be fitted, so every timed
micro-batch runs the whole loop: ingest, retrain, forecast and as-of
scoring (with less history the pipeline skips all but the ingest).  Then a separate
single-threaded generator process (``tickgen.py``) offers a fixed number of
polls on an open-loop schedule, one every ``POLL_SECONDS``, and the run waits
for the pipeline to drain them before stopping the query, so no batch is cut
off mid-write.

Latency per poll is measured from its scheduled due time to the commit of the
micro-batch that consumed it, read back from the query's checkpoint: the file
source log names the files each batch consumed, and the commit log's file
time is the batch's commit.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import datagen
import metrics

GEN_LEAD_S = 0.5
BACKFILL_POLLS = 20


@dataclass
class StreamResult:
    offered: int = 0
    latencies: dict[int, float] = field(default_factory=dict)  # net of steal
    raw_latencies: dict[int, float] = field(default_factory=dict)
    pass_s: float = 0.0
    raw_pass_s: float = 0.0
    failed: int = 0
    correct: bool = True
    gen_late_ms_max: float = 0.0
    backlog_max_polls: int = 0
    progress: list[dict] = field(default_factory=list)
    timed_batches: list[int] = field(default_factory=list)
    store_bytes_written: int = 0
    peak_rss_mb: float = 0.0
    steal_frac: float = 0.0  # of the CPU time wanted from the first due time to the drain


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_checkpoint(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(poll file name -> batch id that consumed it, batch id -> commit time)."""
    consumed: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith(".") or path.endswith(".tmp"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    consumed[os.path.basename(entry["path"])] = int(entry["batchId"])
    commits = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            commits[int(name)] = os.path.getmtime(path)
    return consumed, commits


def poll_file(index: int) -> str:
    return f"poll_{index:05d}.json"


def _drain(query, ckpt: str, polls: list[int], deadline: float) -> bool:
    """Wait until every offered poll's batch has committed.  Returns False if
    the query died; on a deadline the caller stops the query and the polls
    still queued stay uncommitted (not failed)."""
    while time.time() < deadline:
        if not query.isActive:
            return False
        consumed, commits = read_checkpoint(ckpt)
        if all(consumed.get(poll_file(i)) in commits for i in polls):
            return True
        time.sleep(0.05)
    return query.isActive


def run_stream(spark, engine, work: str, seed: int, seconds: float, deadline: float,
               tracer=None) -> StreamResult:
    drop, stage, ckpt, store = (os.path.join(work, d) for d in ("drop", "stage", "ckpt", "store"))
    for d in (drop, stage):
        os.makedirs(d, exist_ok=True)
    res = StreamResult()
    pipe = engine.ForecastPipeline(spark, store, lookback=5, horizon=3, retrain_every=10)
    if tracer is not None:
        original = pipe.process_batch

        def traced_batch(batch_df, batch_id):
            tracer.trace_id = str(batch_id)
            with tracer.span("process_batch", group=False):
                return original(batch_df, batch_id)

        pipe.process_batch = traced_batch
        tracer.wrap(engine.LinearForecaster, "fit", "ml.fit", group=False)

    walk = datagen.TickWalk(seed)
    backfill = [row for _ in range(BACKFILL_POLLS) for row in walk.poll()]
    datagen.write_poll(drop, stage, 0, backfill)
    query = pipe.start(
        engine.file_tick_stream(spark, drop), checkpoint=ckpt, trigger={"processingTime": "0 seconds"}
    )
    gen = None
    try:
        query.processAllAvailable()  # warm-up batch: the backfill
        store_before = _du(store)
        n = int(seconds // datagen.POLL_SECONDS) + 1  # polls due at 0, 5, ... <= seconds
        polls = list(range(BACKFILL_POLLS, BACKFILL_POLLS + n))
        clock = metrics.StealClock()
        t0 = time.time() + GEN_LEAD_S
        gen_log = os.path.join(work, "gen.jsonl")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tickgen.py"),
             "--drop", drop, "--stage", stage, "--log", gen_log, "--seed", str(seed),
             "--first", str(BACKFILL_POLLS), "--count", str(n), "--t0", repr(t0),
             "--interval", str(datagen.POLL_SECONDS)],
        )
        gen.wait(timeout=max(1.0, deadline - time.time()))
        alive = _drain(query, ckpt, polls, deadline)
        share = clock.stop()[2]
        res.steal_frac = 1.0 - share
        res.progress = [json.loads(p.json) for p in query.recentProgress]
        res.peak_rss_mb = metrics.peak_rss_mb(spark)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
    print(f"[perfbench] steal share of the timed polls: {res.steal_frac:.3f}", file=sys.stderr)
    if not alive:
        print(f"[perfbench] stream query died: {query.exception()}", file=sys.stderr)

    res.offered = n
    consumed, commits = read_checkpoint(ckpt)
    with open(gen_log, encoding="utf-8") as f:
        log = {e["poll"]: e for e in map(json.loads, f)}
    due = {i: log[i]["due"] for i in polls if i in log}
    by_batch = {i: consumed.get(poll_file(i)) for i in polls}
    res.raw_latencies = metrics.tick_latencies(due, by_batch, commits)
    res.latencies = {i: v * share for i, v in res.raw_latencies.items()}
    committed_at = {i: commits[by_batch[i]] for i in res.latencies}
    if committed_at:
        res.raw_pass_s = max(committed_at.values()) - t0
        res.pass_s = res.raw_pass_s * share
    res.gen_late_ms_max = max(((e["written"] - e["due"]) * 1000 for e in log.values()), default=0.0)
    res.backlog_max_polls = metrics.max_backlog({i: log[i]["written"] for i in log}, committed_at)
    res.timed_batches = sorted({by_batch[i] for i in res.latencies})
    res.store_bytes_written = _du(store) - store_before
    if not alive:
        res.failed = n - len(res.latencies)
    # ticks the store must hold: every poll whose batch committed, warm-up included
    files = [os.path.join(drop, f) for f, b in consumed.items() if b in commits]
    res.correct = alive and _check(spark, engine, files, pipe)
    if not res.correct:
        res.failed = n
    return res


def _check(spark, engine, files: list[str], pipe) -> bool:
    """The tick store must equal change-dedup + anchored variation computed
    in batch over the committed poll files."""
    raw = spark.read.schema(engine.TICK_SCHEMA).json(files)
    expected = engine.anchored_variation(engine.change_dedup(raw)).toPandas()
    got = pipe.ticks().toPandas()
    result = engine.compare_frames("reference_stream.ticks", got, expected)
    if not result.ok:
        print(f"[perfbench] tick store: {result.detail}", file=sys.stderr)
    return result.ok
