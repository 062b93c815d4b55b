"""Open-loop load generator for the stream workload: a single-threaded process
that drops one poll file into the drop zone every ``--interval`` seconds,
starting at ``--t0`` (epoch seconds), whether or not the pipeline keeps up.

Each line of ``--log`` records a poll's index, due time and the time its file
was renamed into the drop zone, so the benchmark can charge lateness to the
generator and queueing to the pipeline.

    python3 perfbench/tickgen.py --drop D --stage S --log L --seed 1 \
        --first 20 --count 3 --t0 1760000000.0 --interval 5
"""

from __future__ import annotations

import argparse
import json
import time

from datagen import TickWalk, write_poll


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--drop", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True, help="index of the first poll to write")
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True, help="due time of the first poll")
    ap.add_argument("--interval", type=float, required=True)
    args = ap.parse_args()

    walk = TickWalk(args.seed)
    for _ in range(args.first):  # polls written by someone else (the backfill)
        walk.poll()
    with open(args.log, "w", encoding="utf-8") as log:
        for k in range(args.count):
            index = args.first + k
            rows = walk.poll()
            due = args.t0 + k * args.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            write_poll(args.drop, args.stage, index, rows)
            written = time.time()
            log.write(json.dumps({"poll": index, "due": due, "written": written}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
