"""Synthetic inputs for the benchmark.

Batch tables: the ten engine tables at scale factor 0.1 (row counts, key
ranges, dtypes and value distributions follow the engine's FIXTURES schema),
generated from one fixed seed so every run of a batch workload reads the same
bytes.  The run's ``--seed`` only permutes query order.

Tick walk: the stream workload's poll files, one tick per key per poll, from a
walk seeded by ``--seed`` that leaves about a third of prices unchanged (so
the change-dedup gate has work to drop).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "sf0.1-v1"
TABLE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBEDDING_DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _ts(start: datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1_000_000).astype("int64") + int(start.timestamp() * 1_000_000)
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us"))


def _days(start: datetime, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n).astype("float64") * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 50 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker token
            base = texts[int(rng.integers(0, i))].split(" ")
            base.insert(int(rng.integers(0, len(base) + 1)), "dup")
            texts.append(" ".join(base))
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, ("en", "en", "en", "de", "es", "fr", "zh"), N_DOCUMENTS),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, N_DOCUMENTS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    events_s = np.sort(rng.uniform(0, 30 * 86_400, N_EVENTS))
    emb = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    d0 = datetime(1995, 1, 1)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(regions)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": _pick(rng, segments, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
                "p_name": _pick(rng, part_names, N_PART),
                "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, N_PART)]),
                "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), N_PART),
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), N_ORDERS),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, N_ORDERS),
                "o_orderdate": _days(d0, 2404, rng, N_ORDERS),
                "o_orderpriority": _pick(
                    rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), N_ORDERS
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, N_LINEITEM),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), N_LINEITEM),
                "l_linestatus": _pick(rng, ("F", "O"), N_LINEITEM),
                "l_shipdate": _days(d0 + timedelta(days=1), 2499, rng, N_LINEITEM),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
                "ts": _ts(datetime(2024, 1, 1), events_s),
                "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
                "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), N_EVENTS),
                "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
            }
        ),
        "documents": _documents(rng),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
            }
        ),
    }


def ensure_tables(root: str) -> str:
    """Write the batch tables under ``root`` once and return their directory.

    The tables are built in a staging directory and renamed into place, so an
    interrupted run never leaves a half-written data set behind."""
    out = os.path.join(root, DATA_VERSION)
    if os.path.isdir(out):
        return out
    stage = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, table in _tables().items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
    os.rename(stage, out)
    return out


# -- tick walk ---------------------------------------------------------------

N_KEYS = 50
TICK_EPOCH = datetime(2024, 6, 3, 9, 0, 0)
POLL_SECONDS = 5


class TickWalk:
    """Seeded per-key price walk: poll ``i`` holds one tick per key.

    A key's price is left unchanged with probability 1/3, otherwise it moves by
    a few cents.  Event time is the poll's schedule (``i * POLL_SECONDS`` after
    ``TICK_EPOCH``); event ids run in poll-then-key order."""

    def __init__(self, seed: int) -> None:
        self._rng = random.Random(seed)
        self._prices = [round(self._rng.uniform(50, 500), 2) for _ in range(N_KEYS)]
        self._next_poll = 0

    def poll(self) -> list[dict]:
        i = self._next_poll
        self._next_poll += 1
        ts = (TICK_EPOCH + timedelta(seconds=i * POLL_SECONDS)).isoformat() + ".000Z"
        rows = []
        for key in range(N_KEYS):
            if i > 0 and self._rng.random() >= 1 / 3:
                step = self._rng.choice((-3, -2, -1, 1, 2, 3)) / 100
                self._prices[key] = round(max(1.0, self._prices[key] + step), 2)
            rows.append(
                {"event_id": i * N_KEYS + key, "ts": ts, "user_id": key, "value": self._prices[key]}
            )
        return rows


def write_poll(drop_dir: str, stage_dir: str, index: int, rows: list[dict]) -> str:
    """Write one poll file and rename it into the drop zone atomically."""
    name = f"poll_{index:05d}.json"
    staged = os.path.join(stage_dir, name)
    with open(staged, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    final = os.path.join(drop_dir, name)
    os.rename(staged, final)
    return final
