"""Grid stores — the one idempotent per-micro-batch sink behind every
serve == batch streaming store.

The stores: ``ann_ingest``, ``bm25_stream``, ``cm_stream``,
``corpus_ingest``, ``drift_stream``, ``experiment_stream``,
``forecast_stream``, ``kmv_stream``, ``model_quality_stream``,
``neardup_ingest``, ``pca_stream``, ``quantile_stream``,
``seasonality_stream``, ``semantic_ingest``, ``sketch_stream``,
``sprt_stream`` and ``url_frontier`` each subclass `GridStore`;
``dfindex_stream`` and ``dsir_stream`` hold one `GridStore` per
sub-directory.

A `GridStore` is one directory, one read schema (inferred for the corpus
family, whose rows carry the input's extra columns through) and one merge
law — grouped sum, grouped max, union, or a custom fold such as the KMV
re-cut.  Every micro-batch publishes one part under ``batch_id=<id>``
(staging-rename, replay-overwrite); serves read every live part and apply
the merge law (`GridStore.merged`) — correct at any moment, but the
directory count grows with stream lifetime: a 2-second trigger is ~43k
directories/day, and at object-store scale the LISTING cost (not the grid
bytes) eventually dominates every serve.  `GridStore.compact` folds
everything published so far into ONE ``compacted_upto=<max_batch_id>``
directory by the same merge law.  The law is associative, so the folded
part is the same relation the per-batch union would have produced, and
every downstream serve statistic is unchanged — bit-identical, for the
same reason the stores' streaming/batch parity holds.

Correctness under the streaming failure model:

- **Replay safety** — after a fold, serves read the compacted part plus
  only batch dirs with ``id > compacted_upto``; a late at-least-once
  replay of an already-folded batch must be DROPPED at ingest
  (``is_compacted``), because its rows are inside the fold already and a
  fresh ``batch_id=<id>`` dir would double-count.
- **Crash safety** — the new compacted dir is staged and renamed BEFORE
  folded batch dirs are removed; a crash in the window leaves stale batch
  dirs that serves already ignore (``id <= upto``) and the next
  compaction sweeps. Two compacted dirs can coexist after a crash for the
  same reason; readers take the max ``upto`` and the sweep removes the
  older.

Deployment assumption: the staging-rename is a driver-local
``os.rename`` — correct when ``store_dir`` is a filesystem the driver and
executors share (local disk in local mode, NFS).  On HDFS/S3 the rename
must go through the Hadoop ``FileSystem`` API
(``spark._jvm.org.apache.hadoop.fs.FileSystem``) or an atomic-commit table
format.  The merge math itself is storage-agnostic.
"""

from __future__ import annotations

import os
import re
import shutil
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "GridStore",
    "compacted_upto",
    "is_compacted",
    "publish_dir",
    "read_store_grid",
    "compact_grid_store",
    "compact_union_store",
    "grouped_max",
    "grouped_sum",
    "start_ingest",
]

_BATCH_RE = re.compile(r"^batch_id=(\d+)$")
_COMPACT_RE = re.compile(r"^compacted_upto=(\d+)$")


def _batch_ids(store_dir: str) -> list[int]:
    out = []
    for name in os.listdir(store_dir):
        m = _BATCH_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def compacted_upto(store_dir: str) -> int:
    """Highest batch_id folded into a compacted dir; -1 if never compacted.
    Multiple compacted dirs (crash window) resolve to the max."""
    if not os.path.isdir(store_dir):
        return -1
    upto = -1
    for name in os.listdir(store_dir):
        m = _COMPACT_RE.match(name)
        if m:
            upto = max(upto, int(m.group(1)))
    return upto


def is_compacted(store_dir: str, batch_id: int) -> bool:
    """True when ``batch_id``'s rows are already inside the compacted grid —
    an at-least-once replay of it must be dropped at ingest."""
    return batch_id <= compacted_upto(store_dir)


def publish_dir(
    df: DataFrame, store_dir: str, dirname: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Stage + rename ``df`` (coalesced to one file, or partitioned by the
    ``partition_by`` columns) as ``store_dir/dirname`` — the idempotent
    publish every store in the family uses.

    Crash-safe swap (ADVICE r12): the old ``rmtree(final); rename(staging,
    final)`` order had a window where a crash deleted a previously
    SUCCESSFUL publish and left nothing — recovery then depended entirely
    on the at-least-once replay re-delivering that batch.  Now the old dir
    is renamed ASIDE (never deleted before its replacement is in place),
    the new dir renamed in, and only then the aside removed.  The aside
    name starts with ``_staging_`` so serves' listings already ignore it
    and the compaction sweep cleans any debris.  If a crash lands between
    the two renames, the next publish of the same dirname (the replay
    path) self-heals by restoring the aside first."""
    final = os.path.join(store_dir, dirname)
    staging = os.path.join(store_dir, f"_staging_{dirname.replace('=', '_')}")
    aside = staging + ".prev"
    # Self-heal a crash between the two renames below: the previous
    # publish's content is in the aside and final is absent — restore it
    # before (re)staging, so the swap below again never leaves a gap.
    if os.path.isdir(aside) and not os.path.exists(final):
        os.rename(aside, final)
    if partition_by:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    else:
        df.coalesce(1).write.mode("overwrite").parquet(staging)
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(final):
        os.rename(final, aside)
    os.rename(staging, final)
    shutil.rmtree(aside, ignore_errors=True)


def _live_parts(store_dir: str, exclude_batch_id: int | None = None) -> list[str]:
    """The directories a serve should read: the newest compacted part (if
    any) + batch dirs NEWER than it, minus ``exclude_batch_id``. Stale
    dirs (older compacted parts, batch dirs at or below the fold) are
    excluded — they are crash debris."""
    upto = compacted_upto(store_dir)
    parts = []
    if upto >= 0:
        parts.append(os.path.join(store_dir, f"compacted_upto={upto}"))
    parts.extend(
        os.path.join(store_dir, f"batch_id={i}")
        for i in _batch_ids(store_dir)
        if i > upto and i != exclude_batch_id
    )
    return parts


def _sweep(store_dir: str, keep: str) -> None:
    """Remove every batch/compacted/staging dir except ``keep`` — safe
    post-rename (those rows are in the fold) and for crash debris (serves
    already ignore ids at or below the fold)."""
    for name in os.listdir(store_dir):
        if name == keep:
            continue
        if _BATCH_RE.match(name) or _COMPACT_RE.match(name) or name.startswith("_staging_"):
            shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)


Merge = Callable[[DataFrame], DataFrame]


def _union(df: DataFrame) -> DataFrame:
    """Merge law of APPEND-ONLY stores (rows disjoint across batch dirs by
    the replay-overwrite publish contract — postings, per-doc bases,
    admitted documents): the merged relation is the union itself."""
    return df


def grouped_sum(keys: tuple[str, ...], cols: tuple[str, ...]) -> Merge:
    """Merge law of count grids over disjoint batches: grouped SUM
    (associative + commutative)."""
    return lambda df: df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])


def grouped_max(keys: tuple[str, ...], cols: tuple[str, ...]) -> Merge:
    """Merge law of per-key idempotent bits/watermarks (per-user
    conversion bits): grouped MAX — associative, commutative AND
    idempotent, so it tolerates even row-level duplication across parts,
    a strictly weaker requirement than the sum's disjointness contract."""
    return lambda df: df.groupBy(*keys).agg(*[F.max(c).alias(c) for c in cols])


def start_ingest(stream_df: DataFrame, ingest_batch, checkpoint: str):
    """Wire a streaming source into a store's ``ingest_batch`` hook and
    start the query (availableNow: drain what is there, then stop)."""
    return (
        stream_df.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


class GridStore:
    """One directory of per-micro-batch parts with a read schema and a
    merge law.  Subclasses supply ``batch_grid`` (what one micro-batch
    publishes) and their serve statistics over `merged`; a plain
    ``GridStore`` publishes the relation it is handed."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        schema: str | None = None,
        merge: Merge = _union,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.schema = schema
        self.merge = merge
        self.partition_by = partition_by
        os.makedirs(store_dir, exist_ok=True)

    def batch_grid(self, df: DataFrame) -> DataFrame:
        """This micro-batch's part, reduced before anything is stored."""
        return df

    def batch_part(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """The part ``ingest_batch`` publishes for ``batch_id``.  Grid
        stores reduce the batch alone; admission stores override this to
        probe the ledger excluding their own earlier attempt."""
        return self.batch_grid(batch_df)

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: publish this batch's part under its batch_id
        (staging-rename → replays overwrite, never double-count). A replay
        of a batch already folded by `compact` is DROPPED — its rows are
        inside the compacted part and re-publishing would double-count."""
        if is_compacted(self.store_dir, batch_id):
            return
        publish_dir(
            self.batch_part(batch_df, batch_id),
            self.store_dir,
            f"batch_id={batch_id}",
            self.partition_by,
        )

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire a streaming source into the store."""
        return start_ingest(stream_df, self.ingest_batch, checkpoint)

    def read(self, exclude_batch_id: int | None = None) -> DataFrame | None:
        """Union of every live part's rows, NOT merged.  Before the first
        publish a typed store serves a typed-empty relation, never
        PATH_NOT_FOUND; an inferred-schema store has no type to give and
        returns None.  Each typed part is read under its own basePath, so
        only ``partition_by`` columns are partition-discovered."""
        parts = _live_parts(self.store_dir, exclude_batch_id)
        if self.schema is None:
            return self.spark.read.parquet(*parts) if parts else None
        if not parts:
            return self.spark.createDataFrame([], self.schema)
        dfs = [
            self.spark.read.schema(self.schema).option("basePath", p).parquet(p)
            for p in parts
        ]
        return reduce(DataFrame.unionByName, dfs)

    def merged(self) -> DataFrame | None:
        """The merge law over every live part — identical to the batch
        relation over everything ingested."""
        return self.merge(self.read())

    def compact(self) -> dict:
        """Fold every live part into one ``compacted_upto=<max live id>``
        part by the merge law, then sweep folded batch dirs, older
        compacted dirs and crash debris (a fold with no live batches still
        sweeps).  Returns ``{"folded_batches", "upto", "dirs_before",
        "dirs_after"}``."""
        upto = compacted_upto(self.store_dir)
        live = [i for i in _batch_ids(self.store_dir) if i > upto]
        dirs_before = len(os.listdir(self.store_dir))
        if live:
            upto = max(live)
            publish_dir(
                self.merged(), self.store_dir, f"compacted_upto={upto}", self.partition_by
            )
        _sweep(self.store_dir, f"compacted_upto={upto}")
        return {
            "folded_batches": len(live),
            "upto": upto,
            "dirs_before": dirs_before,
            "dirs_after": len(os.listdir(self.store_dir)),
        }


def read_store_grid(spark: SparkSession, store_dir: str, schema: str) -> DataFrame:
    """`GridStore.read` of a typed store directory."""
    return GridStore(spark, store_dir, schema).read()


def compact_grid_store(
    spark: SparkSession,
    store_dir: str,
    schema: str,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
) -> dict:
    """`GridStore.compact` of a grouped-sum store directory."""
    return GridStore(spark, store_dir, schema, grouped_sum(key_cols, sum_cols)).compact()


def compact_union_store(spark: SparkSession, store_dir: str, schema: str) -> dict:
    """`GridStore.compact` of an append-only store directory."""
    return GridStore(spark, store_dir, schema).compact()


def compact_max_store(
    spark: SparkSession,
    store_dir: str,
    schema: str,
    key_cols: tuple[str, ...],
    max_cols: tuple[str, ...],
) -> dict:
    """`GridStore.compact` of a grouped-max store directory."""
    return GridStore(spark, store_dir, schema, grouped_max(key_cols, max_cols)).compact()
