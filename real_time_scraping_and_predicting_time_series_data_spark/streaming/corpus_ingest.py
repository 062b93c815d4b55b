"""Incremental corpus construction with exactly-once exact dedup — the
streaming twin of ``operators/dedup.py::exact_dedup``.

A training-corpus pipeline ingests documents continuously; each micro-batch
must admit only content never seen before (first-arrival-wins), and a
crash/replay must not duplicate OR lose documents. Decomposition:

- **within-batch dedup**: min-id survivor per ``sha256(text)`` — one
  grouped agg over the batch only;
- **cross-batch dedup**: left-anti join of the batch's survivors against
  the ledger of already-accepted hashes. The ledger read projects ONLY the
  hash column (columnar parquet scan); at 100 TB the accepted store is
  bucketed on ``content_hash`` so this anti join is zero-shuffle on the
  ledger side, and the probe side is one micro-batch — bounded work per
  batch regardless of corpus size;
- **idempotent append**: accepted rows land in a deterministic
  ``batch_id=<id>`` subdirectory with mode=overwrite (the
  ``continuous_agg.py`` ledger pattern): ``foreachBatch`` is
  at-least-once, and a replayed batch replaces its own earlier attempt.
  The replay reads the ledger EXCLUDING its own batch directory —
  otherwise a re-delivered batch would anti-join against its first
  attempt's rows and silently drop everything.

Invariant (pinned in tests/test_corpus_ingest.py): after any sequence of
ingests and replays, ``serve()`` equals the batch ``exact_dedup`` survivor
set over the union of all raw batches, with first-batch-then-min-id
survivor order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .store_compaction import GridStore

__all__ = ["IncrementalCorpusStore"]


class IncrementalCorpusStore(GridStore):
    """First-seen-wins document store over columns
    ``(doc_id, text, source)`` (extra columns are carried through)."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        super().__init__(spark, os.path.join(store_dir, "accepted"))

    def batch_part(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Admit first-seen content. The ledger read projects only the
        hash column (columnar scan) and excludes this batch's own earlier
        attempt. Accepted rows are DISJOINT across batches (the ledger
        anti-join guarantees it), so `compact` folds by pure union; a
        replay of a folded batch is dropped at ingest — its verdicts are
        already in the fold, which is exactly what the exclude-own-batch
        recomputation would have reproduced."""
        hashed = batch_df.withColumn("content_hash", F.sha2(F.col("text"), 256))
        w = Window.partitionBy("content_hash").orderBy("doc_id")
        survivors = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        ledger = self.read(exclude_batch_id=batch_id)
        if ledger is not None:
            survivors = survivors.join(
                ledger.select("content_hash"), "content_hash", "left_anti"
            )
        return survivors

    # -- serve --------------------------------------------------------------

    def serve(self) -> DataFrame:
        """All accepted documents (the deduplicated corpus)."""
        df = self.read()
        if df is None:
            raise FileNotFoundError(f"no accepted batches under {self.store_dir}")
        return df.drop("batch_id") if "batch_id" in df.columns else df
