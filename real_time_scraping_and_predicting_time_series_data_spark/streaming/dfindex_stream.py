"""Incremental n-gram document-frequency index over a document stream —
the streaming twin of the shingle-index family (`corpus_boilerplate_ngrams`
/ `text_ngram_novelty`'s cross-doc df view), completing batch/stream parity
for the last corpus-quality family without one (VERDICT r5 item 6).

Mergeability argument (same as the CMS / KS-grid / quantile twins): each
micro-batch reduces to its own (gram, nd) document-frequency grid; the
served df of a gram is the grouped-sum merge of every batch's grid, and —
because `shingles` emits DISTINCT grams per document and documents arrive
exactly once per batch_id — that merge equals the batch df over everything
ingested. Boilerplate flagging is a pure function of (merged df, per-doc
postings), so the served share is bit-identical to running the batch query
over the union of all ingested documents. A later document can push a gram
over the df threshold and RETROACTIVELY re-flag earlier documents — which
is exactly why the serve recomputes flags from the merged grid instead of
freezing per-batch verdicts.

Three `GridStore` sub-directories, all published per-batch via
staging-rename (at-least-once replays overwrite their own
``batch_id=<id>`` directory — the corpus_ingest idempotence pattern):

- ``df/batch_id=*``       (gram, nd)        — tiny mergeable grids; the
  serve-side df merge touches ONLY these, never the postings;
- ``postings/batch_id=*`` (doc_id, gram)    — the inverted index, needed
  because flagging is per-document (posting volume, never doc × doc);
- ``docs/batch_id=*``     (doc_id, n_grams) — per-doc denominators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_min_partitions
from ..operators.dedup import shingles
from ..operators.quality import boilerplate_scores
from .store_compaction import GridStore, grouped_sum, start_ingest

__all__ = ["NgramDfStreamIndex"]


class NgramDfStreamIndex:
    """Accumulates per-batch (gram, nd) df grids plus (doc_id, gram)
    postings and serves the exact cross-document boilerplate share over
    all documents seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        n: int = 5,
        threshold: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.n = n
        self.threshold = threshold
        self.id_col = id_col
        self.text_col = text_col
        self.df = GridStore(
            spark,
            os.path.join(store_dir, "df"),
            "gram bigint, nd bigint",
            grouped_sum(("gram",), ("nd",)),
        )
        self.postings = GridStore(
            spark, os.path.join(store_dir, "postings"), "doc_id bigint, gram bigint"
        )
        self.docs = GridStore(
            spark, os.path.join(store_dir, "docs"), "doc_id bigint, n_grams bigint"
        )

    # -- ingest ---------------------------------------------------------

    def batch_index(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """This batch's (doc_id, gram) inverted index and (doc_id,
        n_grams) base — the same shingling as the batch query (distinct
        word n-grams, xxhash64-keyed so the stored/shuffled key is 8 bytes
        instead of the n-word string)."""
        # r13 (guide §2.1): spread the batch before the shingle projection —
        # the regex-split + n-gram HOF chain otherwise runs on the scan's
        # single partition (ensure_min_partitions is a no-op once the
        # input splits naturally).
        sh = ensure_min_partitions(df).select(
            F.col(self.id_col).alias("doc_id"),
            shingles(F.col(self.text_col), self.n).alias("grams"),
        ).localCheckpoint(eager=False)
        inv = sh.select("doc_id", F.explode("grams").alias("_g")).select(
            "doc_id", F.xxhash64("_g").alias("gram")
        )
        base = sh.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        return inv, base

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: publish this batch's df grid, postings, and
        doc base under its batch_id (replays overwrite, never
        double-count; each sub-store drops replays of its folded
        batches)."""
        inv, base = self.batch_index(batch_df)
        grid = inv.groupBy("gram").agg(F.count("*").cast("long").alias("nd"))
        self.df.ingest_batch(grid, batch_id)
        self.postings.ingest_batch(inv, batch_id)
        self.docs.ingest_batch(base, batch_id)

    def attach(self, stream_df: DataFrame, checkpoint: str):
        return start_ingest(stream_df, self.ingest_batch, checkpoint)

    # -- serve ----------------------------------------------------------

    def compact(self) -> dict:
        """Fold all three sub-stores: the df grid by grouped sum (the
        associative merge the serve already performs), postings and doc
        bases by pure union (append-only, rows disjoint across batches by
        the replay-overwrite contract). Served df AND boilerplate flags are
        bit-identical before/after; directory growth is bounded for
        long-lived streams. Each sub-store folds independently — a crash
        between folds leaves one folded and one not, which is fine: every
        sub-store is complete (fold + live tail) at all times, and each
        drops replays of its own folded batches."""
        return {
            "df": self.df.compact(),
            "postings": self.postings.compact(),
            "docs": self.docs.compact(),
        }

    def serve_df(self) -> DataFrame:
        """The merged (gram, nd) document-frequency grid — identical to
        counting the full postings store, but touching only the tiny
        per-batch grids."""
        return self.df.merged()

    def serve_boilerplate(self) -> DataFrame:
        """Boilerplate share per document over ALL documents ingested —
        bit-identical to `corpus_boilerplate_ngrams` run as one batch over
        the same rows (shared `boilerplate_scores` core; the merged df
        grid is injected so the postings are only scanned for the
        per-document semi-join)."""
        return boilerplate_scores(
            self.postings.merged(),
            self.docs.merged(),
            df_counts=self.serve_df(),
            threshold=self.threshold,
        )
