"""Streaming Count-Min sketch — the incremental twin of
`sketch_count_min` (operators/sketch.py).

CM cells are ADDITIVE: sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise for
DISJOINT A, B — the count-grid merge law (grouped SUM over (r, b)), one
tier below KMV's idempotent distinct-union (overlapping replays of the
same rows would double-count; the store therefore relies on the family's
disjoint-batch contract plus per-batch_id idempotent publish: an
at-least-once REPLAY of the same batch overwrites its own directory and a
folded batch is dropped at ingest, so the grid never double-counts a
batch).

Mechanics follow the mergeable-grid family (kmv_stream.py): per-batch
cells under ``batch_id=<id>`` via staging-rename, `compact()` folds by
grouped sum, empty store serves a typed-empty grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import _cm_tokens, cm_cells
from .store_compaction import GridStore, grouped_sum

__all__ = ["CmStreamSketch"]

_GRID_SCHEMA = "r int, b bigint, cnt bigint"


class CmStreamSketch(GridStore):
    """Accumulates per-batch Count-Min cell grids over the document token
    stream and serves the exact whole-stream sketch."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        super().__init__(spark, store_dir, _GRID_SCHEMA, grouped_sum(("r", "b"), ("cnt",)))

    def batch_grid(self, docs_df: DataFrame) -> DataFrame:
        """This batch's sketch cells (≤ depth·width rows)."""
        return cm_cells(_cm_tokens(docs_df))
