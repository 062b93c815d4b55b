"""Incremental IVF index maintenance over an embedding stream — the
similarity-search member of the streaming-ingest family (beside the
corpus hash-ledger, the near-dup admission gate, and the mergeable
CMS/KS/quantile accumulators): new vectors are assigned to a FIXED coarse
quantizer as they arrive, and top-k serving over everything ingested is
identical to running the batch IVF path over the union corpus.

Why this shape scales: the centroid model is a K-row table fixed at index
creation (trained/seeded offline — re-clustering a live index is a
rebuild, not an ingest), so per-batch work is a ZERO-SHUFFLE broadcast
projection (`ivf_assign`) plus one partitioned append; nothing ever
re-reads history. The store is a `GridStore` laid out
``batch_id=<id>/cell=<c>`` — replay-safe per batch (staging-rename, same
contract as corpus_ingest) and cell-partitioned so a serve path that pins
its probe set (a dashboard serving fixed queries) prunes to nprobe/K of
the files before reading.
``compact()`` folds by pure union into ``compacted_upto=<id>/cell=<c>``,
still cell-partitioned (vectors are disjoint across batches: each arrives
once per batch_id and replays overwrite).

Serving reuses `_probe_rank_preassigned` (operators/similarity.py) — the
exact probe/rank half of the batch `ivf_topk_seeded` path — so the
streaming index's answers are BIT-IDENTICAL to the batch query over the
same vectors (pinned by tests/test_ann_ingest.py, including an
at-least-once replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import as_double, norm
from ..operators.similarity import _probe_rank_preassigned, ivf_assign
from .store_compaction import GridStore

__all__ = ["IvfStreamIndex", "seed_centroids"]

_SCHEMA = "cell int, neighbor_id bigint, v_c array<double>"


def seed_centroids(corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """Deterministic seed centroids: the unit-normalized vectors of corpus
    ids < n_cells — the same quantizer `ivf_topk_seeded` uses, so batch
    and streaming serve from one model definition."""
    c = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("cell"), as_double(F.col(vec)).alias("c_vec")
    )
    c = c.withColumn("_n", norm(F.col("c_vec")))
    return c.select(
        "cell", F.transform("c_vec", lambda x: x / F.col("_n")).alias("c_nvec")
    )


class IvfStreamIndex(GridStore):
    """Cell-partitioned incremental ANN index with a fixed coarse
    quantizer; ingest assigns, serve probes — history is never re-read."""

    def __init__(self, spark: SparkSession, store_dir: str, centroids: DataFrame) -> None:
        # K tiny rows — materialize once as the model table.
        self.centroids = centroids.localCheckpoint(eager=True)
        super().__init__(spark, store_dir, _SCHEMA, partition_by=("cell",))

    def batch_grid(self, df: DataFrame) -> DataFrame:
        """Normalize and assign (zero-shuffle broadcast projection)."""
        c = df.select(
            F.col("vec_id").alias("neighbor_id"), as_double(F.col("embedding")).alias("v_c")
        )
        c = c.withColumn("_n", norm(F.col("v_c"))).select(
            "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
        )
        return ivf_assign(c, self.centroids, "v_c", ["neighbor_id"]).select(
            "cell", "neighbor_id", "v_c"
        )

    def corpus(self) -> DataFrame:
        """Everything ingested: (cell, neighbor_id, v_c) with cell read
        back from the partition layout. An empty store (no batch yet)
        serves an empty corpus — a query against it returns no neighbors
        instead of PATH_NOT_FOUND."""
        return self.merged().select("cell", "neighbor_id", "v_c")

    def serve_topk(self, queries: DataFrame, k: int = 5, nprobe: int = 4,
                   query_id: str = "query_id", vec: str = "embedding") -> DataFrame:
        """Exact top-k over the probed cells of everything ingested —
        bit-identical to the batch seeded-IVF query on the same vectors."""
        q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
        q = q.withColumn("_n", norm(F.col("v_q"))).select(
            query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
        )
        return _probe_rank_preassigned(
            self.corpus(), q, self.centroids, k=k, nprobe=nprobe, query_id=query_id
        )
