"""Batch ↔ streaming parity for the incremental Gram accumulator: the
served spectral audit over embeddings ingested across micro-batches must
be value-exact against `embedding_pca_power` run as one batch, and the
store must be replay-safe and compaction-invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import (
    all_queries,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.pca_stream import (
    GramStreamAccumulator,
)

SF = "/root/testdata/sf0.001"


def _batch_want(spark):
    return sorted(
        map(tuple, all_queries()["embedding_pca_power"].fn(spark, SF).collect())
    )


def test_pca_stream_serve_matches_batch(spark, tmp_path):
    """4 micro-batches through a checkpointed file stream → served
    spectrum equals the one-pass batch audit."""
    emb = load_table(spark, SF, "embeddings")
    src = str(tmp_path / "src")
    for i in range(4):
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    acc = GramStreamAccumulator(spark, str(tmp_path / "store"))
    q = acc.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert sorted(map(tuple, acc.serve_pca().collect())) == _batch_want(spark)


def test_pca_stream_replay_and_compaction(spark, tmp_path):
    """At-least-once replay overwrites its own grid; compact() folds the
    partials to one dim²-row grid with an identical served spectrum and
    drops folded replays."""
    emb = load_table(spark, SF, "embeddings")
    part = lambda i: emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == i)  # noqa: E731
    acc = GramStreamAccumulator(spark, str(tmp_path / "store"))
    acc.ingest_batch(part(0), 0)
    acc.ingest_batch(part(1), 1)
    want = _batch_want(spark)
    assert sorted(map(tuple, acc.serve_pca().collect())) == want

    acc.ingest_batch(part(0), 0)  # replay: overwrite, no double count
    assert sorted(map(tuple, acc.serve_pca().collect())) == want

    rep = acc.compact()
    assert rep["upto"] == 1
    assert acc.serve_gram().count() == 64 * 64
    assert sorted(map(tuple, acc.serve_pca().collect())) == want
    acc.ingest_batch(part(1), 1)  # folded replay: dropped
    assert sorted(map(tuple, acc.serve_pca().collect())) == want


def _gram_of(spark, rows):
    from real_time_scraping_and_predicting_time_series_data_spark.operators.similarity import (
        gram_partial,
    )

    # one partition: every row reaches the kernel in the same Arrow batch
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    return gram_partial(df).collect()


def test_gram_partial_rejects_null_element(spark):
    """A null element would turn into NaN and poison every partial Gram
    entry; the kernel must refuse the batch instead."""
    import pytest

    good = [float(i) for i in range(64)]
    bad = good[:10] + [None] + good[11:]
    with pytest.raises(Exception, match="gram_partial: null element"):
        _gram_of(spark, [(0, good), (1, bad)])


def test_gram_partial_rejects_ragged_vectors(spark):
    """Rows of 63 and 65 elements add up to 128 = 2 × 64 and would reshape
    silently into two wrong 64-vectors; the kernel must refuse them."""
    import pytest

    with pytest.raises(Exception, match="vector length is not 64"):
        _gram_of(spark, [(0, [1.0] * 63), (1, [1.0] * 65)])
