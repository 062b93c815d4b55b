"""Grid-store compaction: folding per-batch grids into one compacted dir
keeps every serve bit-identical, drops replays of folded batches, ignores
crash debris, and actually bounds directory growth."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def _dirs(store):
    return sorted(os.listdir(store))


def test_quantile_store_compaction_serves_identical(spark, tmp_path):
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_events_value_quantiles_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    ev = load_table(spark, SF, "events")
    store = str(tmp_path / "store")
    acc = QuantileStreamAccumulator(spark, store)
    for i in range(3):
        acc.ingest_batch(ev.filter(F.col("event_id") % 3 == i), batch_id=i)

    before = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    rep = acc.compact()
    assert rep["folded_batches"] == 3 and rep["upto"] == 2
    assert _dirs(store) == ["compacted_upto=2"]
    after = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    assert after == before  # bit-identical fold

    # replay of a FOLDED batch must be dropped (it is inside the fold)
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 1), batch_id=1)
    assert _dirs(store) == ["compacted_upto=2"]
    assert sorted(tuple(r) for r in acc.serve_quantiles().collect()) == before

    # ingest continues after compaction; serve == whole-batch query
    # (the 3 planted batches + nothing missing)
    want = sorted(tuple(r) for r in q_events_value_quantiles_grid(spark, SF).collect())
    assert before == want

    # second-generation fold: new batches + old compacted grid fold again
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 1), batch_id=7)
    rep2 = acc.compact()
    assert rep2["folded_batches"] == 1 and rep2["upto"] == 7
    assert _dirs(store) == ["compacted_upto=7"]
    # the %3==1 rows are now counted twice — same as a batch query over
    # the union; check against the grid built from the duplicated rows
    dup = ev.union(ev.filter(F.col("event_id") % 3 == 1))
    got_cnt = acc.serve_grid().agg(F.sum("cnt")).collect()[0][0]
    assert got_cnt == dup.count()


def test_drift_store_compaction_serves_identical_and_ignores_debris(spark, tmp_path):
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    docs = load_table(spark, SF, "documents")
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    store = str(tmp_path / "store")
    mon = DriftStreamMonitor(spark, store)
    mon.ingest_batch(docs.filter(F.col("doc_id") <= half), batch_id=0)
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)

    before_ks = mon.serve_ks().collect()[0].asDict()
    before_psi = mon.serve_psi().collect()[0].asDict()
    # keep a copy of a batch dir to simulate the crash window below
    debris_src = os.path.join(store, "batch_id=1")
    debris_copy = str(tmp_path / "debris")
    shutil.copytree(debris_src, debris_copy)

    rep = mon.compact()
    assert rep["folded_batches"] == 2 and _dirs(store) == ["compacted_upto=1"]
    assert mon.serve_ks().collect()[0].asDict() == before_ks
    assert mon.serve_mann_whitney().collect()[0] is not None
    assert mon.serve_psi().collect()[0].asDict() == before_psi

    # crash window: fold renamed but a folded batch dir was not yet
    # removed — serves must IGNORE it (id <= upto), not double-count
    shutil.copytree(debris_copy, os.path.join(store, "batch_id=1"))
    assert mon.serve_ks().collect()[0].asDict() == before_ks
    # and the next compaction sweeps the debris without changing the fold
    rep2 = mon.compact()
    assert rep2["folded_batches"] == 0
    assert _dirs(store) == ["compacted_upto=1"]
    assert mon.serve_ks().collect()[0].asDict() == before_ks


def test_compaction_bounds_directory_count(spark, tmp_path):
    """The operational point: N batches -> N dirs without compaction, 1
    after — and the serve cost stays one-file-per-part, not one per batch."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    ev = load_table(spark, SF, "events").limit(500)
    store = str(tmp_path / "store")
    acc = QuantileStreamAccumulator(spark, store)
    for i in range(8):
        acc.ingest_batch(ev.filter(F.col("event_id") % 8 == i), batch_id=i)
    assert len(_dirs(store)) == 8
    total = acc.serve_grid().agg(F.sum("cnt")).collect()[0][0]
    acc.compact()
    assert len(_dirs(store)) == 1
    assert acc.serve_grid().agg(F.sum("cnt")).collect()[0][0] == total


def test_seasonality_store_compaction_spectrum_identical(spark, tmp_path):
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
        SeasonalityStreamMonitor,
    )

    ev = load_table(spark, SF, "events")
    store = str(tmp_path / "store")
    mon = SeasonalityStreamMonitor(spark, store)
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    before = sorted(tuple(r) for r in mon.serve_periodogram().collect())
    before_se = mon.serve_spectral_entropy().collect()
    rep = mon.compact()
    assert rep["folded_batches"] == 2 and _dirs(store) == ["compacted_upto=1"]
    assert sorted(tuple(r) for r in mon.serve_periodogram().collect()) == before
    assert mon.serve_spectral_entropy().collect() == before_se


def test_compaction_between_checkpointed_restarts(spark, tmp_path):
    """THE production sequence: stream → stop → compact → restart from the
    same checkpoint → stream more. The restarted query must ingest only
    new files (recovered offsets), the fold must absorb pre-restart
    batches, and the final serve must equal the whole-batch quantiles."""
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_events_value_quantiles_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    ev = load_table(spark, SF, "events")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    acc = QuantileStreamAccumulator(spark, store)

    def attach_once():
        q = acc.attach(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            ckpt,
        )
        q.awaitTermination(120)

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    attach_once()
    rep = acc.compact()
    assert rep["folded_batches"] >= 1
    assert _dirs(store) == [f"compacted_upto={rep['upto']}"]

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    attach_once()  # restart: same checkpoint, ingests ONLY the new file

    want = sorted(tuple(r) for r in q_events_value_quantiles_grid(spark, SF).collect())
    got = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    assert got == want
    # post-restart batch dirs sit ABOVE the fold (ids advanced past it)
    assert any(d.startswith("batch_id=") for d in _dirs(store))
    # fold again: one dir, same serve
    acc.compact()
    assert len(_dirs(store)) == 1
    assert sorted(tuple(r) for r in acc.serve_quantiles().collect()) == want


def test_dfindex_store_compaction_flags_identical(spark, tmp_path):
    """Folding the df grid (sum) + postings/docs (union) keeps the served
    boilerplate flags bit-identical — including the RETROACTIVE re-flag
    property: a post-fold batch can still push a folded gram over the
    threshold and re-flag folded documents."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.dfindex_stream import (
        NgramDfStreamIndex,
    )

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store")
    idx = NgramDfStreamIndex(spark, store, n=5, threshold=5)
    idx.ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    idx.ingest_batch(docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 != 0)), batch_id=1)

    before = sorted(tuple(r) for r in idx.serve_boilerplate().collect())
    rep = idx.compact()
    assert rep["df"]["folded_batches"] == 2
    assert rep["postings"]["folded_batches"] == 2
    for sub in ("df", "postings", "docs"):
        assert sorted(os.listdir(os.path.join(store, sub))) == ["compacted_upto=1"]
    assert sorted(tuple(r) for r in idx.serve_boilerplate().collect()) == before

    # replay of folded batch 1 is dropped in every sub-store
    idx.ingest_batch(docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 != 0)), batch_id=1)
    for sub in ("df", "postings", "docs"):
        assert sorted(os.listdir(os.path.join(store, sub))) == ["compacted_upto=1"]

    # post-fold ingest: serve == batch query over ALL docs (retroactive
    # re-flags included), exactly the existing batch-parity contract
    idx.ingest_batch(docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 == 0)), batch_id=2)
    from real_time_scraping_and_predicting_time_series_data_spark.operators.quality import (
        boilerplate_scores,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.operators.dedup import shingles

    sh = docs.select("doc_id", shingles(F.col("text"), 5).alias("grams"))
    inv = sh.select("doc_id", F.explode("grams").alias("_g")).select(
        "doc_id", F.xxhash64("_g").alias("gram")
    )
    base = sh.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    want = sorted(tuple(r) for r in boilerplate_scores(inv, base, threshold=5).collect())
    got = sorted(tuple(r) for r in idx.serve_boilerplate().collect())
    assert got == want


def test_cms_store_compaction_estimates_identical(spark, tmp_path):
    """CMS counters fold by cell-wise sum — served heavy-hitter estimates
    bit-identical across the fold; post-fold ingest keeps accumulating."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.sketch_stream import (
        CmsStreamAccumulator,
    )

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store")
    acc = CmsStreamAccumulator(spark, store)
    acc.ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    acc.ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_id=1)
    before = sorted(tuple(r) for r in acc.serve().collect())
    rep = acc.compact()
    assert rep["folded_batches"] == 2 and _dirs(store) == ["compacted_upto=1"]
    assert sorted(tuple(r) for r in acc.serve().collect()) == before
    # replay of a folded batch is dropped
    acc.ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_id=1)
    assert sorted(tuple(r) for r in acc.serve().collect()) == before


def test_corpus_store_compaction_first_seen_wins_preserved(spark, tmp_path):
    """Folding the accepted corpus keeps serve() and the dedup ledger
    identical: post-fold batches still anti-join against folded content,
    and a replay of a folded batch is dropped (its verdicts are the fold)."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.corpus_ingest import (
        IncrementalCorpusStore,
    )

    store = IncrementalCorpusStore(spark, str(tmp_path / "store"))
    b0 = spark.createDataFrame(
        [(1, "alpha text", "s"), (2, "beta text", "s"), (3, "alpha text", "s")],
        "doc_id long, text string, source string",
    )
    b1 = spark.createDataFrame(
        [(4, "alpha text", "s"), (5, "gamma text", "s")],
        "doc_id long, text string, source string",
    )
    store.ingest_batch(b0, batch_id=0)
    store.ingest_batch(b1, batch_id=1)
    before = sorted(r.doc_id for r in store.serve().collect())
    assert before == [1, 2, 5]  # first-seen-wins, min-id within batch

    rep = store.compact()
    assert rep["folded_batches"] == 2 and rep["upto"] == 1
    assert sorted(r.doc_id for r in store.serve().collect()) == before

    # replay of folded batch 1 is dropped (no re-publish, no dup dirs)
    store.ingest_batch(b1, batch_id=1)
    assert sorted(r.doc_id for r in store.serve().collect()) == before

    # post-fold ingest dedups against the FOLDED ledger
    b2 = spark.createDataFrame(
        [(6, "gamma text", "s"), (7, "delta text", "s")],
        "doc_id long, text string, source string",
    )
    store.ingest_batch(b2, batch_id=2)
    assert sorted(r.doc_id for r in store.serve().collect()) == [1, 2, 5, 7]


def test_ivf_index_compaction_serves_identical_topk(spark, tmp_path):
    """Folding batch_id=*/cell=* into compacted_upto=<id>/cell=* keeps the
    served top-k bit-identical to the batch seeded-IVF query, the layout
    cell-partitioned, and post-fold ingest + folded-replay-drop working."""
    from real_time_scraping_and_predicting_time_series_data_spark.operators.similarity import (
        ivf_topk_seeded,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.ann_ingest import (
        IvfStreamIndex,
        seed_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store = str(tmp_path / "store")
    idx = IvfStreamIndex(spark, store, seed_centroids(emb, 16))
    idx.ingest_batch(emb.filter(F.col("vec_id") % 3 == 0), batch_id=0)
    idx.ingest_batch(emb.filter(F.col("vec_id") % 3 == 1), batch_id=1)

    rep = idx.compact()
    assert rep["folded_batches"] == 2
    assert _dirs(store) == ["compacted_upto=1"]
    # still cell-partitioned under the fold
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(store, "compacted_upto=1"))
    )

    # folded replay dropped; post-fold ingest completes the corpus
    idx.ingest_batch(emb.filter(F.col("vec_id") % 3 == 1), batch_id=1)
    assert _dirs(store) == ["compacted_upto=1"]
    idx.ingest_batch(emb.filter(F.col("vec_id") % 3 == 2), batch_id=2)

    got = sorted(tuple(r) for r in idx.serve_topk(queries, k=5, nprobe=4).collect())
    want = sorted(
        tuple(r)
        for r in ivf_topk_seeded(emb, queries, k=5, n_cells=16, nprobe=4).collect()
    )
    assert len(want) > 0 and got == want


def test_neardup_store_compaction_admission_unchanged(spark, tmp_path):
    """Union-folding the accepted near-dup store keeps the band ledger
    working: a post-fold near-duplicate of a folded doc is still rejected,
    a novel doc admitted, and a folded replay dropped."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.neardup_ingest import (
        NearDupCorpusStore,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " tokX"
    other = " ".join(f"zzz{i}" for i in range(40))
    store = NearDupCorpusStore(spark, str(tmp_path / "store"), threshold=0.5, bands=8)
    store.ingest_batch(
        spark.createDataFrame([(1, base, "s")], "doc_id long, text string, source string"),
        batch_id=0,
    )
    rep = store.compact()
    assert rep["folded_batches"] == 1
    # folded replay dropped
    store.ingest_batch(
        spark.createDataFrame([(1, base, "s")], "doc_id long, text string, source string"),
        batch_id=0,
    )
    # near-dup of FOLDED content rejected; novel admitted
    store.ingest_batch(
        spark.createDataFrame(
            [(2, near, "s"), (3, other, "s")], "doc_id long, text string, source string"
        ),
        batch_id=1,
    )
    assert sorted(r.doc_id for r in store.serve().collect()) == [1, 3]


def test_semantic_store_compaction_ledger_unchanged(spark, tmp_path):
    """Union-folding the semantic-dedup ledger: a post-fold vector
    semantically near a FOLDED acceptee is still rejected; the serve
    invariant (no same-cell pair above tau) holds across the fold."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.ann_ingest import (
        seed_centroids,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.semantic_ingest import (
        SemanticDedupStore,
    )

    import math

    def _e(axis, eps):
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 4) % 8] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]

    rows = [(i, _e(i, 0.0), 0) for i in range(4)]
    seeds = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    store_dir = str(tmp_path / "store")
    store = SemanticDedupStore(
        spark, store_dir, seed_centroids(seeds, n_cells=4), threshold=0.9
    )
    b0 = rows + [(100, _e(0, 0.10), 0)]
    store.ingest_batch(
        spark.createDataFrame(b0, "vec_id long, embedding array<double>, label int"),
        batch_id=0,
    )
    before = sorted(r.vec_id for r in store.serve().collect())
    rep = store.compact()
    assert rep["folded_batches"] == 1
    assert sorted(r.vec_id for r in store.serve().collect()) == before

    # near-dups of FOLDED acceptees (cos 0.999 to seed 0, 0.98 to seed 1)
    # rejected against the folded ledger; a genuinely novel direction in
    # cell 1 (cos 0.707 to seed 1, below tau) admitted
    store.ingest_batch(
        spark.createDataFrame(
            [(200, _e(0, 0.05), 0), (201, _e(1, 0.2), 0), (202, _e(1, 1.0), 0)],
            "vec_id long, embedding array<double>, label int",
        ),
        batch_id=1,
    )
    after = sorted(r.vec_id for r in store.serve().collect())
    assert after == before + [202]


def _plant_debris(store, upto):
    """Crash debris a fold must sweep: a batch dir at or below the fold
    (a copy of the fold itself, as a crash before the sweep leaves it) and
    a half-written staging dir."""
    shutil.copytree(
        os.path.join(store, f"compacted_upto={upto}"), os.path.join(store, f"batch_id={upto}")
    )
    os.makedirs(os.path.join(store, "_staging_batch_id_9"))


def test_corpus_store_compaction_sweeps_debris_without_live_batches(spark, tmp_path):
    """A corpus-family fold with NO live batches still sweeps folded batch
    dirs and staging debris, leaving only the compacted dir — the serve
    ignored the debris before and is unchanged after."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.corpus_ingest import (
        IncrementalCorpusStore,
    )

    store = IncrementalCorpusStore(spark, str(tmp_path / "store"))
    schema = "doc_id long, text string, source string"
    store.ingest_batch(
        spark.createDataFrame([(1, "alpha text", "s"), (2, "beta text", "s")], schema), 0
    )
    store.ingest_batch(spark.createDataFrame([(3, "alpha text", "s")], schema), 1)
    store.compact()
    accepted = str(tmp_path / "store" / "accepted")
    _plant_debris(accepted, 1)
    assert sorted(r.doc_id for r in store.serve().collect()) == [1, 2]

    rep = store.compact()
    assert rep["folded_batches"] == 0 and rep["upto"] == 1
    assert _dirs(accepted) == ["compacted_upto=1"]
    assert sorted(r.doc_id for r in store.serve().collect()) == [1, 2]


def test_ivf_index_compaction_keeps_cell_layout_and_sweeps_debris(spark, tmp_path):
    """The IVF fold writes ``compacted_upto=N/cell=C/`` (pruned probes
    still work on the fold), and a fold with no live batches sweeps crash
    debris down to that one directory."""
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.ann_ingest import (
        IvfStreamIndex,
        seed_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "store")
    idx = IvfStreamIndex(spark, store, seed_centroids(emb, 16))
    idx.ingest_batch(emb.filter(F.col("vec_id") % 2 == 0), batch_id=0)
    idx.ingest_batch(emb.filter(F.col("vec_id") % 2 == 1), batch_id=1)
    n = idx.corpus().count()
    idx.compact()
    _plant_debris(store, 1)

    rep = idx.compact()
    assert rep["folded_batches"] == 0
    assert _dirs(store) == ["compacted_upto=1"]
    fold = os.listdir(os.path.join(store, "compacted_upto=1"))
    assert len([d for d in fold if d.startswith("cell=")]) > 1
    assert idx.corpus().count() == n == emb.count()


def test_store_scaffolding_lives_only_in_store_compaction():
    """Guard: the idempotent-sink scaffolding (foreachBatch wiring, the
    staging-rename publish, fold bookkeeping, raw renames) is written once,
    in store_compaction.py.  pipeline.py (the reference pipeline) and
    continuous_agg.py (a generation layout) keep their own sinks."""
    import ast

    from real_time_scraping_and_predicting_time_series_data_spark import streaming

    allowed = {"store_compaction.py", "pipeline.py", "continuous_agg.py"}
    banned = {"foreachBatch", "publish_dir", "compacted_upto"}
    root = os.path.dirname(streaming.__file__)
    offenders = []
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py") or name in allowed:
            continue
        with open(os.path.join(root, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            called = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            is_os_rename = (
                isinstance(fn, ast.Attribute)
                and fn.attr in ("rename", "replace")
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "os"
            )
            if called in banned or is_os_rename:
                offenders.append(f"{name}:{node.lineno} {called}")
    assert offenders == []
