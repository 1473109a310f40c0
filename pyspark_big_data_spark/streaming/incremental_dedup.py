"""Continuous incremental MinHash dedup: the streaming loop around
queries/dedup.py's persisted band-key index.

Each micro-batch of arriving documents is hashed ONCE, probed against
the index (band equi-join -> estimator filter, the exact
dedup_minhash_incremental semantics), its near-dup pairs appended to a
pairs sink, and its own signatures/band keys APPENDED to the index —
so the index grows with the corpus and every batch joins against
everything that arrived before it. No corpus document is ever
re-shingled.

This is foreachBatch rather than a stateful streaming join on purpose:
the dedup "state" (signatures + band keys) must outlive any watermark
horizon — a duplicate may arrive months later — and as a parquet index
it is shared with the BATCH incremental path, queryable, and compactable
offline (tools/compact_index.py — run it between batches to undo the
per-append small-file fragmentation; the swap is rename-based and
crash-safe). Stream-native state stores bound state by time; a dedup index
is bounded by corpus size only. (The watermark-bounded tier for
recent-window dedup is streaming/corpus_ingest.py.)

Determinism of OUTPUT (not arrival order): the pair set produced by any
micro-batch partitioning of the corpus equals the full-recompute pair
set — asserted in tests/test_streaming.py with a 3-batch replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.operators import dedup as DD
from pyspark_big_data_spark.queries.dedup import _EST_THRESHOLD


def process_document_batch(
    batch: DataFrame, index_dir: str, pairs_dir: str | None = None
) -> DataFrame:
    """One incremental step: probe `batch` against the index at
    `index_dir`, append the batch to the index, return (and optionally
    append to `pairs_dir`) the new near-dup pairs.

    Probe BEFORE append, and self-pairs via the batch's own bands union
    — so pairs are emitted exactly once (old x new and new x new, never
    old x old)."""
    spark = batch.sparkSession
    batch_sigs = DD.minhash_signatures(DD.shingles(batch)).cache()
    batch_bands = DD.band_keys(batch_sigs).cache()

    if fs.exists(spark, f"{index_dir}/sigs"):
        # Read errors past this point (corrupt footer, truncated part
        # file, missing bands dir) propagate and fail the batch.
        idx_sigs = spark.read.parquet(f"{index_dir}/sigs")
        idx_bands = spark.read.parquet(f"{index_dir}/bands").select("doc_id", "band_no", "band")
        all_bands = idx_bands.unionByName(batch_bands)
        all_sigs = idx_sigs.unionByName(batch_sigs)
    else:  # first batch: empty index
        all_bands = batch_bands
        all_sigs = batch_sigs

    a = batch_bands.select(F.col("doc_id").alias("id_x"), "band_no", "band")
    b = all_bands.select(
        F.col("doc_id").alias("id_y"),
        F.col("band_no").alias("band_no_y"),
        F.col("band").alias("band_y"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_no") == F.col("band_no_y"))
            & (F.col("band") == F.col("band_y"))
            & (F.col("id_x") != F.col("id_y")),
        )
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
    )
    pairs = (
        DD.estimated_jaccard(cand, all_sigs)
        .filter(F.col("est_jaccard") >= _EST_THRESHOLD)
    )
    # Materialize pairs BEFORE the index append mutates the read path —
    # in BOTH branches. localCheckpoint truncates lineage, so the
    # returned handle can never lazily re-read the mutated index (a
    # cache could be evicted and silently recompute over batch-on-both-
    # sides unions; a sink write materializes the sink, not the handle).
    pairs = pairs.localCheckpoint(eager=True)
    if pairs_dir is not None:
        pairs.write.mode("append").parquet(pairs_dir)

    batch_sigs.write.mode("append").parquet(f"{index_dir}/sigs")
    batch_bands.write.mode("append").partitionBy("band_no").parquet(f"{index_dir}/bands")
    return pairs


def update_cluster_map(batch_ids: DataFrame, pairs: DataFrame, map_dir: str) -> DataFrame:
    """Fold one batch into the persisted duplicate-cluster map: read the
    (id, component) parquet at ``map_dir`` (absent = first batch), merge
    via operators.graph.merge_components_incremental (CC only on the
    contracted touched subgraph), overwrite the map, return it.

    Pairs should be the batch's NEW pairs (old x new and new x new) —
    exactly what process_document_batch returns — so chaining the two
    per micro-batch maintains survivor-ready clusters continuously
    without ever re-clustering the corpus. The merged frame is
    localCheckpoint-ed before the overwrite so the write never races
    its own read path."""
    from pyspark_big_data_spark.operators.graph import merge_components_incremental

    spark = batch_ids.sparkSession
    ids = batch_ids.select(F.col(batch_ids.columns[0]).alias("id"))
    if fs.exists(spark, map_dir):
        cmap = spark.read.parquet(map_dir)
    else:
        cmap = spark.createDataFrame([], "id long, component long")
    updated = merge_components_incremental(cmap, ids, pairs).localCheckpoint(eager=True)
    updated.write.mode("overwrite").parquet(map_dir)
    return updated


def run_dedup_stream(
    spark: SparkSession,
    jsonl_dir: str,
    schema,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Wire the incremental step into a Structured Streaming foreachBatch
    sink over a JSONL drop directory; availableNow-triggered so it also
    serves as a catch-up/backfill runner. Returns the StreamingQuery.

    At 100 TB: the index append is partitioned by band_no (see
    build_minhash_index notes on bucketing), micro-batch size is the
    file-source maxFilesPerTrigger knob, and offline compaction of
    `{index_dir}/bands` keeps file counts bounded — all outside the
    query shape, which stays exactly process_document_batch."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        process_document_batch(batch_df, index_dir, pairs_dir=pairs_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.json(jsonl_dir)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
