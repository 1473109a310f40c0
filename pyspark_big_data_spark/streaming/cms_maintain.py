"""Continuous count-min sketch maintenance: a persisted d x w grid that
micro-batches fold into by cell-wise ADD.

CMS is the sketch you maintain INCREMENTALLY — cells add, so a day's
grid is the sum of its batches' grids, and shards/streams merge without
ever re-touching old documents (the property pinned batch-side in
tests/test_sketch_freq.py::test_cms_cells_merge_across_shards). This
module is the operational loop around that algebra, shaped like
streaming/incremental_dedup.py:

- ``update_cms_index`` folds one batch into the persisted grid with a
  crash-safe tmp -> rename swap (``fs.swap_dir``);
- idempotence under foreachBatch REDELIVERY is load-bearing: adds are
  not naturally idempotent (a re-applied batch double-counts), so the
  applied batch_id rides ON EVERY GRID ROW and is swapped atomically
  with the cells — a redelivered batch_id <= the stored one is a no-op.
  State and data cannot desynchronize because they are one file;
- ``run_cms_stream`` wires it under foreachBatch;
- ``cms_lookup`` answers point queries from the stored grid alone (the
  whole point: the corpus is never re-read).

Scale notes: the per-batch work is the batch's own vocab aggregate plus
a <= d*w-row merge; the persisted artifact is d*w rows regardless of
corpus size. At 100 TB the grid is still 2048 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.functions import text as TX
from pyspark_big_data_spark.io import ensure_min_partitions
from pyspark_big_data_spark.queries.sketch_freq import cms_cells, cms_estimate


def _batch_grid(batch: DataFrame, text_col: str = "text") -> DataFrame:
    toks = ensure_min_partitions(
        batch.select(F.explode(TX.tokens(F.col(text_col))).alias("tok"))
    )
    return cms_cells(toks)


def update_cms_index(
    batch: DataFrame, index_dir: str, batch_id: int, text_col: str = "text"
) -> dict:
    """Fold one document batch into the persisted grid at
    ``{index_dir}/grid``. Returns {"applied": bool, "cells": n}."""
    spark = batch.sparkSession
    grid_path = f"{index_dir}/grid"
    if fs.exists(spark, grid_path):
        old = spark.read.parquet(grid_path)
        last = old.agg(F.max("last_batch_id")).first()[0]
        if last is not None and batch_id <= last:
            return {"applied": False, "cells": old.count()}
        merged = (
            old.select("seed", "bucket", "cell")
            .unionByName(_batch_grid(batch, text_col))
            .groupBy("seed", "bucket")
            .agg(F.sum("cell").alias("cell"))
        )
    else:
        merged = _batch_grid(batch, text_col)

    out = merged.withColumn("last_batch_id", F.lit(batch_id).cast("long"))
    tmp = grid_path + ".tmp"
    out.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    fs.swap_dir(spark, tmp, grid_path, "cms")
    return {"applied": True, "cells": n}


def run_cms_stream(docs_stream: DataFrame, index_dir: str, checkpoint_dir: str):
    """foreachBatch loop: every micro-batch of documents folds into the
    persisted grid; Structured Streaming's batch_id makes restarts and
    redeliveries no-ops via the in-grid marker."""
    return (
        docs_stream.writeStream.foreachBatch(
            lambda df, bid: update_cms_index(df, index_dir, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cms_lookup(spark: SparkSession, index_dir: str, tokens: list[str]) -> DataFrame:
    """Point-query the PERSISTED grid for the given tokens — no corpus
    access. Returns (token, est_cnt)."""
    cells = spark.read.parquet(f"{index_dir}/grid").select("seed", "bucket", "cell")
    cand = spark.createDataFrame([(t,) for t in tokens], "token string")
    return cms_estimate(cand, cells)
