"""Keyed upsert (MERGE) into a parquet dataset without a table format.

Plain parquet has no transactional MERGE; the operational pattern is
read -> anti-join out the updated keys -> union the new rows ->
rewrite -> ``fs.swap_dir`` (move aside, move in, roll back on
failure), so a failed rewrite can never leave a half-written dataset. This is the CDC-apply shape for mutable
dimensions (customer records, document metadata) next to the engine's
append-only corpora; at 100 TB you run it per partition (pass
``partition_by`` so only touched hive partitions rewrite their files
— untouched partitions still rewrite here for simplicity, which is the
honest cost of parquet-without-a-table-format; a real lakehouse table
format would do file-level pruning, and this function is the seam
where Delta/Iceberg's MERGE would plug in).

Semantics: rows in ``updates`` REPLACE existing rows with the same
key; keys absent from the dataset INSERT. One row per key in updates
is the caller's contract (enforced here — duplicate update keys raise,
because "last writer wins" over an unordered DataFrame is
nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark import fs


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Merge ``updates`` into the parquet dataset at ``path`` by
    ``key``. Returns {"updated": n, "inserted": n, "total": n}."""
    dup = updates.groupBy(key).count().filter(F.col("count") > 1).count()
    if dup:
        raise ValueError(
            f"upsert updates contain {dup} duplicate key(s) — ambiguous merge"
        )

    # a prior swap on this path leaves a stale cached file listing in
    # the session; drop it so repeated merges in one session work
    spark.catalog.refreshByPath(path)
    existing = spark.read.parquet(path)
    if set(existing.columns) != set(updates.columns):
        raise ValueError(
            f"upsert schema mismatch: dataset {sorted(existing.columns)} "
            f"vs updates {sorted(updates.columns)}"
        )

    n_before = existing.count()
    survivors = existing.join(updates.select(key), key, "left_anti")
    n_survivors = survivors.count()
    n_updates = updates.count()
    merged = survivors.unionByName(updates)

    tmp = path.rstrip("/") + ".upsert_tmp"
    writer = merged.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(tmp)
    fs.swap_dir(spark, tmp, path, "upsert")

    return {
        "updated": n_before - n_survivors,
        "inserted": n_updates - (n_before - n_survivors),
        "total": n_survivors + n_updates,
    }


def erase_keys_parquet(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Right-to-be-forgotten delete: remove every row whose ``key`` is
    in ``keys`` and rewrite the dataset through the same crash-safe
    rename swap as ``upsert_parquet``. Returns {"erased": n, "kept": n}.

    Idempotent by construction (erasing already-absent keys is a
    no-op rewrite), which is what a compliance replay needs — enabled
    by the refreshByPath below: the rename swap invalidates Spark's
    cached file listing for ``path``, so a same-session re-read must
    drop it or fail on the swapped-out files. At 100 TB the same
    economics note as upsert applies: partition the dataset by a
    coarse key prefix and rewrite only touched partitions; a lakehouse
    table format's deletion vectors would plug in at this seam.

    Caller contract: ``keys`` must not be a live plan over ``path``
    itself ACROSS calls — a DataFrame created before a swap pins the
    pre-swap file listing and fails on replay. Pass a materialized
    manifest (collected keys / separate dataset); within a single call
    keys derived from ``path`` are fine (fully consumed before the
    swap)."""
    spark.catalog.refreshByPath(path)
    existing = spark.read.parquet(path)
    n_before = existing.count()
    survivors = existing.join(keys.select(key).distinct(), key, "left_anti")
    n_kept = survivors.count()

    tmp = path.rstrip("/") + ".erase_tmp"
    writer = survivors.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(tmp)
    fs.swap_dir(spark, tmp, path, "erase")

    return {"erased": n_before - n_kept, "kept": n_kept}
