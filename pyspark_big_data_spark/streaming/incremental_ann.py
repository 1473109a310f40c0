"""Continuous incremental ANN: the streaming loop around a persisted
IVF index — the similarity-search twin of incremental_dedup.py.

The index directory holds two parquet datasets:
- ``{index_dir}/vectors``: (vec_id, e, cell), partitioned by cell so a
  probe reads ONLY its probed cells' files (partition pruning is the
  IVF scan discount made physical);
- ``{index_dir}/centroids``: (cell, pos, cval, cn) — the coarse
  quantizer, frozen at build time (the standard IVF operating mode:
  new vectors are quantized by the existing centroids; re-training is
  an offline rebuild).

Each micro-batch of arriving vectors is assigned to its top-n_probe
cells by centroid cosine, searched for exact-cosine top-k against the
index's vectors IN THOSE CELLS (old x new — plus everything appended by
earlier batches, so late near-neighbors are still found), and then
appended to the index under its top-1 cell. No corpus vector is ever
re-embedded or re-assigned.

Same design call as the dedup loop: foreachBatch over a parquet index
rather than stream-native state, because ANN state must outlive any
watermark horizon and stay offline-queryable/compactable.

Equivalence contract (tests/test_incremental_ann.py): a single batch
processed against an index built from the corpus split reproduces
queries/ann_ivf.py::ann_topk_ivf_incremental's oracled result, up to
float summation order (the operator uses plain double aggregation — the
production tier — so agreement is cosine-at-rank within _AGREE_TOL,
exactly the np-tier rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.functions import vectors as V

_NPROBE = 4
_TOP_K = 5


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).first()
    return row["d"] if row else 0


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "e",
    exact: bool = False,
) -> None:
    """Seed the index from an existing corpus: write (id, e, cell)
    partitioned by cell, plus element-wise mean centroids with their
    norms. Centroid aggregation is plain double by default (operational
    tier; the decimal-exact differential twin is queries/ann_ivf.py);
    ``exact=True`` switches the cross-row sums to DECIMAL(38,18) so the
    frozen quantizer is bit-reproducible by a sequential-scan engine —
    what the streaming replay witness needs to pin the persisted index
    cell-for-cell against DuckDB."""
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("e"),
        F.col(cell_col).alias("cell"),
    )
    vecs.write.mode("overwrite").partitionBy("cell").parquet(f"{index_dir}/vectors")

    pv = vecs.select(
        "cell", F.posexplode("e").alias("pos", "val")
    )
    if exact:
        dec = "decimal(38,18)"
        cent = pv.groupBy("cell", "pos").agg(
            (F.sum(F.col("val").cast(dec)).cast("double") / F.count("val")).alias(
                "cval"
            )
        )
        cn = cent.groupBy("cell").agg(
            F.sqrt(
                F.sum((F.col("cval") * F.col("cval")).cast(dec)).cast("double")
            ).alias("cn")
        )
    else:
        cent = pv.groupBy("cell", "pos").agg(F.avg("val").alias("cval"))
        cn = cent.groupBy("cell").agg(
            F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn")
        )
    cent.join(cn, "cell").write.mode("overwrite").parquet(f"{index_dir}/centroids")


def process_vector_batch(
    batch: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "e",
    n_probe: int = _NPROBE,
    k: int = _TOP_K,
) -> DataFrame:
    """One incremental step: quantize `batch` by the frozen centroids,
    search its top-``n_probe`` cells of the persisted index for exact
    cosine top-``k``, append the batch to the index (top-1 cell), and
    return the (probe_id, neighbor_id, cosine, rnk) neighbors.

    Search BEFORE append: neighbors are old x new only (plus earlier
    batches, already in the index) — a vector is never its own
    neighbor. The returned frame is localCheckpoint-ed before the
    append so it can never lazily re-read the mutated index."""
    spark = batch.sparkSession
    if not fs.exists(spark, f"{index_dir}/centroids"):
        raise ValueError(
            f"incremental ANN index at {index_dir} is missing centroids; "
            "seed it with build_ivf_index first"
        )
    b = batch.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e")).cache()
    dim = _dim_of(b, "e")

    cent = spark.read.parquet(f"{index_dir}/centroids")
    # centroid matrix is cells x dim — land it and broadcast as flat
    # columns (same JIT rationale as operators/kmeans.py)
    crows = cent.collect()
    byc: dict = {}
    cns: dict = {}
    for r in crows:
        byc.setdefault(r["cell"], {})[r["pos"]] = r["cval"]
        cns[r["cell"]] = r["cn"]
    flat_rows = [
        tuple([cell] + [d[p] for p in range(dim)] + [cns[cell]])
        for cell, d in sorted(byc.items())
    ]
    from pyspark.sql.types import DoubleType, StructField, StructType

    cent_flat = spark.createDataFrame(
        flat_rows,
        StructType(
            [StructField("cell", cent.schema["cell"].dataType)]
            + [StructField(f"_c{i}", DoubleType()) for i in range(dim)]
            + [StructField("cn", DoubleType())]
        ),
    )

    bf = V.flatten_vec(
        b.withColumn("bn", V.norm(F.col("e"))), "e", dim, "_x", ["vec_id", "bn"]
    )
    ccos = V.dot_flat("_x", "_c", dim) / (F.col("bn") * F.col("cn"))
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    assign = (
        bf.withColumn("_one", F.lit(1))
        .join(F.broadcast(cent_flat.withColumn("_one", F.lit(1))), "_one")
        .withColumn("ccos", ccos)
        .withColumn("cell_rnk", F.row_number().over(w_cell))
        .filter(F.col("cell_rnk") <= n_probe)
        .select("vec_id", "cell", "cell_rnk")
    )
    probed_cells = [r["cell"] for r in assign.select("cell").distinct().collect()]

    # partition-pruned scan: only the probed cells' files are read
    idx = spark.read.parquet(f"{index_dir}/vectors").filter(
        F.col("cell").isin(probed_cells)
    )
    nf = V.flatten_vec(
        idx.withColumn("nn", V.norm(F.col("e"))).select(
            F.col("vec_id").alias("neighbor_id"), F.col("cell").alias("n_cell"), "nn", "e"
        ),
        "e", dim, "_n", ["neighbor_id", "n_cell", "nn"],
    )
    pf = V.flatten_vec(
        b.withColumn("pn", V.norm(F.col("e"))).select(
            F.col("vec_id").alias("probe_id"), "pn", "e"
        ),
        "e", dim, "_p", ["probe_id", "pn"],
    )
    cos = V.dot_flat("_p", "_n", dim) / (F.col("pn") * F.col("nn"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    neighbors = (
        assign.select(F.col("vec_id").alias("probe_id"), "cell")
        .join(F.broadcast(pf), "probe_id")
        .join(nf, F.col("n_cell") == F.col("cell"))
        .withColumn("cos", cos)
        .select("probe_id", "neighbor_id", "cos")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rnk")
    )
    neighbors = neighbors.localCheckpoint(eager=True)

    top1 = assign.filter(F.col("cell_rnk") == 1).select("vec_id", "cell")
    b.join(top1, "vec_id").select("vec_id", "e", "cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{index_dir}/vectors")
    b.unpersist()
    return neighbors


def run_ann_stream(
    spark: SparkSession,
    jsonl_dir: str,
    schema,
    index_dir: str,
    neighbors_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Wire the incremental ANN step into a Structured Streaming
    foreachBatch sink over a JSONL drop directory (one vector per line:
    {"vec_id": ..., "e": [...]}); availableNow-triggered so it also
    serves as a catch-up/backfill runner. Returns the StreamingQuery.

    Same design as incremental_dedup.run_dedup_stream: the IVF index is
    parquet partitioned by cell (offline-compactable), micro-batch size
    is the file-source maxFilesPerTrigger knob, and the query shape
    stays exactly process_vector_batch — search before append, so every
    new vector sees the corpus plus every batch before it."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        out = process_vector_batch(batch_df, index_dir)
        out.write.mode("append").parquet(neighbors_dir)

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
