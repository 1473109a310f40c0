"""The filesystem seam (pyspark_big_data_spark/fs.py): it is the only
module that touches Hadoop's FileSystem, every directory swap rolls
back when its move-into-place fails, and listings keep the scheme of a
remote root."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.operators import versioned


def test_only_fs_module_touches_hadoop_fs():
    repo = Path(__file__).resolve().parents[1]
    seam = repo / "pyspark_big_data_spark" / "fs.py"
    pat = re.compile(r"org\.apache\.hadoop\.fs|getFileSystem|def _fs\b")
    offenders = [
        str(p.relative_to(repo))
        for d in ("pyspark_big_data_spark", "tools")
        for p in sorted((repo / d).rglob("*.py"))
        if p != seam and pat.search(p.read_text())
    ]
    assert offenders == []


# Each swap_dir caller: (label, seed the dataset -> its path, run the
# swap that rewrites it).


def _customer(spark, sf_dir, tmp):
    path = f"{tmp}/dim"
    read_table(spark, sf_dir, "customer").write.parquet(path)
    return path


def _upsert(spark, sf_dir, tmp):
    from pyspark_big_data_spark.operators.upsert import upsert_parquet

    path = _customer(spark, sf_dir, tmp)
    return path, lambda: upsert_parquet(
        spark, path, spark.read.parquet(path).limit(1), "c_custkey"
    )


def _erase(spark, sf_dir, tmp):
    from pyspark_big_data_spark.operators.upsert import erase_keys_parquet

    path = _customer(spark, sf_dir, tmp)
    return path, lambda: erase_keys_parquet(
        spark, path, spark.read.parquet(path).limit(1), "c_custkey"
    )


def _cdc_apply(spark, sf_dir, tmp):
    from pyspark_big_data_spark.operators.cdc import apply_changes

    path = f"{tmp}/snap"
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(path)
    log = spark.createDataFrame(
        [(1, 1, "u", "x"), (2, 1, "d", None)], "k long, seq long, op string, v string"
    )
    return path, lambda: apply_changes(spark, path, log, key="k")


def _cms_grid(spark, sf_dir, tmp):
    from pyspark_big_data_spark.streaming.cms_maintain import update_cms_index

    docs = read_table(spark, sf_dir, "documents").limit(40)
    idx = f"{tmp}/cms"
    update_cms_index(docs.filter(F.col("doc_id") % 2 == 0), idx, batch_id=0)
    return f"{idx}/grid", lambda: update_cms_index(
        docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id=1
    )


def _compaction(spark, sf_dir, tmp):
    import tools.compact_index as CI
    from pyspark_big_data_spark.streaming.incremental_dedup import (
        process_document_batch,
    )

    idx = f"{tmp}/index"
    process_document_batch(read_table(spark, sf_dir, "documents").limit(100), idx)
    path = f"{idx}/sigs"
    return path, lambda: CI.compact_dataset(spark, path)


def _pca_moments(spark, sf_dir, tmp):
    from pyspark_big_data_spark.queries.pca_reduce import update_moments

    def batch(lo):
        return spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(lo, lo + 5)],
            "vec_id long, e array<double>",
        )

    path = f"{tmp}/moments"
    update_moments(batch(0), 2, path)
    return path, lambda: update_moments(batch(5), 2, path)


@pytest.mark.parametrize(
    "label, case",
    [
        ("upsert", _upsert),
        ("erase", _erase),
        ("cdc", _cdc_apply),
        ("cms", _cms_grid),
        ("compaction", _compaction),
        ("moments", _pca_moments),
    ],
    ids=["upsert", "erase", "cdc_apply", "cms_grid", "compaction", "pca_moments"],
)
def test_swap_rolls_back_when_move_in_fails(
    spark, sf_dir, tmp_path, monkeypatch, label, case
):
    """A failed move-into-place raises and puts the original dataset
    back, readable and unchanged: a half-swapped directory would read
    as absent and silently restart or empty the state it holds."""
    path, swap = case(spark, sf_dir, str(tmp_path))
    before = sorted(map(repr, spark.read.parquet(path).collect()))
    real_rename = fs.rename

    def failing_move_in(spark_, src, dst):
        if src.rstrip("/").endswith("tmp"):
            return False
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fs, "rename", failing_move_in)
    with pytest.raises(RuntimeError, match=f"{label} swap failed: .* into place"):
        swap()
    monkeypatch.undo()
    spark.catalog.refreshByPath(path)
    assert sorted(map(repr, spark.read.parquet(path).collect())) == before
    assert not os.path.exists(f"{path}.{label}_old")


def _tree(root):
    for d in ("v=0", "v=1", "v=10", ".staging_v2.abc", "b/s=0", "b/s=3", "b/.staging_x"):
        os.makedirs(root / d)
    (root / "v=9").write_text("a file, not a version")
    for name in ("part-1.parquet", "part-0.parquet", "_SUCCESS", ".part-0.parquet.crc"):
        (root / "v=1" / name).write_text("")


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_hadoop_listing_matches_local_and_keeps_scheme(
    spark, tmp_path, monkeypatch, scheme
):
    """Both listing branches answer every listing alike, and the paths
    they return keep the root's form: scheme-qualified iff the root
    names a scheme."""
    _tree(tmp_path / "t")
    root = f"{scheme}{tmp_path / 't'}"

    def listings():
        return (
            versioned.list_versions(spark, root),
            versioned._list_parquet_files(spark, f"{root}/v=1"),
            fs.list_numbered_dirs(spark, f"{root}/b", "s="),
            fs.list_numbered_dirs(spark, f"{root}/missing", "v="),
        )

    local = listings()
    assert local == (
        [0, 1, 10],
        [f"{root}/v=1/part-0.parquet", f"{root}/v=1/part-1.parquet"],
        [0, 3],
        [],
    )
    monkeypatch.setattr(fs, "_driver_readable", lambda path: False)
    assert listings() == local


def test_remote_root_stats_come_from_distributed_footer_pass(
    spark, tmp_path, monkeypatch
):
    """On a root the driver cannot read, listed files keep the root's
    scheme, so the commit's footer stats are read by the distributed
    pass instead of being opened locally as scheme-less paths."""
    root = f"file:{tmp_path / 't'}"
    remote = lambda path: not str(path).startswith("file:")  # noqa: E731
    monkeypatch.setattr(fs, "_driver_readable", remote)
    monkeypatch.setattr(versioned, "_driver_readable", remote)
    driver_reads = []
    real_entry = versioned._file_footer_entry

    def spy(path, cols):
        driver_reads.append(path)
        return real_entry(path, cols)

    monkeypatch.setattr(versioned, "_file_footer_entry", spy)
    df = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
    v = versioned.write_version(df.repartitionByRange(2, "k"), root, stats_cols=["k"])

    files = versioned._list_parquet_files(spark, f"{root}/v={v}")
    assert len(files) == 2 and all(p.startswith("file:/") for p in files)
    assert driver_reads == []
    m = versioned.manifest(spark, root, v)
    assert sorted(m["files"]) == sorted(os.path.basename(p) for p in files)
    assert sorted(m["files"][os.path.basename(p)]["k"][0] for p in files) == [0, 20]
    assert versioned.read_version(spark, root, v).count() == 40
