"""Metadata costs of the versioned read path, counted in Spark jobs
(immune to timing noise): reads of manifest-bearing chains bind the
recorded chain schema and the fixed deletion-vector schema instead of
running schema-inference jobs, and the local and Hadoop branches of the
one directory listing agree."""

from __future__ import annotations

import itertools
import os

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators import deletes, versioned
from pyspark_big_data_spark.operators.cdf import table_changes_typed
from pyspark_big_data_spark.operators.deletes import read_version_mor
from pyspark_big_data_spark.operators.merge import delete_where, merge_into, update_where
from pyspark_big_data_spark.operators.versioned import (
    append_version,
    invalidate_metadata_cache,
    write_version,
)

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``(fn(), job ids it started)``, counted through a job group."""
    sc = spark.sparkContext
    group = f"metadata-costs:{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _stage_names(spark, job_ids):
    tracker = spark.sparkContext.statusTracker()
    names = []
    for j in job_ids:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None:
                names.append(info.name)
    return names


def _orders(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("s"),
        (F.col("id") * 1.5).alias("x"),
    )


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """``(root, head)``: a MERGE (update + delete + insert) that adds a
    ``tag`` column listed first in its source, a DELETE, an UPDATE and
    an APPEND on a stats-bearing table — an evolved chain whose members
    carry embedded vectors. Tests read it at ``head`` and add no
    version below it."""
    root = str(tmp_path_factory.mktemp("cycle") / "t")
    write_version(_orders(spark, 0, 60).repartitionByRange(3, "k"), root, stats_cols=["k"])
    src = _orders(spark, 10, 14).unionByName(_orders(spark, 100, 102))
    merge_into(
        spark, root, src.select(F.lit("t").alias("tag"), "*"), "k",
        when_matched_update="source.k < 12",
        when_matched_delete="source.k >= 12",
        stats_cols=["k"],
        allow_evolution=True,
    )
    delete_where(spark, root, "k BETWEEN 20 AND 24")
    update_where(spark, root, {"x": "x + 1"}, "k BETWEEN 30 AND 32")
    head = append_version(
        _orders(spark, 200, 205).withColumn("tag", F.lit("a")),
        root,
        stats_cols=["k"],
        allow_base_tombstones=True,
    )
    return root, head


def test_mor_read_build_starts_no_job(spark, cycle):
    root, head = cycle
    invalidate_metadata_cache(root)  # the manifests, not the memo, answer
    df, jobs = _jobs(spark, lambda: read_version_mor(spark, root, head))
    assert jobs == []
    pruned, jobs = _jobs(
        spark,
        lambda: read_version_mor(spark, root, head, pruned_col="k", lower=5, upper=30),
    )
    assert jobs == []
    assert sorted(pruned.collect()) == sorted(df.filter("k BETWEEN 5 AND 30").collect())


def test_typed_feed_starts_no_schema_inference_job(spark, cycle):
    """The feed binds the head's chain schema: no inference job, the
    head's column order, and the late column null in every row that
    predates it."""
    root, head = cycle
    invalidate_metadata_cache(root)
    feed, jobs = _jobs(
        spark, lambda: table_changes_typed(spark, root, 0, head, merge_keys="k")
    )
    assert jobs == []
    rows, jobs = _jobs(spark, feed.collect)
    names = _stage_names(spark, jobs)
    assert names and not [n for n in names if n.startswith("parquet at")], names
    assert feed.columns == ["k", "s", "x", "tag", "_change_type", "_commit_version"]
    counts = {}
    for r in rows:
        key = (r["_change_type"], r["tag"])
        counts[key] = counts.get(key, 0) + 1
    assert counts == {
        ("update_preimage", None): 2 + 3,
        ("update_postimage", "t"): 2,
        ("update_postimage", None): 3,
        ("delete", None): 2 + 5,
        ("insert", "t"): 2,
        ("insert", "a"): 5,
    }


def test_mutation_cycle_records_exact_chain_schemas(spark, cycle):
    """MERGE / DELETE / UPDATE / APPEND commits and the delete-folding
    rewrite after them all record exactly the schema mergeSchema
    infers, field order and nullability included."""
    from pyspark.sql.types import StructType

    from pyspark_big_data_spark.operators.deletes import materialize_deletes
    from pyspark_big_data_spark.operators.versioned import (
        list_versions,
        manifest,
        version_chain,
    )

    root, head = cycle
    folded = materialize_deletes(spark, root, head)
    assert manifest(spark, root, folded)["stats_cols"] == ["k"]
    for v in list_versions(spark, root):
        dirs = [f"{root}/v={m}" for m in version_chain(spark, root, v)]
        inferred = spark.read.option("mergeSchema", "true").parquet(*dirs).schema
        assert StructType.fromJson(manifest(spark, root, v)["schema"]) == inferred, v


def test_listing_branches_agree(spark, tmp_path, monkeypatch):
    """The os.scandir branch and the Hadoop branch list the same
    entries, and every listing built on them answers the same."""
    root = tmp_path / "t"
    for d in ("v=0", "v=1", "v=10", ".staging_v2.abc", "_deletes/v=1/d=0",
              "_deletes/v=1/d=3", "_deletes/v=1/.staging_d4.x", "_pos_deletes/v=10/d=2"):
        os.makedirs(root / d)
    (root / "v=9").write_text("a file, not a version")
    (root / "d=5").write_text("")
    for name in ("part-1.parquet", "part-0.parquet", "_SUCCESS", ".part-0.parquet.crc"):
        (root / "v=1" / name).write_text("")
    os.makedirs(root / "v=1" / "nested.parquet")

    def listings(r):
        return (
            versioned.list_versions(spark, r),
            versioned.list_numbered_dirs(spark, r, "d="),
            versioned._list_parquet_files(spark, f"{r}/v=1"),
            sorted(deletes._versions_with_vector_dirs(spark, r, deletes.DELETES_DIR)),
            sorted(deletes._versions_with_vector_dirs(spark, r, deletes.POS_DELETES_DIR)),
            deletes.list_delete_commits(spark, r, 1),
            deletes.list_pos_delete_commits(spark, r, 10),
            versioned.list_versions(spark, f"{r}/missing"),
        )

    for path in (str(root), f"file:{root}", f"{root}/v=1", str(tmp_path / "missing")):
        base, entries = versioned._list_dir_local(path)
        hbase, hentries = versioned._list_dir_hadoop(spark, path)
        assert (base, sorted(entries)) == (hbase, sorted(hentries)), path
    local = listings(str(root))
    assert local == (
        [0, 1, 10],
        [],
        [f"{root}/v=1/part-0.parquet", f"{root}/v=1/part-1.parquet"],
        [1],
        [10],
        [0, 3],
        [2],
        [],
    )
    monkeypatch.setattr(versioned, "_driver_readable", lambda path: False)
    assert listings(str(root)) == local


def test_carried_stats_cols_start_no_job(spark, tmp_path):
    """delete_where carries the head's stats_cols from the staged
    footers on the driver: the commit starts exactly as many jobs as on
    an identical table whose manifest has no stats."""
    counts = []
    for i, stats in enumerate(([], ["k"])):
        root = str(tmp_path / f"t{i}")
        write_version(
            _orders(spark, 0, 60).repartitionByRange(3, "k"),
            root,
            stats_cols=stats,
            manifest_extra={"source": "fixture"},
        )
        res, jobs = _jobs(spark, lambda: delete_where(spark, root, "k < 5"))
        assert versioned.manifest(spark, root, res["version"])["stats_cols"] == stats
        counts.append(len(jobs))
    assert counts[0] == counts[1]
