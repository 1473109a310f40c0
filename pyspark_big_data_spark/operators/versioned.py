"""Versioned parquet snapshots: time travel without a table format.

A versioned dataset is a directory of immutable full snapshots::

    root/v=0/ ... parquet + _SUCCESS
    root/v=1/ ...
    root/v=2/ ...

``write_version`` stages the new snapshot in a temp dir and RENAMES it
into ``v=N`` (N = latest + 1) through ``fs.commit_staged``, the
verified-rename commit every log here shares, so readers never observe
a half-written version: an interrupted write leaves only a stale temp
dir that the next writer sweeps. ``read_version`` pins any historical version;
``latest_version`` resolves the newest COMMITTED one (rename is the
commit — a directory only counts once it sits at ``v=N``).

Each snapshot may carry a ``_manifest.json`` committed ATOMICALLY with
its data by the same rename: per-file [min, max] footer stats
(``read_version_pruned`` skips files by range predicate before Spark
lists them), per-file row counts (``snapshot_row_count`` answers
COUNT(*) with zero data pages), optional per-file Bloom filters
(``read_version_point`` pins an equality probe to ~1 file on
hash-scattered keys where min/max can't help), and the version's chain
``schema`` (``chain_schema``: every read binds it instead of running a
schema-inference job). ``expire_versions`` is
the retention vacuum; ``snapshot_min_max`` answers MIN/MAX from the
same stats. ``manifest_shard_files`` shards the manifest into a
manifest list (per-shard JSON files) so no single metadata file grows
with the snapshot; multi-writer snapshot isolation lives in
operators/transactions.py, merge-on-read deletes (deletion-vector
sidecars + broadcast anti-join reads) in operators/deletes.py,
small-file compaction is ``compact_version`` below, and file-level
APPEND deltas are ``append_version`` (O(delta) commits whose reads
resolve a base-version chain) — every named format seam now has a
working in-repo shape.

The honest economics at 100 TB: REWRITES (update-in-place via
write_version) are still full-copy, so keep those for DIMENSION-sized
mutable tables (the same tables upsert_parquet targets — customer
records, document metadata, cluster maps, index manifests) where a
handful of full copies is cheap insurance; append-heavy fact corpora
use ``append_version`` chains (O(delta) per commit, flattened by
``compact_version`` on a maintenance cadence) or version themselves
by partition layout (dt=.../batch=...). Where a production table
format is mandated, Delta/Iceberg plug in at exactly these seams;
MIGRATION.md documents that boundary.

Reference parity note: the reference engine has no mutation surface at
all (four read-only crime queries, src/query1-4.py); versioning, like
MERGE, is part of this repo's extension surface for production
pipelines.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.fs import (  # noqa: F401 (listing branches re-exported)
    _driver_readable,
    _list_dir,
    _list_dir_hadoop,
    _list_dir_local,
    list_numbered_dirs,
)


def list_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed version numbers at ``root``, ascending. A version is
    committed iff its directory sits at ``v=N`` (the rename IS the
    commit); staging/temp dirs never match the pattern."""
    return list_numbered_dirs(spark, root, "v=")


def latest_version(spark: SparkSession, root: str) -> int | None:
    vs = list_versions(spark, root)
    return vs[-1] if vs else None


MANIFEST_NAME = "_manifest.json"

# Process-level memo of IMMUTABLE per-version metadata: committed
# manifests and chain schemas. A committed ``v=N`` dir is write-once by
# the race-verified rename (commit_staged) — its manifest JSON and the
# chain's merged schema never change after publication, so re-reading
# them per operation is pure py4j/JSON/schema-inference overhead (a
# branch-merge witness pays hundreds of such round-trips). The ONLY
# way an entry goes stale is version EXPIRY (the dir is deleted, and —
# if every version is expired — its number can be reused by a later
# writer), so every destructive maintenance path calls
# ``invalidate_metadata_cache(root)``. Bounded FIFO so a long-lived
# driver never grows it unboundedly.
#
# HARD RETENTION ASSUMPTION (single coordinator): expiry/vacuum for a
# root must run in THIS driver process. A *different* process deleting
# version dirs cannot invalidate this memo, and after a fully-drained
# root reuses version numbers a stale entry would be silently wrong
# rather than loudly missing (r13 advice item). This matches the
# repo's single-coordinator architecture (one writer/maintainer per
# root — the same assumption the commit-counter allocation already
# makes); a multi-coordinator deployment must route maintenance
# through the coordinator or call ``invalidate_metadata_cache``
# out-of-band after foreign expiry.
_META_CACHE: dict[tuple, object] = {}
_META_CACHE_MAX = 8192


def _meta_cache_get(kind: str, root: str, version: int):
    return _META_CACHE.get((kind, root.rstrip("/"), version))


def _meta_cache_put(kind: str, root: str, version: int, value) -> None:
    if len(_META_CACHE) >= _META_CACHE_MAX:
        # FIFO eviction: drop the oldest ~quarter in one sweep
        for k in list(_META_CACHE)[: _META_CACHE_MAX // 4]:
            _META_CACHE.pop(k, None)
    _META_CACHE[(kind, root.rstrip("/"), version)] = value


def invalidate_metadata_cache(root: str | None = None) -> None:
    """Drop memoized per-version metadata — for ``root`` (prefix match:
    the root itself AND any nested table root under it, so invalidating
    a group root covers its member tables) or everything. Called by
    every path that DELETES committed version dirs (expire/vacuum/group
    retention); anything else only ever adds new version numbers and
    cannot stale the memo."""
    if root is None:
        _META_CACHE.clear()
        return
    r = root.rstrip("/")
    for k in [
        k for k in _META_CACHE if k[1] == r or k[1].startswith(r + "/")
    ]:
        _META_CACHE.pop(k, None)

# MERGE commits stage their positional deletion vectors INSIDE the
# committed version dir under this name (underscore-prefixed: hidden
# from parquet data scans), so delta files + vectors publish in ONE
# atomic rename. Readers: operators/deletes.py::_embedded_deletes_dir.
EMBEDDED_DELETES_DIR = "_merge_deletes"

# Per-file Bloom parameters: k hash probes; bits sized at ~16 per
# distinct key (next power of two, floored at _BLOOM_MIN_BITS) so the
# false-positive rate stays ~1e-3 regardless of file size.
_BLOOM_K = 5
_BLOOM_MIN_BITS = 4096


def _bloom_positions(value: str, bits: int) -> list[int]:
    """The k bit positions of ``value`` in a ``bits``-wide Bloom
    filter. md5-based like the repo's other cross-engine hashes:
    deterministic, portable, and independent of Python's salted
    hash()."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}|{i}".encode()).hexdigest()[:12], 16) % bits
        for i in range(_BLOOM_K)
    ]


def _build_file_ndv(
    spark: SparkSession, staging: str, ndv_cols: list[str]
) -> dict[str, dict[str, str]]:
    """Per-file HLL sketches over ``ndv_cols`` (Spark's native
    Datasketches ``hll_sketch_agg``, lgConfigK default 12 — ~1.6% RSE,
    <= ~4 KB per sketch): one grouped-by-file pass over the staged
    bytes. Sketches are MERGEABLE, which is the whole point — a chain
    read answers NDV by ``hll_union_agg`` over every member's per-file
    sketches with ZERO data pages (ANALYZE-style column statistics,
    the fourth metadata-only query shape next to COUNT / MIN-MAX /
    NULLS). Returns {col: {file: b64(sketch)}}."""
    spark.catalog.refreshByPath(staging)
    df = spark.read.parquet(staging).select(
        F.col("_metadata.file_name").alias("__file"), *ndv_cols
    )
    agg = df.groupBy("__file").agg(
        *[
            F.base64(F.hll_sketch_agg(F.col(c))).alias(c)
            for c in ndv_cols
        ]
    )
    out: dict[str, dict[str, str]] = {c: {} for c in ndv_cols}
    for r in agg.collect():
        for c in ndv_cols:
            if r[c] is not None:
                out[c][r["__file"]] = r[c]
    return out


def snapshot_ndv(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> int:
    """Approximate COUNT(DISTINCT col) answered from the manifests'
    per-file HLL sketches alone — zero data pages, chain-aware (the
    union across members is exactly what mergeable sketches buy).
    Raises when any chain member's manifest lacks a sketch for ``col``
    — silently mixing sketched and unsketched members would understate
    the census."""
    version = _resolve_version(spark, root, version)
    b64s: list[str] = []
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None or col not in m.get("ndv_cols", []):
            raise ValueError(
                f"v={v} under {root} has no NDV sketch for {col!r}: commit "
                "with write_version(df, root, ndv_cols=[...])"
            )
        b64s.extend(m["ndv"][col].values())
    if not b64s:
        return 0
    sk = spark.createDataFrame([(b,) for b in b64s], "s string")
    est = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.unbase64(F.col("s")))).alias("e")
    ).collect()[0]["e"]
    return int(est)


def _build_file_blooms(
    spark: SparkSession, staging: str, bloom_cols: list[str]
) -> dict[str, dict[str, dict]]:
    """Per-file Bloom filters over ``bloom_cols``: one grouped-by-file
    pandas pass (a task per file — files are write-bounded by
    maxPartitionBytes, so the group fits an executor), each sizing its
    filter to its OWN distinct count (~2 bytes/key). This is a real
    data pass, unlike the footer-stats pass — the commit pays it once,
    which is the Delta/Iceberg bloom-index economics: O(snapshot) at
    write time buys O(1)-file point lookups forever after. Values are
    canonicalized to strings before hashing (the columns should be
    integer or string keyed)."""
    import base64

    import pandas as pd

    cols = list(bloom_cols)
    df = spark.read.parquet(staging).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_file"),
        *[F.col(c).cast("string").alias(c) for c in cols],
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        fname = pdf["_file"].iloc[0]
        out = []
        for c in cols:
            vals = pdf[c].dropna().unique()
            bits = _BLOOM_MIN_BITS
            while bits < 16 * max(len(vals), 1):
                bits *= 2
            arr = np.zeros(bits // 8, dtype=np.uint8)
            for v in vals:
                for pos in _bloom_positions(str(v), bits):
                    arr[pos >> 3] |= 1 << (pos & 7)
            out.append(
                (fname, c, bits, base64.b64encode(arr.tobytes()).decode("ascii"))
            )
        return pd.DataFrame(out, columns=["file", "col", "bits", "b64"])

    rows = (
        df.groupBy("_file")
        .applyInPandas(build, "file string, col string, bits long, b64 string")
        .collect()
    )
    blooms: dict[str, dict[str, dict]] = {c: {} for c in cols}
    for r in rows:
        blooms[r["col"]][r["file"]] = {"bits": int(r["bits"]), "b64": r["b64"]}
    return blooms


def _file_footer_entry(path: str, cols: set[str]):
    """One file's footer distillation: ``(basename, stats, nulls,
    num_rows)`` — the shared kernel of the driver-side and distributed
    footer passes (identical output by construction)."""
    import pyarrow.parquet as papq

    md = papq.ParquetFile(path).metadata
    agg: dict[str, list | None] = {}
    nulls: dict[str, int | None] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            cmeta = group.column(ci)
            name = cmeta.path_in_schema
            if name not in cols:
                continue
            st = cmeta.statistics
            # null counts ride the same footers (a column chunk without
            # them poisons the file to None — degrade to "don't know",
            # never to wrong)
            if (
                st is None
                or not st.has_null_count
                or nulls.get(name, 0) is None
            ):
                nulls[name] = None
            else:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            if name in agg and agg[name] is None:
                continue  # already poisoned by a stat-less group
            if st is None or not st.has_min_max:
                agg[name] = None
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "replace")
            if isinstance(mx, bytes):
                mx = mx.decode("utf-8", "replace")
            cur = agg.get(name)
            if cur is None:
                agg[name] = [mn, mx]
            else:
                agg[name] = [min(cur[0], mn), max(cur[1], mx)]
    return os.path.basename(str(path)), agg, nulls, int(md.num_rows)


# Commits of at most this many files read their footers on the driver;
# larger snapshots distribute the footer pass. Env-tunable so a
# deployment with slow per-RPC storage can force distribution (0) or a
# fat coordinator can raise it.
_DRIVER_STATS_MAX_FILES = int(
    os.environ.get("SPARK_GRAFT_DRIVER_STATS_MAX_FILES", "64")
)


def _collect_file_stats(
    spark: SparkSession, file_paths: list[str], stats_cols: list[str]
) -> dict[str, dict[str, list] | None]:
    """Per-file [min, max] for ``stats_cols``, read from parquet FOOTERS
    only — never the data pages. The footer reads are distributed
    (parallelize the file list, each executor opens only metadata), so
    manifest construction is O(files) footer fetches with zero data
    scan; at 100 TB that is the difference between a metadata pass and
    a second full read of the snapshot.

    A column whose statistics are absent in ANY row group of a file maps
    to None for that file — the read path then never prunes that file
    (missing stats degrade to a full read, not a wrong one). Values are
    kept JSON-portable; stats columns should be numeric or string.

    Returns ``(per_file_stats, per_file_num_rows)`` — row counts come
    free from the same footers and feed metadata-only COUNT answers.

    Small commits (<= ``SPARK_GRAFT_DRIVER_STATS_MAX_FILES`` files,
    default 64) read the footers ON THE DRIVER — metadata-only work at
    manifest cardinality with zero job-scheduling constant (the
    Iceberg-coordinator shape; a full Spark job costs ~0.5-3 s per
    commit, measured in OPTIMIZATION_r13.md, which dominated small
    MERGE commits); larger snapshots keep the distributed pass."""
    cols = set(stats_cols)

    if len(file_paths) <= _DRIVER_STATS_MAX_FILES and all(
        _driver_readable(p) for p in file_paths
    ):
        stats: dict = {}
        nulls: dict = {}
        num_rows: dict = {}
        for path in file_paths:
            fname, agg, fn, n = _file_footer_entry(path, cols)
            # round-trip through JSON exactly like the distributed path
            # (default=str stringifies dates/decimals identically)
            stats[fname] = json.loads(json.dumps(agg, default=str))
            nulls[fname] = json.loads(json.dumps(fn))
            num_rows[fname] = n
        return stats, nulls, num_rows

    def reader(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for path in pdf["path"]:
                fname, agg, fn, n = _file_footer_entry(path, cols)
                rows.append(
                    (fname, json.dumps(agg, default=str), json.dumps(fn), n)
                )
            yield pd.DataFrame(
                rows, columns=["file", "stats_json", "nulls_json", "num_rows"]
            )

    out = (
        spark.createDataFrame([(p,) for p in file_paths], "path string")
        .repartition(max(1, min(len(file_paths), 32)))
        .mapInPandas(
            reader,
            "file string, stats_json string, nulls_json string, num_rows long",
        )
        .collect()
    )
    stats = {r["file"]: json.loads(r["stats_json"]) for r in out}
    nulls = {r["file"]: json.loads(r["nulls_json"]) for r in out}
    num_rows = {r["file"]: int(r["num_rows"]) for r in out}
    return stats, nulls, num_rows


def _list_parquet_files(spark: SparkSession, directory: str) -> list[str]:
    """Absolute paths of the parquet files directly under ``directory``,
    sorted; scheme-qualified iff ``directory`` is (``fs._list_dir``)."""
    base, entries = _list_dir(spark, directory)
    return sorted(
        f"{base}/{name}"
        for name, is_dir in entries
        if not is_dir and name.endswith(".parquet")
    )


def manifest(
    spark: SparkSession, root: str, version: int, _cache: dict | None = None
) -> dict | None:
    """The committed footer-stats manifest of ``v=version`` (None when
    the snapshot was written without ``stats_cols``). Besides the
    per-file entries it holds commit facts: ``committed_at``,
    ``base_version`` (appends), ``pos_delete_rows`` (embedded vectors),
    ``schema`` (the chain schema, see ``chain_schema``) and caller
    ``manifest_extra`` keys.

    ``_cache`` (internal): a per-OPERATION memo dict — manifests of
    committed versions are immutable, so callers that walk the version
    DAG repeatedly (branch merges) pass one dict for the whole
    decision and pay each manifest read once instead of O(chain^2).

    Transparently merges a SHARDED manifest (manifest_version 3: the
    root ``_manifest.json`` is a manifest LIST naming per-shard JSON
    files, each carrying a slice of the per-file entries — the
    Iceberg manifest-list shape that keeps any single metadata file
    bounded as snapshots grow to millions of files) back into the flat
    v2 doc shape, so every reader (pruning, blooms, row counts,
    min/max) is shard-agnostic. The merge is a driver-side JSON pass —
    O(files) like the flat read; at extreme file counts the shard
    reads parallelize the same way the footer pass does."""
    if _cache is not None and version in _cache:
        return _cache[version]
    hit = _meta_cache_get("manifest", root, version)
    if hit is not None:
        if _cache is not None:
            _cache[version] = hit
        return hit

    def _done(res):
        if _cache is not None:
            _cache[version] = res
        # committed manifests are immutable: memo process-wide too.
        # None is NOT memoized — it costs one fs.exists to re-derive,
        # and a probe racing a concurrent commit must never pin it.
        if res is not None:
            _meta_cache_put("manifest", root, version, res)
        return res

    vdir = f"{root.rstrip('/')}/v={version}"
    mpath = f"{vdir}/{MANIFEST_NAME}"
    if not fs.exists(spark, mpath):
        return _done(None)
    doc = fs.read_json(spark, mpath)
    if not doc.get("sharded"):
        return _done(doc)
    merged = {k: v for k, v in doc.items() if k not in ("sharded", "shards")}
    merged["files"] = {}
    merged["file_nulls"] = {}
    merged["file_rows"] = {}
    blooms: dict[str, dict] = {c: {} for c in doc.get("bloom_cols", [])}
    for shard_name in doc["shards"]:
        shard = fs.read_json(spark, f"{vdir}/{shard_name}")
        merged["files"].update(shard.get("files", {}))
        merged["file_nulls"].update(shard.get("file_nulls", {}))
        merged["file_rows"].update(shard.get("file_rows", {}))
        for c, per_file in shard.get("blooms", {}).items():
            blooms.setdefault(c, {}).update(per_file)
    if blooms:
        merged["blooms"] = blooms
    merged["n_shards"] = len(doc["shards"])
    return _done(merged)


def index_cols(
    spark: SparkSession, root: str, version: int
) -> tuple[list[str] | None, list[str] | None]:
    """``(stats_cols, bloom_cols)`` of ``v=version``'s manifest (None
    for each one it lacks): what a commit rewriting or extending that
    version carries forward, so pruned reads and point lookups keep
    working on every later head."""
    m = manifest(spark, root, version) or {}
    return (
        list(m["stats_cols"]) if m.get("stats_cols") else None,
        list(m["bloom_cols"]) if m.get("bloom_cols") else None,
    )


# Every Spark parquet writer records the written schema under this
# footer key; Spark's parquet reader binds it (all fields nullable).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """``DataType.asNullable``: what a file-source read makes of a
    written schema."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _staged_schema(
    spark: SparkSession, staging: str, files: list[str]
) -> StructType | None:
    """The schema Spark's parquet reader binds for a staged write (one
    write: every file carries the same schema). Local roots: the first
    footer's Spark schema key, read by pyarrow (no job). Other schemes:
    Spark's own inference over the staged dir. None when there is no
    file or the footer carries no Spark schema."""
    if not files:
        return None
    if not _driver_readable(staging):
        return spark.read.parquet(staging).schema
    import pyarrow.parquet as papq

    raw = (papq.read_metadata(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    try:
        return _as_nullable(StructType.fromJson(json.loads(raw)))
    except (ValueError, KeyError, TypeError):
        return None


def _merge_schemas(left: StructType, right: StructType) -> StructType | None:
    """``StructType.merge`` as ``mergeSchema`` applies it: left's
    fields, then right's new ones in right's order. None where Spark
    would widen a type or merge names case-insensitively; the caller
    then records nothing rather than a guess."""
    fields = list(left.fields)
    seen = {f.name.lower(): f for f in fields}
    for f in right.fields:
        have = seen.get(f.name.lower())
        if have is None:
            fields.append(f)
            seen[f.name.lower()] = f
        elif have.name != f.name or have.dataType != f.dataType:
            return None
    return StructType(fields)


def _committed_chain_schema(
    spark: SparkSession,
    root: str,
    n: int,
    base_version: int | None,
    own: StructType | None,
) -> StructType | None:
    """The chain schema ``v=n`` will read as, computed at commit time
    from its own staged schema ``own`` and its base's chain schema —
    None when that cannot be done exactly.

    ``mergeSchema`` folds the member files in PATH order, so ``v=10/``
    comes before ``v=9/``. Base-then-delta is that fold when the delta
    sorts after every base member, or when it lists the base columns in
    the base's order ahead of its new ones (an append carries every
    base column, so the fold then lands on the same order wherever the
    delta sorts)."""
    if own is None or base_version is None:
        return own
    base = chain_schema(spark, root, base_version)
    merged = _merge_schemas(base, own)
    if merged is None:
        return None
    if own.names[: len(base.names)] == base.names or all(
        f"v={m}/" < f"v={n}/" for m in version_chain(spark, root, base_version)
    ):
        return merged
    return None


def chain_schema(spark: SparkSession, root: str, version: int) -> StructType:
    """The schema ``read_version(v)`` returns: the schema ``mergeSchema``
    infers over the chain's member dirs, field order and nullability
    included. Manifests record it at commit time (``schema``), so
    binding it costs no Spark job; a version without it (manifest-less,
    or committed before the key existed) infers it once. Either way
    the answer is memoized per (root, version)."""
    cached = _meta_cache_get("chain_schema", root, version)
    if cached is not None:
        return cached
    m = manifest(spark, root, version)
    if m is not None and "schema" in m:
        schema = StructType.fromJson(m["schema"])
    else:
        dirs = [
            f"{root.rstrip('/')}/v={v}" for v in version_chain(spark, root, version)
        ]
        for d in dirs:
            spark.catalog.refreshByPath(d)
        # a chain may have evolved additively (append_version
        # allow_evolution): merge member schemas — the default reader
        # would bind one file's schema and silently drop late columns
        reader = spark.read.option("mergeSchema", "true") if len(dirs) > 1 else spark.read
        schema = reader.parquet(*dirs).schema
    _meta_cache_put("chain_schema", root, version, schema)
    return schema


class AuditFailed(RuntimeError):
    """A write-audit-publish commit was refused by its audit hook; the
    staged bytes were deleted and NO version was published."""


class WriteConflict(RuntimeError):
    """A commit that pinned its expected base lost the race: another
    writer committed first, and silently re-basing would be unsound for
    THIS commit (e.g. a MERGE whose deletion vector was planned against
    the old head — the interloper's rows were never match-scanned).
    Nothing was published; the caller re-plans against the new head."""


def write_version(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    ndv_cols: list[str] | None = None,
    manifest_shard_files: int | None = None,
    audit=None,
    manifest_extra: dict | None = None,
    _append: bool = False,
    _base_override: int | None = None,
    _append_evolution: bool = False,
    _allow_base_tombstones: bool = False,
    _expected_base: int | None = None,
    embedded_pos_deletes: DataFrame | None = None,
) -> int:
    """Commit ``df`` as the next snapshot version and return its
    number. With ``stats_cols``, a footer-stats manifest
    (``_manifest.json``: per-file [min, max] for each named column plus
    per-file row counts, distilled from the parquet footers by a
    distributed metadata pass) is staged alongside the data, so the
    single commit rename publishes data + manifest atomically;
    ``read_version_pruned`` then skips whole files by range predicate
    BEFORE Spark ever lists them, and ``snapshot_row_count`` answers
    COUNT(*) from the manifest alone. With ``bloom_cols``, the manifest
    additionally carries a per-file Bloom filter per named column (one
    extra distributed pass over the staged data — commit-time cost for
    O(matching files) point lookups via ``read_version_point``, the
    min/max complement for hash-scattered keys). The underscore prefix
    keeps the manifest invisible to plain parquet readers (same
    convention as ``_SUCCESS``), so ``read_version`` is unaffected.
    With ``manifest_shard_files=N``, a snapshot of more than N files
    writes a SHARDED manifest — the root doc becomes a manifest LIST
    naming per-shard JSON files of <= N entries each (the Iceberg
    manifest-list shape), so no single metadata file grows with the
    snapshot; readers are shard-agnostic (``manifest`` merges), and
    the shards stage with the data so the commit stays one rename.

    Stage-then-rename: the snapshot is fully written under a
    WRITER-UNIQUE ``root/.staging_vN.<token>`` first (unique so
    concurrent writers racing on the same N can never touch each
    other's staging bytes — r13), then a single atomic rename
    publishes it as ``root/v=N``. Concurrent writers race on the
    rename, and the rename's return value alone is NOT a reliable
    verdict: HDFS rename fails when the destination exists, but
    Hadoop's LocalFileSystem rename onto an existing ``v=N`` returns
    true and moves the staging
    dir INSIDE it (``v=N/.staging_vN.<token>`` — dot-prefixed, invisible to
    parquet readers: a silent lost write). So the commit is verified
    after the rename: the writer owns ``v=N`` only if no nested staging
    dir appeared under it. A race loser on either filesystem deletes
    its bytes (including the nested copy) and retries at N+1, so
    committed versions are never overwritten or silently dropped.

    With ``audit`` (the write-audit-publish hook), the callback runs
    on a DataFrame over the STAGED BYTES — what will actually publish,
    not the logical input — between staging and the commit rename. A
    falsy return deletes the staging dir and raises ``AuditFailed``;
    nothing is published and the version counter does not advance. The
    truthy path proceeds to the normal race-verified rename. (The hook
    re-runs on a lost-race retry, since the bytes are restaged.)

    ``manifest_extra`` merges caller keys into the manifest doc (e.g. a
    streaming sink's ``writer_batch_id`` idempotence marker,
    streaming/sinks.py); reserved manifest keys are refused.

    ``embedded_pos_deletes`` (MERGE commits only, requires ``_append``)
    stages a positional deletion vector under the version's own
    ``_merge_deletes/`` dir, so delta data files AND the vectors that
    retire the rows they replace publish in the SAME atomic rename —
    the single-commit MERGE shape. The vector schema must be exactly
    ``(_file string, _pos long)`` (operators/deletes.py addresses).

    Every manifest carries ``committed_at`` (epoch seconds at commit
    build time) for AS-OF-TIMESTAMP resolution (``version_as_of``), and
    ``schema``: the version's CHAIN schema (``StructType.jsonValue()``,
    exactly what ``read_version`` returns), taken from the staged
    footers and, for an append, the base's chain schema — so readers
    bind it (``chain_schema``) instead of running a schema-inference
    job. The key is left out when it cannot be derived exactly (a type
    or case conflict between base and delta, or a reordered delta that
    sorts before a base member in ``mergeSchema``'s path order); such
    versions infer their schema on first read, like manifest-less ones."""
    if manifest_extra:
        reserved = {
            "manifest_version", "sharded", "shards", "stats_cols",
            "bloom_cols", "files", "file_rows", "blooms",
            "base_version", "n_shards", "committed_at", "pos_delete_rows",
            "ndv_cols", "ndv", "schema",
        } & set(manifest_extra)
        if reserved:
            raise ValueError(
                f"manifest_extra may not override reserved keys: {sorted(reserved)}"
            )
    if embedded_pos_deletes is not None:
        if not _append:
            raise ValueError(
                "embedded_pos_deletes is a MERGE-commit feature and "
                "requires an append commit (_append=True)"
            )
        if set(embedded_pos_deletes.columns) != {"_file", "_pos"}:
            raise ValueError(
                "embedded_pos_deletes must have exactly the address "
                f"columns ['_file', '_pos']; got {sorted(embedded_pos_deletes.columns)}"
            )
    spark = df.sparkSession
    fs.mkdirs(spark, root)
    while True:
        latest = latest_version(spark, root)
        n = 0 if latest is None else latest + 1
        if _append and latest is None:
            raise ValueError(
                f"append needs a base version under {root}; commit the "
                "initial snapshot with write_version first"
            )
        # An append bases on whatever it DIRECTLY follows — recomputed
        # per retry, so a lost race re-bases on the interloper and the
        # chain never silently skips a committed version. A RESTORE
        # (_base_override) pins its base explicitly instead: rolling
        # back to v means v regardless of interlopers.
        if _base_override is not None:
            base_version = _base_override
        else:
            base_version = latest if _append else None
        if _append and _expected_base is not None and base_version != _expected_base:
            # Delta-style conflict detection: this commit's CONTENT was
            # planned against a specific base (a MERGE's vector, a
            # read-modify-write), so re-basing on an interloper would
            # publish a version whose semantics never saw the
            # interloper's rows. Refuse loudly; the caller re-plans.
            raise WriteConflict(
                f"expected to append onto v={_expected_base} under {root}, "
                f"but the head moved to v={base_version} — re-plan against "
                "the new head and retry"
            )
        if _append:
            # Re-validated on EVERY retry against the recomputed base:
            # a lost commit race re-bases on the interloper, and the
            # interloper may have a different schema or carry deletion
            # vectors — validating only once (pre-loop) would let a
            # racing writer publish a chain member that violates the
            # exact-match/additive contract or resurrects deleted rows
            # (r10 advice items).
            _validate_append_base(
                spark,
                root,
                base_version,
                df.columns,
                allow_evolution=_append_evolution,
                allow_base_tombstones=_allow_base_tombstones,
            )
        # WRITER-UNIQUE staging name (r13): concurrent writers racing
        # on the same v=N must never share a staging dir — with a
        # deterministic name, writer B's pre-write sweep deletes
        # writer A's in-flight bytes, and A could then publish B's
        # HALF-WRITTEN files under the verified rename (the multi-
        # writer model test caught exactly this). Unique names make
        # every staging dir single-writer; the rename race stays the
        # one commit arbiter. Crashed writers' dead staging dirs are
        # swept by expire_versions (N <= latest is provably dead).
        staging = f"{root.rstrip('/')}/.staging_v{n}.{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(staging)
        pos_delete_rows = None
        if embedded_pos_deletes is not None:
            emb = f"{staging}/{EMBEDDED_DELETES_DIR}"
            embedded_pos_deletes.write.mode("overwrite").parquet(emb)
            if _driver_readable(emb):
                # footer-only count on the DRIVER: prices the MOR
                # anti-join with zero Spark jobs (was a
                # spark.read.parquet().count() job per MERGE commit)
                import pyarrow.parquet as papq

                pos_delete_rows = sum(
                    papq.ParquetFile(p).metadata.num_rows
                    for p in _list_parquet_files(spark, emb)
                )
            else:  # remote root: Spark's parquet count is footer-only too
                spark.catalog.refreshByPath(emb)
                pos_delete_rows = spark.read.parquet(emb).count()
        if stats_cols or bloom_cols or ndv_cols or _append or manifest_extra:
            files = _list_parquet_files(spark, staging)
            stats, file_nulls, file_rows = _collect_file_stats(
                spark, files, list(stats_cols or [])
            )
            schema = _committed_chain_schema(
                spark, root, n, base_version, _staged_schema(spark, staging, files)
            )
            blooms = (
                _build_file_blooms(spark, staging, list(bloom_cols))
                if bloom_cols
                else None
            )
            ndv = (
                _build_file_ndv(spark, staging, list(ndv_cols))
                if ndv_cols
                else None
            )

            fnames = sorted(stats)
            if manifest_shard_files and len(fnames) > manifest_shard_files:
                # Manifest LIST: the root _manifest.json names per-shard
                # files, each carrying <= manifest_shard_files per-file
                # entries — no single metadata file grows with the
                # snapshot. The shards stage WITH the data, so the one
                # commit rename still publishes everything atomically.
                shard_names = []
                for si in range(0, len(fnames), manifest_shard_files):
                    chunk = fnames[si : si + manifest_shard_files]
                    sname = f"_manifest-{si // manifest_shard_files:05d}.json"
                    sdoc = {
                        "files": {f: stats[f] for f in chunk},
                        "file_nulls": {f: file_nulls[f] for f in chunk},
                        "file_rows": {f: file_rows[f] for f in chunk},
                    }
                    if blooms is not None:
                        sdoc["blooms"] = {
                            c: {f: per[f] for f in chunk if f in per}
                            for c, per in blooms.items()
                        }
                    fs.write_json(spark, f"{staging}/{sname}", sdoc)
                    shard_names.append(sname)
                doc = {
                    "manifest_version": 3,
                    "sharded": True,
                    "shards": shard_names,
                    "stats_cols": list(stats_cols or []),
                    "committed_at": time.time(),
                }
                if bloom_cols:
                    doc["bloom_cols"] = list(bloom_cols)
                if ndv is not None:
                    # NDV sketches stay in the ROOT doc even when the
                    # per-file entries shard: one ~4 KB sketch per
                    # (col, file) is manifest-list-scale metadata, and
                    # keeping them together makes snapshot_ndv one read
                    doc["ndv_cols"] = list(ndv_cols)
                    doc["ndv"] = ndv
                if base_version is not None:
                    doc["base_version"] = base_version
                if schema is not None:
                    doc["schema"] = schema.jsonValue()
                if pos_delete_rows is not None:
                    doc["pos_delete_rows"] = pos_delete_rows
                if manifest_extra:
                    doc.update(manifest_extra)
                fs.write_json(spark, f"{staging}/{MANIFEST_NAME}", doc)
            else:
                doc = {
                    "manifest_version": 2,
                    "stats_cols": list(stats_cols or []),
                    "files": stats,
                    "file_nulls": file_nulls,
                    "file_rows": file_rows,
                    "committed_at": time.time(),
                }
                if bloom_cols:
                    doc["bloom_cols"] = list(bloom_cols)
                    doc["blooms"] = blooms
                if ndv is not None:
                    doc["ndv_cols"] = list(ndv_cols)
                    doc["ndv"] = ndv
                if base_version is not None:
                    doc["base_version"] = base_version
                if schema is not None:
                    doc["schema"] = schema.jsonValue()
                if pos_delete_rows is not None:
                    doc["pos_delete_rows"] = pos_delete_rows
                if manifest_extra:
                    doc.update(manifest_extra)
                fs.write_json(spark, f"{staging}/{MANIFEST_NAME}", doc)
        if audit is not None:
            spark.catalog.refreshByPath(staging)
            if not audit(spark.read.parquet(staging)):
                fs.delete(spark, staging)
                raise AuditFailed(
                    f"audit refused snapshot targeting v={n} at {root}; "
                    "staging deleted, nothing published"
                )
        if fs.commit_staged(spark, root, staging, n):
            return n
        # Lost the race: someone committed v=N between our latest_version
        # read and our rename; commit_staged already removed our bytes.
        # Retry at N+1. The winner's files are untouched.


def _validate_append_base(
    spark: SparkSession,
    root: str,
    base_version: int,
    delta_cols: list[str],
    allow_evolution: bool,
    allow_base_tombstones: bool,
) -> None:
    """The append-commit contract, checked against the ACTUAL base
    (write_version re-runs this on every commit retry, so a lost race
    re-validates against the interloper it re-bases on):

    - schema: exact set-match, or additive when evolution is opted in;
    - deletion vectors: appending onto a chain that carries EXTERNAL
      tombstones (delete_keys / delete_positions) is refused unless
      ``allow_base_tombstones`` — the chained read of the new version
      via plain ``read_version`` would serve the base's physical files
      with the deletes invisible, silently resurrecting GDPR-deleted
      rows on the next micro-batch (r10 advice, high). MOR reads
      (``read_version_mor``) resolve ancestor vectors correctly, so
      callers that live on the MOR path (MERGE commits do) opt in
      explicitly. MERGE-embedded vectors in ancestors do NOT trip the
      guard: they are part of committed versions by construction, and
      every read of such a chain is documented as MOR-only."""
    from pyspark_big_data_spark.operators.deletes import (
        DELETES_DIR,
        POS_DELETES_DIR,
        _versions_with_vector_dirs,
        list_delete_commits,
        list_pos_delete_commits,
    )

    base_cols = set(chain_schema(spark, root, base_version).names)
    if allow_evolution:
        missing = base_cols - set(delta_cols)
        if missing:
            raise ValueError(
                "append evolution is ADDITIVE only: delta is missing base "
                f"column(s) {sorted(missing)} (drops/renames refused)"
            )
    elif set(delta_cols) != base_cols:
        raise ValueError(
            f"append schema mismatch: base {sorted(base_cols)} "
            f"vs delta {sorted(delta_cols)}"
        )
    if allow_base_tombstones:
        return
    # two LIVE parent listings bound the per-member probes (r14):
    # external vectors are mutable post-commit, so this is re-listed on
    # every validation (per commit retry), never memoized — but a chain
    # whose root has no _deletes/_pos_deletes tree at all (the common
    # case) now pays 2 listings instead of 2 per member
    eq_vs = _versions_with_vector_dirs(spark, root, DELETES_DIR)
    pos_vs = _versions_with_vector_dirs(spark, root, POS_DELETES_DIR)
    for v in version_chain(spark, root, base_version):
        if (v in eq_vs and list_delete_commits(spark, root, v)) or (
            v in pos_vs and list_pos_delete_commits(spark, root, v)
        ):
            raise ValueError(
                f"v={v} in the base chain of this append carries deletion "
                "vectors; a chained read through plain read_version would "
                "resurrect the deleted rows — run materialize_deletes "
                "first, or pass allow_base_tombstones=True if every "
                "consumer reads via read_version_mor"
            )


def append_version(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    ndv_cols: list[str] | None = None,
    manifest_shard_files: int | None = None,
    manifest_extra: dict | None = None,
    allow_evolution: bool = False,
    allow_base_tombstones: bool = False,
    expected_base: int | None = None,
    base_override: int | None = None,
    embedded_pos_deletes: DataFrame | None = None,
) -> int:
    """APPEND commit: publish ``df`` as the next version WITHOUT
    copying the base — the committed ``v=N`` directory holds ONLY the
    appended files plus a manifest whose ``base_version`` links it to
    the snapshot it extends; the logical state of ``v=N`` is base +
    delta, resolved at read time by walking the chain
    (``version_chain``). This closes the full-copy concession in the
    module header: an append to a 100 TB snapshot now writes O(delta)
    bytes, not O(snapshot) — the add-files-without-rewrite shape of a
    table-format append, with the same one-rename atomicity as every
    other commit here (the chain link rides inside the manifest, which
    stages WITH the delta files).

    Semantics and contracts:

    - schema must match the base exactly (set-equal columns; appends
      never widen — use ``io.read_evolved`` patterns for evolution);
    - the base is whatever the append DIRECTLY follows, re-resolved on
      every commit retry, so a lost race re-bases on the interloper
      and the chain never skips a committed version;
    - every chain member keeps its own per-version manifest (per-file
      stats/blooms/row counts over ITS files only — the per-snapshot
      manifest shape); metadata queries, pruning, and point lookups
      merge over the chain;
    - retention (``expire_versions``) protects every ancestor of a
      surviving version — expiring a base out from under a live child
      would corrupt it, so ancestors are pinned like tagged versions;
    - ``compact_version`` on a chained version FLATTENS it back to a
      full snapshot (the OPTIMIZE that bounds chain length and read
      fan-in — at 1000s of appends/day, schedule it like any
      table-format maintenance job).

    Row counts always land in the manifest (free from the same parquet
    footers) even with no ``stats_cols``, so ``snapshot_row_count``
    stays metadata-only across chains. A commit given neither
    ``stats_cols`` nor ``bloom_cols`` carries its base's
    (``index_cols``), so pruned reads and point lookups keep working
    on every later head.

    ``allow_evolution=True`` permits ADDITIVE schema evolution: the
    delta may carry NEW columns on top of the base's (it must still
    contain every base column — drops and renames are refused, because
    a chain read could not distinguish them from data loss). The chain
    read then merges schemas across members and null-fills the new
    columns for pre-evolution rows — the add-column evolution contract
    every table format ships. Reads of a mixed-schema chain pay the
    per-member footer union (``mergeSchema``), which is O(files) like
    the listing itself.

    Deletion-vector interaction (r11): appending onto a chain that
    carries EXTERNAL tombstones is refused unless
    ``allow_base_tombstones=True`` — see ``_validate_append_base``
    (the validation runs inside write_version's commit-retry loop, so
    it always checks the base actually appended onto).
    ``embedded_pos_deletes`` stages a positional vector inside the new
    version dir itself (single-rename MERGE commits,
    operators/merge.py)."""
    spark = df.sparkSession
    base = latest_version(spark, root)
    if base is None:
        raise ValueError(
            f"append needs a base version under {root}; commit the "
            "initial snapshot with write_version first"
        )
    if stats_cols is None and bloom_cols is None:
        stats_cols, bloom_cols = index_cols(
            spark, root, base if base_override is None else base_override
        )
    return write_version(
        df,
        root,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        ndv_cols=ndv_cols,
        manifest_shard_files=manifest_shard_files,
        manifest_extra=manifest_extra,
        _append=True,
        _append_evolution=allow_evolution,
        _allow_base_tombstones=allow_base_tombstones,
        _expected_base=expected_base,
        _base_override=base_override,
        embedded_pos_deletes=embedded_pos_deletes,
    )


def version_chain(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    _cache: dict | None = None,
) -> list[int]:
    """The snapshot chain of ``v=version``, newest first: ``[version,
    base, base-of-base, ...]`` down to the full-snapshot ancestor. A
    non-append version is its own length-1 chain. Raises on a broken
    link (base expired or cyclic) — a chain read must fail loudly,
    never silently drop the missing ancestor's rows."""
    version = _resolve_version(spark, root, version)
    committed = set(list_versions(spark, root))
    if version not in committed:
        raise ValueError(f"version {version} does not exist under {root}")
    chain = [version]
    seen = {version}
    cur = version
    while True:
        m = manifest(spark, root, cur, _cache=_cache)
        base = m.get("base_version") if m else None
        if base is None:
            return chain
        if base in seen:
            raise ValueError(
                f"cyclic version chain at v={cur} under {root} (base {base})"
            )
        if base not in committed:
            raise ValueError(
                f"v={cur} under {root} appends onto v={base}, which no "
                "longer exists — the chain is broken (expired ancestor?)"
            )
        chain.append(base)
        seen.add(base)
        cur = base


def chain_writer_markers(
    spark: SparkSession, root: str, version: int | None = None
) -> set[int]:
    """Every ``writer_batch_id`` visible on the chain of ``version``
    (default: latest): singular markers stamped per commit plus the
    ``writer_batch_ids`` sets that compactions/materializations carry
    forward when they cut the chain. This is the redelivery-idempotence
    state of the exactly-once streaming sinks (streaming/sinks.py) —
    driver-side manifest JSON, O(chain), no jobs."""
    seen: set[int] = set()
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None:
            continue
        if "writer_batch_id" in m:
            seen.add(int(m["writer_batch_id"]))
        seen.update(int(b) for b in m.get("writer_batch_ids", []))
    return seen


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the snapshot at ``version`` (default: latest
    committed). Raises if the version does not exist — a missing
    version must fail loudly, never read as empty. An APPEND version
    (``append_version``) reads as its whole chain: the base snapshot's
    files plus every delta's, one multi-directory parquet scan."""
    version = _resolve_version(spark, root, version)
    # version_chain raises when the version does not exist
    dirs = [
        f"{root.rstrip('/')}/v={v}" for v in version_chain(spark, root, version)
    ]
    for d in dirs:
        spark.catalog.refreshByPath(d)
    # binding the chain schema skips per-read schema inference; the
    # parquet reader null-fills columns a pre-evolution file lacks,
    # the same semantics mergeSchema inference produces
    return spark.read.schema(chain_schema(spark, root, version)).parquet(*dirs)


def pruned_file_plan(
    spark: SparkSession,
    root: str,
    col: str,
    lower=None,
    upper=None,
    version: int | None = None,
) -> tuple[list[str], int, int]:
    """File-level pruning plan for a range predicate on ``col``:
    ``(selected_file_paths, n_selected, n_total)``. A file is selected
    unless its manifest [min, max] for ``col`` proves it cannot contain
    a row with ``lower <= col <= upper``; files with missing stats are
    always selected (pruning may only ever skip provably-empty files —
    a superset pre-cut, exactly like partition pruning one level down).

    Raises when the snapshot has no manifest or the manifest does not
    cover ``col`` — silently falling back to a full read would make
    "pruned" reads quietly stop pruning after a writer config drift.
    An append chain prunes over EVERY member's per-version manifest
    (each covers its own files), with the same strictness per member."""
    version = _resolve_version(spark, root, version)
    selected: list[str] = []
    n_total = 0
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None:
            raise ValueError(
                f"v={v} under {root} has no {MANIFEST_NAME}: "
                "commit it with write_version(df, root, stats_cols=[...])"
            )
        if col not in m["stats_cols"]:
            raise ValueError(f"manifest of v={v} has no stats for {col!r}")
        vdir = f"{root.rstrip('/')}/v={v}"
        n_total += len(m["files"])
        for fname, stats in sorted(m["files"].items()):
            rng = (stats or {}).get(col)
            if rng is not None:
                mn, mx = rng
                if lower is not None and mx < lower:
                    continue
                if upper is not None and mn > upper:
                    continue
            selected.append(f"{vdir}/{fname}")
    return selected, len(selected), n_total


def _read_selected_aligned(
    spark: SparkSession, root: str, version: int, selected: list[str]
) -> DataFrame:
    """Read a pruned file subset with a PRUNING-INDEPENDENT schema.

    On an evolved append chain, which files survive pruning must not
    decide the result schema: a predicate whose survivors all live in
    pre-evolution members must still return the evolved column(s),
    null-filled, or the documented 'bit-identical to full read +
    filter' equivalence breaks (r10 advice, medium). Binding the
    version's chain schema gives exactly ``read_version``'s schema —
    columns the survivors lack null-fill, order fixed — whatever
    survives."""
    for d in sorted({os.path.dirname(p) for p in selected}):
        spark.catalog.refreshByPath(d)
    return spark.read.schema(chain_schema(spark, root, version)).parquet(*selected)


def read_version_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lower=None,
    upper=None,
    version: int | None = None,
) -> DataFrame:
    """Time-travel read that touches ONLY the files whose footer-stats
    range overlaps ``lower <= col <= upper`` (then applies the
    predicate itself — pruning is a superset pre-cut, so the result is
    bit-identical to ``read_version(...).filter(...)``). This is the
    file-level analogue of hive-partition pruning
    (``test_partitioned_write_prunes``): the skipped files never reach
    Spark's file index, so a 100 TB snapshot with a range-clustered
    layout answers a narrow range predicate from a handful of files."""
    version = _resolve_version(spark, root, version)
    selected, _, _ = pruned_file_plan(spark, root, col, lower, upper, version)
    if not selected:
        # predicate excludes every file: empty frame, correct schema
        base = read_version(spark, root, version)
        return base.filter(F.lit(False))
    df = _read_selected_aligned(spark, root, version, selected)
    if lower is not None:
        df = df.filter(F.col(col) >= F.lit(lower))
    if upper is not None:
        df = df.filter(F.col(col) <= F.lit(upper))
    return df


def _resolve_version(spark: SparkSession, root: str, version: int | None) -> int:
    if version is None:
        version = latest_version(spark, root)
        if version is None:
            raise ValueError(f"versioned dataset at {root} has no versions")
    return version


def bloom_file_plan(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    version: int | None = None,
) -> tuple[list[str], int, int]:
    """Point-lookup pruning plan: the files whose Bloom filter for
    ``col`` MIGHT contain ``value`` (plus any file missing a bloom —
    like stats, a missing filter degrades to reading the file, never
    to skipping a match). False positives only ever cost an extra file
    read; the residual equality filter keeps results exact. This is
    the min/max complement: a hash-scattered key spans every file's
    [min, max], but its Bloom filters pin the point to ~1 file. An
    append chain probes EVERY member's per-version blooms."""
    import base64

    version = _resolve_version(spark, root, version)
    probe = str(value)
    selected: list[str] = []
    n_total = 0
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None:
            raise ValueError(
                f"v={v} under {root} has no {MANIFEST_NAME}: "
                "commit it with write_version(df, root, bloom_cols=[...])"
            )
        if col not in m.get("bloom_cols", []):
            raise ValueError(f"manifest of v={v} has no bloom for {col!r}")
        vdir = f"{root.rstrip('/')}/v={v}"
        col_blooms = m["blooms"][col]
        all_files = (
            sorted(m["file_rows"]) if m.get("file_rows") else sorted(col_blooms)
        )
        n_total += len(all_files)
        for fname in all_files:
            entry = col_blooms.get(fname)
            if entry is not None:
                bits = int(entry["bits"])
                arr = base64.b64decode(entry["b64"])
                if not all(
                    arr[pos >> 3] & (1 << (pos & 7))
                    for pos in _bloom_positions(probe, bits)
                ):
                    continue
            selected.append(f"{vdir}/{fname}")
    return selected, len(selected), n_total


def bloom_file_plan_multi(
    spark: SparkSession,
    root: str,
    col: str,
    values,
    version: int | None = None,
) -> tuple[list[str], int, int]:
    """Multi-probe Bloom pruning plan: the files whose filter for
    ``col`` MIGHT contain ANY of ``values`` (plus files missing a
    bloom — degrade to reading, never to skipping a match). This is
    the MERGE/CDC file-skipping shape for HASH-SCATTERED keys, where
    every file spans the whole [min, max] range and stats prune
    nothing but each file's Bloom pins which of the source's keys
    could live there. Probing is driver-side bit math: O(|values| ×
    files × k) with early exit on first hit per file."""
    import base64

    version = _resolve_version(spark, root, version)
    probes = [str(v) for v in values]
    selected: list[str] = []
    n_total = 0
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None:
            raise ValueError(
                f"v={v} under {root} has no {MANIFEST_NAME}: "
                "commit it with write_version(df, root, bloom_cols=[...])"
            )
        if col not in m.get("bloom_cols", []):
            raise ValueError(f"manifest of v={v} has no bloom for {col!r}")
        vdir = f"{root.rstrip('/')}/v={v}"
        col_blooms = m["blooms"][col]
        all_files = (
            sorted(m["file_rows"]) if m.get("file_rows") else sorted(col_blooms)
        )
        n_total += len(all_files)
        for fname in all_files:
            entry = col_blooms.get(fname)
            if entry is None:
                selected.append(f"{vdir}/{fname}")
                continue
            bits = int(entry["bits"])
            arr = base64.b64decode(entry["b64"])
            for probe in probes:
                if all(
                    arr[pos >> 3] & (1 << (pos & 7))
                    for pos in _bloom_positions(probe, bits)
                ):
                    selected.append(f"{vdir}/{fname}")
                    break
    return selected, len(selected), n_total


def read_version_point(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Time-travel point lookup through the per-file Bloom index:
    reads only the files whose filter might contain ``value``, then
    applies the exact equality predicate (superset pre-cut — results
    are bit-identical to ``read_version(...).filter(col == value)``)."""
    version = _resolve_version(spark, root, version)
    selected, _, _ = bloom_file_plan(spark, root, col, value, version)
    if not selected:
        return read_version(spark, root, version).filter(F.lit(False))
    df = _read_selected_aligned(spark, root, version, selected)
    return df.filter(F.col(col) == F.lit(value))


def expire_versions(
    spark: SparkSession,
    root: str,
    keep_last: int,
    extra_protected: set[int] | None = None,
) -> list[int]:
    """Retention vacuum: delete every committed version except the
    newest ``keep_last`` (>= 1), plus provably-DEAD ``.staging_vN``
    dirs from crashed writers, and return the expired version numbers
    (ascending). This is the VACUUM half of the snapshot lifecycle:
    full-copy versions make old-snapshot storage linear in history, so
    production retention keeps a bounded window. The retention
    CONTRACT mirrors the table formats': time travel to an expired
    version fails loudly afterwards (``read_version`` raises — never
    reads as empty), so pick the horizon longer than the longest
    running reader. Deletion order is oldest-first and each ``v=N``
    removal is a single recursive delete, so an interrupted vacuum
    leaves a clean prefix-trimmed history.

    Concurrency: only staging dirs whose target version is ALREADY
    committed are swept — ``.staging_vN`` with N <= latest can never
    commit (its rename target exists), so it is guaranteed dead, while
    a live writer's staging dir always targets latest+1 and is left
    alone. Vacuum therefore never races a writer.

    TAGGED versions are never expired (operators/refs.py): a named pin
    protects its snapshot from retention, like ref-based retention in
    the table formats — the vacuum reclaims only unnamed history.

    APPEND-CHAIN ancestors are likewise never expired while a survivor
    depends on them: every chain member of a kept or tagged version is
    protected, because deleting a base out from under a live child
    would silently corrupt the child's reads (the chain resolver fails
    loudly on a broken link, but retention must not create one).

    ``extra_protected`` adds caller-owned pins (and their chains) to
    the protected set — the seam transaction groups use so surviving
    txn manifests' table pins are never vacuumed out from under the
    group (operators/multitxn.py::expire_group)."""
    from pyspark_big_data_spark.operators.refs import list_branches, list_tags

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(spark, root)
    # tags AND branch heads protect their targets (and, via the chain
    # expansion below, their whole ancestries)
    protected = set(list_tags(spark, root).values()) | set(
        list_branches(spark, root).values()
    )
    if extra_protected:
        protected |= {int(v) for v in extra_protected}
    survivors = set(versions[-keep_last:]) | protected
    for s in survivors:
        protected.update(version_chain(spark, root, s))
    expired = [
        n
        for n in (versions[:-keep_last] if len(versions) > keep_last else [])
        if n not in protected
    ]
    for n in expired:
        _delete_version_dirs(spark, root, n)
    if expired:
        # deleted version dirs may have memoized manifests/schemas (and
        # a fully-drained root could even reuse the numbers)
        invalidate_metadata_cache(root)
    latest = versions[-1] if versions else -1
    for name, is_dir in _list_dir(spark, root)[1]:
        if not (is_dir and name.startswith(".staging_v")):
            continue
        try:
            # both shapes: ".staging_v7" (pre-r13) and the
            # writer-unique ".staging_v7.<token>"
            n = int(name[len(".staging_v"):].split(".")[0])
        except ValueError:
            continue
        if n <= latest:
            fs.delete(spark, f"{root.rstrip('/')}/{name}")
    return expired


def _delete_version_dirs(spark: SparkSession, root: str, n: int) -> None:
    """Delete ``v=n`` with its tombstones: deletion vectors are pinned
    to their version, so expired data takes them along
    (operators/deletes.py)."""
    for sub in ("", "_deletes/", "_pos_deletes/"):
        fs.delete(spark, f"{root.rstrip('/')}/{sub}v={n}")


def snapshot_row_count(
    spark: SparkSession, root: str, version: int | None = None
) -> int:
    """COUNT(*) of a snapshot answered from the manifest's per-file
    footer row counts — zero data pages, zero Spark jobs (the
    metadata-only-query shape table formats answer from their
    manifests). Raises when the snapshot has no manifest row counts:
    silently falling back to a scan would hide a broken manifest.
    An append chain sums every member's counts — still zero jobs."""
    version = _resolve_version(spark, root, version)
    total = 0
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None or "file_rows" not in m:
            raise ValueError(
                f"v={v} under {root} has no manifest row counts: "
                "commit it with write_version(df, root, stats_cols=[...])"
            )
        total += sum(int(n) for n in m["file_rows"].values())
    return total


def snapshot_min_max(
    spark: SparkSession,
    root: str,
    cols: list[str],
    version: int | None = None,
) -> dict[str, tuple]:
    """Global MIN/MAX per column answered from the manifest's per-file
    footer stats — zero data pages (the other metadata-only query shape
    table formats serve). Sound only when EVERY file carries stats for
    the column, so any file with missing/poisoned stats raises — a
    metadata answer that silently ignored a file would be wrong, not
    slow. Raises likewise for an uncovered column or an empty
    snapshot. An append chain merges every member's stats."""
    version = _resolve_version(spark, root, version)
    chain = version_chain(spark, root, version)
    docs = []
    for v in chain:
        m = manifest(spark, root, v)
        if m is None:
            raise ValueError(
                f"v={v} under {root} has no {MANIFEST_NAME}: "
                "commit it with write_version(df, root, stats_cols=[...])"
            )
        docs.append((v, m))
    out: dict[str, tuple] = {}
    for col in cols:
        if not any(m["files"] for _, m in docs):
            raise ValueError(f"v={version} under {root} has no files")
        lo = hi = None
        for v, m in docs:
            if col not in m["stats_cols"]:
                raise ValueError(f"manifest of v={v} has no stats for {col!r}")
            for fname, stats in m["files"].items():
                rng = (stats or {}).get(col)
                if rng is None:
                    raise ValueError(
                        f"file {fname} of v={v} has no footer stats for "
                        f"{col!r}; a metadata-only MIN/MAX would be unsound"
                    )
                mn, mx = rng
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        out[col] = (lo, hi)
    return out


def compact_version(
    spark: SparkSession,
    root: str,
    target_files: int,
    cluster_by: str | None = None,
    version: int | None = None,
    manifest_shard_files: int | None = None,
    manifest_extra: dict | None = None,
) -> dict:
    """OPTIMIZE for a versioned snapshot: bin-pack the files of
    ``v=version`` (default latest) into ``target_files`` and commit the
    result as the NEXT version, carrying the source's footer-stats and
    Bloom manifest columns forward (the new snapshot rebuilds its own
    manifest over the new files — stats are per-file, so they cannot be
    copied, only re-derived). Returns ``{"version", "files_before",
    "files_after"}``.

    Two packing modes, mirroring Delta/Iceberg OPTIMIZE vs OPTIMIZE
    ZORDER-ish economics:

    - ``cluster_by=None``: ``coalesce(target_files)`` — a pure
      bin-pack with ZERO shuffle (each output file concatenates input
      files), so the job is read + rewrite, bounded by snapshot size.
      Footer stats of the merged files are unions of their inputs;
      pruning keeps working wherever the small files were already
      range-clustered, because coalesce merges ADJACENT partitions of
      the range layout.
    - ``cluster_by=<col>``: ``repartitionByRange + sortWithinPartitions``
      — one shuffle that re-clusters while compacting, restoring tight
      per-file [min, max] ranges even when the small files were
      interleaved (the streaming-ingest aftermath this exists for).

    The commit is the same stage-then-rename as ``write_version``, so
    compaction is crash-safe and race-safe; the SOURCE version is
    untouched (readers pinned to it are unaffected), tags keep
    protecting whatever they pin, and retention (``expire_versions``)
    reclaims the small-file version later like any other. Deletion
    vectors against the source version (operators/deletes.py) are NOT
    folded in — compact the MOR view via ``materialize_deletes`` first
    when tombstones exist; this function raises if any are present, so
    a compaction can never silently resurrect deleted rows. An APPEND
    CHAIN (``append_version``) compacts to a FULL snapshot — this is
    the flatten that bounds chain length and read fan-in;
    ``files_before`` counts the whole chain's logical census.

    100 TB economics: small-file compaction is the table-format
    maintenance job that keeps scan task counts sane (a streaming sink
    producing 1000s of KB-files per hour makes every downstream scan
    schedule 1000s of tasks); the coalesce path prices it at one
    sequential read + write of the snapshot with no shuffle at all.
    Reference parity note: the reference engine (src/query1-4.py) has
    no storage-maintenance surface; this is extension surface."""
    from pyspark_big_data_spark.operators.deletes import has_any_delete_vectors

    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    version = _resolve_version(spark, root, version)
    if version not in list_versions(spark, root):
        raise ValueError(f"version {version} does not exist under {root}")
    # chain-wide: an ancestor's vectors (external OR MERGE-embedded)
    # would be resurrected by compacting the physical chain read
    if has_any_delete_vectors(spark, root, version):
        raise ValueError(
            f"v={version} under {root} has deletion vectors on its chain; "
            "compacting the data files alone would resurrect deleted rows "
            "— run materialize_deletes first"
        )
    # logical census: an append chain's file count spans every member
    files_before = sum(
        len(_list_parquet_files(spark, f"{root.rstrip('/')}/v={v}"))
        for v in version_chain(spark, root, version)
    )
    stats_cols, bloom_cols = index_cols(spark, root, version)

    df = read_version(spark, root, version)
    if cluster_by is not None:
        packed = df.repartitionByRange(target_files, cluster_by).sortWithinPartitions(
            cluster_by
        )
    else:
        packed = df.coalesce(target_files)
    new_v = write_version(
        packed,
        root,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        manifest_shard_files=manifest_shard_files,
        manifest_extra=manifest_extra,
    )
    files_after = len(
        _list_parquet_files(spark, f"{root.rstrip('/')}/v={new_v}")
    )
    return {
        "version": new_v,
        "files_before": files_before,
        "files_after": files_after,
    }


def version_commit_times(spark: SparkSession, root: str) -> dict[int, float]:
    """Epoch-seconds commit time per committed version: the manifest's
    ``committed_at`` when present (stamped at commit build time since
    r11), else the ``v=N`` directory's modification time (the commit
    rename sets it — 1s granularity, the pre-r11 fallback). Metadata
    only; zero data pages."""
    out: dict[int, float] = {}
    for v in list_versions(spark, root):
        m = manifest(spark, root, v)
        if m is not None and m.get("committed_at") is not None:
            out[v] = float(m["committed_at"])
        else:
            out[v] = fs.mtime(spark, f"{root.rstrip('/')}/v={v}")
    return out


def _as_epoch_seconds(ts) -> float:
    """Accept epoch seconds (int/float), a datetime, or an ISO-8601
    string; naive datetimes/strings are taken as LOCAL time (the
    clock ``committed_at`` is stamped from)."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        return ts.timestamp()
    raise TypeError(f"unsupported timestamp type: {type(ts).__name__}")


def version_as_of(spark: SparkSession, root: str, ts) -> int:
    """AS-OF-TIMESTAMP resolution (the form users actually type): the
    LATEST version whose commit time is <= ``ts`` — Delta/Iceberg's
    boundary rule ("the table as it stood at that moment"). Ties on
    commit time resolve to the higher version number (the later
    commit). Raises when ``ts`` predates the first commit — reading
    "before the table existed" must fail loudly, never serve v=0."""
    t = _as_epoch_seconds(ts)
    times = version_commit_times(spark, root)
    if not times:
        raise ValueError(f"versioned dataset at {root} has no versions")
    eligible = [v for v, ct in times.items() if ct <= t]
    if not eligible:
        first = min(times.values())
        raise ValueError(
            f"timestamp {t} predates the first commit ({first}) at {root}"
        )
    return max(eligible, key=lambda v: (times[v], v))


def read_version_as_of(spark: SparkSession, root: str, ts) -> DataFrame:
    """Time travel by timestamp: ``read_version`` at the resolved
    version (chain-resolved like any read)."""
    return read_version(spark, root, version_as_of(spark, root, ts))


def restore_version_as_of(
    spark: SparkSession, root: str, ts, allow_base_tombstones: bool = False
) -> int:
    """RESTORE TO TIMESTAMP: metadata-only rollback to the version the
    table stood at ``ts`` (see ``restore_version``)."""
    return restore_version(
        spark,
        root,
        version_as_of(spark, root, ts),
        allow_base_tombstones=allow_base_tombstones,
    )


def table_changes_as_of(
    spark: SparkSession, root: str, from_ts, to_ts
) -> DataFrame:
    """Change data feed between two TIMESTAMPS: the rows added after
    the version the table stood at ``from_ts``, up to and including
    the version it stood at ``to_ts`` (both resolved by the
    ``version_as_of`` boundary rule; same append-only soundness guards
    as ``table_changes``)."""
    return table_changes(
        spark,
        root,
        version_as_of(spark, root, from_ts),
        version_as_of(spark, root, to_ts),
    )


def snapshot_history(spark: SparkSession, root: str) -> list[dict]:
    """DESCRIBE HISTORY for a versioned dataset: one dict per committed
    version — version number, file count, manifest row count (None for
    manifest-less snapshots), and whether a footer-stats manifest is
    present — assembled from version listings + manifests only (zero
    data pages, zero Spark jobs). This is the audit-surface every table
    format exposes; tags from operators/refs.py give versions names,
    this gives them shapes."""
    out = []
    for v in list_versions(spark, root):
        vdir = f"{root.rstrip('/')}/v={v}"
        n_files = len(_list_parquet_files(spark, vdir))
        m = manifest(spark, root, v)
        base = m.get("base_version") if m is not None else None
        # n_rows is the version's LOGICAL census: an append version
        # sums its whole chain (still metadata-only); None whenever any
        # chain member lacks manifest row counts — never a guess.
        try:
            n_rows = snapshot_row_count(spark, root, v)
        except ValueError:
            n_rows = None
        out.append(
            {
                "version": v,
                "n_files": n_files,
                "n_rows": n_rows,
                "has_manifest": m is not None,
                "base_version": base,
            }
        )
    return out


def table_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """Change data feed over an APPEND chain: the rows added strictly
    AFTER ``v=from_version`` up to and including ``v=to_version``,
    served by reading ONLY the delta directories of the versions in
    between — O(changes) I/O, never a table scan or a diff join. This
    is the CDF fast path a table format serves from its log; the
    keyed general-purpose diff (updates/deletes too, but O(both
    snapshots)) remains queries/quality.py::snapshot_diff.

    Sound only when every version in ``(from_version, to_version]`` is
    a PURE APPEND onto its direct predecessor — a full rewrite in the
    range means the delta dirs do not represent the change, and a
    version carrying deletion vectors (a post-hoc ``delete_keys`` /
    ``delete_positions``, or a MERGE commit's embedded vectors) means
    the change includes REMOVALS an adds-only feed cannot express — so
    both raise (ask snapshot_diff instead) rather than returning wrong
    rows. Both endpoints must be on the same chain; ``from_version ==
    to_version`` is an empty feed with the correct schema."""
    from pyspark_big_data_spark.operators.deletes import (
        DELETES_DIR,
        POS_DELETES_DIR,
        _embedded_deletes_dir,
        _versions_with_vector_dirs,
        list_delete_commits,
        list_pos_delete_commits,
    )

    committed = set(list_versions(spark, root))
    for v in (from_version, to_version):
        if v not in committed:
            raise ValueError(f"version {v} does not exist under {root}")
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} is newer than to_version {to_version}"
        )
    if from_version == to_version:
        return read_version(spark, root, to_version).filter(F.lit(False))
    # two parent listings bound the per-version external-vector probes
    # over the whole walk (r14)
    eq_vs = _versions_with_vector_dirs(spark, root, DELETES_DIR)
    pos_vs = _versions_with_vector_dirs(spark, root, POS_DELETES_DIR)
    dirs = []
    v = to_version
    while v != from_version:
        m = manifest(spark, root, v)
        base = m.get("base_version") if m else None
        if base is None:
            raise ValueError(
                f"v={v} under {root} is a full rewrite, not an append — "
                f"the delta files between v={from_version} and "
                f"v={to_version} do not represent the change; use a keyed "
                "snapshot diff instead"
            )
        if (
            (v in eq_vs and list_delete_commits(spark, root, v))
            or (v in pos_vs and list_pos_delete_commits(spark, root, v))
            or _embedded_deletes_dir(spark, root, v) is not None
        ):
            raise ValueError(
                f"v={v} under {root} carries deletion vectors — the range "
                f"(v={from_version}, v={to_version}] is not append-only and "
                "an adds-only feed would misstate the change; use a keyed "
                "snapshot diff instead"
            )
        dirs.append(f"{root.rstrip('/')}/v={v}")
        v = base
        if v < from_version:
            raise ValueError(
                f"v={to_version} under {root} does not chain through "
                f"v={from_version} (chain skips to v={v})"
            )
    for d in dirs:
        spark.catalog.refreshByPath(d)
    reader = spark.read
    if len(dirs) > 1:
        reader = reader.option("mergeSchema", "true")  # evolved chains
    return reader.parquet(*dirs)


def restore_version(
    spark: SparkSession,
    root: str,
    version: int,
    allow_base_tombstones: bool = False,
) -> int:
    """METADATA-ONLY rollback (the table formats' RESTORE): make the
    dataset's CURRENT state equal to historical ``v=version`` again by
    committing a new version that is an EMPTY delta based on it — the
    new ``v=N`` directory holds one empty (schema-bearing) parquet
    file plus a manifest whose ``base_version`` points at the restore
    target, so the chain read of v=N resolves to exactly the old
    content with O(1) new bytes, no matter how large the table is.
    Returns the new version number.

    This is undo-by-commit, not undo-by-delete: the versions between
    the restore target and the restore COMMIT stay readable history
    (an audit can still see what was rolled back), retention reclaims
    them later like any other unnamed versions, and the restore's
    ancestor protection pins the target and ITS chain exactly as any
    append pins its base. ``table_changes(restore_target, restored)``
    is correctly EMPTY — a restore adds no rows.

    Contract: the target must be a committed version; restoring to the
    current latest is refused as a no-op (it would burn a version
    number to say nothing)."""
    committed = list_versions(spark, root)
    if version not in committed:
        raise ValueError(f"version {version} does not exist under {root}")
    if version == committed[-1]:
        raise ValueError(
            f"v={version} is already the latest under {root}; restore "
            "would be a no-op"
        )
    empty = read_version(spark, root, version).limit(0).coalesce(1)
    return write_version(
        empty,
        root,
        manifest_extra={"restored_from": version},
        _append=True,
        _base_override=version,
        _allow_base_tombstones=allow_base_tombstones,
    )


def snapshot_null_counts(
    spark: SparkSession,
    root: str,
    cols: list[str],
    version: int | None = None,
) -> dict[str, int]:
    """Per-column NULL totals answered from the manifest's footer null
    counts — zero data pages, zero jobs (the third metadata-only query
    shape next to COUNT and MIN/MAX; table formats store exactly this
    per data file). Sound only when EVERY file carries a null count
    for the column — a file with absent footer null stats raises, the
    same never-guess contract as snapshot_min_max. Chain-aware."""
    version = _resolve_version(spark, root, version)
    out: dict[str, int] = {c: 0 for c in cols}
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None or "file_nulls" not in m:
            raise ValueError(
                f"v={v} under {root} has no manifest null counts: "
                "commit it with write_version(df, root, stats_cols=[...])"
            )
        for col in cols:
            if col not in m["stats_cols"]:
                raise ValueError(f"manifest of v={v} has no stats for {col!r}")
            for fname, per in m["file_nulls"].items():
                n = (per or {}).get(col)
                if n is None:
                    raise ValueError(
                        f"file {fname} of v={v} has no footer null count for "
                        f"{col!r}; a metadata-only answer would be unsound"
                    )
                out[col] += int(n)
    return out


def not_null_file_plan(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> tuple[list[str], int, int]:
    """IS NOT NULL pruning plan: drop every file whose footer null
    count PROVES all its rows are null in ``col`` (null_count ==
    num_rows) — the sparse-column scan cut (a 100 TB table where an
    optional column is populated in one ingest era reads only that
    era's files). Files with missing null stats are always selected
    (superset pre-cut, never wrong). Chain-aware."""
    version = _resolve_version(spark, root, version)
    selected: list[str] = []
    n_total = 0
    for v in version_chain(spark, root, version):
        m = manifest(spark, root, v)
        if m is None:
            raise ValueError(
                f"v={v} under {root} has no {MANIFEST_NAME}: "
                "commit it with write_version(df, root, stats_cols=[...])"
            )
        if col not in m["stats_cols"]:
            raise ValueError(f"manifest of v={v} has no stats for {col!r}")
        vdir = f"{root.rstrip('/')}/v={v}"
        rows = m.get("file_rows", {})
        nulls = m.get("file_nulls", {})
        names = sorted(rows) if rows else sorted(m["files"])
        n_total += len(names)
        for fname in names:
            nc = (nulls.get(fname) or {}).get(col)
            nr = rows.get(fname)
            if nc is not None and nr is not None and int(nc) == int(nr):
                continue  # provably all-null: skip the file
            selected.append(f"{vdir}/{fname}")
    return selected, len(selected), n_total


def read_version_not_null(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> DataFrame:
    """Read that touches ONLY files which might hold a non-null ``col``
    (then applies IS NOT NULL — superset pre-cut, bit-identical to the
    full read + filter)."""
    version = _resolve_version(spark, root, version)
    selected, _, _ = not_null_file_plan(spark, root, col, version)
    if not selected:
        return read_version(spark, root, version).filter(F.lit(False))
    df = _read_selected_aligned(spark, root, version, selected)
    return df.filter(F.col(col).isNotNull())
