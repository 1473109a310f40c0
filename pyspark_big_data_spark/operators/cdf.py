"""TYPED change data feed over mutating append chains: the Delta/Iceberg
``table_changes`` shape with ``_change_type`` rows, serving ranges that
contain MERGE commits (delta files + an embedded positional deletion
vector committed in one rename) — the case the adds-only feed
(operators/versioned.py::table_changes) refuses loudly.

Change model. Every commit ``v`` in ``(from_version, to_version]``
contributes typed rows stamped ``_commit_version = v``:

- a PURE APPEND commit contributes its delta rows as ``insert``;
- a MERGE commit (or ``delete_where`` / ``update_where``, which commit
  the same shape) contributes its delta rows and, for each address in
  its EMBEDDED vector, the retired ancestor row (the preimage, read
  back from the ancestor file at that position). With the commit's
  merge keys (recorded in the manifest by ``merge_into`` since r13, or
  passed explicitly), retired rows whose key reappears in the delta
  pair up as ``update_preimage`` / ``update_postimage``; unpaired
  retired rows are ``delete`` and unpaired delta rows are ``insert``.
  Without keys the feed still serves the EXACT changeset as
  ``delete`` + ``insert`` rows (an update is a delete of the old row
  plus an insert of the new one — the Iceberg changelog shape).

Soundness guards: a full rewrite in the range still refuses (its files
do not represent the change), and so does a version carrying EXTERNAL
post-hoc vectors (``delete_keys`` / ``delete_positions`` commits —
those mutate already-committed versions after the fact, so they are
not version-anchored events a version-interval feed can place; use
``delete_where`` / ``update_where`` / MERGE, which commit removals AS
versions). External vectors against versions at or below
``from_version`` are fine: they mask both endpoints identically and
cancel out of the interval.

Folding contract (the replay a downstream consumer runs): the typed
feed folds back onto the start snapshot by MULTISET algebra —

    state(to) == state(from) + inserts + update_postimages
                 - deletes - update_preimages

(order-independent because every removal row is live in the folded
state by construction). ``fold_changes`` implements it; the witness
asserts the fold equals the merge-on-read head bit-exactly.

100 TB shape: per-version work is O(delta files) + O(ancestor files
the vector touches) — never a table scan. The preimage read projects
the vector's distinct ``_file`` list (driver-bounded: one string per
touched file, the same cardinality the MOR planner already handles)
and semi-joins addresses on Spark's zero-cost parquet ``_metadata``
columns; the vector side is broadcast while its manifest-priced row
count stays under the deletes threshold.

Reference parity note: the reference engine (src/query1-4.py) is
read-only; this is extension surface (VERDICT r12 next-step #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from pyspark_big_data_spark.operators.deletes import (
    BROADCAST_THRESHOLD_ROWS,
    FILE_COL,
    POS_COL,
    VECTOR_SCHEMA,
    _embedded_deletes_dir,
    _guard_reserved_address_cols,
    _qualified_file_expr,
    list_delete_commits,
    list_pos_delete_commits,
)
from pyspark_big_data_spark.fs import _driver_readable
from pyspark_big_data_spark.operators.versioned import (
    chain_schema,
    list_versions,
    manifest,
)

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"

INSERT = "insert"
DELETE = "delete"
UPDATE_PRE = "update_preimage"
UPDATE_POST = "update_postimage"


def _range_commits(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> list[int]:
    """The chain members in ``(from_version, to_version]``, ascending,
    with the adds-only feed's structural guards (exists / same chain /
    no full rewrite) plus the typed feed's own: EXTERNAL post-hoc
    vectors against an in-range version refuse; EMBEDDED vectors are
    the point and pass."""
    from pyspark_big_data_spark.operators.deletes import (
        DELETES_DIR,
        POS_DELETES_DIR,
        _versions_with_vector_dirs,
    )

    committed = set(list_versions(spark, root))
    for v in (from_version, to_version):
        if v not in committed:
            raise ValueError(f"version {v} does not exist under {root}")
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} is newer than to_version {to_version}"
        )
    # two parent listings bound the per-version external-vector probes
    # over the whole walk (r14)
    eq_vs = _versions_with_vector_dirs(spark, root, DELETES_DIR)
    pos_vs = _versions_with_vector_dirs(spark, root, POS_DELETES_DIR)
    chain: list[int] = []
    v = to_version
    while v != from_version:
        m = manifest(spark, root, v)
        base = m.get("base_version") if m else None
        if base is None:
            raise ValueError(
                f"v={v} under {root} is a full rewrite, not an append — "
                f"its files do not represent the change between "
                f"v={from_version} and v={to_version}; use a keyed "
                "snapshot diff instead"
            )
        if (v in eq_vs and list_delete_commits(spark, root, v)) or (
            v in pos_vs and list_pos_delete_commits(spark, root, v)
        ):
            raise ValueError(
                f"v={v} under {root} carries EXTERNAL deletion vectors "
                "(post-hoc delete_keys/delete_positions commits) — those "
                "mutate an already-committed version after the fact, so a "
                "version-interval feed cannot place them as events; "
                "commit removals as versions (delete_where / update_where "
                "/ merge_into) to make them feedable"
            )
        chain.append(v)
        v = int(base)
        if v < from_version:
            raise ValueError(
                f"v={to_version} under {root} does not chain through "
                f"v={from_version} (chain skips to v={v})"
            )
    return sorted(chain)


def _delta_rows(
    spark: SparkSession, root: str, v: int, schema: StructType
) -> DataFrame:
    """``v``'s own delta files bound to the head's chain ``schema``: a
    pre-evolution delta null-fills the late columns, and the columns
    come in head order."""
    d = f"{root.rstrip('/')}/v={v}"
    spark.catalog.refreshByPath(d)
    return spark.read.schema(schema).parquet(d)


def _preimage_rows(
    spark: SparkSession,
    root: str,
    v: int,
    schema: StructType,
    broadcast_threshold_rows: int,
) -> DataFrame | None:
    """The rows retired by ``v``'s embedded vector, read back from the
    ancestor files the vector addresses — None when ``v`` carries no
    vector. O(touched ancestor files) I/O; the address anti-join's
    mirror image (an inner semi-join on the same zero-cost
    ``_metadata`` columns)."""
    emb = _embedded_deletes_dir(spark, root, v)
    if emb is None:
        return None
    spark.catalog.refreshByPath(emb)
    vec = spark.read.schema(VECTOR_SCHEMA).parquet(emb).distinct()
    # one relative path string per touched file — the same driver-side
    # cardinality every file-pruning plan here carries. Read straight
    # off the vector parquet ON THE DRIVER (one column, pyarrow): the
    # vector is commit-sized by construction, and this was one Spark
    # job per vector-bearing commit in every typed-feed walk. Remote
    # roots (hdfs://, s3a://, ...) keep the Spark collect — pyarrow
    # cannot open them (r13 advice item).
    if _driver_readable(emb):
        import pyarrow.dataset as pads

        touched = sorted(
            {
                str(x)
                for x in pads.dataset(emb, format="parquet")
                .to_table(columns=[FILE_COL])
                .column(FILE_COL)
                .to_pylist()
            }
        )
    else:
        touched = sorted(
            {
                r[FILE_COL]
                for r in vec.select(FILE_COL).distinct().collect()
            }
        )
    if not touched:
        return None
    paths = [f"{root.rstrip('/')}/{rel}" for rel in touched]
    for d in sorted({p.rsplit("/", 1)[0] for p in paths}):
        spark.catalog.refreshByPath(d)
    # the head's chain schema null-fills late columns in pre-evolution
    # ancestor files and fixes the column order
    files = spark.read.schema(schema).parquet(*paths)
    _guard_reserved_address_cols(files)
    addressed = files.select(
        _qualified_file_expr().alias(FILE_COL),
        F.col("_metadata.row_index").alias(POS_COL),
        "*",
    )
    m = manifest(spark, root, v)
    n = (m or {}).get("pos_delete_rows")
    side = vec
    if n is None or int(n) <= broadcast_threshold_rows:
        side = F.broadcast(vec)
    return addressed.join(side, [FILE_COL, POS_COL], "inner").drop(FILE_COL, POS_COL)


def _commit_merge_keys(
    spark: SparkSession, root: str, v: int, merge_keys
) -> list[str] | None:
    if merge_keys is not None:
        return [merge_keys] if isinstance(merge_keys, str) else list(merge_keys)
    m = manifest(spark, root, v)
    keys = (m or {}).get("merge_keys")
    return [str(k) for k in keys] if keys else None


def _typed_version(
    spark: SparkSession,
    root: str,
    v: int,
    schema: StructType,
    merge_keys,
    broadcast_threshold_rows: int,
) -> DataFrame:
    """One commit's typed change rows (head columns + _change_type +
    _commit_version)."""
    cols = schema.names
    delta = _delta_rows(spark, root, v, schema)
    pre = _preimage_rows(spark, root, v, schema, broadcast_threshold_rows)
    mutation = (manifest(spark, root, v) or {}).get("row_mutation")
    if pre is None:
        typed = delta.withColumn(CHANGE_TYPE_COL, F.lit(INSERT))
    elif mutation == "update":
        # update_where: every delta row replaces a retired row by
        # construction — exact typing with no key pairing needed
        typed = delta.withColumn(CHANGE_TYPE_COL, F.lit(UPDATE_POST)).unionByName(
            pre.withColumn(CHANGE_TYPE_COL, F.lit(UPDATE_PRE))
        )
    elif mutation == "delete":
        typed = pre.withColumn(CHANGE_TYPE_COL, F.lit(DELETE))
    else:
        keys = _commit_merge_keys(spark, root, v, merge_keys)
        if keys is None:
            # no pairing info: the exact changeset as deletes + inserts
            typed = delta.withColumn(CHANGE_TYPE_COL, F.lit(INSERT)).unionByName(
                pre.withColumn(CHANGE_TYPE_COL, F.lit(DELETE))
            )
        else:
            # pair updates by merge key: both sides of a commit are
            # CDC-batch-sized (the delta the merge wrote + the rows it
            # retired), so the key sets broadcast
            delta_keys = F.broadcast(delta.select(*keys).distinct())
            pre_keys = F.broadcast(pre.select(*keys).distinct())
            typed = (
                delta.join(pre_keys, keys, "left_semi")
                .withColumn(CHANGE_TYPE_COL, F.lit(UPDATE_POST))
                .unionByName(
                    delta.join(pre_keys, keys, "left_anti").withColumn(
                        CHANGE_TYPE_COL, F.lit(INSERT)
                    )
                )
                .unionByName(
                    pre.join(delta_keys, keys, "left_semi").withColumn(
                        CHANGE_TYPE_COL, F.lit(UPDATE_PRE)
                    )
                )
                .unionByName(
                    pre.join(delta_keys, keys, "left_anti").withColumn(
                        CHANGE_TYPE_COL, F.lit(DELETE)
                    )
                )
            )
    return typed.select(
        *cols, CHANGE_TYPE_COL, F.lit(v).cast("long").alias(COMMIT_VERSION_COL)
    )


def table_changes_typed(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    merge_keys=None,
    broadcast_threshold_rows: int = BROADCAST_THRESHOLD_ROWS,
) -> DataFrame:
    """The typed change rows between two chain versions: head columns
    plus ``_change_type`` (insert / delete / update_preimage /
    update_postimage) and ``_commit_version``. See the module docstring
    for the change model and guards. ``merge_keys`` overrides the
    per-commit manifest ``merge_keys`` for update pairing (one name or
    a list); commits with neither serve deletes + inserts.

    ``from_version == to_version`` is an empty feed with the correct
    schema."""
    schema = chain_schema(spark, root, to_version)
    clash = {CHANGE_TYPE_COL, COMMIT_VERSION_COL} & set(schema.names)
    if clash:
        raise ValueError(f"table schema uses reserved CDF column(s) {sorted(clash)}")
    commits = _range_commits(spark, root, from_version, to_version)
    if not commits:
        return (
            spark.createDataFrame([], schema)
            .withColumn(CHANGE_TYPE_COL, F.lit(None).cast("string"))
            .withColumn(COMMIT_VERSION_COL, F.lit(None).cast("long"))
        )
    out = None
    for v in commits:
        t = _typed_version(
            spark, root, v, schema, merge_keys, broadcast_threshold_rows
        )
        out = t if out is None else out.unionByName(t)
    return out


def table_changes_typed_as_of(
    spark: SparkSession, root: str, from_ts, to_ts, **kwargs
) -> DataFrame:
    """Typed change feed between two TIMESTAMPS — both resolved by the
    ``version_as_of`` boundary rule, then served by
    ``table_changes_typed`` with the same guards and typing."""
    from pyspark_big_data_spark.operators.versioned import version_as_of

    return table_changes_typed(
        spark,
        root,
        version_as_of(spark, root, from_ts),
        version_as_of(spark, root, to_ts),
        **kwargs,
    )


def fold_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a typed feed onto the snapshot it starts from: multiset
    base + (inserts ∪ update_postimages) − (deletes ∪
    update_preimages). ``base`` must be the MOR LOGICAL state at
    ``from_version`` (``read_version_mor`` — a start version inside a
    merge chain still carries later-retired physical rows in its delta
    dirs, which the physical ``read_version`` would double-count).
    Order-independent (module docstring), so one ``exceptAll``
    suffices; the result is the end snapshot's rows in multiset terms
    — assert equality with ``exceptAll`` both ways or a keyed
    compare."""
    cols = [
        c
        for c in changes.columns
        if c not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
    ]
    # a base older than an additive evolution lacks the late columns:
    # null-fill it to the feed's schema, like every chain read
    have = set(base.columns)
    for c in cols:
        if c not in have:
            base = base.withColumn(
                c, F.lit(None).cast(changes.schema[c].dataType)
            )
    adds = changes.filter(
        F.col(CHANGE_TYPE_COL).isin(INSERT, UPDATE_POST)
    ).select(*cols)
    removes = changes.filter(
        F.col(CHANGE_TYPE_COL).isin(DELETE, UPDATE_PRE)
    ).select(*cols)
    return base.select(*cols).unionByName(adds).exceptAll(removes)
