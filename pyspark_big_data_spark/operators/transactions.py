"""Optimistic multi-writer transactions over versioned snapshots.

``operators/versioned.py`` gives crash-safe single-writer commits (the
stage-then-rename seam); this module adds the OTHER half of what a
lakehouse table format's commit protocol provides — MULTI-writer
snapshot isolation via optimistic concurrency control with declared
write domains, the Delta ``replaceWhere`` / Iceberg
partition-conflict-detection shape re-expressed over plain parquet
snapshots:

- A transaction declares its WRITE DOMAIN up front: one domain column
  plus the set of values it replaces (partition-like semantics — think
  "this txn rewrites exactly the ``c_mktsegment IN ('BUILDING')``
  slice"). The domain must cover every row the transaction's slice was
  DERIVED from as well as every row it writes, the same contract a
  format's ``replaceWhere`` enforces.
- Each committed transaction records its domain in ``_txn.json`` inside
  its snapshot dir, published atomically by the same single rename as
  the data (underscore-prefixed, invisible to parquet readers — the
  ``_SUCCESS`` convention).
- At commit time the writer re-reads the latest committed version. If
  versions intervened since the transaction's declared base, each one's
  recorded domain is checked for overlap: DISJOINT intervening domains
  mean the stale-base-derived slice is still exactly what a serial
  re-derivation would produce, so the commit REBASES mechanically —
  splice the slice onto the NEW latest snapshot (keep every row outside
  the domain, add the slice rows) and commit at latest+1. Any overlap —
  or an intervening version with no recorded domain (a plain
  ``write_version``, unknown write set) — raises
  ``SnapshotConflictError``: correctness cannot be proven, the caller
  must re-derive. This is precisely the serializable-unless-provably-
  commutative rule the table formats implement at partition/file
  granularity.
- The physical rename race is handled below the conflict check by the
  shared ``fs.commit_staged`` seam: a writer that loses the rename deletes
  its bytes and loops, re-running conflict detection against whatever
  just landed.

At 100 TB the economics are the table formats': conflict detection is
O(intervening versions) metadata reads (one tiny JSON per version, no
data pages), and the rebase splice is one pruned scan of the latest
snapshot (the anti-domain filter pushes to parquet) plus the slice —
never a re-run of the user's derivation. Full-copy snapshots remain the
deliberate poor-man's corner (versioned.py's docstring economics:
dimension-sized mutable tables); a format adoption swaps the splice for
file-level deltas with the query shapes unchanged.

Reference parity note: the reference engine (src/query1-4.py) has no
mutation surface at all; transactions extend this repo's production
pipeline surface alongside MERGE (operators/upsert.py) and versioned
time travel.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.operators.versioned import latest_version, read_version

TXN_NAME = "_txn.json"


class SnapshotConflictError(RuntimeError):
    """A concurrent commit's write domain overlaps this transaction's
    (or cannot be proven disjoint); the caller must re-derive from the
    current snapshot instead of rebasing a stale-base result."""


def txn_info(spark: SparkSession, root: str, version: int) -> dict | None:
    """The recorded write domain of ``v=version`` (None when the
    snapshot was committed outside the transaction layer — e.g. a plain
    ``write_version`` — and therefore has an UNKNOWN write set)."""
    tpath = f"{root.rstrip('/')}/v={version}/{TXN_NAME}"
    return fs.read_json(spark, tpath) if fs.exists(spark, tpath) else None


def _canon(values) -> list[str]:
    """Canonical string form of a domain value set — the conflict check
    compares these across writers, so all writers must pass the same
    Python types for the same logical values (ints or strings; the
    filter itself uses the caller's natural-typed values)."""
    return sorted({str(v) for v in values})


def commit_replace_where(
    spark: SparkSession,
    root: str,
    slice_df: DataFrame,
    col: str,
    values,
    base_version: int,
    max_retries: int = 10,
) -> int:
    """Commit a replace-slice transaction and return its version number.

    ``slice_df`` is the full new content of the ``col IN values`` slice,
    derived from snapshot ``base_version`` (possibly stale by the time
    this runs — that is the point). The commit:

    1. conflict-checks every version committed after ``base_version``
       (disjoint recorded domains required — see module docstring);
    2. splices: new snapshot = (latest snapshot rows with ``col`` NOT in
       ``values`` — NULLs are outside every domain and always kept) +
       ``slice_df``;
    3. stages data + ``_txn.json`` and publishes both with the single
       atomic rename; a lost rename race deletes this writer's bytes and
       loops from step 1 against the newly-landed version.

    The domain column should be non-null-keyed (like a partition
    column); a transaction cannot claim NULL in its domain. Raises
    ``SnapshotConflictError`` on any provable-or-unprovable overlap and
    ``ValueError`` on a missing/ahead base. The snapshot schema is
    pinned by the latest version: ``slice_df`` is projected onto it by
    name, so column order drift can't fork the schema."""
    vals = list(values)
    if not vals:
        raise ValueError("transaction must declare a non-empty domain")
    vals_s = _canon(vals)
    for _ in range(max_retries):
        latest = latest_version(spark, root)
        if latest is None:
            raise ValueError(
                f"versioned dataset at {root} has no versions: seed v=0 "
                "with write_version first"
            )
        if base_version > latest:
            raise ValueError(
                f"base_version {base_version} is ahead of latest v={latest}"
            )
        for v in range(base_version + 1, latest + 1):
            other = txn_info(spark, root, v)
            if other is None:
                raise SnapshotConflictError(
                    f"v={v} was committed without transaction metadata "
                    "(unknown write set); cannot prove disjointness — "
                    "re-derive from the current snapshot"
                )
            if other.get("col") != col:
                raise SnapshotConflictError(
                    f"v={v} declared domain column {other.get('col')!r} != "
                    f"{col!r}; cross-column disjointness is unprovable"
                )
            overlap = set(other.get("values", [])) & set(vals_s)
            if overlap:
                raise SnapshotConflictError(
                    f"v={v} touched overlapping domain values {sorted(overlap)}"
                )
        base = read_version(spark, root, latest)
        keep = base.filter(F.col(col).isNull() | ~F.col(col).isin(vals))
        merged = keep.unionByName(slice_df.select(*base.columns))
        n = latest + 1
        # writer-unique staging (r13): concurrent writers must never
        # share or sweep each other's staging bytes
        staging = f"{root.rstrip('/')}/.staging_v{n}.{uuid.uuid4().hex[:12]}"
        merged.write.mode("overwrite").parquet(staging)
        doc = {
            "txn_version": 1,
            "base_version": base_version,
            "rebased_onto": latest,
            "col": col,
            "values": vals_s,
        }
        fs.write_json(spark, f"{staging}/{TXN_NAME}", doc)
        if fs.commit_staged(spark, root, staging, n):
            return n
        # Rename race lost: loop re-runs conflict detection against the
        # version that just landed before trying again.
    raise SnapshotConflictError(
        f"lost the commit race {max_retries} times at {root}"
    )
