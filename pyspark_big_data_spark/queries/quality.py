"""Data-quality and change-capture utilities: equi-width histogram,
referential-integrity audit, and snapshot diff (CDC extract).

Three more engine utilities a warehouse team runs daily, each a pure
DataFrame plan:

- ``price_histogram``: fixed-bin distribution sketch of a measure —
  one map-side bucket expression + a bins-sized aggregate.
- ``referential_integrity_audit``: orphan counts for every declared
  FK relation in one report — each relation is a left-anti join
  (broadcast when the parent key set is small), unioned into a
  relation-keyed summary. Clean testdata audits to zero orphans; the
  zeros are the assertion, not a degenerate case.
- ``snapshot_diff``: given two versions of a keyed table, emit every
  key's change class (I/U/D) — the read-side complement to
  operators/upsert.py's MERGE and streaming/ivm.py's folds. Change
  detection compares an md5 over the canonically-stringified non-key
  columns, so any column drift flags U without column-by-column plans.
  The 'new' snapshot here is derived deterministically from customer
  (drops, balance updates, key-shifted inserts) so both engines
  construct identical versions.

Scale notes: the histogram and audit are single-shuffle aggregates;
the diff is one full-outer join on the key — at 100 TB you partition
both snapshots the same way (bucketing) and the join is co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Equi-width histogram
# ---------------------------------------------------------------------------

_HIST_WIDTH = 25_000.0
_HIST_BINS = 20  # [0, 500k) in 25k bins; out-of-range clamps to edge bins

_HIST_ORACLE = f"""
SELECT CAST(LEAST(GREATEST(FLOOR(o_totalprice / {_HIST_WIDTH}), 0),
                  {_HIST_BINS - 1}) AS BIGINT) AS bin,
       COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS bin_min,
       ROUND(MAX(o_totalprice), 2) AS bin_max
FROM orders
GROUP BY 1
ORDER BY bin
"""


@register("price_histogram", oracle=_HIST_ORACLE)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: {_HIST_BINS} bins of
    {_HIST_WIDTH:.0f}, outliers clamped into the edge bins. One
    codegen bucket expression + a bins-sized aggregate — the
    stats-collection primitive behind optimizer histograms."""
    orders = read_table(spark, sf_dir, "orders")
    bin_col = (
        F.least(
            F.greatest(F.floor(F.col("o_totalprice") / _HIST_WIDTH), F.lit(0)),
            F.lit(_HIST_BINS - 1),
        )
    ).cast("long")
    return (
        orders.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

_RI_ORACLE = """
SELECT 'lineitem.l_orderkey -> orders' AS relation,
       (SELECT COUNT(*) FROM lineitem) AS n_child,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey -> customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'events.user_id -> customer',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = e.user_id))
ORDER BY relation
"""


@register("referential_integrity_audit", oracle=_RI_ORACLE)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan report for every declared FK relation: child rows whose
    parent key is absent, via left-anti joins unioned into one summary.
    On clean testdata every n_orphans is 0 — the audit PROVES it rather
    than assuming it. Each anti-join shuffles on its own key (or
    broadcasts the parent's key projection when small)."""
    rels = [
        ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"),
    ]
    out = None
    for label, child, ckey, parent, pkey in rels:
        c = read_table(spark, sf_dir, child)
        p = read_table(spark, sf_dir, parent).select(F.col(pkey).alias(ckey)).distinct()
        orphans = c.join(p, ckey, "left_anti")
        row = (
            c.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(label).alias("relation"), "n_child", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# Snapshot diff (CDC extract between two table versions)
# ---------------------------------------------------------------------------

# deterministic 'new' snapshot derivation from customer:
#   DELETE  where c_custkey % 17 == 3
#   UPDATE  c_acctbal + 100 where c_custkey % 13 == 1 (and not deleted)
#   INSERT  key-shifted clones (c_custkey + 1_000_000) where c_custkey % 29 == 5
_DIFF_ROWHASH = "md5(concat_ws('|', c_name, CAST(c_nationkey AS VARCHAR), " \
    "CAST(ROUND(c_acctbal, 2) AS VARCHAR), c_mktsegment))"

_DIFF_ORACLE = f"""
WITH old_snap AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
), new_snap AS (
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 13 = 1 THEN c_acctbal + 100 ELSE c_acctbal END
               AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 17 <> 3
    UNION ALL
    SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 29 = 5
), o AS (
    SELECT c_custkey, {_DIFF_ROWHASH} AS h FROM old_snap
), n AS (
    SELECT c_custkey, {_DIFF_ROWHASH} AS h FROM new_snap
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'I'
            WHEN n.c_custkey IS NULL THEN 'D'
            ELSE 'U' END AS change
FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL OR o.h <> n.h
ORDER BY c_custkey
"""


def _row_hash(df: DataFrame) -> DataFrame:
    return df.select(
        "c_custkey",
        F.md5(
            F.concat_ws(
                "|",
                F.col("c_name"),
                F.col("c_nationkey").cast("string"),
                F.round("c_acctbal", 2).cast("string"),
                F.col("c_mktsegment"),
            )
        ).alias("h"),
    )


@register("snapshot_diff", oracle=_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extract between two snapshots of a keyed table: one
    full-outer join on the key, rows classified I (new key), D (gone
    key), or U (same key, md5 row-hash drift over canonically
    stringified non-key columns). The 'new' snapshot is derived
    deterministically (drops / balance updates / key-shifted inserts)
    so the oracle constructs the identical pair. At 100 TB both
    snapshots share a bucketed layout and the join is co-located;
    unchanged keys (the vast majority) never leave the joined
    partition."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    old_snap = cust
    updated = cust.filter(F.col("c_custkey") % 17 != 3).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 13 == 1, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    inserts = cust.filter(F.col("c_custkey") % 29 == 5).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    new_snap = updated.unionByName(inserts)

    o = _row_hash(old_snap).select(
        F.col("c_custkey").alias("o_key"), F.col("h").alias("o_h")
    )
    n = _row_hash(new_snap).select(
        F.col("c_custkey").alias("n_key"), F.col("h").alias("n_h")
    )
    joined = o.join(n, F.col("o_key") == F.col("n_key"), "full_outer")
    return (
        joined.filter(
            F.col("o_key").isNull()
            | F.col("n_key").isNull()
            | (F.col("o_h") != F.col("n_h"))
        )
        .select(
            F.coalesce("o_key", "n_key").alias("c_custkey"),
            F.when(F.col("o_key").isNull(), "I")
            .when(F.col("n_key").isNull(), "D")
            .otherwise("U")
            .alias("change"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: erasure cascade audit
# ---------------------------------------------------------------------------

_ERASE_MOD = 100  # probe erasure set: customers with c_custkey % 100 == 0

_ERASURE_ORACLE = f"""
WITH probe AS (SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0),
probe_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM probe))
SELECT * FROM (
    SELECT 'customer' AS relation,
           CAST((SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT c_custkey FROM probe)) AS BIGINT) AS n_erase,
           CAST((SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM probe)) AS BIGINT) AS n_keep
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM probe)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM probe_orders)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM probe_orders)) AS BIGINT)
    UNION ALL
    SELECT 'events',
           CAST((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT c_custkey FROM probe)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM probe)) AS BIGINT)
)
ORDER BY relation
"""


@register("user_erasure_audit", oracle=_ERASURE_ORACLE, driver=False)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a probe erasure set of
    customers, count the rows each relation would lose under the FULL
    FK cascade — customer -> orders -> lineitem (transitively via the
    order keys) and customer -> events (user activity). The audit is
    the dry-run a compliance pipeline reviews before the destructive
    pass; the destructive pass itself is
    operators/upsert.py::erase_keys_parquet per relation (a rewrite
    committed by ``fs.swap_dir``, idempotent on replay), tested in
    tests/test_upsert.py.

    Shape: each relation contributes one semi-join count + one
    anti-join count against the (broadcastable by construction) probe
    key set; the lineitem leg cascades through the probe orders' keys —
    also erasure-sized, so every join here broadcasts. Output is
    4 relation-keyed rows at any corpus size."""
    probe = read_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % _ERASE_MOD == 0
    ).select("c_custkey")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    ev = read_table(spark, sf_dir, "events")
    probe_orders = orders.join(
        F.broadcast(probe), orders.o_custkey == probe.c_custkey, "left_semi"
    ).select("o_orderkey")

    def leg(name: str, df: DataFrame, col: str, keys: DataFrame, kcol: str) -> DataFrame:
        erase = df.join(F.broadcast(keys), df[col] == keys[kcol], "left_semi")
        keep = df.join(F.broadcast(keys), df[col] == keys[kcol], "left_anti")
        return (
            erase.agg(F.count(F.lit(1)).cast("long").alias("n_erase"))
            .crossJoin(keep.agg(F.count(F.lit(1)).cast("long").alias("n_keep")))
            .select(F.lit(name).alias("relation"), "n_erase", "n_keep")
        )

    return (
        leg("customer", cust, "c_custkey", probe, "c_custkey")
        .unionByName(leg("orders", orders, "o_custkey", probe, "c_custkey"))
        .unionByName(leg("lineitem", li, "l_orderkey", probe_orders, "o_orderkey"))
        .unionByName(leg("events", ev, "user_id", probe, "c_custkey"))
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# Keyed MERGE (upsert) witness: the destructive ops path driver-verified
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH upd1 AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
           'MERGED' AS c_mktsegment
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT -c_custkey - 1, 'NEW_' || CAST(c_custkey AS VARCHAR), c_nationkey,
           0.25, 'FRESH'
    FROM customer WHERE c_custkey % 11 = 0
), after1 AS (
    SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd1)
    UNION ALL
    SELECT * FROM upd1
), upd2 AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 7.25 AS c_acctbal,
           'MERGED2' AS c_mktsegment
    FROM after1 WHERE c_custkey % 5 = 0
), after2 AS (
    SELECT * FROM after1 WHERE c_custkey NOT IN (SELECT c_custkey FROM upd2)
    UNION ALL
    SELECT * FROM upd2
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM after2 ORDER BY c_custkey
"""


@register("upsert_merge_witness", oracle=_UPSERT_ORACLE)
def upsert_merge_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics driver-verified (the lakehouse-gap witness,
    MIGRATION.md): run TWO sequential keyed upserts through
    operators/upsert.py::upsert_parquet — anti-join out updated keys,
    union updates, rewrite, ``fs.swap_dir`` — against a mutable
    customer dimension written as hive-partitioned parquet, then return
    the FINAL persisted dataset row-for-row. Merge 1 exercises both
    MERGE arms (matched-UPDATE: c_custkey % 7 == 0 gets +1000.0 /
    segment MERGED; not-matched-INSERT: keys -(c_custkey)-1 of c_custkey % 11
    == 0 — offset past the key-0 self-negation); merge 2 re-reads the post-swap state (the refreshByPath
    seam) and updates every key % 5 == 0 — hitting base rows, rows
    updated by merge 1, AND rows merge 1 inserted, plus the second
    rename swap over the first's output. DuckDB replays both merges as
    layered CTEs over the base table, so a lost insert, a double-applied
    update, a stale file listing, or a partial swap flips the row red.
    All arithmetic is exact in double (+1000.0 / +7.25 / literal 0.25),
    so the final c_acctbal column value-hashes bit-exactly.

    Scale shape: each merge is one anti-join (update keys broadcast-
    sized) + union + partitioned rewrite; at 100 TB the same call
    rewrites only touched hive partitions of a partitioned dimension —
    the seam where a table format's file-level MERGE would plug in
    (documented in operators/upsert.py)."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.upsert import upsert_parquet

    root = session_tmpdir("upsert_witness_")
    path = f"{root}/customer_dim"
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    cust = read_table(spark, sf_dir, "customer").select(*cols)
    cust.write.mode("overwrite").partitionBy("c_mktsegment").parquet(path)

    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(1000.0)).alias("c_acctbal"),
        F.lit("MERGED").alias("c_mktsegment"),
    )
    ins = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (-F.col("c_custkey") - 1).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.25).alias("c_acctbal"),
        F.lit("FRESH").alias("c_mktsegment"),
    )
    upsert_parquet(spark, path, upd.unionByName(ins), "c_custkey",
                   partition_by=["c_mktsegment"])

    spark.catalog.refreshByPath(path)
    after1 = spark.read.parquet(path)
    upd2 = after1.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(7.25)).alias("c_acctbal"),
        F.lit("MERGED2").alias("c_mktsegment"),
    )
    upsert_parquet(spark, path, upd2, "c_custkey", partition_by=["c_mktsegment"])

    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path).select(*cols).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Versioned snapshots: time-travel reads driver-verified
# ---------------------------------------------------------------------------

_TT_ORACLE = """
WITH v0 AS (
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer
), v1 AS (
    SELECT c_custkey, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 500.0
                ELSE c_acctbal END AS c_acctbal
    FROM v0 WHERE c_custkey % 13 <> 3
), v2 AS (
    SELECT * FROM v1
    UNION ALL
    SELECT -c_custkey - 1, c_nationkey, 1.5 FROM v0 WHERE c_custkey % 11 = 0
)
SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum
FROM v0
UNION ALL
SELECT CAST(1 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
FROM v1
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
FROM v2
ORDER BY version
"""


@register("snapshot_time_travel_witness", oracle=_TT_ORACLE, driver=False)
def snapshot_time_travel_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel driver-verified (operators/versioned.py): commit a
    3-version history of a customer dimension — v0 the base snapshot,
    v1 derived FROM THE READ-BACK v0 (update +500.0 on c_custkey % 7,
    delete c_custkey % 13 == 3), v2 derived from the read-back v1
    (insert keys -(k)-1 for c_custkey % 11) — then, AFTER v2 is
    committed, time-travel-read ALL THREE versions and emit each one's
    (version, n_rows, decimal-exact bal_sum). DuckDB replays the
    version chain as layered CTEs, so a mutated historical snapshot, a
    version that read as empty, a staging dir counted as committed, or
    a lost delete/insert flips the row red. Each write commits via
    stage-then-rename (``fs.commit_staged``, shared by every commit log);
    reads pin ``v=N`` directories, which is what makes the history
    immutable under later writes."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        read_version,
        write_version,
    )

    root = session_tmpdir("versioned_dim_")

    # Commits live OUTSIDE assert expressions: under ``python -O``
    # asserts are stripped wholesale, and a stripped write_version call
    # would silently skip the commit itself, not just the check.
    def _commit(df: DataFrame, expected: int) -> None:
        got = write_version(df, root)
        if got != expected:
            raise RuntimeError(f"expected to commit v={expected}, got v={got}")

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    _commit(base, 0)

    v0 = read_version(spark, root, 0)
    v1 = v0.filter(F.col("c_custkey") % 13 != 3).select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(500.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    _commit(v1, 1)

    inserts = v0.filter(F.col("c_custkey") % 11 == 0).select(
        (-F.col("c_custkey") - 1).alias("c_custkey"),
        "c_nationkey",
        F.lit(1.5).alias("c_acctbal"),
    )
    v2 = read_version(spark, root, 1).unionByName(inserts)
    _commit(v2, 2)

    out = None
    for v in (0, 1, 2):
        snap = read_version(spark, root, v)
        row = snap.agg(
            F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
        ).select(F.lit(v).cast("long").alias("version"), "n_rows", "bal_sum")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# Footer-stats file pruning: the manifest read path, driver-verified
# ---------------------------------------------------------------------------

_PRUNE_ORACLE = """
WITH hi AS (
    SELECT CAST(FLOOR(MAX(c_custkey) / 5.0) AS BIGINT) AS hi FROM customer
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS pruned_gate
FROM customer, hi
WHERE c_custkey <= hi.hi
"""


@register("snapshot_pruned_read_witness", oracle=_PRUNE_ORACLE)
def snapshot_pruned_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level stats pruning driver-verified (the last lakehouse
    delta in public-knowledge scope, operators/versioned.py): commit a
    range-clustered customer snapshot WITH a footer-stats manifest,
    then answer a narrow range predicate (c_custkey <= max/5, the
    bound a bounded 1-row scalar collect like O4's head-k) through
    ``read_version_pruned`` — which skips every file whose manifest
    [min, max] proves it empty for the predicate BEFORE Spark lists
    files. Emits (n_rows, decimal-exact bal_sum) of the pruned read
    plus ``pruned_gate`` = 1 iff strictly fewer files than the
    snapshot total were selected. DuckDB recomputes the aggregate on
    the raw table, so a file wrongly pruned (missing rows), a stale
    manifest, or pruning that silently stopped pruning (gate 0) flips
    the row red. Pruning is a superset pre-cut + filter, so the values
    are layout-independent; the gate holds for any near-even range
    split (8 range files, predicate covers ~20% of the key span)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        pruned_file_plan,
        read_version_pruned,
        write_version,
    )

    root = session_tmpdir("pruned_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    hi = base.agg(F.floor(F.max("c_custkey") / 5.0).cast("long")).collect()[0][0]
    v = write_version(
        base.repartitionByRange(8, "c_custkey"), root, stats_cols=["c_custkey"]
    )
    _, n_sel, n_total = pruned_file_plan(
        spark, root, "c_custkey", upper=hi, version=v
    )
    pruned = read_version_pruned(spark, root, "c_custkey", upper=hi, version=v)
    gate = 1 if n_sel < n_total else 0
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select("n_rows", "bal_sum", F.lit(gate).cast("long").alias("pruned_gate"))


_ZPRUNE_ORACLE = """
WITH bounds AS (
    SELECT CAST(FLOOR(MAX(user_id) / 8.0) AS BIGINT) AS uhi,
           CAST(FLOOR(MAX(value) / 2.0) AS DOUBLE) AS vlo
    FROM events
), u AS (
    SELECT COUNT(*) AS rows_user,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_user
    FROM events, bounds WHERE user_id <= uhi
), v AS (
    SELECT COUNT(*) AS rows_value,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
    FROM events, bounds WHERE value >= vlo
)
SELECT rows_user, sum_user, rows_value, sum_value,
       CAST(1 AS BIGINT) AS prune_gate_user,
       CAST(1 AS BIGINT) AS prune_gate_value
FROM u, v
"""


@register("zorder_pruned_read_witness", oracle=_ZPRUNE_ORACLE, driver=False)
def zorder_pruned_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout lever and the manifest lever COMPOSED (r10 queue
    head): commit an events snapshot clustered on (user_id, value) by
    the Z-order key (operators/layout.py — each file covers a compact
    z-range, i.e. a small hyper-rectangle of BOTH dimensions) with a
    footer-stats manifest over both columns, then answer a narrow
    range predicate on EACH dimension through ``read_version_pruned``:
    a low band on user_id (<= max/8) and the top tail on value
    (>= max/2 — value is skewed low in this corpus, so the SELECTIVE
    side at file level is the tail; rows with a set top value-bit land
    in the final z-key range by construction, which is what confines
    them to the last file(s)). A single-column sort would make the
    second dimension unprunable (every file spans its full range — the
    test_layout.py measurement); z-clustering is what makes BOTH
    ``prune_gate_*`` columns (files-selected < files-total, per
    dimension) hold at once. DuckDB recomputes both aggregates from
    the raw table, so a wrongly skipped file on either dimension, or
    pruning that silently stopped pruning, flips the row red. Bounds
    are driver-collected scalars; the same FLOOR arithmetic runs in
    both engines."""
    import math

    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.layout import zorder_key
    from pyspark_big_data_spark.operators.versioned import (
        pruned_file_plan,
        read_version_pruned,
        write_version,
    )

    root = session_tmpdir("zpruned_events_")
    base = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    row = base.agg(F.max("user_id"), F.max("value")).collect()[0]
    uhi = int(row[0]) // 8
    vlo = float(math.floor(row[1] / 2.0))

    arranged = (
        zorder_key(base, "user_id", "value")
        .repartitionByRange(8, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    v = write_version(arranged, root, stats_cols=["user_id", "value"])

    _, n_u, total = pruned_file_plan(spark, root, "user_id", upper=uhi, version=v)
    _, n_v, _ = pruned_file_plan(spark, root, "value", lower=vlo, version=v)
    agg_u = read_version_pruned(spark, root, "user_id", upper=uhi, version=v).agg(
        F.count(F.lit(1)).alias("rows_user"), dsum("value", "sum_user")
    )
    agg_v = read_version_pruned(spark, root, "value", lower=vlo, version=v).agg(
        F.count(F.lit(1)).alias("rows_value"), dsum("value", "sum_value")
    )
    return agg_u.crossJoin(agg_v).select(
        "rows_user",
        "sum_user",
        "rows_value",
        "sum_value",
        F.lit(1 if n_u < total else 0).cast("long").alias("prune_gate_user"),
        F.lit(1 if n_v < total else 0).cast("long").alias("prune_gate_value"),
    )


_BLOOM_ORACLE = """
WITH probe AS (
    SELECT CAST(FLOOR(MAX(c_custkey) / 3.0) AS BIGINT) AS k,
           COUNT(*) AS meta_count
    FROM customer
)
SELECT c.c_custkey, c.c_acctbal, p.meta_count,
       CAST(1 AS BIGINT) AS range_blind_gate,
       CAST(1 AS BIGINT) AS bloom_gate
FROM customer c, probe p WHERE c.c_custkey = p.k
"""


@register("bloom_point_lookup_witness", oracle=_BLOOM_ORACLE, driver=False)
def bloom_point_lookup_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom index + metadata-only COUNT driver-verified (r10
    queue head; operators/versioned.py): commit a customer snapshot
    with keys HASH-SCATTERED across 8 files (repartition on
    c_nationkey) so every file spans the full c_custkey range — the
    layout where min/max stats prune NOTHING (asserted by
    ``range_blind_gate``: the range plan for the probe key selects all
    files) — then point-look-up c_custkey = max/3 through
    ``read_version_point``, which pins the key to the strict file
    subset whose Bloom filters might contain it (``bloom_gate``:
    files-selected < files-total; false positives only cost an extra
    file read, the residual equality filter keeps values exact).
    ``meta_count`` answers COUNT(*) from the manifest's footer row
    counts with zero data pages. DuckDB independently returns the
    probed row and the table count, so a false NEGATIVE (bloom skipped
    the matching file — zero rows), a wrong bloom build, or drifted
    manifest row counts flips the row red."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        bloom_file_plan,
        pruned_file_plan,
        read_version_point,
        snapshot_row_count,
        write_version,
    )

    root = session_tmpdir("bloom_dim_")
    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    k = int(base.agg(F.max("c_custkey")).collect()[0][0]) // 3
    v = write_version(
        base.repartition(8, "c_nationkey"),
        root,
        stats_cols=["c_custkey"],
        bloom_cols=["c_custkey"],
    )
    _, n_range, total = pruned_file_plan(spark, root, "c_custkey", k, k, version=v)
    _, n_bloom, _ = bloom_file_plan(spark, root, "c_custkey", k, version=v)
    meta_count = snapshot_row_count(spark, root, v)
    return read_version_point(spark, root, "c_custkey", k, version=v).select(
        "c_custkey",
        "c_acctbal",
        F.lit(meta_count).cast("long").alias("meta_count"),
        F.lit(1 if n_range == total else 0).cast("long").alias("range_blind_gate"),
        F.lit(1 if n_bloom < total else 0).cast("long").alias("bloom_gate"),
    )


_BACKFILL_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS val_sum,
       CAST(1 AS BIGINT) AS corrupt_gate,
       CAST(1 AS BIGINT) AS untouched_gate
FROM events
"""


@register("backfill_partition_witness", oracle=_BACKFILL_ORACLE, driver=False)
def backfill_partition_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped backfill driver-verified (r10 queue head;
    operators/backfill.py): materialize events hive-partitioned by day
    with ONE partition deliberately corrupted (its values doubled —
    the bad-deploy scenario), then repair exactly that partition with
    ``overwrite_partitions`` (dynamic partition overwrite) and return
    the whole-table aggregate. DuckDB computes the clean aggregate
    from the raw table, so an incomplete repair, a repair that leaked
    into other days, or the static-overwrite footgun (truncating the
    table to the backfilled day) flips the row red. Gates:
    ``corrupt_gate`` = 1 iff the pre-repair table really differed from
    clean (the witness must prove it repaired SOMETHING), and
    ``untouched_gate`` = 1 iff a non-target day's parquet files are
    byte-listed identical before and after the repair (reprocessing
    one day out of years must not rewrite the rest)."""
    import os

    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.backfill import overwrite_partitions

    root = session_tmpdir("backfill_")
    path = f"{root}/events_by_day"
    base = read_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_id", "value"
    )
    days = base.agg(F.min("dt"), F.max("dt")).collect()[0]
    target, other = days[0], days[1]

    corrupted = base.withColumn(
        "value",
        F.when(F.col("dt") == target, F.col("value") * 2.0).otherwise(
            F.col("value")
        ),
    )
    corrupted.write.mode("overwrite").partitionBy("dt").parquet(path)

    def listing(day: str) -> list[tuple[str, int]]:
        d = f"{path}/dt={day}"
        return sorted(
            (f, os.stat(f"{d}/{f}").st_size)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = listing(other)
    pre_sum = (
        spark.read.parquet(path).agg(dsum("value", "s")).first()["s"]
    )

    repair = base.filter(F.col("dt") == target)
    overwrite_partitions(repair, path, ["dt"])
    spark.catalog.refreshByPath(path)

    untouched = 1 if listing(other) == before else 0
    table = spark.read.parquet(path)
    post = table.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("value", "val_sum")
    ).first()
    corrupt = 1 if pre_sum != post["val_sum"] else 0
    return spark.createDataFrame(
        [(post["n_rows"], post["val_sum"], corrupt, untouched)],
        "n_rows long, val_sum double, corrupt_gate long, untouched_gate long",
    )


_EXPECT_ORACLE = """
SELECT rule, metric,
       CAST(CASE WHEN rule = 'row_count_min' THEN metric >= 1
                 ELSE metric = 0 END AS BIGINT) AS passed
FROM (
    SELECT 'custkey_fk' AS rule,
           CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                 ON o.o_custkey = c.c_custkey
                 WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
                AS DOUBLE) AS metric
    UNION ALL
    SELECT 'orderkey_not_null',
           CAST((SELECT COUNT(*) FILTER (WHERE o_orderkey IS NULL)
                 FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'orderkey_unique',
           CAST((SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
                 FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'row_count_min',
           CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'status_accepted',
           CAST((SELECT COUNT(*) FILTER (
                     WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
                 FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'totalprice_bounds',
           CAST((SELECT COUNT(*) FILTER (
                     WHERE o_totalprice IS NULL
                        OR o_totalprice < 0 OR o_totalprice > 1000000)
                 FROM orders) AS DOUBLE)
)
ORDER BY rule
"""


@register("expectations_report_orders", oracle=_EXPECT_ORACLE, driver=False)
def expectations_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite driver-verified (r10 queue;
    operators/expectations.py — the Deequ-style constraint engine):
    six declared rules over orders (PK never null, PK unique,
    totalprice in [0, 1e6], status in {O,F,P}, table non-empty, every
    o_custkey resolves against customer) evaluated into a
    (rule, metric, passed) report — all scalar rules in ONE aggregate
    over one scan, the FK rule as one anti-join count (Catalyst
    broadcasts the dimension-sized parent on its own).
    DuckDB recomputes every metric independently, so a miscounted
    violation, a rule silently dropped from the single-pass compile,
    or a pass/fail criterion drift flips the row red. The clean
    testdata passes every rule; the zeros ARE the assertion (the
    referential_integrity_audit convention), while the engine's
    violation-counting paths are exercised against planted-dirty
    frames in tests/test_expectations.py."""
    from pyspark_big_data_spark.operators.expectations import (
        expectations_report,
    )

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    rules = [
        ("not_null", "o_orderkey", "orderkey_not_null"),
        ("unique", "o_orderkey", "orderkey_unique"),
        ("bounds", "o_totalprice", 0.0, 1_000_000.0, "totalprice_bounds"),
        ("accepted", "o_orderstatus", ["O", "F", "P"], "status_accepted"),
        ("row_count_min", 1, "row_count_min"),
        ("fk", "o_custkey", customer, "c_custkey", "custkey_fk"),
    ]
    return expectations_report(orders, rules)


# ---------------------------------------------------------------------------
# Schema evolution: merged scan over files written under growing schemas
# ---------------------------------------------------------------------------

_EVOLVE_ORACLE = """
WITH evolved AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN
                CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END
           END AS lang,
           LENGTH(text) AS n_chars
    FROM documents
)
SELECT COALESCE(lang, '(pre-evolution)') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM evolved GROUP BY 1 ORDER BY lang
"""


@register("schema_evolution_read", oracle=_EVOLVE_ORACLE, driver=False)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan driver-verifiable end to end: write the
    corpus in TWO generations with different physical schemas — the
    old files (doc_id % 2 == 0) carry (doc_id, text) only, the new
    appends (doc_id % 2 == 1) add a ``lang`` column — then read the
    dataset back through ``io.read_evolved`` (mergeSchema + canonical
    projection) and aggregate per language, the pre-evolution rows
    surfacing as typed-null → '(pre-evolution)'. The oracle replays
    the generation rule over the base table, so a scan that bound to
    one file's schema (dropping ``lang``), misaligned columns across
    generations, or lost the null-fill flips the row red. This is the
    backfill reality of a long-lived 100 TB corpus: columns arrive
    mid-life, and old files are never rewritten."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark_big_data_spark.io import read_evolved, session_tmpdir

    root = session_tmpdir("evolved_corpus_")
    path = f"{root}/docs"
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(path)
    lang = (
        F.when(F.col("doc_id") % 3 == 0, "en")
        .when(F.col("doc_id") % 3 == 1, "de")
        .otherwise("fr")
    )
    docs.filter(F.col("doc_id") % 2 == 1).withColumn("lang", lang).write.mode(
        "append"
    ).parquet(path)

    canonical = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    evolved = read_evolved(spark, path, canonical)
    return (
        evolved.groupBy(
            F.coalesce(F.col("lang"), F.lit("(pre-evolution)")).alias("lang")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Optimistic multi-writer transactions: disjoint-domain rebase, driver-verified
# ---------------------------------------------------------------------------

_TXN_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                     THEN CAST(c_acctbal AS DECIMAL(30,8)) + 100.00
                     WHEN c_mktsegment = 'MACHINERY'
                     THEN CAST(c_acctbal AS DECIMAL(30,8)) * 2
                     ELSE CAST(c_acctbal AS DECIMAL(30,8)) END) AS DOUBLE)
           AS bal_sum,
       CAST(1 AS BIGINT) AS conflict_gate,
       CAST(1 AS BIGINT) AS serial_gate
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("txn_disjoint_rebase_witness", oracle=_TXN_ORACLE, driver=False)
def txn_disjoint_rebase_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer snapshot isolation driver-verified (r11 queue;
    operators/transactions.py — the optimistic-concurrency half of the
    lakehouse commit protocol, over the versioned.py snapshot seam):
    seed a customer dimension as v0, then run two transactions BOTH
    derived from the stale base v0 — txn A replaces the BUILDING slice
    (+100.00), txn B replaces the MACHINERY slice (*2). A commits v1;
    B's commit detects the intervening version, proves disjointness
    from A's recorded ``_txn.json`` domain, and REBASES mechanically
    (splices its slice onto v1) to commit v2 = the serial result. A
    third transaction from the same stale base touching BUILDING again
    must raise SnapshotConflictError (``conflict_gate``), and the
    version chain must land exactly at v1/v2 with v2 latest
    (``serial_gate``). The emitted per-segment decimal-exact aggregate
    of v2 is recomputed by DuckDB applying both slice updates to the
    raw table, so a lost update (B's rebase dropping A's +100), a
    conflict that silently rebased, or a splice that leaked rows
    across domains flips the row red."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.transactions import (
        SnapshotConflictError,
        commit_replace_where,
    )
    from pyspark_big_data_spark.operators.versioned import (
        latest_version,
        read_version,
        write_version,
    )

    root = session_tmpdir("txn_dim_")
    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(30,8)").alias("c_acctbal"),
    )
    if write_version(base, root) != 0:
        raise RuntimeError("seed must commit v=0")
    v0 = read_version(spark, root, 0)

    a_slice = v0.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.expr("CAST(100.00 AS DECIMAL(30,8))"))
        .cast("decimal(30,8)")
        .alias("c_acctbal"),
    )
    va = commit_replace_where(spark, root, a_slice, "c_mktsegment",
                              ["BUILDING"], base_version=0)

    b_slice = v0.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") * 2).cast("decimal(30,8)").alias("c_acctbal"),
    )
    vb = commit_replace_where(spark, root, b_slice, "c_mktsegment",
                              ["MACHINERY"], base_version=0)

    conflict_gate = 0
    try:
        commit_replace_where(spark, root, a_slice, "c_mktsegment",
                             ["BUILDING"], base_version=0)
    except SnapshotConflictError:
        conflict_gate = 1
    serial_gate = 1 if (va, vb) == (1, 2) and latest_version(spark, root) == 2 else 0

    return (
        read_version(spark, root, 2)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum"))
        .select(
            "c_mktsegment",
            "n_rows",
            "bal_sum",
            F.lit(conflict_gate).cast("long").alias("conflict_gate"),
            F.lit(serial_gate).cast("long").alias("serial_gate"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Sharded manifest + metadata-only MIN/MAX, driver-verified
# ---------------------------------------------------------------------------

_SHARD_ORACLE = """
WITH bounds AS (
    SELECT MIN(c_custkey) AS key_min, MAX(c_custkey) AS key_max,
           CAST(FLOOR(MAX(c_custkey) / 5.0) AS BIGINT) AS hi
    FROM customer
)
SELECT b.key_min, b.key_max,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS shard_gate,
       CAST(1 AS BIGINT) AS pruned_gate
FROM customer c, bounds b
WHERE c.c_custkey <= b.hi
GROUP BY b.key_min, b.key_max
"""


@register("sharded_manifest_witness", oracle=_SHARD_ORACLE, driver=False)
def sharded_manifest_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest LISTS + metadata-only MIN/MAX driver-verified (r11
    queue; operators/versioned.py): commit a range-clustered customer
    snapshot whose manifest is SHARDED (manifest_shard_files=2 over 8
    files -> 4 shard JSONs named by a root manifest list — the Iceberg
    shape that keeps every metadata file bounded as snapshots grow),
    then answer THROUGH the sharded manifest: (a) global
    MIN/MAX(c_custkey) from footer stats with zero data pages
    (``snapshot_min_max``), and (b) the same narrow range predicate as
    snapshot_pruned_read_witness via ``read_version_pruned`` — pruning
    must keep working unchanged across the shard boundary. Gates:
    ``shard_gate`` = 1 iff the committed manifest really merged from
    >1 shard, ``pruned_gate`` = 1 iff strictly fewer files than total
    were selected. DuckDB recomputes MIN/MAX and the pruned aggregate
    from the raw table, so a shard dropped by the merge (missing
    files -> wrong min/max AND a wrongly-pruned read), a stale shard,
    or sharding that silently stopped pruning flips the row red."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        manifest,
        pruned_file_plan,
        read_version_pruned,
        snapshot_min_max,
        write_version,
    )

    root = session_tmpdir("sharded_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    hi = base.agg(F.floor(F.max("c_custkey") / 5.0).cast("long")).collect()[0][0]
    v = write_version(
        base.repartitionByRange(8, "c_custkey"),
        root,
        stats_cols=["c_custkey"],
        manifest_shard_files=2,
    )
    m = manifest(spark, root, v)
    shard_gate = 1 if m.get("n_shards", 0) > 1 else 0
    key_min, key_max = snapshot_min_max(spark, root, ["c_custkey"], v)["c_custkey"]
    _, n_sel, n_total = pruned_file_plan(spark, root, "c_custkey", upper=hi, version=v)
    pruned = read_version_pruned(spark, root, "c_custkey", upper=hi, version=v)
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        F.lit(int(key_min)).cast("long").alias("key_min"),
        F.lit(int(key_max)).cast("long").alias("key_max"),
        "n_rows",
        "bal_sum",
        F.lit(shard_gate).cast("long").alias("shard_gate"),
        F.lit(1 if n_sel < n_total else 0).cast("long").alias("pruned_gate"),
    )


# ---------------------------------------------------------------------------
# Snapshot compaction (OPTIMIZE) + merge-on-read deletes: the r10
# storage-maintenance pair, driver-verified
# ---------------------------------------------------------------------------

_COMPACT_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS files_fell_gate,
       CAST(1 AS BIGINT) AS prune_gate,
       CAST(1 AS BIGINT) AS identical_gate,
       CAST(1 AS BIGINT) AS tag_gate
FROM customer
"""


@register("snapshot_compaction_witness", oracle=_COMPACT_ORACLE, driver=False)
def snapshot_compaction_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE for versioned snapshots driver-verified
    (operators/versioned.py::compact_version): commit a customer
    snapshot as 16 HASH-interleaved small files with a footer-stats
    manifest (the streaming-ingest aftermath — every file spans the
    full key range, so stats pruning selects all 16, asserted by the
    blind pre-gate), then compact to 4 files with
    ``cluster_by=c_custkey`` (one range shuffle that bin-packs AND
    re-clusters). Emits the COMPACTED version's (n_rows, decimal-exact
    bal_sum) — DuckDB recomputes both from the raw table, so a row
    lost or duplicated by the rewrite flips the row red — plus gates:
    ``files_fell_gate`` (file census strictly fell),
    ``prune_gate`` (the same range predicate that was blind on the
    small-file version selects a STRICT SUBSET of the compacted files
    — compaction restored the layout lever), ``identical_gate``
    (pre/post aggregates bit-equal, checked in-plan), and ``tag_gate``
    (a tag pinned to the pre-compaction version protects it through a
    keep_last=1 vacuum: retention reclaims only unnamed history, so
    compaction + vacuum can never strand a named snapshot). The
    100 TB framing: small-file compaction is the maintenance job that
    keeps scan task counts sane; the no-shuffle coalesce path and this
    re-clustering path are both exercised in tests/test_deletes.py."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.refs import create_tag
    from pyspark_big_data_spark.operators.versioned import (
        compact_version,
        expire_versions,
        pruned_file_plan,
        read_version,
        write_version,
    )

    root = session_tmpdir("compact_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    hi = base.agg(F.floor(F.max("c_custkey") / 5.0).cast("long")).collect()[0][0]
    v0 = write_version(
        base.repartition(16, "c_custkey"), root, stats_cols=["c_custkey"]
    )
    _, n_sel0, n_total0 = pruned_file_plan(
        spark, root, "c_custkey", upper=hi, version=v0
    )
    blind_pre = n_sel0 == n_total0  # hash layout: stats prune nothing

    res = compact_version(spark, root, target_files=4, cluster_by="c_custkey", version=v0)
    v1 = res["version"]
    _, n_sel1, n_total1 = pruned_file_plan(
        spark, root, "c_custkey", upper=hi, version=v1
    )

    agg = lambda v: read_version(spark, root, v).agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).collect()[0]
    pre, post = agg(v0), agg(v1)
    identical = (pre["n_rows"], pre["bal_sum"]) == (post["n_rows"], post["bal_sum"])

    create_tag(spark, root, "pre-compact", v0)
    expire_versions(spark, root, keep_last=1)
    tag_ok = read_version(spark, root, v0).count() == pre["n_rows"]

    return read_version(spark, root, v1).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        "n_rows",
        "bal_sum",
        F.lit(1 if res["files_after"] < res["files_before"] else 0)
        .cast("long")
        .alias("files_fell_gate"),
        F.lit(1 if blind_pre and 0 < n_sel1 < n_total1 else 0)
        .cast("long")
        .alias("prune_gate"),
        F.lit(1 if identical else 0).cast("long").alias("identical_gate"),
        F.lit(1 if tag_ok else 0).cast("long").alias("tag_gate"),
    )


_DV_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS untouched_gate,
       CAST(1 AS BIGINT) AS fold_gate
FROM customer
WHERE NOT (c_custkey % 7 = 3) AND NOT (c_custkey % 11 = 5)
"""


@register("delete_vector_read_witness", oracle=_DV_ORACLE, driver=False)
def delete_vector_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes driver-verified (operators/deletes.py —
    the deletion-vector seam named at operators/upsert.py, now real):
    commit a customer snapshot, then TWO accumulating tombstone
    commits (c_custkey % 7 == 3, then % 11 == 5 — each a keyed delete
    that rewrites NOTHING), and read the logical state through
    ``read_version_mor`` (pinned snapshot anti-joined against the
    broadcast tombstone union). Emits (n_rows, decimal-exact bal_sum)
    of the MOR read — DuckDB replays both deletes as WHERE NOT
    predicates, so a lost tombstone, a leaked extra delete, or an
    anti-join that matched nulls flips the row red — plus
    ``untouched_gate`` = 1 iff the v=0 data-file census is
    byte-for-byte identical after both delete commits (the
    merge-on-READ property: deletes cost O(deleted keys), not a
    rewrite), and ``fold_gate`` = 1 iff ``materialize_deletes`` then
    produces a new version whose plain read agrees with the MOR view
    row-count-and-sum exactly (the copy-on-write moment returns reads
    to the zero-join fast path; asserted on the plan in pytest)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.deletes import (
        delete_keys,
        materialize_deletes,
        read_version_mor,
    )
    from pyspark_big_data_spark.operators.versioned import (
        read_version,
        write_version,
    )

    root = session_tmpdir("mor_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v0 = write_version(base.repartitionByRange(8, "c_custkey"), root)

    import os as _os

    vdir = f"{root}/v={v0}"
    census_before = sorted(
        (f, _os.path.getsize(_os.path.join(vdir, f)))
        for f in _os.listdir(vdir)
        if f.endswith(".parquet")
    )

    snap = read_version(spark, root, v0)
    delete_keys(
        spark, root, snap.filter(F.col("c_custkey") % 7 == 3), "c_custkey", version=v0
    )
    delete_keys(
        spark, root, snap.filter(F.col("c_custkey") % 11 == 5), "c_custkey", version=v0
    )

    census_after = sorted(
        (f, _os.path.getsize(_os.path.join(vdir, f)))
        for f in _os.listdir(vdir)
        if f.endswith(".parquet")
    )
    untouched = census_before == census_after

    mor = read_version_mor(spark, root, v0)
    mor_agg = mor.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).collect()[0]

    v1 = materialize_deletes(spark, root, v0)
    folded = read_version(spark, root, v1).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).collect()[0]
    fold_ok = (mor_agg["n_rows"], mor_agg["bal_sum"]) == (
        folded["n_rows"],
        folded["bal_sum"],
    )

    return read_version_mor(spark, root, v0).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        "n_rows",
        "bal_sum",
        F.lit(1 if untouched else 0).cast("long").alias("untouched_gate"),
        F.lit(1 if fold_ok else 0).cast("long").alias("fold_gate"),
    )


_APPEND_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta1,
       CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta2,
       CAST(1 AS BIGINT) AS chain_gate,
       CAST(1 AS BIGINT) AS prune_gate,
       CAST(1 AS BIGINT) AS retention_gate
FROM orders
"""


@register("append_commit_read_witness", oracle=_APPEND_ORACLE, driver=False)
def append_commit_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level APPEND commits driver-verified
    (operators/versioned.py::append_version — the
    add-files-without-rewrite shape that closes the module's last
    full-copy concession): commit orders%3==0 as the v0 base, then two
    APPEND commits (%3==1, %3==2) that each write ONLY their delta
    files plus a chain-linking manifest. The logical read of v2 walks
    the chain (base + both deltas, one multi-directory scan); DuckDB
    recomputes (n_rows, decimal-exact price_sum) over all of orders,
    so a dropped delta, a double-counted base, or a chain that read as
    its tip alone flips the row red. The per-version manifests bind
    the O(delta) write economics: ``n_base``/``n_delta1``/``n_delta2``
    are each version's OWN manifest row-count sum (metadata-only — a
    base copy smuggled into a delta dir would inflate them vs DuckDB's
    mod-class censuses). Gates: ``chain_gate`` (version_chain(v2) ==
    [2,1,0]), ``prune_gate`` (a narrow o_orderkey range predicate
    prunes to a strict file subset ACROSS the chain — every member is
    range-clustered, so footer-stats pruning composes with appends),
    and ``retention_gate`` (expire keep_last=1 expires NOTHING while
    v2 depends on v0/v1 — ancestor protection, the invariant that
    keeps retention from corrupting live chains)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        expire_versions,
        manifest,
        pruned_file_plan,
        read_version,
        version_chain,
        write_version,
    )

    root = session_tmpdir("append_orders_")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hi = orders.agg(F.floor(F.max("o_orderkey") / 4.0).cast("long")).collect()[0][0]

    def _part(mod: int) -> DataFrame:
        return orders.filter(F.col("o_orderkey") % 3 == mod).repartitionByRange(
            4, "o_orderkey"
        )

    v0 = write_version(_part(0), root, stats_cols=["o_orderkey"])
    v1 = append_version(_part(1), root, stats_cols=["o_orderkey"])
    v2 = append_version(_part(2), root, stats_cols=["o_orderkey"])

    def _own_rows(v: int) -> int:
        return sum(int(n) for n in manifest(spark, root, v)["file_rows"].values())

    chain_ok = version_chain(spark, root, v2) == [v2, v1, v0]
    _, n_sel, n_total = pruned_file_plan(
        spark, root, "o_orderkey", upper=hi, version=v2
    )
    prune_ok = 0 < n_sel < n_total
    retention_ok = expire_versions(spark, root, keep_last=1) == []

    return read_version(spark, root, v2).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
    ).select(
        "n_rows",
        "price_sum",
        F.lit(_own_rows(v0)).cast("long").alias("n_base"),
        F.lit(_own_rows(v1)).cast("long").alias("n_delta1"),
        F.lit(_own_rows(v2)).cast("long").alias("n_delta2"),
        F.lit(1 if chain_ok else 0).cast("long").alias("chain_gate"),
        F.lit(1 if prune_ok else 0).cast("long").alias("prune_gate"),
        F.lit(1 if retention_ok else 0).cast("long").alias("retention_gate"),
    )


_CDF_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       CAST(1 AS BIGINT) AS delta_io_gate,
       CAST(1 AS BIGINT) AS rewrite_refusal_gate
FROM orders
WHERE o_orderkey % 3 <> 0
"""


@register("table_changes_feed_witness", oracle=_CDF_ORACLE, driver=False)
def table_changes_feed_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over an append chain driver-verified
    (operators/versioned.py::table_changes): commit orders%3==0 as the
    base, append %3==1 then %3==2, and ask for the changes BETWEEN v0
    and v2. The feed is served by reading ONLY the two delta
    directories — O(changes) I/O, no table scan, no diff join — and
    must equal exactly the appended rows: DuckDB recomputes (n_rows,
    decimal-exact price_sum) over orders with the base mod-class
    excluded, so a feed that leaked base rows, dropped a delta, or
    double-counted flips the row red. Gates: ``delta_io_gate`` = 1 iff
    the feed's file index contains NO v=0 file (the O(changes) claim,
    checked on the actual scan, not argued), and
    ``rewrite_refusal_gate`` = 1 iff asking for changes across a FULL
    REWRITE raises (a rewrite's delta dirs do not represent the
    change — wrong rows must be impossible, not just unlikely)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        table_changes,
        write_version,
    )

    root = session_tmpdir("cdf_orders_")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def _part(mod: int) -> DataFrame:
        return orders.filter(F.col("o_orderkey") % 3 == mod)

    write_version(_part(0), root)
    append_version(_part(1), root)
    append_version(_part(2), root)

    feed = table_changes(spark, root, 0, 2)
    io_ok = all("/v=0/" not in p for p in feed.inputFiles())

    # a full rewrite poisons the range: refusal is part of the contract
    write_version(orders, root)  # v=3
    try:
        table_changes(spark, root, 2, 3)
        refusal_ok = False
    except ValueError:
        refusal_ok = True

    return feed.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
    ).select(
        "n_rows",
        "price_sum",
        F.lit(1 if io_ok else 0).cast("long").alias("delta_io_gate"),
        F.lit(1 if refusal_ok else 0).cast("long").alias("rewrite_refusal_gate"),
    )


_EVOLVE_ORACLE = """
SELECT CASE WHEN o_orderkey % 2 = 1
            THEN CASE WHEN o_totalprice >= 100000 THEN 'hi' ELSE 'lo' END
       END AS band,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       CAST(1 AS BIGINT) AS refusal_gate
FROM orders
GROUP BY band
ORDER BY band
"""


@register("append_evolution_read_witness", oracle=_EVOLVE_ORACLE, driver=False)
def append_evolution_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on an append chain driver-verified
    (operators/versioned.py::append_version(allow_evolution=True)):
    commit orders%2==0 as the base (two columns), then append %2==1
    WITH A NEW COLUMN ``band`` (a price bucket the oracle can replay).
    The chain read merges member schemas and null-fills ``band`` for
    every pre-evolution row — the add-column contract table formats
    ship — so grouping the chain read by ``band`` yields exactly three
    groups: NULL (the whole base, proving null-fill hit every old row
    and only old rows), 'hi' and 'lo' (the delta, proving the new
    column's values survived the merge). DuckDB recomputes all three
    groups' counts and decimal-exact price sums from the raw table, so
    a dropped late column (the default reader's one-file-schema bind),
    a misaligned null-fill, or evolution leaking into base rows flips
    the row red. ``refusal_gate`` = 1 iff BOTH contract refusals fire:
    an evolved append without the explicit opt-in raises, and a
    column-DROPPING append raises even with it (drops are
    indistinguishable from data loss at read time, so they are never
    accepted)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        read_version,
        write_version,
    )

    root = session_tmpdir("evolve_orders_")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    delta = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "band",
        F.when(F.col("o_totalprice") >= 100000, F.lit("hi")).otherwise(F.lit("lo")),
    )
    write_version(base, root)

    refusals = 0
    try:
        append_version(delta, root)
    except ValueError:
        refusals += 1
    try:
        append_version(delta.drop("o_totalprice"), root, allow_evolution=True)
    except ValueError:
        refusals += 1
    v1 = append_version(delta, root, allow_evolution=True)

    return (
        read_version(spark, root, v1)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
        )
        .select(
            "band",
            "n_rows",
            "price_sum",
            F.lit(1 if refusals == 2 else 0).cast("long").alias("refusal_gate"),
        )
        .orderBy("band")
    )


_RESTORE_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows,
       CAST(1 AS BIGINT) AS metadata_only_gate,
       CAST(1 AS BIGINT) AS feed_gate
FROM customer
"""


@register("restore_rollback_witness", oracle=_RESTORE_ORACLE, driver=False)
def restore_rollback_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only RESTORE driver-verified
    (operators/versioned.py::restore_version): commit the customer
    dimension as v0, then a CORRUPTING rewrite as v1 (a third of the
    rows, balances zeroed — the bad-deploy moment), then roll back
    with ``restore_version(root, 0)`` — a new version that is an EMPTY
    delta based on v0, so the rollback writes O(1) bytes regardless of
    table size. Emits the RESTORED current read's (n_rows,
    decimal-exact bal_sum) — DuckDB recomputes both from the raw
    table, so a restore that resolved to the corrupt version, lost
    rows, or double-counted through the chain flips the row red — plus
    ``bad_rows`` = the rolled-back v1's own row count read from
    HISTORY (the corrupt version must stay auditable, and its census
    binds it to DuckDB's mod-class count), ``metadata_only_gate`` = 1
    iff the restore commit's OWN manifest row count is ZERO (the O(1)
    claim, read from metadata), and ``feed_gate`` = 1 iff
    ``table_changes(v0 → restore)`` is empty (a rollback adds no
    rows)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        manifest,
        read_version,
        restore_version,
        table_changes,
        write_version,
    )

    root = session_tmpdir("restore_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v0 = write_version(base, root, stats_cols=["c_custkey"])
    corrupt = base.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", (F.col("c_acctbal") * 0).alias("c_acctbal")
    )
    v1 = write_version(corrupt, root, stats_cols=["c_custkey"])
    v2 = restore_version(spark, root, v0)

    own = sum(int(n) for n in manifest(spark, root, v2)["file_rows"].values())
    feed_empty = table_changes(spark, root, v0, v2).count() == 0
    bad_rows = read_version(spark, root, v1).count()

    return read_version(spark, root, v2).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        "n_rows",
        "bal_sum",
        F.lit(int(bad_rows)).cast("long").alias("bad_rows"),
        F.lit(1 if own == 0 else 0).cast("long").alias("metadata_only_gate"),
        F.lit(1 if feed_empty else 0).cast("long").alias("feed_gate"),
    )


_POSDEL_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS untouched_gate,
       CAST(1 AS BIGINT) AS single_copy_gate
FROM customer
WHERE NOT (c_custkey % 13 = 1)
"""


@register("positional_delete_read_witness", oracle=_POSDEL_ORACLE, driver=False)
def positional_delete_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL deletion vectors driver-verified
    (operators/deletes.py::delete_positions — the Iceberg-v2 complement
    to the equality vectors, addressing rows by (file, row_index) from
    Spark's parquet ``_metadata`` columns): commit the customer
    dimension DOUBLED (every row twice — bit-identical copies an
    equality delete could only remove together), then positional-delete
    exactly the surplus copies (the planner scan: per-key row_number
    over the physical (file, pos) order, addresses with rank >= 2), and
    stack an EQUALITY vector on top (c_custkey % 13 == 1) — both types
    apply on one read, the v2 contract. Emits the MOR read's (n_rows,
    decimal-exact bal_sum); DuckDB computes the same from the
    SINGLE-copy table with the keyed predicate, so a positional delete
    that removed both copies, neither, or the wrong file's row — or an
    equality mask that missed — flips the row red. Gates:
    ``untouched_gate`` = 1 iff v0's data-file census is byte-identical
    after BOTH vector commits, and ``single_copy_gate`` = 1 iff every
    surviving key has exactly one copy (count == distinct count,
    checked in-plan before aggregation)."""
    from pyspark.sql import Window

    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.deletes import (
        delete_keys,
        delete_positions,
        read_version_mor_pos,
        with_positions,
    )
    from pyspark_big_data_spark.operators.versioned import write_version

    root = session_tmpdir("posdel_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v0 = write_version(base.unionByName(base), root)

    import os as _os

    vdir = f"{root}/v={v0}"

    def _census():
        return sorted(
            (f, _os.path.getsize(_os.path.join(vdir, f)))
            for f in _os.listdir(vdir)
            if f.endswith(".parquet")
        )

    before = _census()
    w = Window.partitionBy("c_custkey").orderBy("_file", "_pos")
    surplus = (
        with_positions(spark, root, v0)
        .select("_file", "_pos", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") >= 2)
    )
    delete_positions(spark, root, surplus, version=v0)
    delete_keys(
        spark,
        root,
        base.filter(F.col("c_custkey") % 13 == 1),
        "c_custkey",
        version=v0,
    )
    untouched = _census() == before

    mor = read_version_mor_pos(spark, root, v0)
    counts = mor.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_custkey").alias("nd"),
    ).collect()[0]
    single_copy = counts["n"] == counts["nd"]

    return mor.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        "n_rows",
        "bal_sum",
        F.lit(1 if untouched else 0).cast("long").alias("untouched_gate"),
        F.lit(1 if single_copy else 0).cast("long").alias("single_copy_gate"),
    )


_NULLSTATS_ORACLE = """
WITH hi AS (
    SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS hi FROM customer
)
SELECT (SELECT COUNT(*) FROM customer, hi WHERE c_custkey <= hi.hi) AS n_nulls_meta,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS prune_gate
FROM customer, hi
WHERE c_custkey > hi.hi
"""


@register("null_stats_pruned_read_witness", oracle=_NULLSTATS_ORACLE, driver=False)
def null_stats_pruned_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer NULL-count statistics driver-verified
    (operators/versioned.py — the third metadata-only query shape next
    to COUNT and MIN/MAX, and the sparse-column scan cut): commit a
    customer snapshot range-clustered on c_custkey whose ``val`` column
    is NULL for the lower half of the key span (the
    optional-column-populated-in-one-era layout), then (a) answer the
    column's TOTAL null census from the manifest alone
    (``snapshot_null_counts`` — zero data pages; emitted as
    ``n_nulls_meta`` and recomputed by DuckDB as the lower-half count,
    so a footer miscount or a manifest that drifted from its data flips
    the row red) and (b) serve ``val IS NOT NULL`` through
    ``read_version_not_null``, which SKIPS every file whose footer
    proves all-null (null_count == num_rows) before Spark lists it —
    (n_rows, decimal-exact bal_sum) of the pruned read value-pinned
    against the upper half. ``prune_gate`` = 1 iff strictly fewer
    files than the snapshot total were selected AND the skipped census
    is non-zero (the cut actually happened)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        not_null_file_plan,
        read_version_not_null,
        snapshot_null_counts,
        write_version,
    )

    root = session_tmpdir("nullstats_dim_")
    base = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    hi = base.agg(F.floor(F.max("c_custkey") / 2.0).cast("long")).collect()[0][0]
    sparse = base.select(
        "c_custkey",
        F.when(F.col("c_custkey") > hi, F.col("c_acctbal")).alias("val"),
    )
    v = write_version(
        sparse.repartitionByRange(8, "c_custkey"),
        root,
        stats_cols=["c_custkey", "val"],
    )
    n_nulls = snapshot_null_counts(spark, root, ["val"], v)["val"]
    _, n_sel, n_total = not_null_file_plan(spark, root, "val", v)
    gate = 1 if (0 < n_sel < n_total and n_nulls > 0) else 0
    return read_version_not_null(spark, root, "val", v).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("val", "bal_sum")
    ).select(
        F.lit(int(n_nulls)).cast("long").alias("n_nulls_meta"),
        "n_rows",
        "bal_sum",
        F.lit(gate).cast("long").alias("prune_gate"),
    )


_Z3_ORACLE = """
WITH bounds AS (
    SELECT CAST(FLOOR(MAX(user_id) / 8.0) AS BIGINT) AS uhi,
           CAST(FLOOR(MAX(value) / 2.0) AS DOUBLE) AS vlo,
           CAST(FLOOR(MAX(event_id) / 8.0) AS BIGINT) AS ehi
    FROM events
), u AS (
    SELECT COUNT(*) AS rows_user,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_user
    FROM events, bounds WHERE user_id <= uhi
), v AS (
    SELECT COUNT(*) AS rows_value,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
    FROM events, bounds WHERE value >= vlo
), e AS (
    SELECT COUNT(*) AS rows_event,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_event
    FROM events, bounds WHERE event_id <= ehi
)
SELECT rows_user, sum_user, rows_value, sum_value, rows_event, sum_event,
       CAST(1 AS BIGINT) AS prune_gate_user,
       CAST(1 AS BIGINT) AS prune_gate_value,
       CAST(1 AS BIGINT) AS prune_gate_event
FROM u, v, e
"""


@register("zorder3_pruned_read_witness", oracle=_Z3_ORACLE, driver=False)
def zorder3_pruned_read_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-dimensional Z-order composed with footer-stats pruning
    (operators/layout.py::zorder_key_n / morton_interleave_n — the
    N-dim generalization of the 2-D layout lever): commit an events
    snapshot clustered on (user_id, value, event_id) by the 3-dim
    Morton key (16 bits per dimension, 64 range files = 2 prefix bits
    per dim) with a footer-stats manifest over all three columns, then
    answer a narrow range predicate on EACH dimension through
    ``read_version_pruned`` — low user band, high value tail, low
    event band. A sort by any ONE column makes the other TWO
    unprunable; 2-D Z-order covers two; only the N-dim interleave
    makes all three gates passable simultaneously. Emits each pruned
    read's (rows, decimal-exact value sum) — DuckDB recomputes all
    three on the raw table, so a wrongly pruned file flips the row
    red — plus a per-dimension strict-subset gate. The docstring
    caveat is part of the operator's contract: every added dimension
    SPENDS key resolution (48//N bits each), so past ~4 columns
    hierarchical layouts win — stated, not hidden."""
    import math

    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.layout import zorder_key_n
    from pyspark_big_data_spark.operators.versioned import (
        pruned_file_plan,
        read_version_pruned,
        write_version,
    )

    root = session_tmpdir("z3pruned_events_")
    base = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    row = base.agg(F.max("user_id"), F.max("value"), F.max("event_id")).collect()[0]
    uhi = int(row[0]) // 8
    vlo = float(math.floor(row[1] / 2.0))
    ehi = int(row[2]) // 8

    arranged = (
        zorder_key_n(base, ["user_id", "value", "event_id"], bits=16)
        .repartitionByRange(64, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    v = write_version(
        arranged, root, stats_cols=["user_id", "value", "event_id"]
    )

    _, n_u, total = pruned_file_plan(spark, root, "user_id", upper=uhi, version=v)
    _, n_v, _ = pruned_file_plan(spark, root, "value", lower=vlo, version=v)
    _, n_e, _ = pruned_file_plan(spark, root, "event_id", upper=ehi, version=v)
    agg_u = read_version_pruned(spark, root, "user_id", upper=uhi, version=v).agg(
        F.count(F.lit(1)).alias("rows_user"), dsum("value", "sum_user")
    )
    agg_v = read_version_pruned(spark, root, "value", lower=vlo, version=v).agg(
        F.count(F.lit(1)).alias("rows_value"), dsum("value", "sum_value")
    )
    agg_e = read_version_pruned(spark, root, "event_id", upper=ehi, version=v).agg(
        F.count(F.lit(1)).alias("rows_event"), dsum("value", "sum_event")
    )
    return agg_u.crossJoin(agg_v).crossJoin(agg_e).select(
        "rows_user",
        "sum_user",
        "rows_value",
        "sum_value",
        "rows_event",
        "sum_event",
        F.lit(1 if n_u < total else 0).cast("long").alias("prune_gate_user"),
        F.lit(1 if n_v < total else 0).cast("long").alias("prune_gate_value"),
        F.lit(1 if n_e < total else 0).cast("long").alias("prune_gate_event"),
    )


_MERGE_ORACLE = """
WITH target AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 2
), src AS (
    SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 5 = 0
), matched AS (
    SELECT s.o_orderkey, s.o_totalprice FROM src s
    JOIN target t ON s.o_orderkey = t.o_orderkey
), final AS (
    SELECT t.o_orderkey, t.o_totalprice FROM target t
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM matched)
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM matched WHERE o_orderkey % 2 <> 0
    UNION ALL
    SELECT s.o_orderkey, s.o_totalprice FROM src s
    WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM matched)
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS price_sum,
       (SELECT COUNT(*) FROM matched WHERE o_orderkey % 2 = 0) AS n_deleted,
       (SELECT COUNT(*) FROM matched WHERE o_orderkey % 2 <> 0) AS n_updated,
       (SELECT COUNT(*) FROM src
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM matched)) AS n_inserted,
       CAST(1 AS BIGINT) AS single_commit_gate
FROM final
"""


@register("merge_into_witness", oracle=_MERGE_ORACLE, driver=False)
def merge_into_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clause-complete MERGE INTO driver-verified (operators/merge.py —
    matched-update / matched-delete / not-matched-insert planned over
    ONE broadcast-joined pass of the target chain and committed as ONE
    atomic version: delta files + the positional vector that retires
    the replaced rows publish in a single rename, the VERDICT r10
    next-step #2 shape): commit orders%3<>2 as the target, MERGE a
    source of orders%5=0 with bumped prices — matched even keys DELETE,
    matched odd keys UPDATE SET *, unmatched INSERT * — then emit the
    merged MOR state's (n_rows, decimal-exact price_sum) plus the
    engine's own clause tallies. DuckDB replays the same MERGE
    declaratively (anti-join survivors + conditional updates + anti-
    join inserts), so a clause that fired on the wrong rows, a vector
    that retired too much/little, or a lost delta flips the row red.
    ``single_commit_gate`` = 1 iff the MERGE burned exactly one version
    whose vector is EMBEDDED (no external tombstone tree exists) —
    the atomicity witness."""
    import os as _os

    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.deletes import read_version_mor
    from pyspark_big_data_spark.operators.merge import merge_into
    from pyspark_big_data_spark.operators.versioned import (
        list_versions,
        write_version,
    )

    root = session_tmpdir("merge_dim_")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    target = orders.filter(F.col("o_orderkey") % 3 != 2)
    write_version(target, root)
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("o_totalprice")
    )
    res = merge_into(
        spark,
        root,
        src,
        "o_orderkey",
        when_matched_update=True,
        when_matched_delete="source.o_orderkey % 2 = 0",
        when_not_matched_insert=True,
    )
    single_commit = (
        list_versions(spark, root) == [0, 1]
        and _os.path.exists(f"{root}/v=1/_merge_deletes")
        and not _os.path.exists(f"{root}/_pos_deletes")
        and not _os.path.exists(f"{root}/_deletes")
    )
    return read_version_mor(spark, root, res["version"]).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice", "price_sum")
    ).select(
        "n_rows",
        "price_sum",
        F.lit(res["n_deleted"]).cast("long").alias("n_deleted"),
        F.lit(res["n_updated"]).cast("long").alias("n_updated"),
        F.lit(res["n_inserted"]).cast("long").alias("n_inserted"),
        F.lit(1 if single_commit else 0).cast("long").alias("single_commit_gate"),
    )


_ASOF_TT_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
       CAST(1 AS BIGINT) AS mid_gate,
       CAST(1 AS BIGINT) AS latest_gate,
       CAST(1 AS BIGINT) AS predate_gate
FROM customer
"""


@register("time_travel_as_of_witness", oracle=_ASOF_TT_ORACLE, driver=False)
def time_travel_as_of_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF-TIMESTAMP time travel driver-verified
    (operators/versioned.py::version_as_of — resolution from the
    manifests' ``committed_at`` stamps, the form users actually type;
    VERDICT r10 next-step #4): commit three versions of the customer
    dimension (half / FULL / third), then resolve a timestamp strictly
    between the 2nd and 3rd commits — the boundary rule (latest version
    with commit time <= ts) must land on the FULL middle version, whose
    (n_rows, decimal-exact bal_sum) DuckDB recomputes from the raw
    table; a resolver that rounds the wrong way, reads the wrong
    version, or drifts off the manifest clock flips the row red. Gates
    (all replayed in-plan): ``mid_gate`` = the mid-timestamp resolves
    to v1 AND reads exactly the full snapshot's row count;
    ``latest_gate`` = a post-everything timestamp resolves to the last
    version; ``predate_gate`` = a timestamp before the first commit
    raises (never silently serves v=0)."""
    from pyspark_big_data_spark.functions.aggregates import dsum
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        read_version_as_of,
        version_as_of,
        version_commit_times,
        write_version,
    )

    root = session_tmpdir("asof_tt_dim_")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_version(cust.filter(F.col("c_custkey") % 2 == 0), root,
                  stats_cols=["c_custkey"])
    write_version(cust, root, stats_cols=["c_custkey"])
    write_version(cust.filter(F.col("c_custkey") % 3 == 0), root,
                  stats_cols=["c_custkey"])

    times = version_commit_times(spark, root)
    mid = (times[1] + times[2]) / 2.0
    mid_v = version_as_of(spark, root, mid)
    latest_v = version_as_of(spark, root, times[2] + 3600.0)
    try:
        version_as_of(spark, root, times[0] - 3600.0)
        predates = False
    except ValueError:
        predates = True

    asof = read_version_as_of(spark, root, mid)
    return asof.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("c_acctbal", "bal_sum")
    ).select(
        "n_rows",
        "bal_sum",
        F.lit(1 if mid_v == 1 else 0).cast("long").alias("mid_gate"),
        F.lit(1 if latest_v == 2 else 0).cast("long").alias("latest_gate"),
        F.lit(1 if predates else 0).cast("long").alias("predate_gate"),
    )


_NDV_ORACLE = """
SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS ndv_segment,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys_exact,
       CAST(1 AS BIGINT) AS estimate_gate,
       CAST(1 AS BIGINT) AS chain_gate
FROM customer
"""


@register("snapshot_ndv_witness", oracle=_NDV_ORACLE, driver=False)
def snapshot_ndv_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style NDV statistics driver-verified
    (operators/versioned.py::snapshot_ndv — per-file Datasketches HLL
    sketches committed IN the manifest, merged at query time with
    hll_union_agg: the fourth metadata-only query shape next to COUNT
    / MIN-MAX / NULLS, and the mergeability demonstration — an append
    chain answers NDV by unioning every member's sketches with zero
    data pages): commit the customer dimension as a CHAIN (even keys,
    then odd keys appended), both members sketched on c_custkey and
    c_mktsegment. Emits the sketch's segment NDV (tiny cardinality —
    the sketch is in exact list mode, so DuckDB's COUNT DISTINCT must
    match it to the integer) and the EXACT key census (value-pinned by
    DuckDB). Gates: ``estimate_gate`` = the chain-merged key-NDV
    estimate is within 5% of exact (lgK=12 RSE is ~1.6%);
    ``chain_gate`` = the estimate strictly exceeds either single
    member's (the union really merged, not picked one side)."""
    from pyspark_big_data_spark.io import session_tmpdir
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        snapshot_ndv,
        write_version,
    )

    root = session_tmpdir("ndv_dim_")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    write_version(
        cust.filter(F.col("c_custkey") % 2 == 0),
        root,
        ndv_cols=["c_custkey", "c_mktsegment"],
    )
    base_est = snapshot_ndv(spark, root, "c_custkey", version=0)
    v1 = append_version(
        cust.filter(F.col("c_custkey") % 2 == 1),
        root,
        ndv_cols=["c_custkey", "c_mktsegment"],
    )
    est = snapshot_ndv(spark, root, "c_custkey", version=v1)
    seg = snapshot_ndv(spark, root, "c_mktsegment", version=v1)
    exact = cust.agg(F.count_distinct("c_custkey").alias("n")).collect()[0]["n"]
    est_ok = abs(est / max(exact, 1) - 1.0) <= 0.05
    chain_ok = est > base_est

    return spark.createDataFrame(
        [(int(seg), int(exact), 1 if est_ok else 0, 1 if chain_ok else 0)],
        "ndv_segment long, n_keys_exact long, estimate_gate long, chain_gate long",
    )
