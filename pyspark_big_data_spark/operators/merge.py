"""MERGE INTO for versioned snapshots: the clause-complete upsert the
lakehouse formats ship, planned as ONE scan of the target and committed
as ONE atomic version.

``merge_into`` implements the canonical three-clause MERGE over an
append chain (operators/versioned.py)::

    MERGE INTO target USING source ON target.k = source.k
    WHEN MATCHED [AND <delete_cond>] THEN DELETE
    WHEN MATCHED [AND <update_cond>] THEN UPDATE SET *
    WHEN NOT MATCHED [AND <insert_cond>] THEN INSERT *

Execution shape (the 100 TB plan):

1. **One target pass.** The target is the MERGE-ON-READ state of the
   chain head WITH row addresses attached
   (``read_version_mor(keep_addresses=True)`` — ancestor deletion
   vectors already resolved, so sequential MERGEs compose). It joins
   the source INNER on the key — broadcast while the source's exact
   row count (already paid for by the uniqueness aggregate) stays at
   or under ``broadcast_threshold_rows``, so the target streams
   through a BroadcastHashJoin with no shuffle of the big side; a
   larger source drops the hint and AQE plans a shuffle join (slower,
   never a driver OOM). The matched set (O(|source|)) is cached once
   and reused by every clause; the source itself is persisted across
   its multiple evaluations (uniqueness, stats bounds, bloom probe,
   join).
2. **Clauses become a deletion vector + a delta.** Matched rows that
   delete or update contribute their ``(_file, _pos)`` addresses to a
   positional vector; updates contribute the SOURCE row to the delta;
   not-matched source rows (an anti-join against the broadcast matched
   KEYS, never against the target) contribute inserts.
3. **One commit.** The delta files and the vector publish together:
   ``append_version(..., embedded_pos_deletes=...)`` stages the vector
   INSIDE the new version dir (``v=N/_merge_deletes`` — hidden from
   data scans) so the single rename is the whole transaction. A crash
   anywhere before the rename publishes nothing; there is no window
   where the deletes are visible without the updates or vice versa.

Semantics pinned (where engines differ, we follow Delta/Iceberg):

- clause ORDER is delete-first: a matched row satisfying both the
  delete and update conditions is deleted;
- the source must be KEY-UNIQUE — two source rows matching one target
  row make the update non-deterministic, so it raises (Delta's
  "multiple source rows matched" error);
- duplicate target copies per key are all retired together and
  replaced by the single source row (UPDATE SET * collapses copies);
- condition strings are SQL over the aliases ``target`` and ``source``
  (e.g. ``"source.o_totalprice > target.o_totalprice"``); ``True``
  means unconditional, ``None``/``False`` disables the clause.

Reads of the merged table MUST be merge-on-read
(``read_version_mor``); plain ``read_version`` serves the physical
chain and is wrong the moment any vector exists — the same contract as
every DV-bearing format. ``materialize_deletes`` folds back to a
vector-free physical snapshot on the maintenance cadence.

Reference parity note: the reference engine (src/query1-4.py) is
read-only; MERGE is extension surface (VERDICT r10 next-step #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.operators.deletes import (
    BROADCAST_THRESHOLD_ROWS,
    FILE_COL,
    POS_COL,
    read_version_mor,
)
from pyspark_big_data_spark.operators.versioned import (
    _resolve_version,
    append_version,
    chain_schema,
)


def _clause_cond(clause):
    """Normalize a clause argument: True -> always, None/False ->
    disabled, str -> SQL expr over the target/source aliases."""
    if clause is None or clause is False:
        return None
    if clause is True:
        return F.lit(True)
    return F.expr(clause)


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: str,
    when_matched_update=True,
    when_matched_delete=None,
    when_not_matched_insert=True,
    stats_cols: list[str] | None = None,
    prune_with_stats: bool = True,
    bloom_prune_max_keys: int = 100_000,
    manifest_extra: dict | None = None,
    base_version: int | None = None,
    broadcast_threshold_rows: int = BROADCAST_THRESHOLD_ROWS,
    update_set: dict[str, str] | None = None,
    insert_values: dict[str, str] | None = None,
    when_not_matched_by_source_update=None,
    when_not_matched_by_source_delete=None,
    not_matched_by_source_set: dict[str, str] | None = None,
    allow_evolution: bool = False,
) -> dict:
    """Run the MERGE and return ``{"version", "n_deleted", "n_updated",
    "n_inserted"}`` (the new version is None when every clause matched
    nothing — an empty MERGE burns no version number). With
    ``stats_cols`` left None the commit carries the head manifest's
    ``stats_cols`` / ``bloom_cols``, like every row mutation.

    COLUMN-LEVEL clauses (r13). By default the clauses are full-width
    (``UPDATE SET * / INSERT *``: the source must carry every target
    column). ``update_set`` switches the update clause to
    ``UPDATE SET c = expr [, ...]``: a dict of target column -> SQL
    expression over the ``target`` / ``source`` aliases (e.g.
    ``{"o_totalprice": "source.delta + target.o_totalprice"}``);
    unassigned columns carry the TARGET row through, so the source
    only needs its key columns plus whatever the expressions
    reference — the partial-update CDC shape. Column-level updates
    apply ROW-WISE: each matched target copy updates individually
    (full-width ``SET *`` keeps its collapse-to-source semantics for
    duplicate target copies). ``insert_values`` likewise switches the
    insert clause to explicit-column ``INSERT (cols) VALUES (exprs)``
    — expressions over the ``source`` alias, unassigned columns NULL;
    the merge keys must be assigned (a NULL-key insert could never be
    matched again).

    SCHEMA EVOLUTION (r13, Delta's autoMerge shape):
    ``allow_evolution=True`` makes NEW source columns (beyond the
    target schema) part of the written delta instead of
    condition-only extras — updated and inserted rows carry them, the
    commit evolves the chain additively (``append_version
    allow_evolution``), and chain/MOR reads null-fill pre-evolution
    rows, exactly like the append-evolution contract. Column-level
    ``update_set`` / ``insert_values`` may then assign the new
    columns too (unassigned new columns are NULL on rewritten rows).
    Default off: extra source columns stay visible to clause
    conditions but are never written.

    NOT MATCHED BY SOURCE clauses (r13, Delta's SCD shape): target
    rows whose key appears in NO source row. ``..._delete`` retires
    them, ``..._update`` rewrites them via ``not_matched_by_source_set``
    (REQUIRED with the update — there is no source row, so ``SET *``
    is meaningless; expressions see the ``target`` alias only), with
    the same delete-first clause order as the matched pair. COST:
    enabling either clause disables the stats/bloom file-pruning
    ladder (an unmatched target row can live in any file, so the
    whole target must be scanned) and adds one more anti-join pass
    over the target — the same bill every engine pays for these
    clauses.

    ``prune_with_stats`` (default on): when every chain member's
    manifest carries footer stats for the merge key, the target scan is
    FILE-PRUNED to the source's [min(key), max(key)] range before the
    join — the Iceberg merge-on-read file-skipping move. A MERGE whose
    source touches one day of a year-partitioned-by-key table then
    reads ~1/365th of the files; rows outside the pruned range are
    untouched by definition (they cannot match), so the result is
    identical. Falls back to the full scan silently when stats are
    absent (for a COMPOSITE key, the FIRST key column drives pruning).
    When the stats range cuts NOTHING (hash-scattered keys span every
    file's [min, max]) or stats are absent, the ladder falls to
    per-file BLOOM probing — for a source of at most
    ``bloom_prune_max_keys`` keys (collected to the driver, bounded),
    every file whose filter rejects ALL source keys is skipped: the
    CDC-upsert-on-UUID file-skipping shape, where min/max can never
    help but the Blooms pin each key to ~1 file. Both cuts are
    SUPERSETS (missing stats/blooms degrade to reading a file, never
    to missing a match).

    ``key`` may be one column name or a list (composite merge keys:
    the ON condition is the conjunction of per-column equalities, and
    key-uniqueness applies to the tuple).

    ``base_version`` pins the snapshot the merge plans AND commits
    against (a BRANCH head — ``merge_to_branch`` passes it; linearity
    is then the branch CAS's job, not the global counter's). Default:
    the global latest, with WriteConflict protection."""
    keys = [key] if isinstance(key, str) else list(key)
    version = _resolve_version(spark, root, base_version)
    target_schema = chain_schema(spark, root, version)
    target_cols = [f.name for f in target_schema.fields]
    for k in keys:
        if k not in target_cols:
            raise ValueError(f"merge key {k!r} is not a target column")
    # schema evolution: new source columns become written columns
    new_cols = (
        [c for c in source.columns if c not in target_cols]
        if allow_evolution
        else []
    )
    out_cols = target_cols + new_cols
    from pyspark.sql.types import StructType

    out_schema = StructType(
        list(target_schema.fields) + [source.schema[c] for c in new_cols]
    )
    upd = _clause_cond(when_matched_update)
    dele = _clause_cond(when_matched_delete)
    ins = _clause_cond(when_not_matched_insert)
    by_upd = _clause_cond(when_not_matched_by_source_update)
    by_del = _clause_cond(when_not_matched_by_source_delete)
    if all(c is None for c in (upd, dele, ins, by_upd, by_del)):
        raise ValueError("merge with every clause disabled is a no-op")
    if by_upd is not None and not not_matched_by_source_set:
        raise ValueError(
            "WHEN NOT MATCHED BY SOURCE ... UPDATE needs "
            "not_matched_by_source_set (there is no source row, so "
            "SET * is meaningless)"
        )
    if not_matched_by_source_set is not None:
        if by_upd is None:
            raise ValueError(
                "not_matched_by_source_set given but the by-source "
                "update clause is disabled"
            )
        bad = set(not_matched_by_source_set) - set(out_cols)
        if bad:
            raise ValueError(
                f"not_matched_by_source_set assigns non-existent "
                f"column(s) {sorted(bad)} (writable schema: {sorted(out_cols)})"
            )
    if update_set is not None and upd is None:
        raise ValueError("update_set given but the update clause is disabled")
    if insert_values is not None and ins is None:
        raise ValueError("insert_values given but the insert clause is disabled")
    for label, assigns in (("update_set", update_set), ("insert_values", insert_values)):
        if assigns is not None:
            if not assigns:
                raise ValueError(f"{label} needs at least one assignment")
            bad = set(assigns) - set(out_cols)
            if bad:
                raise ValueError(
                    f"{label} assigns non-existent column(s) {sorted(bad)} "
                    f"(writable schema: {sorted(out_cols)})"
                )
    if insert_values is not None:
        missing_keys = set(keys) - set(insert_values)
        if missing_keys:
            raise ValueError(
                f"insert_values must assign the merge key(s); missing "
                f"{sorted(missing_keys)} — a NULL-key insert could never "
                "be matched again"
            )
    # full-width clauses need a full-width source; column-level clauses
    # only need the keys plus whatever their expressions reference
    needs_full = (upd is not None and update_set is None) or (
        ins is not None and insert_values is None
    )
    required = set(target_cols) if needs_full else set(keys)
    missing = required - set(source.columns)
    if missing:
        raise ValueError(
            "UPDATE SET * / INSERT * merge needs a source carrying every "
            f"target column; missing {sorted(missing)} (extra source "
            "columns are allowed — visible to clause conditions, never "
            "written)"
            if needs_full
            else f"merge source is missing key column(s) {sorted(missing)}"
        )

    # The source is evaluated up to 4 times below (uniqueness
    # aggregate, stats bounds, bloom probe collect, the join itself) —
    # for a derived CDC pipeline that is 4 plan executions, so pin it
    # once; released in the same finally as `matched`. A source the
    # CALLER already persisted is left alone (persisting it again
    # no-ops, and unpersisting would evict the caller's cache).
    from pyspark.storagelevel import StorageLevel

    we_persisted = source.storageLevel == StorageLevel.NONE
    if we_persisted:
        source = source.persist()

    try:
        # key-unique source, or updates are non-deterministic (Delta's
        # 'multiple source rows matched' refusal). The same aggregate
        # also carries the first key's [min, max] for the stats-pruning
        # ladder below — one source pass where there were two (the
        # bounds come free next to the uniqueness census).
        null_any = None
        for k in keys:
            c = F.col(k).isNull()
            null_any = c if null_any is None else (null_any | c)
        # A CONDITIONAL insert whose condition resolves against the
        # source alias ALONE (the CDC-flag shape, "NOT source.__del")
        # is priced from two aggregates that already run — # source
        # rows passing the condition (here) minus # matched source
        # keys passing it (the clause census) — instead of a separate
        # anti-join count job per MERGE (r14; guide §1.2). Conditions
        # that reference target.* keep the anti-join count.
        ins_src_only = False
        if ins is not None and when_not_matched_insert is not True:
            try:
                source.alias("source").select(F.when(ins, F.lit(1)))
                ins_src_only = True
            except Exception:
                ins_src_only = False
        agg_cols = [
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("nd"),
            F.sum(null_any.cast("long")).alias("nn"),
            F.min(F.col(keys[0])).alias("lo"),
            F.max(F.col(keys[0])).alias("hi"),
        ]
        if ins_src_only:
            agg_cols.append(
                F.coalesce(
                    F.sum(F.when(ins, F.lit(1)).cast("long")), F.lit(0)
                ).alias("n_ins_pass")
            )
        counts = source.alias("source").agg(*agg_cols).collect()[0]
        if counts["nn"]:
            raise ValueError("merge source carries NULL keys")
        if counts["n"] != counts["nd"]:
            raise ValueError(
                f"merge source is not key-unique on {keys} "
                f"({counts['n']} rows, {counts['nd']} distinct keys) — "
                "multiple source rows matching one target row make UPDATE "
                "non-deterministic"
            )

        # ONE pass over the (MOR-resolved) target: stream it through a
        # broadcast inner join against the source; cache the matched set
        # (O(|source|)) for the clause fan-out. With manifest stats on the
        # (first) key, "one pass" shrinks to "one pass over the files the
        # source keys can live in".
        target = None
        by_source = by_upd is not None or by_del is not None
        if by_source:
            # an unmatched target row can live in ANY file: the
            # source-keyed pruning ladder would silently hide rows
            # from the by-source clauses
            prune_with_stats = False
        if prune_with_stats:
            from pyspark_big_data_spark.operators.versioned import (
                bloom_file_plan_multi,
                pruned_file_plan,
            )

            bounds = counts  # [min, max] rode the uniqueness aggregate
            selected = None
            try:
                sel, n_sel, n_total = pruned_file_plan(
                    spark, root, keys[0], bounds["lo"], bounds["hi"], version
                )
                if n_sel < n_total:
                    selected = sel
            except ValueError:
                pass  # no/partial manifest stats for the key
            if selected is None and counts["n"] <= bloom_prune_max_keys:
                # the stats range cut nothing (or could not run): probe the
                # per-file Blooms with the source's keys — bounded collect.
                # Coverage is pre-checked on the (memoized) manifests so a
                # bloom-less chain never pays the probe-collect job only
                # to have bloom_file_plan_multi refuse (r14: this was one
                # wasted source-sized collect per MERGE on every
                # manifest-less witness table).
                from pyspark_big_data_spark.operators.versioned import (
                    manifest,
                    version_chain,
                )

                try:
                    covered = all(
                        (mf := manifest(spark, root, v)) is not None
                        and keys[0] in mf.get("bloom_cols", [])
                        for v in version_chain(spark, root, version)
                    )
                except ValueError:
                    covered = False
                if covered:
                    probes = [
                        r[keys[0]] for r in source.select(keys[0]).collect()
                    ]
                    sel, n_sel, n_total = bloom_file_plan_multi(
                        spark, root, keys[0], probes, version
                    )
                    if n_sel < n_total:
                        selected = sel
            if selected is not None:
                target = read_version_mor(
                    spark,
                    root,
                    version,
                    keep_addresses=True,
                    selected_files=selected,
                )
        if target is None:
            target = read_version_mor(spark, root, version, keep_addresses=True)
        on = None
        for k in keys:
            c = F.col(f"target.{k}") == F.col(f"source.{k}")
            on = c if on is None else (on & c)
        # PRICED broadcast (the DV-threshold pattern, deletes.py): the
        # uniqueness aggregate above already paid for an exact source
        # row count, so the design assumption "CDC sources are small"
        # is enforced, not assumed — a 500M-row backfill source drops
        # the hint and lets AQE plan a shuffle join instead of OOMing
        # the driver.
        small_source = counts["n"] <= broadcast_threshold_rows
        src_side = source.alias("source")
        if small_source:
            src_side = F.broadcast(src_side)
        matched = target.alias("target").join(src_side, on, "inner").persist()
        nm = None  # by-source anti-join, persisted below when enabled
        try:
            always_false = F.lit(False)
            dele_c = dele if dele is not None else always_false
            upd_c = upd if upd is not None else always_false
            # clause order: DELETE evaluates first (a row passing both is
            # deleted); every retired copy contributes its address
            retire = matched.filter(dele_c | upd_c)
            vector = retire.select(
                F.col(f"target.{FILE_COL}").alias(FILE_COL),
                F.col(f"target.{POS_COL}").alias(POS_COL),
            )
            # ONE aggregate job prices every matched-side clause
            # (retired / deleted / updated) instead of three separate
            # count() actions over the persisted matched set — same
            # numbers, 1 job where there were 3 (guide §1.2: fewer
            # passes before per-task tuning). n_updated semantics per
            # path: full-width SET * collapses duplicate target copies
            # to one source row per key (distinct source keys among
            # update-passing rows); column-level SET updates row-wise.
            upd_live = ~dele_c & upd_c
            if upd is None:
                upd_count_col = F.lit(0).alias("n_upd")
            elif update_set is None:
                upd_count_col = F.count_distinct(
                    F.when(
                        upd_live,
                        F.struct(*[F.col(f"source.{k}") for k in keys]),
                    )
                ).alias("n_upd")
            else:
                upd_count_col = F.coalesce(
                    F.sum(upd_live.cast("long")), F.lit(0)
                ).alias("n_upd")
            census_cols = [
                F.coalesce(F.sum((dele_c | upd_c).cast("long")), F.lit(0)).alias(
                    "n_retired"
                ),
                F.coalesce(F.sum(dele_c.cast("long")), F.lit(0)).alias(
                    "n_deleted"
                ),
                upd_count_col,
                # distinct source keys with ANY match: prices the
                # unconditional-INSERT clause as n_source - n_matched
                # (source is key-unique, proven above) without a
                # separate anti-join count job
                F.count_distinct(
                    F.struct(*[F.col(f"source.{k}") for k in keys])
                ).alias("n_src_matched"),
            ]
            # MEASURED DEAD END (r14, kept as a note): carrying the
            # deletion-vector addresses on this aggregate as a capped
            # collect_list — to commit them driver-side and drop the
            # per-commit vector-write job — degenerates the census plan:
            # mixing collect_list with the count_distinct terms forces
            # the distinct-expand + SortAggregate path (20.7 s vs 1.2 s
            # for the scalar census on the merge witness fixture), and a
            # separate vec-only action prices the same as the write job
            # it would replace. The distributed vector write stays.
            if ins_src_only:
                # matched source keys passing the source-only insert
                # condition (constant per key: the condition reads only
                # source columns, which every matched copy shares)
                census_cols.append(
                    F.count_distinct(
                        F.when(
                            ins,
                            F.struct(*[F.col(f"source.{k}") for k in keys]),
                        )
                    ).alias("n_src_matched_ins")
                )
            try:
                clause_counts = matched.agg(*census_cols).collect()[0]
            except Exception:
                if not ins_src_only:
                    raise
                # the insert condition resolved on the source alias but
                # is ambiguous over the joined frame (an unqualified
                # column name both sides carry): drop the pricing term
                # (appended last above), keep the anti-join count path
                ins_src_only = False
                clause_counts = matched.agg(*census_cols[:-1]).collect()[0]
            n_retired = int(clause_counts["n_retired"])
            if upd is None:
                # update clause disabled: never build the projection (a
                # key-only source could not even RESOLVE the full-width
                # select, filter-false or not)
                updates = spark.createDataFrame([], out_schema)
            elif update_set is None:
                updates = (
                    matched.filter(~dele_c & upd_c)
                    .select(*[F.col(f"source.{c}").alias(c) for c in out_cols])
                    .dropDuplicates(keys)  # collapse duplicate TARGET copies
                )
            else:
                # column-level UPDATE SET: compose each matched TARGET
                # copy row-wise — assigned columns from the expressions,
                # the rest carried through from the target row (NULL for
                # unassigned evolution columns: the target has no value)
                updates = matched.filter(~dele_c & upd_c).select(
                    *[
                        F.expr(update_set[c])
                        .cast(out_schema[c].dataType)
                        .alias(c)
                        if c in update_set
                        else (
                            F.col(f"target.{c}").alias(c)
                            if c in target_cols
                            else F.lit(None).cast(out_schema[c].dataType).alias(c)
                        )
                        for c in out_cols
                    ]
                )
            n_updated = int(clause_counts["n_upd"])
            # target copies retired by the DELETE clause specifically
            n_deleted = int(clause_counts["n_deleted"]) if dele is not None else 0
            if ins is not None:
                matched_keys = matched.select(
                    *[F.col(f"source.{k}").alias(k) for k in keys]
                ).distinct()
                if small_source:  # |matched keys| <= |source| — same price
                    matched_keys = F.broadcast(matched_keys)
                not_matched = (
                    source.alias("source")
                    .join(matched_keys, keys, "left_anti")
                    .filter(ins)
                )
                if insert_values is None:
                    inserts = not_matched.select(
                        *[F.col(f"source.{c}").alias(c) for c in out_cols]
                    )
                else:
                    # explicit-column INSERT (cols) VALUES (exprs):
                    # unassigned columns are NULL
                    inserts = not_matched.select(
                        *[
                            F.expr(insert_values[c])
                            .cast(out_schema[c].dataType)
                            .alias(c)
                            if c in insert_values
                            else F.lit(None)
                            .cast(out_schema[c].dataType)
                            .alias(c)
                            for c in out_cols
                        ]
                    )
            else:
                inserts = spark.createDataFrame([], out_schema)
            delta = updates.unionByName(inserts)
            # price inserts from the clause census when the INSERT is
            # unconditional (n_source - n_matched source keys: the
            # source is key-unique, so every source key either matched
            # or inserts) — zero extra jobs; a conditional INSERT pays
            # one source-sized anti-join count (never delta.count(),
            # which would re-run the update projection over the whole
            # matched set just to subtract n_updated back out)
            if ins is None:
                n_inserted = 0
            elif when_not_matched_insert is True:
                n_inserted = int(counts["n"]) - int(
                    clause_counts["n_src_matched"]
                )
            elif ins_src_only:
                # source rows passing the condition minus matched source
                # keys passing it (both already paid for above; the
                # source is key-unique, so rows == keys)
                n_inserted = int(counts["n_ins_pass"]) - int(
                    clause_counts["n_src_matched_ins"]
                )
            else:
                n_inserted = not_matched.count()

            if by_source:
                # target rows with no source counterpart: one more
                # anti-join pass over the (unpruned) target, clauses
                # over the target alias only, delete-first order.
                # Persisted: the clause census, the vector write and the
                # delta write would otherwise each re-scan the full
                # target (by-source disables pruning by construction).
                src_keys = source.select(*keys).distinct()
                if small_source:
                    src_keys = F.broadcast(src_keys)
                nm = (
                    target.alias("target")
                    .join(src_keys, keys, "left_anti")
                    .persist()
                )
                nm_del_c = by_del if by_del is not None else always_false
                nm_upd_c = by_upd if by_upd is not None else always_false
                nm_retire = nm.filter(nm_del_c | nm_upd_c)
                vector = vector.unionByName(
                    nm_retire.select(
                        F.col(f"target.{FILE_COL}").alias(FILE_COL),
                        F.col(f"target.{POS_COL}").alias(POS_COL),
                    )
                )
                nm_updates = nm.filter(~nm_del_c & nm_upd_c).select(
                    *[
                        F.expr(not_matched_by_source_set[c])
                        .cast(out_schema[c].dataType)
                        .alias(c)
                        if c in (not_matched_by_source_set or {})
                        else (
                            F.col(f"target.{c}").alias(c)
                            if c in target_cols
                            else F.lit(None).cast(out_schema[c].dataType).alias(c)
                        )
                        for c in out_cols
                    ]
                )
                # one aggregate job for the by-source clause census
                # (was three count() actions over three scans)
                nm_counts = nm.agg(
                    F.coalesce(
                        F.sum((nm_del_c | nm_upd_c).cast("long")), F.lit(0)
                    ).alias("n_retired"),
                    F.coalesce(F.sum(nm_del_c.cast("long")), F.lit(0)).alias(
                        "n_deleted"
                    ),
                    F.coalesce(
                        F.sum((~nm_del_c & nm_upd_c).cast("long")), F.lit(0)
                    ).alias("n_updated"),
                ).collect()[0]
                n_retired += int(nm_counts["n_retired"])
                n_nm_updated = int(nm_counts["n_updated"])
                n_updated += n_nm_updated
                if by_del is not None:
                    n_deleted += int(nm_counts["n_deleted"])
                if n_nm_updated:
                    delta = delta.unionByName(nm_updates)

            if n_retired == 0 and n_updated == 0 and n_inserted == 0:
                return {
                    "version": None,
                    "n_deleted": 0,
                    "n_updated": 0,
                    "n_inserted": 0,
                }
            # ONE atomic commit: delta files + the positional vector that
            # retires the rows they replace, published by a single rename.
            # expected_base pins the version this merge PLANNED against —
            # a concurrent commit raises WriteConflict (Delta's conflict
            # rule) instead of silently publishing a merge that never
            # match-scanned the interloper's rows.
            # the manifest records the merge keys so the typed change
            # feed (operators/cdf.py) can pair this commit's retired
            # rows with their replacements as update_pre/postimage
            extra = {**(manifest_extra or {}), "merge_keys": keys}
            new_v = append_version(
                delta.select(*out_cols),
                root,
                stats_cols=stats_cols,
                allow_evolution=bool(new_cols),
                allow_base_tombstones=True,  # MERGE lives on the MOR read path
                # pinned-base merges (branch heads) commit onto their base
                # explicitly; global merges pin via conflict detection
                expected_base=None if base_version is not None else version,
                base_override=version if base_version is not None else None,
                manifest_extra=extra,
                embedded_pos_deletes=vector if n_retired else None,
            )
            return {
                "version": new_v,
                "n_deleted": int(n_deleted),
                "n_updated": int(n_updated),
                "n_inserted": int(n_inserted),
            }
        finally:
            matched.unpersist()
            if nm is not None:
                nm.unpersist()
    finally:
        if we_persisted:
            source.unpersist()


def delete_where(
    spark: SparkSession,
    root: str,
    condition,
    base_version: int | None = None,
    manifest_extra: dict | None = None,
) -> dict:
    """``DELETE FROM <table> WHERE <condition>`` as a VERSION-ANCHORED
    commit: plan the matching rows' ``(_file, _pos)`` addresses on the
    merge-on-read head and commit an EMPTY delta carrying the vector
    embedded (``v=N/_merge_deletes``) — the same single-rename shape as
    a MERGE, so the delete IS a chain version. That is what makes it
    servable by the typed change feed (operators/cdf.py), unlike the
    post-hoc ``delete_keys`` / ``delete_positions`` vectors which
    mutate an existing version after the fact.

    ``condition`` is SQL over the table's own column names (or a
    Column). Returns ``{"version", "n_deleted"}``; matching nothing
    burns no version number. One target pass; rows the condition
    cannot match are never rewritten (the vector is O(matches)). The
    commit carries the head manifest's ``stats_cols`` / ``bloom_cols``
    forward, so pruned reads and merge file-skipping keep working on
    every later head."""
    version = _resolve_version(spark, root, base_version)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    target = read_version_mor(spark, root, version, keep_addresses=True)
    hit = target.filter(cond).persist()
    try:
        n = hit.count()
        if n == 0:
            return {"version": None, "n_deleted": 0}
        vector = hit.select(FILE_COL, POS_COL)
        empty = spark.createDataFrame([], chain_schema(spark, root, version))
        new_v = append_version(
            empty,
            root,
            allow_base_tombstones=True,
            expected_base=None if base_version is not None else version,
            base_override=version if base_version is not None else None,
            manifest_extra={**(manifest_extra or {}), "row_mutation": "delete"},
            embedded_pos_deletes=vector,
        )
        return {"version": new_v, "n_deleted": int(n)}
    finally:
        hit.unpersist()


def update_where(
    spark: SparkSession,
    root: str,
    set_exprs: dict[str, str],
    condition=True,
    base_version: int | None = None,
    manifest_extra: dict | None = None,
) -> dict:
    """``UPDATE <table> SET c = expr [, ...] WHERE <condition>`` as a
    version-anchored commit: the matching rows' addresses become an
    embedded vector and their RECOMPUTED rows (assigned columns from
    ``set_exprs``, the rest carried through) become the delta — one
    atomic commit, each matched row updated individually (row-wise,
    unlike MERGE's collapse-to-source). Expressions are SQL over the
    table's own column names (``{"o_totalprice": "o_totalprice * 1.1"}``).

    The manifest records ``row_mutation: update`` so the typed change
    feed types this commit's rows update_preimage/update_postimage
    without needing merge keys. Returns ``{"version", "n_updated"}``;
    matching nothing burns no version number. Like ``delete_where``,
    the commit carries the head manifest's ``stats_cols`` /
    ``bloom_cols`` forward."""
    version = _resolve_version(spark, root, base_version)
    target_schema = chain_schema(spark, root, version)
    target_cols = target_schema.names
    bad = set(set_exprs) - set(target_cols)
    if bad:
        raise ValueError(
            f"UPDATE assigns non-existent column(s) {sorted(bad)} "
            f"(table schema: {sorted(target_cols)})"
        )
    if not set_exprs:
        raise ValueError("UPDATE needs at least one SET assignment")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    if cond is True:
        cond = F.lit(True)
    target = read_version_mor(spark, root, version, keep_addresses=True)
    hit = target.filter(cond).persist()
    try:
        n = hit.count()
        if n == 0:
            return {"version": None, "n_updated": 0}
        vector = hit.select(FILE_COL, POS_COL)
        updated = hit.select(
            *[
                F.expr(set_exprs[c]).cast(target_schema[c].dataType).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in target_cols
            ]
        )
        new_v = append_version(
            updated,
            root,
            allow_base_tombstones=True,
            expected_base=None if base_version is not None else version,
            base_override=version if base_version is not None else None,
            manifest_extra={**(manifest_extra or {}), "row_mutation": "update"},
            embedded_pos_deletes=vector,
        )
        return {"version": new_v, "n_updated": int(n)}
    finally:
        hit.unpersist()


def merge_to_branch(
    spark: SparkSession,
    root: str,
    name: str,
    source: DataFrame,
    key,
    **merge_kwargs,
) -> dict:
    """MERGE INTO a BRANCH: plan and commit the merge against the
    branch's head chain (NOT the global latest — other branches'
    commits are invisible to it), then CAS-repoint the branch to the
    merge commit. A concurrent repoint makes the CAS raise
    BranchConflict and the merge commit becomes an unreferenced
    version that retention reclaims — the loser's bytes never corrupt
    the branch (the commit_to_branch discipline, with the merge's
    atomic delta+vector commit in the middle). A no-op merge leaves
    the branch untouched."""
    from pyspark_big_data_spark.operators.refs import (
        branch_head,
        update_branch,
    )

    head = branch_head(spark, root, name)
    res = merge_into(
        spark, root, source, key, base_version=head, **merge_kwargs
    )
    if res["version"] is not None:
        update_branch(spark, root, name, res["version"], expected_head=head)
    return res
