"""The read/write workload: a seeded stream of commits on one versioned
``orders`` table, each followed by a read, with a change-feed read and a
delete-folding compaction closing every cycle of three commits. A pandas
model of the same stream gives every read's expected answer and every
commit's expected counts.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.operators.cdf import table_changes_typed
from pyspark_big_data_spark.operators.deletes import materialize_deletes, read_version_mor
from pyspark_big_data_spark.operators.merge import delete_where, merge_into
from pyspark_big_data_spark.operators.versioned import (
    append_version,
    version_chain,
    write_version,
)
from pyspark_big_data_spark.testing import compare_frames

KEY = "o_orderkey"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
BASE_FILES = 8
# Rows per mutation, sized as TPC-H sizes its refresh functions: RF1 inserts
# and RF2 deletes SF x 1500 orders each (150 at sf0.1). A MERGE carries one
# such batch each of updates, deletes and inserts; a DELETE removes and an
# APPEND adds one batch; a read asks for a key range holding one batch.
REFRESH_ROWS = 150
STATUS = ["O", "F", "P"]
CHANGE_COLS = ["_change_type", "_commit_version"]


class CheckFailed(Exception):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Step:
    """One timed call into the mutation layer. ``prepare`` builds its input
    outside the timer, ``run`` is the timed call, ``expect`` advances the
    model after it and returns what ``check`` compares the output with."""

    def __init__(self, name: str, kind: str, fn: str, prepare, run, expect, check) -> None:
        self.name, self.kind, self.fn = name, kind, fn
        self.prepare, self._run, self.expect, self.check_fn = prepare, run, expect, check

    def run(self, spark, data_dir: str, tracer, op_id: int, args):
        with tracer.span(f"operators.{self.fn}", op_id):
            return self._run(args)


def _dir_bytes(root: str) -> tuple[int, int, dict[int, int]]:
    """(bytes, files, {inode: size}) of everything on disk under root."""
    inodes: dict[int, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            inodes[st.st_ino] = st.st_size
    return sum(inodes.values()), len(inodes), inodes


def _encoded_bytes(df, path: str) -> int:
    """Bytes of ``df`` written once by the same parquet writer, one file."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
    size = _dir_bytes(path)[0]
    shutil.rmtree(path, ignore_errors=True)
    return size


class LakehouseWorkload:
    name = "lakehouse_rw"
    tables = {"orders"}
    csv = ()

    def __init__(self, trace: bool) -> None:
        self.trace = trace
        self.roots: list[str] = []
        self.spark = None
        self.base: pd.DataFrame | None = None
        self.root = ""
        self.batches = 0

    # --- set-up -------------------------------------------------------
    def fixtures(self, spark, data_dir: str, work_dir: str, round_idx: int) -> None:
        """Commit sf ``orders`` as v0 of a fresh table root. Each set-up
        round builds its own root; the last one is measured and the one
        before it takes the warm-up pass."""
        self.spark = spark
        root = os.path.join(work_dir, f"table{round_idx}")
        shutil.rmtree(root, ignore_errors=True)
        orders = read_table(spark, data_dir, "orders")
        write_version(orders.repartitionByRange(BASE_FILES, KEY), root, stats_cols=[KEY])
        self.roots.append(root)
        if self.base is None:
            self.base = orders.toPandas()[COLS]
            self.schema = orders.schema
        if len(self.roots) > 2:
            shutil.rmtree(self.roots.pop(0), ignore_errors=True)

    def _begin(self, root: str) -> None:
        self.root = root
        self.model = self.base.set_index(KEY, drop=False).sort_index()
        self.next_key = int(self.model.index.max()) + 1
        self.head = 0
        self.cycle_from = 0
        self.log: list[pd.DataFrame] = []
        self.amp = {"source_bytes": 0, "written_bytes": 0, "seen": _dir_bytes(root)[2]}

    def one_pass(self, rng, warmup: bool = False):
        """One maintenance cycle: a MERGE, a DELETE and an APPEND in seeded
        order, each followed by a range aggregate and a full-row range read,
        then a change-feed read over the cycle and a compaction. Every cycle
        has the same mix."""
        target = self.roots[0 if warmup else -1]
        if self.root != target:
            self._begin(target)
        commits = [self._merge, self._delete, self._append]
        for c in rng.permutation(len(commits)):
            yield commits[c](rng)
            yield self._read_agg(rng)
            yield self._read_range(rng)
        yield self._changes()
        yield self._compact()

    # --- commits --------------------------------------------------------
    def _commit_done(self, version, changes: list[tuple[pd.DataFrame, str]]) -> None:
        if version is None:
            return
        self.head = version
        for ch, kind in changes:
            if len(ch):
                self.log.append(ch.assign(_change_type=kind, _commit_version=version))

    def _merge(self, rng) -> Step:
        def prepare():
            live = self._live_range(rng, 2 * REFRESH_ROWS)
            pick = rng.permutation(len(live))
            upd = live.iloc[pick[:REFRESH_ROWS]].copy()
            upd["o_totalprice"] = np.round(rng.uniform(1000, 400_000, len(upd)), 2)
            upd["o_orderstatus"] = np.asarray(STATUS, dtype=object)[rng.integers(0, 3, len(upd))]
            dele = live.iloc[pick[REFRESH_ROWS:]]
            ins = self._new_rows(rng, REFRESH_ROWS)
            src = pd.concat(
                [upd.assign(__del=False), ins.assign(__del=False), dele.assign(__del=True)],
                ignore_index=True,
            )
            schema = T.StructType([*self.schema.fields, T.StructField("__del", T.BooleanType())])
            return self._stage(src[COLS + ["__del"]], schema), upd, dele, ins, live

        def run(args):
            return merge_into(
                self.spark, self.root, args[0], KEY,
                when_matched_update="NOT source.__del",
                when_matched_delete="source.__del",
                when_not_matched_insert="NOT source.__del",
                stats_cols=[KEY],
            )

        def expect(args, res):
            _, upd, dele, ins, live = args
            self.model.loc[upd.index, COLS] = upd[COLS]
            self.model = pd.concat([self.model.drop(index=dele.index), ins.set_index(KEY, drop=False)])
            self._commit_done(
                res["version"],
                [(live.loc[upd.index], "update_preimage"), (upd, "update_postimage"),
                 (dele, "delete"), (ins, "insert")],
            )
            return {"n_updated": len(upd), "n_deleted": len(dele), "n_inserted": len(ins)}

        def check(res, want):
            got = {k: res[k] for k in want}
            require(got == want, f"merge counts {got} != {want}")

        return Step("merge_into", "commit", "merge_into", prepare, run, expect, check)

    def _delete(self, rng) -> Step:
        def prepare():
            return self._key_range(rng)

        def run(args):
            return delete_where(self.spark, self.root, f"{KEY} >= {args[0]} AND {KEY} <= {args[1]}")

        def expect(args, res):
            gone = self.model.loc[args[0] : args[1]]
            self.model = self.model.drop(index=gone.index)
            self._commit_done(res["version"], [(gone, "delete")])
            return {"n_deleted": len(gone)}

        def check(res, want):
            require(res["n_deleted"] == want["n_deleted"], f"deleted {res['n_deleted']} != {want}")

        return Step("delete_where", "commit", "delete_where", prepare, run, expect, check)

    def _append(self, rng) -> Step:
        def prepare():
            rows = self._new_rows(rng, REFRESH_ROWS)
            return self._stage(rows[COLS], self.schema), rows

        def run(args):
            return append_version(args[0], self.root, stats_cols=[KEY], allow_base_tombstones=True)

        def expect(args, version):
            rows = args[1]
            self.model = pd.concat([self.model, rows.set_index(KEY, drop=False)])
            self._commit_done(version, [(rows, "insert")])
            return None

        def check(version, want):
            require(version is not None, "append burned no version")

        return Step("append_version", "commit", "append_version", prepare, run, expect, check)

    def _live_range(self, rng, n: int) -> pd.DataFrame:
        """``n`` consecutive live rows of the model (sorted by key) from a
        seeded position."""
        start = int(rng.integers(0, len(self.model) - n + 1))
        return self.model.iloc[start : start + n].copy()

    def _key_range(self, rng) -> tuple[int, int]:
        """(lo, hi) keys of a range holding REFRESH_ROWS live rows."""
        keys = self._live_range(rng, REFRESH_ROWS).index
        return int(keys[0]), int(keys[-1])

    def _new_rows(self, rng, n: int) -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        base = self.base.iloc[rng.integers(0, len(self.base), n)].reset_index(drop=True)
        return base.assign(
            o_orderkey=keys,
            o_totalprice=np.round(rng.uniform(1000, 400_000, n), 2),
        )

    # --- reads ------------------------------------------------------------
    def _read_agg(self, rng) -> Step:
        """MOR range aggregate: per-status count and total over a key range."""
        def prepare():
            return self._key_range(rng)

        def run(args):
            lo, hi = args
            df = read_version_mor(self.spark, self.root).filter(F.col(KEY).between(lo, hi))
            return (
                df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
                .toPandas()
            )

        def expect(args, out):
            rows = self.model.loc[args[0] : args[1]]
            return (
                rows.groupby("o_orderstatus", as_index=False)
                .agg(n=(KEY, "size"), total=("o_totalprice", "sum"))
            )

        return Step("read_mor_agg", "read", "read_version_mor", prepare, run, expect, compare_frames)

    def _read_range(self, rng) -> Step:
        """MOR read of a key range, every column. (Footer-stats pruning is
        left out: a ``delete_where`` commit writes a manifest without
        ``stats_cols``, after which pruned reads of the table raise.)"""
        def prepare():
            return self._key_range(rng)

        def run(args):
            lo, hi = args
            return read_version_mor(self.spark, self.root).filter(F.col(KEY).between(lo, hi)).toPandas()

        def expect(args, out):
            return self.model.loc[args[0] : args[1], COLS].reset_index(drop=True)

        return Step("read_range", "read", "read_version_mor", prepare, run, expect, compare_frames)

    def _changes(self) -> Step:
        """Typed change feed over the cycle's commits."""
        def prepare():
            return self.cycle_from, self.head

        def run(args):
            return table_changes_typed(
                self.spark, self.root, args[0], args[1], merge_keys=KEY
            ).toPandas()

        def expect(args, out):
            if not self.log:
                return pd.DataFrame(columns=COLS + CHANGE_COLS)
            return pd.concat(self.log, ignore_index=True)[COLS + CHANGE_COLS]

        return Step("table_changes_typed", "read", "table_changes_typed", prepare, run, expect, compare_frames)

    def _compact(self) -> Step:
        """Fold the cycle's deletion vectors and bin-pack in one rewrite
        (``compact_version`` refuses a head that carries tombstones)."""
        def prepare():
            return None

        def run(args):
            return materialize_deletes(self.spark, self.root, target_files=BASE_FILES)

        def expect(args, version):
            self.head = version
            self.cycle_from = version
            self.log = []
            return None

        def check(version, want):
            require(version is not None, "compaction committed no version")

        return Step("compact", "maintenance", "materialize_deletes", prepare, run, expect, check)

    # --- accounting ----------------------------------------------------------
    def _stage(self, rows: pd.DataFrame, schema):
        """Write a source batch to one parquet file, as a refresh stream
        stages its batches, and return a lazy read of it. The file's size
        is the batch's share of ``write_amp``'s denominator."""
        path = os.path.join(os.path.dirname(self.root), f"batch{self.batches}")
        self.batches += 1
        self.spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(path)
        self.amp["source_bytes"] += _dir_bytes(path)[0]
        return self.spark.read.schema(schema).parquet(path)

    def op_counts(self, step: Step) -> dict:
        """Files and bytes the last op added under the root, the head
        snapshot's live files and chain length, and for a read the parquet
        files (data and deletion vectors) its snapshot offered (traced
        runs only)."""
        _, _, inodes = _dir_bytes(self.root)
        seen = self.amp["seen"]
        new = {i: s for i, s in inodes.items() if i not in seen}
        seen.update(new)
        self.amp["written_bytes"] += sum(new.values())
        chain = version_chain(self.spark, self.root, self.head)
        live = offered = 0
        for v in chain:
            for dirpath, _, files in os.walk(os.path.join(self.root, f"v={v}")):
                n = sum(f.endswith(".parquet") for f in files)
                offered += n
                live += n if dirpath.endswith(f"v={v}") else 0
        return {
            "bytes_added": float(sum(new.values())),
            "files_added": float(len(new)),
            "live_files": float(live),
            "chain_length": float(len(chain)),
            "files_offered": float(offered if step.kind == "read" else 0),
        }

    def check(self, step: Step, output, expected) -> None:
        step.check_fn(output, expected)

    def close(self) -> dict:
        """End-of-run state check and amplification figures."""
        live = read_version_mor(self.spark, self.root)
        compare_frames(live.toPandas(), self.model[COLS].reset_index(drop=True))
        out = {}
        if self.trace:
            on_disk = _dir_bytes(self.root)[0]
            once = _encoded_bytes(live, os.path.join(os.path.dirname(self.root), "encode"))
            out["write_amp"] = self.amp["written_bytes"] / max(1, self.amp["source_bytes"])
            out["space_amp"] = on_disk / max(1, once)
        return out
