"""The read-only workload: registry queries run by one client, each op
timed from the registry call through a ``toPandas()`` that materialises
every output column, and checked afterwards against the query's DuckDB
oracle."""

from __future__ import annotations

from unittest import mock

from pyspark_big_data_spark.queries import ORACLES, REGISTRY
from pyspark_big_data_spark.testing import compare_frames


class QueryOp:
    kind = "query"

    def __init__(self, name: str, build, oracle: str) -> None:
        self.name = name
        self.build = build
        self.oracle = oracle

    def prepare(self):
        return None

    def run(self, spark, data_dir: str, tracer, op_id: int, args):
        with tracer.span("queries.build", op_id):
            df = self.build(spark, data_dir)
        with tracer.span("spark.action", op_id):
            return df.toPandas()

    def expect(self, args, output):
        return None


def _registry_op(name: str) -> QueryOp:
    return QueryOp(name, REGISTRY[name], name)


def pricing_summary_csv(spark, data_dir: str):
    """``pricing_summary`` with its lineitem scan swapped for a CSV scan of
    the same rows: the storage-format axis of the reference's method.
    The query itself is the registry's, unchanged."""
    from pyspark_big_data_spark import schemas
    from pyspark_big_data_spark.io import read_csv
    from pyspark_big_data_spark.queries import analytics

    lineitem = read_csv(spark, f"{data_dir}/lineitem.csv", schemas.LINEITEM)
    reads: list[str] = []

    def read_table(_spark, _data_dir, name):
        reads.append(name)
        return lineitem

    with mock.patch.object(analytics, "read_table", read_table):
        df = analytics.pricing_summary(spark, data_dir)
    if reads != ["lineitem"]:
        raise RuntimeError(f"pricing_summary read {reads}, not the CSV lineitem alone")
    return df


def olap_ops() -> list[QueryOp]:
    ops = [
        _registry_op(n)
        for n in (
            "q1_top_months_per_year",
            "q2_event_time_bins",
            "q3_segment_profile_top",
            "q4_avg_distance_pandas_udf",
            "pricing_summary",
            "running_customer_spend",
            "asof_join_last_order",
        )
    ]
    ops.append(QueryOp("pricing_summary_csv", pricing_summary_csv, "pricing_summary"))
    return ops


class QueryWorkload:
    """A seeded closed loop over a fixed op list. One pass runs every op
    once, in an order drawn from the seed."""

    def __init__(self, name: str, ops: list[QueryOp], tables: set[str], csv=()) -> None:
        self.name = name
        self.ops = ops
        self.tables = tables
        self.csv = tuple(csv)
        self.data_dir = ""
        self._oracles: dict[str, object] = {}

    def fixtures(self, spark, data_dir: str, work_dir: str, round_idx: int) -> None:
        """Nothing to build: the queries read the generated files."""
        self.data_dir = data_dir

    def one_pass(self, rng, warmup: bool = False):
        for i in rng.permutation(len(self.ops)):
            yield self.ops[i]

    def check(self, op: QueryOp, output, expected) -> None:
        if op.oracle not in self._oracles:
            self._oracles[op.oracle] = self._duckdb().execute(ORACLES[op.oracle]).fetchdf()
        compare_frames(output, self._oracles[op.oracle])

    def _duckdb(self):
        """DuckDB with a view per generated table (``testing.duckdb_oracle``
        expects every testdata table; a workload writes only its own)."""
        import duckdb

        con = duckdb.connect()
        for t in sorted(self.tables):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
        return con

    def close(self) -> dict:
        return {}
