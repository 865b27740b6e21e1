"""delta_dml: lake maintenance on a partitioned native Delta table.

The table is built from the lineitem fixture during set-up (one row per
lineitem row, key ``k`` = row number, so "recent" keys are high keys;
partitioned by ``l_returnflag``; deletion vectors enabled). Each cycle's
writes (``gen.dml_writes``) are MERGE upserts on Zipf keys that favour
recent keys, DELETE WHERE, UPDATE WHERE, DV DELETE, and maintenance
(OPTIMIZE ZORDER, then VACUUM). The reads beside them
(``gen.delta_reads``) are the latest-snapshot aggregate through a catalog
view, a time-travel read, and a key-range lookup that data skipping can
prune.

A DuckDB table replays every write in lockstep, outside the timed ops.
Each read is checked against the replay at the version it read; at the
end the whole latest table and one time-travel version are compared row
for row.
"""

from __future__ import annotations

import os

import numpy as np

import deltalog
import gen

COLS = ("k", "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate", "v")
AGG_SQL = ("SELECT l_returnflag, count(*) AS n, sum(v) AS sv, "
           "sum(l_quantity) AS q FROM {t} GROUP BY l_returnflag")


def _source_rows(keys: list[int], bump: int):
    import pandas as pd

    k = np.array(keys, dtype=np.int64)
    return pd.DataFrame({
        "k": k,
        "l_orderkey": k % 7919,
        "l_quantity": (k % 50 + 1).astype(np.float64),
        "l_extendedprice": np.round((k * 137) % 100_000 / 1.0, 2),
        "l_discount": (k % 11) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[k % 3],
        "l_shipdate": pd.to_datetime(1_700_000_000 + k * 60, unit="s"),
        "v": np.full(len(k), bump, dtype=np.int64),
    })


class DeltaDml:
    def __init__(self, ctx):
        self.ctx = ctx

    # -- set-up -------------------------------------------------------------
    def build_table(self, fx: str) -> None:
        """The partitioned Delta table and its DuckDB replay, both loaded
        from one seed file: lineitem plus the key ``k`` and ``v = 0``."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from rtdl_spark.sources.delta_alter import alter_set_tblproperties
        from rtdl_spark.sources.delta_writer import write_delta_native

        spark = self.ctx.spark
        li = pq.read_table(os.path.join(fx, "lineitem.parquet"))
        n = li.num_rows
        seed_file = os.path.join(self.ctx.work_dir, "dml_seed.parquet")
        pq.write_table(
            li.append_column("k", pa.array(np.arange(n, dtype=np.int64)))
            .append_column("v", pa.array(np.zeros(n, dtype=np.int64)))
            .select(list(COLS)),
            seed_file,
        )
        self.dir = os.path.join(self.ctx.work_dir, "dml_table")
        seed_df = spark.read.parquet(seed_file)
        self.schema = seed_df.schema
        write_delta_native(
            spark,
            seed_df.repartitionByRange(4, "k"),
            self.dir, mode="overwrite", partition_by=["l_returnflag"],
        )
        alter_set_tblproperties(
            spark, self.dir, {"delta.enableDeletionVectors": "true"}
        )
        self.n_keys = n
        self.con = duckdb.connect()
        self.con.sql(f"CREATE TABLE t AS SELECT * FROM read_parquet('{seed_file}')")
        self.start_version = deltalog.latest_version(self.dir)
        # replay aggregate at every version this run can time-travel to
        self.version_agg = {self.start_version: self._replay_agg()}
        # cycle 0 warms up; the timed cycles count from 1
        self.warm_ops = (
            gen.dml_writes(self.ctx.seed, 0, n)
            + gen.delta_reads(self.ctx.seed, 0, n)
        )
        self.snapshot_version = None

    def cycle_ops(self, cycle: int) -> list[tuple[str, dict]]:
        """(family, op) for the writes and reads of one timed cycle."""
        return [("write", op) for op in gen.dml_writes(
            self.ctx.seed, cycle, self.n_keys
        )] + [("read", op) for op in gen.delta_reads(
            self.ctx.seed, cycle, self.n_keys
        )]

    def _replay_agg(self) -> list[tuple]:
        return sorted(
            self.con.sql(AGG_SQL.format(t="t")).fetchall()
        )

    # -- ops ----------------------------------------------------------------
    def op(self, op: dict):
        """(fn, after) for one op: ``fn`` is the timed call,
        ``after(result)`` the untimed replay (writes) or check (reads,
        False when wrong)."""
        return getattr(self, f"_op_{op['kind']}")(op)

    def _commit_replay(self, sql: str | None):
        def after(_res):
            if sql:
                self.con.execute(sql)
            v = deltalog.latest_version(self.dir)
            self.version_agg[v] = self._replay_agg()
            if self.snapshot_version is None and len(self.version_agg) >= 4:
                self.snapshot_version = v
                self.con.sql("CREATE TABLE snap AS SELECT * FROM t")
        return after

    def _op_merge(self, op):
        from pyspark.sql import functions as F

        from rtdl_spark.sources.delta_writer import merge_into_delta_native

        keys = sorted(set(op["keys"]) | set(op["new_keys"]))
        pdf = _source_rows(keys, op["bump"])
        src = self.ctx.spark.createDataFrame(pdf).select(
            *[F.col(f.name).cast(f.dataType) for f in self.schema.fields]
        )
        self.con.register("src", pdf)
        klist = ",".join(map(str, keys))
        return (
            lambda: merge_into_delta_native(
                self.ctx.spark, self.dir, src, on=["k"]
            ),
            self._commit_replay(
                f"DELETE FROM t WHERE k IN ({klist}); "
                f"INSERT INTO t SELECT {', '.join(COLS)} FROM src"
            ),
        )

    def _op_delete(self, op):
        from rtdl_spark.sources.delta_writer import delete_where_delta_native

        cond = f"k >= {op['lo']} AND k < {op['hi']}"
        return (
            lambda: delete_where_delta_native(self.ctx.spark, self.dir, cond),
            self._commit_replay(f"DELETE FROM t WHERE {cond}"),
        )

    def _op_dv_delete(self, op):
        from rtdl_spark.sources.delta_writer import delete_where_delta_dv

        cond = f"k >= {op['lo']} AND k < {op['hi']}"
        return (
            lambda: delete_where_delta_dv(self.ctx.spark, self.dir, cond),
            self._commit_replay(f"DELETE FROM t WHERE {cond}"),
        )

    def _op_update(self, op):
        from rtdl_spark.sources.delta_writer import update_where_delta_native

        cond = f"k >= {op['lo']} AND k <= {op['hi']}"
        expr = f"v + {op['bump']}"
        return (
            lambda: update_where_delta_native(
                self.ctx.spark, self.dir, cond, {"v": expr}
            ),
            self._commit_replay(f"UPDATE t SET v = {expr} WHERE {cond}"),
        )

    def _op_maintain(self, op):
        from rtdl_spark.sources.delta_writer import (
            optimize_delta_native,
            vacuum_delta_native,
        )

        def run():
            optimize_delta_native(
                self.ctx.spark, self.dir, zorder_by=["k", "l_orderkey"]
            )
            vacuum_delta_native(self.ctx.spark, self.dir)

        return run, self._commit_replay(None)

    def _execute(self, df) -> list:
        """Run a read's plan: the Catalyst/job boundary, its own span."""
        with self.ctx.tracer.span("queries.execute"):
            return df.collect()

    @staticmethod
    def _read_check(want):
        return lambda got: _rows_close(sorted(tuple(r) for r in got), want)

    def _op_read_latest(self, op):
        from rtdl_spark.catalog import register_delta_view

        spark = self.ctx.spark

        def run():
            register_delta_view(spark, self.dir, "dml_latest")
            return self._execute(spark.sql(AGG_SQL.format(t="dml_latest")))

        want = self._replay_agg()
        return run, self._read_check(want)

    def _op_read_version(self, op):
        from pyspark.sql import functions as F

        from rtdl_spark.sources.delta_reader import read_delta_native

        versions = sorted(self.version_agg)
        ver = versions[max(0, len(versions) - 1 - op["back"])]

        def run():
            return self._execute(
                read_delta_native(self.ctx.spark, self.dir, version=ver)
                .groupBy("l_returnflag")
                .agg(F.count(F.lit(1)), F.sum("v"), F.sum("l_quantity"))
            )

        return run, self._read_check(self.version_agg[ver])

    def _op_read_range(self, op):
        from pyspark.sql import functions as F

        from rtdl_spark.sources.delta_reader import read_delta_native

        cond = f"k BETWEEN {op['lo']} AND {op['hi']}"

        def run():
            return self._execute(
                read_delta_native(self.ctx.spark, self.dir, where=cond)
                .agg(F.count(F.lit(1)), F.sum("v"))
            )

        want = self.con.sql(
            f"SELECT count(*), sum(v) FROM t WHERE {cond}"
        ).fetchall()
        return run, self._read_check(want)

    # -- end-of-run verification -----------------------------------------------
    def finish(self) -> None:
        from rtdl_spark.sources.delta_reader import read_delta_native

        import verify

        v = self.ctx.verifier
        spark = self.ctx.spark
        order = "ORDER BY k"

        def latest():
            got = read_delta_native(spark, self.dir).toPandas()
            return verify.frames_equal(
                got, self.con.sql(f"SELECT * FROM t {order}").fetchdf()
            )

        v.attempt("verify:dml_final_state", latest)
        if self.snapshot_version is not None:
            def travel():
                got = read_delta_native(
                    spark, self.dir, version=self.snapshot_version
                ).toPandas()
                return verify.frames_equal(
                    got, self.con.sql(f"SELECT * FROM snap {order}").fetchdf()
                )

            v.attempt("verify:dml_time_travel", travel)

    def write_amp(self) -> float:
        from rtdl_spark.sources.delta_reader import snapshot_actions

        act = deltalog.activity(self.dir, self.start_version)
        _, _, active, _, _ = snapshot_actions(self.ctx.spark, self.dir)
        live = sum(int(a.get("size") or 0) for a in active.values())
        return act["bytes_added"] / max(1, live)

    def range_scan_ratio(self) -> float:
        """Rows the parquet scan emitted per row a key-range lookup
        returned (1.0 = perfect skipping)."""
        from rtdl_spark.plans.inspect import scan_output_rows
        from rtdl_spark.sources.delta_reader import read_delta_native

        lo = self.n_keys // 2
        df = read_delta_native(
            self.ctx.spark, self.dir, where=f"k BETWEEN {lo} AND {lo + 199}"
        )
        returned = df.count()
        scanned = scan_output_rows(df) or 0
        return scanned / max(1, returned)


def _cell(x):
    if isinstance(x, np.generic):
        x = x.item()
    return x


def _rows_close(got: list[tuple], want: list[tuple]) -> bool:
    """Aggregates from Spark and DuckDB: exact keys, counts and integer
    sums; sums of doubles within 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(map(_cell, g), map(_cell, w)):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif abs(a - b) > 1e-9 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True
