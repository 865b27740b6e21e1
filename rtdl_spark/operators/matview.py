"""Incrementally maintained materialized aggregate views over a native
Delta table — the lakehouse MV refresh loop: the source's change data
feed names the rows added since the last refresh, and
``merge_aggregates`` folds their (tiny) partial aggregate into the
persisted rollup, so refresh cost tracks the BATCH, not the table.

OPTIMIZE's ``dataChange=false`` rewrites add no rows and keep the
refresh incremental. A commit that removes a file with
``dataChange=true`` (DELETE, UPDATE, MERGE, overwrite, a DV delete) may
have dropped counted rows, so refresh falls back to one full recompute.

State: the view is itself a Delta table at ``view_dir``, overwritten by
each refresh in ONE commit carrying the SetTransaction
``(_APP_ID, source version)`` — a crashed refresh leaves nothing
visible, and the txn watermark is the absorbed source version.
Superseded state files go with ``vacuum_delta_native(view_dir)``.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtdl_spark.operators.merge import merge_aggregates
from rtdl_spark.sources.delta_reader import (
    _commit_versions,
    _log_dir,
    _read_json_lines,
    last_txn_version,
    read_delta_native,
    read_table_changes_cdf,
    snapshot_control,
)
from rtdl_spark.sources.delta_writer import write_delta_native

_APP_ID = "rtdl_spark.matview"


class MaterializedAggView:
    """A persisted groupBy-sum rollup of the Delta table at
    ``source_dir``, refreshed incrementally. ``sum_cols`` maps output
    column -> source expression (SQL string) summed per key; a row count
    ``n`` is always maintained, so averages derive downstream (sum/n)
    without extra state."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        view_dir: str,
        keys: list[str],
        sum_cols: dict[str, str],
    ) -> None:
        self.spark = spark
        self.source = source_dir.rstrip("/")
        self.root = view_dir.rstrip("/")
        self.keys = list(keys)
        self.sum_cols = dict(sum_cols)

    # -- state bookkeeping -------------------------------------------------
    def refreshed_version(self) -> int | None:
        """Latest source version the view has fully absorbed."""
        return last_txn_version(self.spark, self.root, _APP_ID)

    def frame(self) -> DataFrame:
        return read_delta_native(self.spark, self.root)

    # -- refresh -----------------------------------------------------------
    def _partial(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.keys).agg(
            *[
                F.sum(F.expr(expr)).alias(out)
                for out, expr in self.sum_cols.items()
            ],
            F.count(F.lit(1)).alias("n"),
        )

    def _recompute(self, version: int) -> DataFrame:
        return self._partial(
            read_delta_native(self.spark, self.source, version=version)
        )

    def _removes_rows(self, done: int, target: int) -> bool:
        """Whether any source commit in (done, target] removes a file
        with dataChange=true — or is gone from the log, so nothing says
        it did not."""
        log = _log_dir(self.source)
        present = set(_commit_versions(self.spark, self.source))
        for v in range(done + 1, target + 1):
            if v not in present:
                return True
            actions = _read_json_lines(
                self.spark, posixpath.join(log, f"{v:020d}.json")
            )
            if any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions
            ):
                return True
        return False

    def refresh(self) -> int:
        """Bring the view up to the source's latest version; returns that
        version. Increment path when no new commit removed data; full
        recompute otherwise (or on the first refresh)."""
        target = snapshot_control(self.spark, self.source)[2]
        done = self.refreshed_version()
        if done == target:
            return target
        if done is not None and not self._removes_rows(done, target):
            inserts = read_table_changes_cdf(
                self.spark, self.source, done + 1, target,
                allow_unrecorded=True,
            ).filter(F.col("_change_type") == "insert")
            state = merge_aggregates(
                self.frame(),
                self._partial(inserts),
                self.keys,
                list(self.sum_cols),
            )
        else:
            state = self._recompute(target)
        write_delta_native(
            self.spark, state, self.root, mode="overwrite",
            txn=(_APP_ID, target),
        )
        return target
