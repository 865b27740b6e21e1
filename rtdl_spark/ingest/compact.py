"""Partition compaction — the OPTIMIZE equivalent for the parquet lake.

The reference writes ONE parquet file per ingested message
(ingester.go:551-565,593) — at any real rate that is millions of tiny
files, the canonical lake-killer (every query pays per-file open cost;
the file listing itself stops fitting in memory). Our ingest already
micro-batches, but many small micro-batches still accrete files; this
compactor rewrites partitions down to ~target_file_bytes files, preserving
the partition columns.

Only partitions whose file count crosses a threshold are selected — never
a full-table rewrite. Selected partitions are rewritten in job-bounded
groups: each group is ONE schema-merging read over its partition
directories and ONE partitioned write into a hidden staging root, and
holds at most ``spark.sql.shuffle.partitions × target_file_bytes`` of
input, so the staged copy (and the shuffle) stays bounded at lake scale
while the fixed per-job cost is paid once per group, not per partition.
Each staged partition directory is then swapped into place by renames
that never leave a partition missing (see ``_swap_in``).

Compacted files carry their group's merged schema: a column that none of
a partition's rows has is stored all-NULL, which is what a merged read
of the lake returns for those rows anyway."""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rtdl_spark.ingest.pipeline import (
    BUCKET_COL,
    TABLE_COL,
    partition_dir_name,
    unescape_partition_value,
)
from rtdl_spark.sources import fsutil

# '_'-prefixed, so Spark's partition discovery and the walk skip it
STAGING_PREFIX = "_compact_staging-"


def partition_file_stats(spark: SparkSession, root: str) -> list[dict]:
    """Per (table, bucket) partition: file count + bytes, from a Python
    directory walk — the signal for selective compaction on a local
    root. Hidden ('_'/'.') directories are skipped, as Spark skips them."""
    stats: dict[tuple[str, str], dict] = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        pq = [f for f in files if f.endswith(".parquet")]
        if not pq:
            continue
        rel = os.path.relpath(dirpath, root)
        parts = dict(
            p.split("=", 1) for p in rel.split(os.sep) if "=" in p
        )
        key = tuple(
            unescape_partition_value(parts.get(c, ""))
            for c in (TABLE_COL, BUCKET_COL)
        )
        entry = stats.setdefault(
            key, {"table": key[0], "bucket": key[1], "n_files": 0, "bytes": 0}
        )
        entry["n_files"] += len(pq)
        entry["bytes"] += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in pq
        )
    return list(stats.values())


def partition_file_stats_metadata(
    spark: SparkSession, root: str
) -> list[dict]:
    """partition_file_stats computed INSIDE the scan from the _metadata
    hidden columns (one column-pruned pass, distributed) instead of a
    driver directory walk — the object-store-correct selection input
    (os.walk on s3a:// silently reports nothing there)."""
    per_file = (
        spark.read.parquet(root)
        .select(
            F.col(TABLE_COL).cast("string").alias("t"),
            F.col(BUCKET_COL).cast("string").alias("b"),
            F.col("_metadata.file_path").alias("p"),
            F.col("_metadata.file_size").alias("s"),
        )
        .groupBy("t", "b", "p")
        .agg(F.first("s").alias("s"))
    )
    rows = (
        per_file.groupBy("t", "b")
        .agg(F.count(F.lit(1)).alias("n_files"), F.sum("s").alias("bytes"))
        .collect()
    )
    return [
        {
            "table": r["t"],
            "bucket": r["b"],
            "n_files": r["n_files"],
            "bytes": r["bytes"],
        }
        for r in rows
    ]


def _partition_path(root: str, table: str, bucket: str) -> str:
    return (
        f"{root.rstrip('/')}/{partition_dir_name(TABLE_COL, table)}"
        f"/{partition_dir_name(BUCKET_COL, bucket)}"
    )


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _job_groups(selected: list[dict], budget_bytes: int) -> list[list[dict]]:
    """Consecutive groups of at most ``budget_bytes`` input each; a
    partition larger than the budget forms a group of its own."""
    groups: list[list[dict]] = []
    size = 0
    for s in selected:
        if not groups or size + s["bytes"] > budget_bytes:
            groups.append([])
            size = 0
        groups[-1].append(s)
        size += s["bytes"]
    return groups


def _rewrite_group(
    spark: SparkSession,
    root: str,
    group: list[dict],
    n_files: dict[tuple[str, str], int],
    staged_root: str,
    shuffle_partitions: int,
) -> None:
    """One read of the group's partitions, one partitioned write into
    ``staged_root``. Every row goes to task ``(h + salt) mod N``, where
    ``h`` hashes its partition and ``salt`` cycles through that
    partition's file count ``n``: a partition's ``n`` salts land on ``n``
    distinct tasks (``n ≤ N``), and each task writes one file per
    partition it holds — so a partition ends with ``n`` files (fewer only
    when its rows are too few to reach every salt)."""
    paths = [_partition_path(root, s["table"], s["bucket"]) for s in group]
    # partition values are read back as the exact directory strings
    # (no '007' → 7, no '2024-01-01' → DATE), whatever the session says
    with _session_conf(
        spark, "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    ):
        df = (
            spark.read.option("basePath", root)
            .option("mergeSchema", "true")
            .parquet(*paths)
        )
    counts = [n_files[(s["table"], s["bucket"])] for s in group]
    n_tasks = max(max(counts), min(sum(counts), shuffle_partitions))
    multi: dict[str, dict[str, int]] = {}
    for s, n in zip(group, counts):
        if n > 1:
            multi.setdefault(s["table"], {})[s["bucket"]] = n
    if multi:
        # one literal, however many partitions need several files
        by_table = F.from_json(
            F.lit(json.dumps(multi)), "map<string,map<string,int>>"
        )
        n_col = F.coalesce(
            F.try_element_at(
                F.try_element_at(by_table, F.col(TABLE_COL)), F.col(BUCKET_COL)
            ),
            F.lit(1),
        )
        salt = F.pmod(F.monotonically_increasing_id(), n_col)
    else:
        salt = F.lit(0)
    task = F.pmod(
        F.pmod(F.hash(TABLE_COL, BUCKET_COL), F.lit(n_tasks)) + salt,
        F.lit(n_tasks),
    ).cast("int")
    (
        df.repartitionById(n_tasks, task)
        .write.partitionBy(TABLE_COL, BUCKET_COL)
        .option("compression", "snappy")
        .parquet(staged_root)
    )


def _swap_in(spark: SparkSession, staged: str, target: str, aside: str) -> None:
    """Replace ``target`` by ``staged``: move the original aside, promote
    the staged copy, then delete the original. Every rename is checked;
    a failed promote moves the original back before raising, so a
    partition is never left missing and no row is silently dropped."""
    if not fsutil.rename(spark, target, aside):
        raise OSError(f"compaction: could not move {target} aside to {aside}")
    if not fsutil.rename(spark, staged, target):
        if fsutil.rename(spark, aside, target):
            raise OSError(
                f"compaction: could not promote {staged} to {target}; "
                "original restored"
            )
        raise OSError(
            f"compaction: could not promote {staged} to {target} nor "
            f"restore it; its original files are kept at {aside}"
        )
    fsutil.delete(spark, aside)


def compact_lake(
    spark: SparkSession,
    root: str,
    min_files: int = 8,
    target_file_bytes: int = 128 << 20,
) -> dict[tuple[str, str], int]:
    """Selective compaction: every partition with ≥ ``min_files`` files is
    rewritten to ``ceil(bytes/target_file_bytes)`` files. Returns
    ``{(table, bucket): n_files}`` for the rewritten partitions.

    Candidates come from a Python directory walk on a local root and
    from the distributed ``_metadata`` scan on any other store, where a
    walk sees nothing. On a failed swap the error is raised with every
    partition still readable (see ``_swap_in``)."""
    stats_fn = (
        partition_file_stats
        if fsutil._is_local(spark, root)
        else partition_file_stats_metadata
    )
    selected = [s for s in stats_fn(spark, root) if s["n_files"] >= min_files]
    if not selected:
        return {}
    n_files = {
        (s["table"], s["bucket"]): max(1, -(-s["bytes"] // target_file_bytes))
        for s in selected
    }
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for group in _job_groups(selected, shuffle_partitions * target_file_bytes):
        staging = f"{root.rstrip('/')}/{STAGING_PREFIX}{uuid.uuid4().hex}"
        staged_root, aside_root = f"{staging}/new", f"{staging}/old"
        try:
            _rewrite_group(
                spark, root, group, n_files, staged_root, shuffle_partitions
            )
            fsutil.mkdirs(spark, aside_root)
            for i, s in enumerate(group):
                _swap_in(
                    spark,
                    _partition_path(staged_root, s["table"], s["bucket"]),
                    _partition_path(root, s["table"], s["bucket"]),
                    f"{aside_root}/{i}",
                )
        finally:
            # an original that could not be restored stays in aside_root
            if fsutil.list_names(spark, aside_root):
                fsutil.delete(spark, staged_root)
            else:
                fsutil.delete(spark, staging)
    return n_files
