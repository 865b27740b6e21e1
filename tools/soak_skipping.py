"""Data-skipping soak: a 2M-row / 64-file range-laid-out native Delta
table; measures a selective DELETE and a selective read WITH vs WITHOUT
stats pruning (the unpruned baseline scans every file's identify pass).

Usage: python tools/soak_skipping.py   (writes evidence for SCALE.md)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from rtdl_spark.sources.delta_reader import (
        data_skipping_report,
        read_delta_native,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    base = tempfile.mkdtemp(prefix="soak_skip_", dir="/dev/shm")
    try:
        root = os.path.join(base, "t")
        n, files = 2_000_000, 64
        df = spark.range(0, n).select(
            "id",
            (F.col("id") * 2).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ).repartitionByRange(files, "id")
        t0 = time.time()
        write_delta_native(spark, df, root, checkpoint_interval=0)
        t_write = time.time() - t0

        where = f"id >= {n - n // files // 2}"  # inside the last file
        rep = data_skipping_report(spark, root, where)
        t0 = time.time()
        k = read_delta_native(spark, root, where=where).count()
        t_pruned = time.time() - t0
        t0 = time.time()
        k2 = read_delta_native(spark, root).filter(where).count()
        t_full = time.time() - t0
        assert k == k2

        # unpruned-identify baseline: neutralize the candidate pruning
        # so the identify join scans all 64 files (what every engine
        # without stats pruning must do)
        import rtdl_spark.sources.delta_writer as W

        orig = W._skip_candidates
        W._skip_candidates = lambda _spark, active, meta, cond: active
        try:
            t0 = time.time()
            read_delta_native(spark, root).filter(where).select(
                F.lit(1)
            ).count()  # proxy: full identify-style scan cost
            t_id_full = time.time() - t0
        finally:
            W._skip_candidates = orig

        t0 = time.time()
        d = delete_where_delta_native(spark, root, where)
        t_delete = time.time() - t0

        print(
            f"rows={n} files={files} write={t_write:.1f}s | "
            f"selective read: pruned {rep['pruned']}/{rep['total']} "
            f"files, {t_pruned:.2f}s vs full-scan filter {t_full:.2f}s "
            f"({t_full / max(t_pruned, 1e-9):.1f}x) | "
            f"DELETE incl. pruned identify: {t_delete:.2f}s "
            f"(unpruned identify-scan proxy {t_id_full:.2f}s), "
            f"files_rewritten={d['files_rewritten']}"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
