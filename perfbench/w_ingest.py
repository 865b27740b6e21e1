"""ingest: the reference's whole dataflow, one batch per op.

Three streams arrive as raw JSON lines: a plain stream, a stream whose
chain masks PII (``ingester,pii-detection``), and a stream routed by its
alt id (``projectId``) whose chain appends to a native Delta table
(``ingester,deltawriter``). The two parquet streams drift (a new optional
field every few batches) and carry about 0.5% malformed lines. Each batch is
``ingest_json_dir`` with a batch id and commit log for each ingest job,
then ``read_table`` reads the batch's rows back and the counts are
checked. Every ``COMPACT_EVERY`` batches the write also runs
``compact_lake`` on one parquet stream (alternating), so compaction spikes
land in the tail; it runs with Spark's parquet schema merging on (see
``merged_parquet_schemas``). Batches run in whole cycles of
``BATCHES_PER_CYCLE``, so every run times the same mix.

Set-up ingests one batch untimed (checked like the rest; its two ingest
jobs on two threads), so the timed batches run on a warm engine. The write op and the read-back are timed
as two ops; a batch's latency in the report is their sum.

The Delta stream has its own ingest job and raw file: schema inference is
batch-wide, so a drifting field on any stream of a shared batch would
reach the Delta append, which refuses a changed schema without
``merge_schema`` (as Delta does).
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

import deltalog
import gen

EVENTS_PER_BATCH = 400
BATCHES_PER_CYCLE = 4
COMPACT_EVERY = 2  # batches; the two parquet streams take turns
COMPACT_MIN_FILES = 2
SSN = re.compile(r"\d{3}-\d{2}-\d{4}")


@contextmanager
def merged_parquet_schemas(spark):
    """Parquet reads without an explicit ``mergeSchema`` option merge every
    file's footer while the block runs.

    ``compact_partition`` reads a partition with a plain
    ``spark.read.parquet``, which takes one file's schema; on a partition
    whose files drifted that drops the other files' columns, values and
    all. Drift is this workload's normal case, so compaction runs under
    the session-wide setting: the rewrite then reads the union schema, the
    read a drift-safe compaction has to make."""
    key = "spark.sql.parquet.mergeSchema"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class Ingest:
    name = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx

    # -- set-up -------------------------------------------------------------
    def stage(self, rep: int) -> None:
        """Stream configs and the two ingest jobs."""
        from rtdl_spark.config import StreamConfig, StreamRegistry
        from rtdl_spark.ingest import IngestJob

        root = os.path.join(self.ctx.work_dir, f"ingest_{rep}")
        self.root = root
        self.lake = os.path.join(root, "lake")
        regs = {
            "main": StreamRegistry(os.path.join(root, "configs_main")),
            "delta": StreamRegistry(os.path.join(root, "configs_delta")),
        }
        self.cfgs = []
        for i, (sid, alt, fns) in enumerate(gen.INGEST_STREAMS):
            cfg = regs["delta" if alt else "main"].create(StreamConfig(
                stream_id=sid, stream_alt_id=alt, folder_name=f"stream_{i}",
                functions=fns, partition_time_id=2,
            ))
            self.cfgs.append(cfg)
        self.jobs = {
            k: IngestJob(self.ctx.spark, r, self.lake, time_source="event",
                         event_time_col="ts")
            for k, r in regs.items()
        }
        self.delta_dir = os.path.join(self.lake, "_delta", "stream_2")

    def setup_run(self) -> None:
        self.batch = 0
        self.expect: dict = {}
        self.raw_bytes = 0
        self.valid_lines = 0
        self.malformed = 0
        self.files_written = []
        self.bytes_written = []
        self.files_compacted = 0
        self._batch(timed=False)  # warm-up: one untimed, checked batch

    # -- ops ----------------------------------------------------------------
    def _write_raw(self, b: int) -> dict[str, str]:
        files, expect = gen.ingest_batch(self.ctx.seed, b, EVENTS_PER_BATCH)
        self.expect[b] = expect
        self.malformed += expect["malformed"]
        dirs = {}
        for k, lines in files.items():
            d = os.path.join(self.root, "raw", f"b{b:05d}", k)
            os.makedirs(d)
            body = "\n".join(lines) + "\n"
            with open(os.path.join(d, "part-0.json"), "w") as f:
                f.write(body)
            self.raw_bytes += len(body.encode())
            dirs[k] = d
        self.valid_lines += sum(
            n for sid, _, _ in gen.INGEST_STREAMS
            for n in expect[sid].values()
        )
        return dirs

    def _ingest(self, b: int, dirs: dict[str, str], parallel=False) -> None:
        """The write op: both ingest jobs (on two threads for the warm-up
        batch), then, every COMPACT_EVERY batches, compaction of one of
        the parquet streams, alternating."""
        from concurrent.futures import ThreadPoolExecutor

        from rtdl_spark.ingest.compact import compact_lake, partition_file_stats

        def one(k):
            self.jobs[k].ingest_json_dir(
                dirs[k], batch_id=f"b{b:05d}",
                commit_log_dir=os.path.join(self.root, f"commits_{k}"),
            )

        with ThreadPoolExecutor(2 if parallel else 1) as pool:
            for f in [pool.submit(one, k) for k in self.jobs]:
                f.result()
        if b % COMPACT_EVERY == 0:
            root = self.jobs["main"].dest_root(
                self.cfgs[(b // COMPACT_EVERY) % 2]
            )
            # the partitions compact_lake selects, by its own rule (a
            # directory walk, milliseconds)
            self.files_compacted += sum(
                s["n_files"] for s in partition_file_stats(self.ctx.spark, root)
                if s["n_files"] >= COMPACT_MIN_FILES
            )
            with merged_parquet_schemas(self.ctx.spark):
                compact_lake(self.ctx.spark, root, min_files=COMPACT_MIN_FILES)

    def _readback(self, b: int) -> dict:
        """The read op: the batch's page_view rows of every stream, read
        back through ``read_table``."""
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("ingest.readback"):
            return {
                cfg.stream_id: self.jobs[
                    "delta" if cfg.stream_alt_id else "main"
                ].read_table(cfg, "page_view")
                .filter(F.col("batch") == b).count()
                for cfg in self.cfgs
            }

    def _readback_ok(self, b: int, got: dict) -> bool:
        return got == {
            cfg.stream_id: self.expect[b][cfg.stream_id].get("page_view", 0)
            for cfg in self.cfgs
        }

    def _batch(self, timed: bool) -> tuple[float | None, float | None]:
        """Write one batch's raw files, ingest them, read them back;
        (write latency, read latency), None for an op that failed."""
        b = self.batch
        self.batch += 1
        dirs = self._write_raw(b)
        before = self._lake_files()
        if not timed:
            v = self.ctx.verifier
            v.attempt(f"warm:ingest#{b}",
                      lambda: self._ingest(b, dirs, parallel=True))
            v.attempt(f"warm:readback#{b}",
                      lambda: self._readback_ok(b, self._readback(b)))
            return None, None
        w = self.ctx.timed_op("op.ingest", lambda: self._ingest(b, dirs))
        after = self._lake_files()
        new = set(after) - set(before)
        self.files_written.append(len(new))
        self.bytes_written.append(sum(after[p] for p in new))
        r = self.ctx.timed_op(
            "op.readback", lambda: self._readback(b),
            lambda got: self._readback_ok(b, got),
        )
        return w, r

    def measure(self, seconds: float) -> dict:
        """Whole cycles of BATCHES_PER_CYCLE batches until ``seconds``
        have passed, so each run times the same mix."""
        writes: list[float] = []
        reads: list[float] = []
        batches: list[float] = []
        t_start = time.perf_counter()
        while not batches or time.perf_counter() - t_start < seconds:
            for _ in range(BATCHES_PER_CYCLE):
                w, r = self._batch(timed=True)
                if w is not None:
                    writes.append(w)
                if r is not None:
                    reads.append(r)
                if w is not None and r is not None:
                    batches.append(w + r)
        wall = time.perf_counter() - t_start
        return {"latencies": writes + reads, "writes": writes,
                "reads": reads, "batches": batches, "wall": wall,
                "units": len(writes) + len(reads)}

    def _lake_files(self) -> dict[str, int]:
        out = {}
        for dp, _, fs in os.walk(self.lake):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dp, f)
                    out[p] = os.path.getsize(p)
        return out

    # -- end-of-run verification -----------------------------------------------
    def finish(self, res: dict) -> None:
        """Every landed row against the generator: per stream, batch and
        message type; PII masked; the Delta table's rows; every drifted
        field's values still present (after compaction too); malformed
        lines dropped and nothing else."""
        from pyspark.sql import functions as F

        from rtdl_spark.sources.delta_reader import read_delta_native

        v = self.ctx.verifier
        spark = self.ctx.spark
        frames = {
            cfg.stream_id: spark.read.option("mergeSchema", "true").parquet(
                self.jobs["delta" if cfg.stream_alt_id else "main"]
                .dest_root(cfg)
            )
            for cfg in self.cfgs
        }
        landed: dict[str, int] = {}
        for cfg in self.cfgs:
            def rows(sid=cfg.stream_id):
                got = {
                    (r["batch"], r["rtdl_table"]): r["n"]
                    for r in frames[sid].groupBy("batch", "rtdl_table")
                    .agg(F.count(F.lit(1)).alias("n")).collect()
                }
                landed[sid] = sum(got.values())
                return got == {
                    (b, t): n for b, e in self.expect.items()
                    for t, n in e[sid].items()
                }

            v.attempt(f"verify:{cfg.folder_name}.rows", rows)

        def masked():
            notes = [r["note"] for r in frames[self.cfgs[1].stream_id]
                     .select("note").collect()]
            return bool(notes) and all(
                n is None or (not SSN.search(n) and "###" in n)
                for n in notes
            )

        v.attempt("verify:pii_masked", masked)
        delta_sid = self.cfgs[2].stream_id
        v.attempt("verify:delta_stream.rows", lambda: (
            read_delta_native(spark, self.delta_dir).count()
            == sum(sum(e[delta_sid].values()) for e in self.expect.values())
        ))
        for cfg in self.cfgs[:2]:
            def drift_values(sid=cfg.stream_id):
                want: dict[str, int] = {}
                for e in self.expect.values():
                    for f, n in e["opt_counts"].get(sid, {}).items():
                        want[f] = want.get(f, 0) + n
                missing = set(want) - set(frames[sid].columns)
                if missing:
                    raise AssertionError(
                        f"drifted fields gone from the table: {sorted(missing)}"
                    )
                row = frames[sid].agg(
                    *[F.count(f).alias(f) for f in sorted(want)]
                ).collect()[0]
                lost = {f: (row[f], n) for f, n in want.items() if row[f] != n}
                if lost:
                    raise AssertionError(
                        "drifted field values present/ingested: "
                        + ", ".join(f"{f} {g}/{n}" for f, (g, n) in lost.items())
                    )
                return True

            v.attempt(f"verify:{cfg.folder_name}.drift_values", drift_values)
        self.rows_dropped = (
            self.valid_lines + self.malformed - sum(landed.values())
        )
        v.attempt("verify:malformed_dropped",
                lambda: self.rows_dropped == self.malformed)

    # -- reporting --------------------------------------------------------------
    def lake_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.lake) for f in fs
        )

    def extra(self, res: dict) -> dict:
        from core import p50, tail

        lat = res["batches"]
        t, p, n = tail(lat)
        events = sum(
            n for b, e in self.expect.items() if b > 0
            for sid, _, _ in gen.INGEST_STREAMS for n in e[sid].values()
        )
        return {
            "ingest_events_per_s": (events / res["wall"], "1/s"),
            "ingest_batch_p50_s": (p50(lat), "s"),
            "ingest_batch_tail_s": (t, f"s (p{p} of {n})"),
            "ingest_bytes_per_input_byte": (
                self.lake_bytes() / self.raw_bytes, "ratio"
            ),
        }

    def layer_counters(self, res: dict) -> dict:
        n = max(1, len(self.files_written))
        act = deltalog.activity(self.delta_dir, -1)
        return {
            "ingest.files_per_batch": sum(self.files_written) / n,
            "ingest.bytes_per_batch": sum(self.bytes_written) / n,
            "ingest.files_compacted": self.files_compacted,
            "ingest.rows_dropped_malformed": self.rows_dropped,
            **{f"sources.{k}": act[k] for k in (
                "files_added", "files_removed", "bytes_added",
                "bytes_removed", "dv_bytes", "checkpoints_written",
                "commits_since_checkpoint_max",
            )},
        }

    def layer_detail(self, res: dict) -> dict:
        return {"ingest.batches": float(self.batch)}
