"""lake: lake maintenance and the lake's query surface on one session.

One client runs whole cycles of ops against the same engine. A cycle is
six Delta writes (``w_dml``: MERGE twice, UPDATE, DV DELETE, DELETE,
maintenance), three Delta reads (snapshot aggregate, time travel, key
range) and every query once (``w_query``: registry SQL and
embedding search), in a seeded order with seeded parameters. Every run
times the same mix, and a gain for one family that costs another shows
in the same run.

Set-up builds the Delta table and runs one op of every kind, untimed and
checked, so the timed ops run on a warm engine.
"""

from __future__ import annotations

import time

import numpy as np

from core import p50, tail
from w_dml import DeltaDml
from w_query import LakeQuery


class Lake:
    name = "lake"

    def __init__(self, ctx):
        self.ctx = ctx
        self.q = LakeQuery(ctx)
        self.dml = DeltaDml(ctx)

    def stage(self, rep: int) -> None:
        self.q.stage(rep)

    def setup_run(self) -> None:
        """Build the table and warm up: one op of every kind, untimed and
        checked. The two families touch disjoint data, so they run on two
        threads: the table build then the Delta ops in sequence (as the
        replay needs) on one, the queries on the other."""
        from concurrent.futures import ThreadPoolExecutor

        self.q.setup_run()
        v = self.ctx.verifier

        def warm_dml():
            t0 = time.perf_counter()
            self.dml.build_table(self.q.fx)
            self.warm_s["table_build"] = time.perf_counter() - t0
            for i, op in enumerate(self.dml.warm_ops):
                fn, after = self.dml.op(op)
                v.attempt(f"warm:{op['kind']}#{i}", lambda: after(fn()))
            self.warm_s["delta_ops"] = time.perf_counter() - t0

        def warm_queries():
            t0 = time.perf_counter()
            for kind, name in self.q.ops:
                run, check = self.q.op(kind, name)
                v.attempt(f"warm:{name}", lambda: (run(), check())[1])
            self.warm_s["queries"] = time.perf_counter() - t0

        self.warm_s: dict[str, float] = {}
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(warm_dml), pool.submit(warm_queries)]:
                f.result()

    def measure(self, seconds: float) -> dict:
        """Whole cycles until ``seconds`` have passed. A cycle is every
        Delta write and read of ``w_dml``'s cycle plus every query once,
        in a seeded order, so each run times the same mix."""
        rng = np.random.default_rng([self.ctx.seed, 6])
        lat: list[float] = []
        fam: dict[str, list[float]] = {"write": [], "read": [], "query": []}
        t_start = time.perf_counter()
        cycle = 0
        while not lat or time.perf_counter() - t_start < seconds:
            cycle += 1
            ops = self.dml.cycle_ops(cycle) + [
                ("query", q) for q in self.q.ops
            ]
            for i in rng.permutation(len(ops)):
                family, op = ops[i]
                if family == "query":
                    kind, name = op
                    run, check = self.q.op(kind, name)
                    dt = self.ctx.timed_op(f"op.{name}", run, check)
                else:
                    fn, after = self.dml.op(op)
                    dt = self.ctx.timed_op(f"op.{op['kind']}", fn, after)
                if dt is not None:
                    lat.append(dt)
                    fam[family].append(dt)
        wall = time.perf_counter() - t_start
        return {"latencies": lat, "wall": wall, "units": len(lat),
                "writes": fam["write"], "reads": fam["read"] + fam["query"],
                "families": fam}

    def finish(self, res: dict) -> None:
        self.dml.finish()

    def extra(self, res: dict) -> dict:
        fam = res["families"]
        out = {}
        for label, key in (("dml_write", "write"), ("query", "query")):
            if fam[key]:
                t, p, n = tail(fam[key])
                out[f"{label}_p50_s"] = (p50(fam[key]), "s")
                out[f"{label}_tail_s"] = (t, f"s (p{p} of {n})")
        if fam["read"]:
            out["delta_read_p50_s"] = (p50(fam["read"]), "s")
        out["dml_write_amp"] = (self.dml.write_amp(), "ratio")
        out["ann_recall_at10"] = (self.q.recall, "ratio")
        return out

    def layer_counters(self, res: dict) -> dict:
        import deltalog

        act = deltalog.activity(self.dml.dir, self.dml.start_version)
        out = {f"sources.{k}": act[k] for k in (
            "files_added", "files_removed", "bytes_added", "bytes_removed",
            "dv_bytes", "checkpoints_written", "commits_since_checkpoint_max",
        )}
        out["sources.rows_scanned_per_row_returned"] = (
            self.dml.range_scan_ratio()
        )
        out.update(self.q.layer_counters())
        return out

    def layer_detail(self, res: dict) -> dict:
        return self.q.layer_detail()
