"""Lake benchmark: one closed-loop client driving rtdl_spark's public
functions on one workload, with every result fully materialized and
checked.

    python3 perfbench/run.py --workload {ingest,lake}
        --seed N --seconds S --trace {0,1}

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
ones with ``--trace 1``). Lines before it are a readable report: the
workload's own named metrics, the environment, failures, and with
``--trace 1`` the per-layer table. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import core  # noqa: E402
import layers  # noqa: E402
from verify import Verifier  # noqa: E402

WORKLOADS = ("ingest", "lake")
STAGE_REPS = 3
OUT_DIR = ".perfbench_out"


class Context:
    """What a workload sees: the engine, the tracer, the verifier."""

    def __init__(self, spark, seed: int, work_dir: str, tracer, registry):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.registry = registry
        self.verifier = Verifier()
        self.n_ops = 0

    def timed_op(self, name: str, fn, check=None) -> float | None:
        """Run one op of the closed loop: time ``fn``, then, untimed, pass
        its result to ``check``, which returns False when it is wrong.
        Returns the latency, or None when the op raised (a failed op)."""
        self.n_ops += 1
        op = f"{name}#{self.n_ops}"
        self.tracer.op_id = self.n_ops
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as e:
            self.verifier.fail(op, f"{type(e).__name__}: {str(e)[:200]}")
            return None
        finally:
            self.tracer.op_id = None
        dt = time.perf_counter() - t0
        if check is None:
            self.verifier.attempted.add(op)
        else:
            self.verifier.attempt(op, lambda: check(out))
        return dt


def make_workload(name: str, ctx: Context):
    if name == "ingest":
        from w_ingest import Ingest

        return Ingest(ctx)
    from w_lake import Lake

    return Lake(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(core.REPO_ROOT, "rtdl_spark",
                                       "__init__.py")):
        print("perfbench: rtdl_spark package not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, core.REPO_ROOT)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env_start = core.environment(work)
    spark = None
    try:
        spark, get_spark_s, registry_s, jvm_pid = core.start_engine(
            work, f"perfbench_{args.workload}"
        )
        from rtdl_spark.queries import all_queries

        tracer = core.Tracer(spark, enabled=False)
        ctx = Context(spark, args.seed, work, tracer, all_queries())
        wl = make_workload(args.workload, ctx)
        undo = []
        if args.trace:
            undo = core.instrument(tracer, layers.TARGETS)
        stage_s = []
        for rep in range(STAGE_REPS):
            tracer.enabled = bool(args.trace) and rep == STAGE_REPS - 1
            t0 = time.perf_counter()
            wl.stage(rep)
            stage_s.append(time.perf_counter() - t0)
        tracer.enabled = False
        t0 = time.perf_counter()
        wl.setup_run()
        setup_s = (get_spark_s + registry_s + core.p50(stage_s)
                   + time.perf_counter() - t0)

        if args.trace:
            # half the time untraced, half traced: the difference of the
            # two p50s is the tracing overhead
            base = wl.measure(args.seconds / 2)
            tracer.enabled = True
            res = wl.measure(args.seconds / 2)
            tracer.enabled = False
            core.uninstrument(undo)
        else:
            base, res = None, wl.measure(args.seconds)
        wl.finish(res)
        v = ctx.verifier
        rss = core.rss_peak_mb(None) + core.rss_peak_mb(jvm_pid)
        env_end = core.environment(work)
        named = wl.extra(res)
        if not (res["writes"] and res["reads"]):
            raise RuntimeError("no write or no read op completed")
        e2e = {
            "setup_s": (setup_s, "s"),
            "write_mean_s": (statistics.fmean(res["writes"]), "s"),
            "read_mean_s": (statistics.fmean(res["reads"]), "s"),
            "ops_per_s": (res["units"] / res["wall"], "1/s"),
        }
        named["peak_rss_mb"] = (rss, "MB")
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "named": {k: {"value": val, "unit": u}
                      for k, (val, u) in named.items()},
            "op_error_rate": v.n_failed / max(1, v.n_attempted),
            "failures": v.failed,
            "setup_parts_s": {"get_spark": get_spark_s,
                              "registry_import": registry_s,
                              "stage_reps": stage_s,
                              "warm_up": getattr(wl, "warm_s", None),
                              "total": setup_s},
            "env": {**env_start, "load1_end": env_end["load1"],
                    "spark": spark.version,
                    "elevated_load": env_start["load1"]
                    > 0.5 * (env_start["nproc"] or 1)},
        }
        metrics = {k: {"value": val, "unit": u} for k, (val, u) in e2e.items()}
        if args.trace:
            per_layer, detail = layers.summarize(
                ctx, wl, res, base, get_spark_s, registry_s
            )
            metrics = per_layer
            report["layer_detail"] = detail
            os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
            out = os.path.join(
                root, OUT_DIR, f"trace-{args.workload}-{args.seed}.json"
            )
            with open(out, "w") as f:
                json.dump({"spans": tracer.spans, "report": report}, f)
        report["wall_s"] = time.perf_counter() - t_run
        print_report(report, e2e, args.trace)
        result = {
            "correct": v.n_failed == 0,
            "attempted": v.n_attempted,
            "failed": v.n_failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run's
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def print_report(report: dict, e2e: dict, traced: int) -> None:
    w = report["workload"]
    print(f"== perfbench {w} seed={report['seed']} "
          f"{'traced' if traced else 'timed'}")
    for k, (val, u) in e2e.items():
        print(f"  {k:<28} {val:>12.4f} {u}")
    for k, m in report["named"].items():
        print(f"  {k:<28} {m['value']:>12.4f} {m['unit']}")
    print(f"  {'op_error_rate':<28} {report['op_error_rate']:>12.4f} ratio")
    for op, why in report["failures"].items():
        print(f"  FAILED {op}: {why}")
    env = report["env"]
    print(f"  env nproc={env['nproc']} load1={env['load1']}->"
          f"{env['load1_end']} storage={env['storage']} "
          f"spark={env['spark']} python={env['python']}"
          + ("  ELEVATED LOAD AT START" if env["elevated_load"] else ""))
    if "layer_detail" in report:
        print(report["layer_detail"]["table"])
    print("REPORT " + json.dumps(report, default=str))


if __name__ == "__main__":
    sys.exit(main())
