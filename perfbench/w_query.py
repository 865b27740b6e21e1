"""lake_query ops: the SQL surface rtdl delivered through Dremio, plus the
embedding-search operators, read-only over seeded fixtures.

Each op builds its DataFrame through the public registry constructor (or
the operator function) and materializes the whole result on the client
(``toPandas`` over Arrow), so every row and column is computed: nothing
is counted, so nothing is pruned. Every result is then checked outside
the timed op: registry entries against their DuckDB ``oracle_sql``,
``cosine_topk`` against a numpy brute force, the approximate lane for
shape, with its recall@10 against the exact lane.
"""

from __future__ import annotations

import os

import numpy as np

import gen
import verify

SF = 0.005
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# Registry entries timed: scan-agg, join + top-k, SQL text over catalog
# views, and the Arrow/Python image lane. The embedding-search op runs the
# exact lane (cosine_topk) and an approximate one (ivf_topk) on the same
# queries.
QUERY_OPS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "sql_revenue_by_region",
    "x_image_ahash_full",
)
ANN_LANES = ("cosine_topk", "ivf_topk")
K = 10
N_QUERIES = 24
# executed-plan metrics summed per op in the traced run
PLAN_METRICS = {
    "pythonNumRowsReceived": "functions.python_rows",
    "pythonDataSent": "functions.python_bytes",
    "shuffleBytesWritten": "queries.shuffle_bytes",
    "spillSize": "queries.spill_bytes",
}


def plan_metrics(df) -> dict[str, int]:
    """Sum of chosen runtime metrics over an EXECUTED DataFrame's final
    plan (AQE stages unwrapped, reused exchanges counted once). The walk
    of ``plans.inspect.profile_execution``, minus its ``collect()``: the
    op has already run the plan, and running it again would double the
    traced run's query work."""
    out = {k: 0 for k in PLAN_METRICS}
    seen = set()

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name and hasattr(node, "plan"):
            return walk(node.plan())
        if node.id() in seen:
            return
        seen.add(node.id())
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] += int(kv._2().value())
        if "ReusedExchange" in name:
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


class LakeQuery:
    def __init__(self, ctx):
        self.ctx = ctx
        self.fx = None
        self.ops = [("query", n) for n in QUERY_OPS] + [
            ("operator", "ann_search")
        ]
        self.phase_ms: dict[str, list[float]] = {}
        self.plan_tot = {v: 0 for v in PLAN_METRICS.values()}
        self.n_profiled = 0
        self.recalls: list[float] = []

    # -- set-up -------------------------------------------------------------
    def stage(self, rep: int) -> None:
        """Write the fixtures and read each table once through the
        catalog (footer schema inference, first file listing)."""
        from rtdl_spark.catalog import table

        fx = os.path.join(self.ctx.work_dir, f"fixtures_{rep}")
        gen.write_fixtures(fx, self.ctx.seed, SF)
        with self.ctx.tracer.span("catalog.fixture_first_read"):
            for t in FIXTURE_TABLES:
                table(self.ctx.spark, fx, t).schema
        self.fx = fx

    def setup_run(self) -> None:
        import duckdb

        from rtdl_spark.queries import all_oracles

        rng = np.random.default_rng([self.ctx.seed, 4])
        n = gen.fixture_sizes(SF)["embeddings"]
        self.query_ids = sorted(
            int(i) for i in rng.choice(n, N_QUERIES, replace=False)
        )
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.fx}/{t}.parquet')"
            )
        oracles = all_oracles()
        self.want = {n: con.sql(oracles[n]).fetchdf() for n in QUERY_OPS}
        emb = con.sql(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
        ).fetchdf()
        con.close()
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.exact = verify.exact_topk(vecs, self.query_ids, K)

    # -- ops ----------------------------------------------------------------
    def build(self, kind: str, name: str):
        """The op's DataFrame, built through the public entry point."""
        if kind == "query":
            with self.ctx.tracer.span("queries.construct"):
                return self.ctx.registry[name](self.ctx.spark, self.fx)
        from rtdl_spark.catalog import table
        from rtdl_spark.operators import similarity

        corpus = table(self.ctx.spark, self.fx, "embeddings")
        queries = corpus.filter(corpus.vec_id.isin(self.query_ids))
        return getattr(similarity, name)(corpus, queries, k=K)

    def op(self, kind: str, name: str):
        """(timed fn, untimed check) for one execution of op ``name``;
        the check returns whether the result is right."""
        parts = [name] if kind == "query" else list(ANN_LANES)
        held: dict = {}

        def run():
            for part in parts:
                df = self.build(kind, part)
                with self.ctx.tracer.span("queries.execute"):
                    held[part] = (df, df.toPandas())

        def after(_out=None):
            if self.ctx.tracer.enabled:
                for df, _ in held.values():
                    self._profile(df)
            if kind == "query":
                return verify.frames_equal(held[name][1], self.want[name])
            exact = held["cosine_topk"][1]
            approx = held["ivf_topk"][1]
            self.recalls.append(verify.recall_at_k(approx, self.exact, K))
            return verify.topk_matches(exact, self.exact) and (
                verify.topk_shape(approx, self.query_ids, K)
            )

        return run, after

    def _profile(self, df) -> None:
        """Catalyst phase times and runtime metrics of an executed op."""
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            got = phases.get(ph)
            if got.isDefined():
                self.phase_ms.setdefault(ph, []).append(
                    float(got.get().durationMs())
                )
        for k, v in plan_metrics(df).items():
            self.plan_tot[PLAN_METRICS[k]] += v
        self.n_profiled += 1

    # -- reporting --------------------------------------------------------------
    @property
    def recall(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0

    def layer_counters(self) -> dict:
        n = max(1, self.n_profiled)
        return {k: v / n for k, v in self.plan_tot.items()}

    def layer_detail(self) -> dict:
        out = {
            f"queries.{ph}_ms": float(np.mean(v))
            for ph, v in self.phase_ms.items()
        }
        out["operators.ann_recall_at10"] = self.recall
        return out
