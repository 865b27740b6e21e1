"""Scale soak: run the headline operator shapes on N× the sf0.1 fixtures
(same files listed N times — N× rows through every exchange/expression)
and print per-query wall seconds as one JSON line.

Purpose: empirical backing for SCALE.md's claims — near-linear scaling of
the scan-agg, join, dedup, and ingest paths, no cliff from partition-count
or memory pressure. Usage:

    python tools/soak.py [N]                      # default N=10 (~6M rows)
    python tools/soak.py 30 --only allpairs_gemm  # one cell at 30x

Cells that time two variants of one operation report both under the
cell's name with a suffix: ``delete_by_keys`` (``_clustered`` /
``_scatter`` key layouts) and ``matview_refresh`` (``_incremental`` /
``_rebuild`` over one Delta source).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402  (module-level: pandas_udf type-hint
# resolution evaluates string annotations against module globals)
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from rtdl_spark.catalog import table
    from rtdl_spark.operators.dedup import minhash_lsh_pairs
    from rtdl_spark.queries._util import dec, dsum, revenue_expr
    from rtdl_spark.session import get_spark, tune_for_scale

    spark = get_spark("rtdl_spark_soak")
    spark.sparkContext.setLogLevel("ERROR")

    def xn(name: str, copies: int | None = None):
        """The fixture table with its file listed ``copies`` times."""
        path = os.path.join(sf_dir, f"{name}.parquet")
        base = table(spark, sf_dir, name)  # conf side effects (nanos etc.)
        del base
        return spark.read.parquet(*([path] * (copies or n)))

    lineitem = xn("lineitem")
    input_bytes = n * os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    tune_for_scale(spark, input_bytes)

    timings: dict[str, float] = {}

    def run(name, fn):
        if only is not None and name not in only:
            return
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 4)

    # q1 shape: full-scan hash aggregate
    run(
        "scan_agg_q1",
        lambda: lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(revenue_expr()).alias("rev"), F.count(F.lit(1)).alias("n"))
        .count(),
    )

    # q5 shape: fact⋈fact shuffle join + broadcast dims + agg.
    # Only the biggest fact is replicated: duplicating both join sides
    # would multiply the join *output* by n² (every lineitem copy matches
    # every orders copy), which measures blow-up, not scaling.
    orders = xn("orders", 1)
    cust = xn("customer", 1)
    nation = table(spark, sf_dir, "nation")

    def join_agg():
        (
            lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(dsum(revenue_expr()).alias("revenue"))
            .count()
        )

    run("join_agg_q5_shape", join_agg)

    # window shape: running revenue per customer
    from pyspark.sql import Window

    def window_running():
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # aggregate over the window column so column pruning cannot drop it
        lineitem.withColumn(
            "run_total", F.sum(dec("l_extendedprice")).over(w)
        ).agg(F.max("run_total")).collect()

    run("window_running", window_running)

    # dedup shape: MinHash+LSH over n× documents. Replication makes every
    # doc an n-way duplicate cluster, so LSH candidates per bucket grow with
    # n² — deliberately kept: "corpus where everything has n near-copies"
    # is the adversarial dedup workload, and the operator must absorb it.
    docs = xn("documents").withColumn(
        "doc_id",
        F.col("doc_id") + F.spark_partition_id().cast("long") * F.lit(10_000_000),
    )
    run(
        "dedup_minhash_lsh",
        lambda: minhash_lsh_pairs(docs, "doc_id", "text").count(),
    )
    # same adversarial corpus with the degenerate-bucket guard: buckets
    # above 4n members (n-way clusters are expected here; 4n tolerates
    # real clusters, kills boilerplate-degenerate ones)
    run(
        "dedup_minhash_lsh_capped",
        lambda: minhash_lsh_pairs(
            docs, "doc_id", "text", bucket_cap=4 * n
        ).count(),
    )

    # ANN shape: RP-LSH over n× embeddings (ids remapped per copy like the
    # dedup shape, so every vector gains n-1 exact twins — worst case for
    # bucket collisions, every twin lands in every table's same bucket)
    from rtdl_spark.operators.similarity import rp_lsh_topk

    emb = xn("embeddings").withColumn(
        "vec_id",
        F.col("vec_id") + F.spark_partition_id().cast("long") * F.lit(10_000_000),
    )
    run(
        "rp_lsh_topk",
        lambda: rp_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=5).count(),
    )

    # stream-shape interval join (batch form): clicks from the n× events,
    # purchases from 1× — replicating both sides would grow the join
    # output n², measuring blow-up rather than scaling (same rationale as
    # the q5 shape above)
    def fix_ts(df):  # raw read may give ns-as-long (see catalog.table)
        if dict(df.dtypes).get("ts") != "bigint":
            return df
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )

    events_n = fix_ts(xn("events"))
    events_1 = fix_ts(xn("events", 1))

    def interval_join():
        c = events_n.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("cid"), F.col("ts").alias("cts"),
            F.col("user_id").alias("cu"),
        )
        p = events_1.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"), F.col("ts").alias("pts"),
            F.col("user_id").alias("pu"),
        )
        (
            c.join(
                p,
                (F.col("cu") == F.col("pu"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 10 minutes")),
            ).count()
        )

    run("interval_join", interval_join)

    # distinct (shuffle-heavy) shape
    run(
        "distinct_pairs",
        lambda: lineitem.select("l_partkey", "l_suppkey").distinct().count(),
    )

    # composed curation funnel (quality → exact dedup → fingerprint dedup)
    from rtdl_spark.operators.curation import curate_corpus

    run(
        "curation_funnel",
        lambda: curate_corpus(docs).groupBy("kept").count().count(),
    )

    # C4 span dedup on the replicated corpus: every 16-word span occurs in
    # all n copies, so the keeper groupBy sees n occurrences per hash and
    # all but one copy's spans are dropped — the adversarial all-duplicate
    # corpus, worst case for the min-combine and the reassembly aggregate
    from rtdl_spark.operators.dedup import span_dedup

    run(
        "span_dedup",
        lambda: span_dedup(docs).agg(F.sum("n_kept")).collect(),
    )

    # training-sequence packing: the sequential recurrence sharded 64 ways;
    # must scale linearly in rows (one Arrow batch stream per shard)
    from rtdl_spark.operators.curation import pack_sequences

    run(
        "sequence_packing",
        lambda: pack_sequences(docs, n_shards=64)
        .agg(F.max("seq_idx"), F.count(F.lit(1)))
        .collect(),
    )

    # connected components: n×1M-edge graph of 1000-node paths — the
    # iterative pairs→clusters primitive at its worst case (path graphs
    # maximize rounds for naive propagation; large-star/small-star must
    # still converge in O(log² 1000) rounds with two window shuffles +
    # a localCheckpoint per round, edge set never exceeding O(E))
    from rtdl_spark.operators.components import connected_components

    edges = (
        spark.range(0, n * 1_000_000)
        .filter(F.col("id") % 1000 != 999)
        .select(F.col("id").alias("id1"), (F.col("id") + 1).alias("id2"))
    )
    cc_dir = tempfile.mkdtemp(prefix="cc_soak_")

    def cc_paths():
        try:
            connected_components(edges, checkpoint_dir=cc_dir).count()
        finally:
            # the final round's parquet outlives the run by design
            # (it backs the lazy result) — clean it once consumed
            shutil.rmtree(cc_dir, ignore_errors=True)

    run("connected_components_paths", cc_paths)

    # pathological skew: 90% of rows share one key. Hash aggregation
    # handles this fine (map-side partials absorb the hot key); the salted
    # two-phase variant is the construction for non-algebraic aggs / skewed
    # JOIN keys — both timed so the overhead/benefit is on the record.
    from rtdl_spark.operators.skew import salted_aggregate

    skewed = lineitem.withColumn(
        "k",
        F.when(F.col("l_orderkey") % 100 < 90, F.lit(0)).otherwise(
            F.col("l_orderkey")
        ),
    )
    run(
        "skewed_groupby_plain",
        lambda: skewed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("l_extendedprice").alias("mx"))
        .count(),
    )
    run(
        "skewed_groupby_salted",
        lambda: salted_aggregate(
            skewed,
            ["k"],
            {
                "n": ("sum", F.count(F.lit(1))),
                "mx": ("max", F.max("l_extendedprice")),
            },
        ).count(),
    )

    # incremental corpus dedup: batch vs history with a realistic ~1/3
    # duplicate rate (replication makes every TEXT exist on both sides, so
    # an unsalted split is a degenerate 100%-dup workload where a
    # prefilter can skip nothing — two-thirds of batch texts get a unique
    # suffix to become genuinely new).
    corpus_side = docs.filter(F.col("doc_id") % 3 == 0)
    batch_side = docs.filter(F.col("doc_id") % 3 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(" uniq"), F.col("doc_id")),
        ).otherwise(F.col("text")),
    )
    from rtdl_spark.operators.dedup import dedup_against_corpus

    run(
        "corpus_dedup_anti_join",
        lambda: dedup_against_corpus(
            batch_side, corpus_side, method="fingerprint"
        ).count(),
    )
    run(
        "corpus_dedup_bloom",
        lambda: dedup_against_corpus(
            batch_side, corpus_side, method="bloom"
        ).count(),
    )

    # top-k per group: the few-groups × many-rows shape where the plain
    # window funnels ALL rows into a handful of reducers (worst-case skew)
    # while the map-side prune ships only k×P rows per group.
    from pyspark.sql import Window as W2

    from rtdl_spark.operators.topk import grouped_topk

    def topk_window():
        w = W2.partitionBy("l_returnflag", "l_linestatus").orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey")
        )
        (
            lineitem.select(
                "l_returnflag", "l_linestatus", "l_extendedprice", "l_orderkey"
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .count()
        )

    run("topk_window", topk_window)
    topk_in = lineitem.select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_orderkey"
    )
    run(
        "topk_threshold",
        lambda: grouped_topk(
            topk_in,
            ["l_returnflag", "l_linestatus"],
            "l_extendedprice",
            10,
            tiebreak=["l_orderkey"],
        ).count(),
    )
    run(
        "topk_pandas_prune",
        lambda: grouped_topk(
            topk_in,
            ["l_returnflag", "l_linestatus"],
            "l_extendedprice",
            10,
            tiebreak=["l_orderkey"],
            impl="pandas",
        ).count(),
    )

    # sequential row ids: bucket-offset scheme vs the naive global window
    # (empty PARTITION BY = whole table through one sorting task). Measured
    # 60M rows/local[32]: 20.5s vs 87.3s, digest-identical (SCALE.md).
    from rtdl_spark.operators.curation import assign_sequential_ids

    ids_in = lineitem.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.input_file_name().alias("f"),
    ).select((F.xxhash64("k", "f")).alias("k"))  # unique-ish, unsorted
    run(
        "row_ids_bucketed",
        lambda: assign_sequential_ids(ids_in, "k").agg(
            F.max("row_id")
        ).collect(),
    )

    # exact all-pairs cosine via block-pair GEMM: synthetic 64-dim corpus
    # (n scales with N); quadratic work tiled into B(B+1)/2 dgemm tasks.
    from rtdl_spark.operators.similarity import allpairs_cosine_blocked

    n_vec = 4000 * n
    # decorrelated hash vectors: cosine concentrates near 0 (real-corpus
    # density — survivors are rare, so the cell measures the tiled GEMM +
    # replication shuffle, not result materialization). The dense regime
    # (sin-formula vectors, 0.8% of pairs over threshold -> 58M emitted
    # pairs at 120k vectors) was measured once: 590s, dominated by the
    # Arrow emit of the survivor set itself - see SCALE.md.
    vecs = (
        spark.range(n_vec)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.pmod(F.xxhash64(F.col("id") * 64 + i), F.lit(2000))
                / 1000.0
                - 1.0,
            ).alias("embedding"),
        )
    )
    run(
        "allpairs_gemm",
        lambda: allpairs_cosine_blocked(
            vecs, threshold=0.5, n_blocks=16
        ).count(),
    )

    from rtdl_spark.operators.similarity import knn_graph

    run(
        "knn_graph_k10",
        lambda: knn_graph(vecs, k=10, n_blocks=16).count(),
    )

    # IVF-pruned approximate kNN graph on the SAME corpus — the
    # head-to-head vs the exact tiling above. n_cells ~ sqrt(N) gives the
    # ~N^1.5 pair-work bound; on these uniform hash vectors recall is the
    # honest IVF trade (cells are meaningless), so this cell measures
    # THROUGHPUT of the cell-bucketed candidate join + codegen scoring.
    from rtdl_spark.operators.similarity import knn_graph_ivf

    run(
        "knn_graph_ivf_k10",
        lambda: knn_graph_ivf(
            vecs, k=10, n_cells=max(16, int(n_vec**0.5)), nprobe=2
        ).count(),
    )

    # REAL image decode throughput: documents -> P5 PPM payloads ->
    # container parse + integer downscale + 60-bit average-hash fold
    # (operators/multimodal.py::perceptual_hash(codec="ppm")); the
    # mapInPandas decode lane a compressed codec would slot into.
    from pyspark.sql.types import BinaryType

    from rtdl_spark.functions.imagecodec import make_ppm
    from rtdl_spark.operators.multimodal import perceptual_hash

    @F.pandas_udf(BinaryType())
    def _soak_to_ppm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: make_ppm(
                t.encode("utf-8"), 16, max(len(t.encode("utf-8")) // 16, 1), 1
            )
        )

    docs_n = xn("documents")
    run(
        "image_ahash_decode",
        lambda: perceptual_hash(
            docs_n.select(
                "doc_id", _soak_to_ppm(F.col("text")).alias("payload")
            ),
            codec="ppm",
        ).count(),
    )

    # k-core peeling on a synthetic hash graph (~3 edges/node + a planted
    # dense kernel): rounds = peel depth, each one agg + one anti-join.
    from rtdl_spark.operators.graph import k_core

    n_nodes = 100_000 * n
    sparse = (
        spark.range(3 * n_nodes)
        .select(
            F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.col("id") * 2 + 2), F.lit(n_nodes)).alias("dst"),
        )
    )
    clique_ids = spark.range(60).select(F.col("id").alias("a"))
    kernel = (
        clique_ids.crossJoin(
            spark.range(60).select(F.col("id").alias("b"))
        )
        .filter(F.col("a") < F.col("b"))
        .select(
            (F.col("a") + n_nodes).alias("src"),
            (F.col("b") + n_nodes).alias("dst"),
        )
    )
    edges = sparse.unionByName(kernel)
    run("kcore_peel_k5", lambda: k_core(edges, 5).count())

    def selected(name):
        return only is None or name in only

    # targeted physical delete on an n×1M-row, 7-partition, 32-file
    # table: 50 keys clustered into few files vs scattered over all of
    # them — the distributed rewrite keeps a constant job count either
    # way, and the wall tracks the bytes rewritten
    from rtdl_spark.operators.merge import delete_by_keys

    def jobs_now():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    delete_stats: dict[str, dict] = {}
    if selected("delete_by_keys"):
        work = tempfile.mkdtemp(prefix="soak_delete_")
        base = spark.range(n * 1_000_000).select(
            F.col("id").alias("row_id"),
            (F.col("id") % 100_000).alias("user_id"),
            (F.col("id") % 7).cast("string").alias("p"),
            (F.col("id") * 13 % 1_000_003).alias("payload"),
        )
        targets = spark.createDataFrame(
            [(i * 997,) for i in range(50)], "user_id long"
        )
        try:
            for label, layout_col in (
                ("clustered", "user_id"), ("scatter", "row_id"),
            ):
                root = os.path.join(work, label)
                base.repartition(32, layout_col).write.partitionBy(
                    "p"
                ).parquet(root)
                j0, t0 = jobs_now(), time.perf_counter()
                stats = delete_by_keys(spark, root, targets, "user_id")
                timings[f"delete_by_keys_{label}"] = round(
                    time.perf_counter() - t0, 4
                )
                delete_stats[label] = {"jobs": jobs_now() - j0, **stats}
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # materialized rollup over an n×10M-row Delta source built by 20
    # appends (SCALE.md's round-5 table size), each writing one file per
    # task: one incremental refresh after the last append (reads that
    # batch's added files + the k-row state) vs a fresh view's full
    # rebuild of the same version (reads every file). The increment also
    # pays fixed log replays of both tables, so on a source of few large
    # files (4 per append) the two measured about even at 10M rows.
    from rtdl_spark.operators.matview import MaterializedAggView
    from rtdl_spark.sources.delta_writer import write_delta_native

    if selected("matview_refresh"):
        work = tempfile.mkdtemp(prefix="soak_matview_")
        versions = 20
        batch = spark.range(n * 10_000_000 // versions).select(
            (F.col("id") % 1000).alias("k"),
            (F.col("id") % 97).cast("double").alias("amount"),
        )
        src = os.path.join(work, "fact")

        def view(name):
            return MaterializedAggView(
                spark, src, os.path.join(work, name), ["k"],
                {"total": "amount"},
            )

        try:
            for _ in range(versions - 1):
                write_delta_native(spark, batch, src)
            mv = view("mv")
            mv.refresh()
            write_delta_native(spark, batch, src)
            for label, v in (("incremental", mv), ("rebuild", view("mv2"))):
                t0 = time.perf_counter()
                v.refresh()
                timings[f"matview_refresh_{label}"] = round(
                    time.perf_counter() - t0, 4
                )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "soak_wall_sec",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                **({"delete_by_keys": delete_stats} if delete_stats else {}),
                "n_copies": n,
                "lineitem_rows": lineitem.count(),
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
