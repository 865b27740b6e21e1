"""Deduplication operator family (north-star extension, SURVEY.md §2C):
exact, normalized/fingerprint, MinHash+LSH near-dup, SimHash.

Scale design (the point of this module):

- Exact/fingerprint dedup is a single hash aggregate on the dedup key —
  one shuffle, map-side partial combine, no data skew beyond the natural
  key distribution.
- MinHash+LSH replaces the O(n²) pairwise comparison with:
    shingle → 12 integer minhashes → 4 LSH band keys → explode(4 rows/doc)
    → self-join on band key → exact Jaccard on the candidates only.
  The join is an equi join on the band bucket, so it shuffles each side
  once by bucket; candidate volume is proportional to true near-dup
  density, not n². At 100 TB you additionally salt any hot bucket (a
  degenerate band key shared by millions of docs) or cap bucket width.
- All hashing is exact integer arithmetic (functions.text), so results are
  deterministic across engines/runs — verified against a DuckDB oracle
  implementing the same algorithm in SQL (queries/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtdl_spark.functions.text import (
    jaccard,
    lsh_band_keys,
    minhash_signature,
    shingles,
)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    impl: str = "pandas",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id1 < id2) whose exact shingle-set Jaccard
    meets ``threshold``, found via MinHash banding.

    ``bucket_cap``: drop LSH buckets holding more than this many docs
    before the candidate self-join. A bucket with m members yields
    m(m-1)/2 candidate pairs, so one degenerate bucket (boilerplate,
    empty-ish documents, template text) can dominate the whole job — the
    standard production guard is to skip it: a real duplicate *cluster*
    that large will still be found through its other, narrower bands with
    high probability, and genuinely-degenerate text is better handled by
    a quality filter upstream. Default None = no cap (exact parity with
    the DuckDB oracle).

    ``impl`` picks the signature/banding kernel — both produce
    bit-identical band keys (parity-tested), so results never differ:

    - ``"pandas"`` (default): Arrow-batched numpy kernel
      (functions.minhash_np). The per-char hash fold is vectorized
      (Catalyst runs HOF lambdas interpreted); ~1.2× faster warm at
      sf0.1 (median 1.5s vs 1.9s over 4 warm runs), with the gap growing
      with document length since the expression path costs ~µs/char.
    - ``"expr"``: pure Catalyst expressions (functions.text) — zero
      Python in the row path, for clusters where Python workers are the
      scarce resource.

    Returns columns: id1, id2, jaccard_sim (rounded to 6 for determinism
    of downstream comparisons)."""
    # The shingle/MinHash stage is CPU-bound expression work; a corpus read
    # from a few dense parquet files would otherwise run it on as few tasks
    # as there are input splits. Spread it across the cluster first —
    # at 100 TB the scan gives natural parallelism and AQE will coalesce,
    # but a small-file corpus (like the fixture) needs the explicit spread.
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 8)
    base = docs.repartition(n_parts, F.col(id_col))
    sh = base.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    # Banded frame stays narrow (id, bucket) — the shingle arrays would
    # otherwise be duplicated per band and dragged through the self-join
    # shuffle. Candidates dedup on the id pair alone (cheap longs), then
    # the shingle sets are re-attached for exact verification.
    if impl == "pandas":
        from rtdl_spark.functions.minhash_np import minhash_band_keys_np

        bucket_arr = minhash_band_keys_np(F.col(text_col), shingle_n)
    elif impl == "expr":
        bucket_arr = lsh_band_keys(minhash_signature(shingles(F.col(text_col), shingle_n)))
    else:
        raise ValueError(f"unknown minhash impl {impl!r}")
    banded = base.select(
        F.col(id_col).alias("_id"),
        F.explode(bucket_arr).alias("_bucket"),
    )
    # ONE banding pass (r11, guide §2.4/§5): the self-join's two sides
    # otherwise each re-scan, re-shuffle and re-run the signature kernel
    # — exchange reuse never fires across PythonUDF subtrees (their
    # canonicalized forms differ), so the duplicate evaluation survives
    # both the static planner and AQE's stage cache. A lazy
    # localCheckpoint on the banded frame (narrow: id + band key)
    # materializes the kernel output once; both join sides read the
    # cached blocks and shuffle only those narrow rows into the join
    # (the checkpoint's partitioning is not visible to the planner, so
    # pre-partitioning by _bucket here would just be a wasted extra
    # shuffle — measured in the plan). The checkpoint is rebuilt on
    # every execution — no state outlives the query.
    banded = banded.localCheckpoint(eager=False)
    if bucket_cap is not None:
        # Window count, not groupBy+join: one shuffle by _bucket which the
        # self-join below then reuses (same partitioning key).
        from pyspark.sql import Window

        banded = (
            banded.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy("_bucket"))
            )
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    left = banded.select(F.col("_id").alias("id1"), "_bucket")
    right = banded.select(F.col("_id").alias("id2"), "_bucket")
    # merge-join hint: the planner would otherwise BROADCAST one side,
    # whose build is a separate subtree that cannot reuse the left
    # side's exchange — re-running the whole banding kernel. With SMJ
    # both sides' required distribution is the _bucket exchange above,
    # so the right side collapses to a ReusedExchange.
    candidates = (
        left.join(right.hint("merge"), "_bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # Exact verification with ONE pass over the shingle frame (r11):
    # attaching sh1 then sh2 as two joins evaluated the shingle
    # computation TWICE (two broadcast builds of the full corpus's
    # shingle arrays — at 100 TB a whole extra corpus pass). Each
    # candidate id is tagged with its pair instead; one join streams
    # the shingles once, and only the MATCHED arrays (2 rows per
    # candidate pair) shuffle into the regroup.
    tagged = candidates.select(
        "id1",
        "id2",
        F.explode(F.array(F.col("id1"), F.col("id2"))).alias("_mid"),
    )
    matched = sh.join(
        F.broadcast(tagged), F.col("_id") == F.col("_mid")
    )
    pairs = matched.groupBy("id1", "id2").agg(
        F.first(
            F.when(F.col("_mid") == F.col("id1"), F.col("_sh")),
            ignorenulls=True,
        ).alias("sh1"),
        F.first(
            F.when(F.col("_mid") == F.col("id2"), F.col("_sh")),
            ignorenulls=True,
        ).alias("sh2"),
    )
    return (
        pairs
        .withColumn("jaccard_sim", F.round(jaccard(F.col("sh1"), F.col("sh2")), 6))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id1", "id2", "jaccard_sim")
    )


def exact_dedup(df: DataFrame, subset: list[str]) -> DataFrame:
    """Exact dedup keeping the lowest-id row per key would require an id;
    the engine-level primitive is dropDuplicates (arbitrary survivor,
    single shuffle)."""
    return df.dropDuplicates(subset)


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 16,
    delimiter: str | None = None,
) -> DataFrame:
    """C4-style exact span deduplication (Raffel et al. 2020, §2.2 "we
    discarded all but one of any three-sentence span occurring more than
    once"): split every document into spans, keep only the FIRST corpus
    occurrence of each distinct span (lowest ``(doc_id, span position)``),
    and reassemble documents from their surviving spans in order.

    Spans are either ``delimiter``-separated units (e.g. ``"\\n"`` for
    paragraph dedup on real corpora) or, when ``delimiter`` is None,
    non-overlapping ``span_words``-token windows — the fixture documents
    are flat word streams with no sentence structure.

    Scale shape (what makes this survive 100 TB):
    - the corpus-wide "first occurrence" is a groupBy on the span hash
      with ``min(struct(doc_id, span_idx))`` — map-side combinable, one
      shuffle keyed by span hash; NOT a window sort over all occurrences;
    - the hash (md5) is what shuffles, never the span text twice: the
      keeper table carries 16-byte keys + two longs;
    - reassembly is a per-document ``sort_array(collect_list(...))`` —
      bounded by a single document's span count, no global sort;
    - a degenerate hot span (boilerplate shared by millions of docs)
      produces ONE group with a min-combine — skew-safe by construction,
      unlike a join-back-per-occurrence design.

    Returns one row per input document: ``id_col``, ``clean_text`` (empty
    string when every span was a duplicate), ``n_spans``, ``n_kept``.
    """
    if delimiter is not None:
        span_arr = F.split(F.col(text_col), delimiter)
    else:
        toks = F.split(F.col(text_col), " ")
        n_spans_expr = F.ceil(F.size(toks) / F.lit(span_words)).cast("int")
        span_arr = F.transform(
            F.sequence(F.lit(0), F.greatest(n_spans_expr, F.lit(1)) - 1),
            lambda i: F.array_join(
                F.slice(toks, i * span_words + 1, span_words), " "
            ),
        )
    spans = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.posexplode(span_arr).alias("span_idx", "_span"),
        )
        # null text → transform() emits a null span (greatest() skips the
        # null span count); a null doc has zero spans, not one unjoinable one
        .filter(F.col("_span").isNotNull())
        .withColumn("_h", F.md5(F.col("_span")))
    )
    first = spans.groupBy("_h").agg(
        F.min(F.struct(F.col("_doc"), F.col("span_idx"))).alias("_keep")
    )
    # One pass computes totals, kept count, and the reassembled text:
    # collect_list skips nulls, so wrapping the struct in when(is_keep)
    # collects only surviving spans — no separate totals aggregation, no
    # second spans scan, one fewer shuffle + join than the naive
    # kept/totals split.
    is_keep = (F.col("_doc") == F.col("_keep._doc")) & (
        F.col("span_idx") == F.col("_keep.span_idx")
    )
    per_doc = (
        spans.join(first, "_h")
        .withColumn("_is_keep", is_keep)
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_is_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_is_keep"),
                                F.struct(F.col("span_idx"), F.col("_span")),
                            )
                        )
                    ),
                    lambda s: s["_span"],
                ),
                " " if delimiter is None else delimiter,
            ).alias("clean_text"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == per_doc["_doc"], "left")
        .drop("_doc")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 1,
    block_col: str | None = None,
) -> DataFrame:
    """Edit-distance fuzzy matching: pairs of rows whose ``text_col``
    values are within Levenshtein distance ``max_dist`` — the
    identifier/title reconciliation primitive (entity resolution, fuzzy
    key joins), complementing the token-level dedup family.

    Scale shape: the quadratic is pruned BEFORE the expensive DP runs —
    an equi join on ``block_col`` (e.g. language, first-token, or an
    n-gram bucket) makes candidates a hash join per block, and the length
    band ``|len(a) − len(b)| ≤ max_dist`` (a necessary condition for
    edit distance) filters inside the join. levenshtein() — JVM codegen,
    O(len²) per surviving pair — evaluates only on the pruned set. At
    100 TB, block on cheap keys first; never run this unblocked.

    Returns id1, id2 (id1 < id2), dist.
    """
    blocks = [block_col] if block_col else []
    a = df.select(
        F.col(id_col).alias("id1"),
        F.col(text_col).alias("_t1"),
        *[F.col(c) for c in blocks],
    )
    b = df.select(
        F.col(id_col).alias("id2"),
        F.col(text_col).alias("_t2"),
        *[F.col(c).alias(f"_b_{c}") for c in blocks],
    )
    cond = F.col("id1") < F.col("id2")
    for c in blocks:
        cond = cond & (F.col(c) == F.col(f"_b_{c}"))
    cand = a.join(b, cond).filter(
        F.abs(F.length("_t1") - F.length("_t2")) <= max_dist
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("_t1"), F.col("_t2")))
        .filter(F.col("dist") <= max_dist)
        .select("id1", "id2", "dist")
    )


def dedup_groups(
    df: DataFrame, key_col, id_col: str
) -> DataFrame:
    """Deterministic dedup summary: per duplicate-group canonical id
    (min id), group size. ``key_col`` may be any expression (e.g. a
    fingerprint)."""
    return (
        df.groupBy(key_col.alias("dedup_key"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def ml_minhash_lsh_pairs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    max_distance: float = 0.5,
    seed: int = 42,
):
    """pyspark.ml MinHashLSH variant (SURVEY §2C): Tokenizer → HashingTF
    (sparse shingle vectors) → MinHashLSH.approxSimilarityJoin.

    Same asymptotics as minhash_lsh_pairs (banded candidate join), with
    ml's OR-amplification across ``num_hash_tables``. Deterministic given
    ``seed`` but NOT reproducible outside Spark (ml's internal hashing) —
    hence the hand-rolled integer version above is the oracle-checked one,
    and this one is validated by recall against it
    (tests/test_lake_ops.py::test_ml_minhash_recall_vs_exact).

    Returns (id1, id2, jaccard_distance) with id1 < id2.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="_tokens")
    tf = HashingTF(
        inputCol="_tokens", outputCol="_features", numFeatures=num_features,
        binary=True,
    )
    featurized = tf.transform(tok.transform(docs.select(id_col, text_col)))
    # empty vectors crash MinHashLSH; a corpus row always has tokens here
    model = MinHashLSH(
        inputCol="_features", outputCol="_hashes",
        numHashTables=num_hash_tables, seed=seed,
    ).fit(featurized)
    joined = model.approxSimilarityJoin(
        featurized, featurized, max_distance, distCol="jaccard_distance"
    )
    a_id, b_id = F.col(f"datasetA.{id_col}"), F.col(f"datasetB.{id_col}")
    return (
        joined.filter(a_id < b_id)
        .select(
            a_id.alias("id1"),
            b_id.alias("id2"),
            F.round("jaccard_distance", 6).alias("jaccard_distance"),
        )
    )


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    method: str = "fingerprint",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental dedup: drop from ``new_docs`` every document already
    represented in ``corpus`` — the shape every recurring crawl/training
    refresh needs (dedup the new batch against the accumulated lake, not
    just within itself).

    Methods (all anti-joins on a derived key, so the corpus is reduced to
    its key set — at 100 TB the keys are precomputable once and stored as
    a side table instead of re-derived per batch):

    - ``"exact"``: raw text equality.
    - ``"fingerprint"`` (default): token-set md5 (functions.text.
      fingerprint) — order/repetition-insensitive.
    - ``"winnow"``: any shared winnowing fingerprint (functions.text.
      winnow_fingerprints) — drops new docs sharing a >= k+w-1-token
      contiguous run with the corpus (partial-overlap suppression).
      Complementary to ``"fingerprint"``, not stricter: a full reorder
      defeats winnowing (no 4-gram survives) while the token-set
      fingerprint defeats prepended/appended padding.

    Returns the surviving rows of ``new_docs`` unchanged."""
    from rtdl_spark.functions.text import fingerprint, winnow_fingerprints

    if method == "exact":
        key = F.col(text_col)
    elif method in ("fingerprint", "bloom"):
        key = fingerprint(F.col(text_col))
    elif method == "winnow":
        key = None  # set-valued: explode below
    else:
        raise ValueError(f"unknown dedup method {method!r}")

    if method == "bloom":
        return _bloom_prefiltered_anti(new_docs, corpus, key)

    if key is not None:
        corpus_keys = corpus.select(key.alias("_k")).distinct()
        return new_docs.join(
            corpus_keys, key == F.col("_k"), "left_anti"
        )
    # winnow: a new doc is dropped if ANY of its fingerprints appears in
    # the corpus fingerprint set. Narrow frames (id/fp longs) through the
    # join; survivors re-attach by id.
    fps = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("_id"),
        F.explode(winnow_fingerprints(F.col(text_col))).alias("_fp"),
    )
    corpus_fps = fps(corpus).select("_fp").distinct()
    hit_ids = (
        fps(new_docs).join(corpus_fps, "_fp").select("_id").distinct()
    )
    return new_docs.join(
        hit_ids, F.col(id_col) == F.col("_id"), "left_anti"
    )


def _bloom_positions(key, seed: int, n_bits: int):
    """Bit position for one bloom hash function: xxhash64 seeded by an
    extra literal column, folded into [0, n_bits)."""
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(n_bits))


def build_bloom_words(
    corpus_keys: DataFrame, n_bits: int, n_hashes: int
) -> DataFrame:
    """Bloom filter as a TABLE of set 64-bit words: (word_idx, mask).

    bit_or is map-side combinable, so building over 10^9 corpus keys is
    one shuffle of ≤ n_bits/64 tiny rows; only non-zero words
    materialize. The words table persists to parquet like any other
    side index — build once per corpus generation, probe every batch."""
    pos = F.explode(
        F.array(
            *[
                _bloom_positions(F.col("_k"), s, n_bits)
                for s in range(n_hashes)
            ]
        )
    ).alias("_pos")
    return (
        corpus_keys.select(pos)
        .select(
            (F.col("_pos") / 64).cast("long").alias("_widx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_bit"),
        )
        .groupBy("_widx")
        .agg(F.bit_or("_bit").alias("_mask"))
    )


def _bloom_prefiltered_anti(
    new_docs: DataFrame, corpus: DataFrame, key, fpp: float = 0.01
) -> DataFrame:
    """``method="bloom"`` of dedup_against_corpus: EXACT anti-join
    semantics at a fraction of the join cost.

    A Bloom filter over the corpus key set has no false negatives, so a
    batch row whose key misses the filter is DEFINITELY new — it skips
    the confirmation join entirely. Only filter hits (true dups + ~fpp
    false positives) pay the exact anti-join. At 100 TB the corpus side
    collapses from the full key set (~16 B/key) to ~9.6 bits/key at 1%
    fpp, and the anti-join's streamed side drops from the whole batch to
    roughly its duplicate rate.

    Representation: the filter is a broadcastable (word_idx, mask) table
    (build_bloom_words) — Spark's native bloom_filter_agg expression is
    not SQL-registered, and a bitmap-as-rows build is map-side
    combinable anyway. The probe is ``n_hashes`` broadcast hash joins
    (map-side, no shuffle) ANDed together. Eager like the other
    index-building operators (one count over corpus keys sizes the
    filter)."""
    import math

    corpus_keys = corpus.select(key.alias("_k")).distinct()
    n = corpus_keys.count()
    if n == 0:
        return new_docs
    n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    n_hashes = max(1, min(6, round(n_bits / n * math.log(2))))
    words = build_bloom_words(corpus_keys, n_bits, n_hashes)

    tagged = new_docs.withColumn("_key_expr", key)
    maybe = None
    for s in range(n_hashes):
        w = words.select(
            F.col("_widx").alias(f"_w{s}"), F.col("_mask").alias(f"_m{s}")
        )
        pos = _bloom_positions(F.col("_key_expr"), s, n_bits)
        tagged = tagged.withColumn(f"_p{s}", pos).join(
            F.broadcast(w),
            (F.col(f"_p{s}") / 64).cast("long") == F.col(f"_w{s}"),
            "left",
        )
        hit_s = (
            F.expr(f"shiftright(_m{s}, CAST(_p{s} % 64 AS INT)) & 1") == 1
        ) & F.col(f"_m{s}").isNotNull()
        maybe = hit_s if maybe is None else (maybe & hit_s)
    tagged = tagged.withColumn("_maybe", maybe).select(
        *new_docs.columns, "_key_expr", "_maybe"
    )
    definitely_new = tagged.filter(~F.col("_maybe")).drop(
        "_maybe", "_key_expr"
    )
    suspects = tagged.filter(F.col("_maybe"))
    confirmed_new = suspects.join(
        corpus_keys, suspects["_key_expr"] == F.col("_k"), "left_anti"
    ).drop("_maybe", "_key_expr")
    return definitely_new.unionByName(confirmed_new)


def overlap_matrix(
    df: DataFrame,
    key_col,
    id_col: str,
    attr_col: str,
) -> DataFrame:
    """Cross-attribute duplicate attribution matrix — the data-card view
    "how much does source A duplicate source B": every duplicate pair
    (same ``key_col``, distinct ids) is counted under its unordered
    ``attr_col`` pair. Diagonal cells (attr_a == attr_b) measure
    within-source duplication; off-diagonal cells expose mirror sites /
    cross-source contamination.

    Scale shape: ONE hash shuffle on the dup key for the within-group
    self-join (pair count is bounded by group sizes — same candidate
    bound as any dedup pair generation; feed an LSH/fingerprint key, not
    a constant), then a tiny aggregate over attribute pairs (|attrs|²
    rows at most)."""
    keyed = df.select(
        key_col.alias("_k"),
        F.col(id_col).alias("_id"),
        F.col(attr_col).alias("_a"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b, (F.col("a._k") == F.col("b._k")) & (F.col("a._id") < F.col("b._id"))
    )
    return (
        pairs.select(
            F.least(F.col("a._a"), F.col("b._a")).alias("attr_a"),
            F.greatest(F.col("a._a"), F.col("b._a")).alias("attr_b"),
        )
        .groupBy("attr_a", "attr_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def dedup_keep_best(
    df: DataFrame,
    key_col,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Survivorship policy: within each duplicate group (same
    ``key_col``), keep the HIGHEST-``score_col`` row (ties broken by
    lowest id) — the RefinedWeb/C4-style 'keep the longest/cleanest
    copy' rule, versus the min-id canonical the other dedup operators
    use (right when copies are identical; wrong when one copy is
    truncated or boilerplate-wrapped).

    Output = input + ``is_keeper`` flag (house style). Same single
    window shuffle on the dup key as any keeper rule."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return df.withColumn("is_keeper", F.row_number().over(w) == 1)
