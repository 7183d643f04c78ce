"""Similarity search over the `embeddings` table (vec_id, embedding float[64], label).

- brute-force cosine top-k: exact baseline. The dot product is JVM-side
  (`aggregate(zip_with(...))`) — no Python in the plan; at any scale this is
  a single scan + TakeOrderedAndProject (no shuffle beyond top-k merge).
- LSH-bucketed variant (scale path): random-hyperplane signs from portable
  md5 hashes bucket the vectors; only same-bucket pairs are compared. At
  100 TB the bucket join replaces the O(N) scan per query with a pruned scan.
- IVF variant: label is used as the coarse-quantizer cell (the driver data
  ships labels; a real IVF would k-means its own); probe = query's top cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from miru_spark.functions.cache import release_scope, scoped_cache
from miru_spark.functions.topk import ranked_topk as _ranked_topk
from miru_spark.pipeline.quantize import _pq_fit_df
from pyspark.sql import functions as F


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split-gated spread: repartitions ONLY single-row-group bench files;
    # multi-split production inputs get the bare scan (no pre-map Exchange)
    from miru_spark.sources import read_spread

    return read_spread(spark, f"{sf_dir}/embeddings.parquet")


def _dot(a: Column, b: Column) -> Column:
    # per-element products in float64 (embeddings are float32 on disk; doing
    # the math in double makes Spark and the DuckDB oracle bit-identical).
    # Deliberately the higher-order form, NOT a dim-unrolled arithmetic
    # expression: unrolling 64 element_at terms looked like it would win
    # codegen CSE, but the expression-tree blowup (8 LSH planes × 64 terms ×
    # literal arrays) cost 5-8x in plan/codegen time per query — measured
    # cosine_topk 0.3→7.8 s, lsh_ann_topk 3.8→29 s. The HOF's per-pair
    # double-eval under a pushed filter is the cheaper evil; hoisting norms
    # to the join inputs (see _pair_cosine) removes the redundant 2/3.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk_bruteforce(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Exact cosine top-k against the embedding of ``query_vec_id``.
    Ties: (cosine desc, vec_id asc). Excludes the query vector itself."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    joined = emb.filter(F.col("vec_id") != query_vec_id).crossJoin(F.broadcast(q))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    scored = joined.select("vec_id", "label", F.round(cos, 6).alias("cosine"))
    return _ranked_topk(scored, k, "vec_id", F.desc("cosine"), F.asc("vec_id")).select(
        "vec_id", "label", "cosine", "rank"
    )


def ivf_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10, n_probe: int = 3
) -> DataFrame:
    """IVF-style ANN: centroids per label cell (mean vector, computed with
    posexplode + groupBy — all JVM-side), probe the n_probe nearest cells,
    exact re-rank inside them. Recall < 1 by design; returns the same schema
    as brute force for recall measurement."""
    emb = scoped_cache(_emb(spark, sf_dir), "ivf_emb")
    # centroids: explode (label, pos, val) → avg per (label, pos) → re-assemble
    cexp = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        cexp.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["c"]).alias("centroid"))
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("qv"))
    probe = (
        cent.crossJoin(F.broadcast(q))
        .withColumn(
            "cdist",
            _dot(F.col("centroid"), F.col("qv"))
            / (_norm(F.col("centroid")) * _norm(F.col("qv"))),
        )
        .orderBy(F.desc("cdist"))
        .limit(n_probe)
        .select("label")
    )
    cand = emb.join(F.broadcast(probe), "label").filter(F.col("vec_id") != query_vec_id)
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id", "label", F.round(cos, 6).alias("cosine")
    )
    return _ranked_topk(scored, k, "vec_id", F.desc("cosine"), F.asc("vec_id")).select(
        "vec_id", "label", "cosine", "rank"
    )


def _pair_cosine(a: DataFrame, b: DataFrame, key: str, threshold: float) -> DataFrame:
    """Shared compare/threshold/order tail for BLOCKED near-dup pairs: join
    a(id_a, key, va) with b(id_b, key, vb) on the blocking key, keep
    id_a < id_b, rounded-6dp cosine >= threshold, ordered output. One copy
    of the pair contract (rounding, tie rule, threshold semantics) so the
    label-blocked and LSH-blocked variants cannot drift apart. The ORACLES
    filter on the same rounded value (round BEFORE compare) — keep both
    sides identical or threshold-window pairs flip the gate.

    Norms are hoisted to the JOIN INPUTS — computed once per vector row,
    not once per candidate pair (pairs >> vectors under any blocking);
    na*nb is the same float64 product the oracle's sqrt(..)*sqrt(..)
    computes, so values are unchanged. A caller whose side is row-expanded
    (probe explode) precomputes na/nb BEFORE the expansion; the columns
    are only added here if absent."""
    if "na" not in a.columns:
        a = a.withColumn("na", _norm(F.col("va")))
    if "nb" not in b.columns:
        b = b.withColumn("nb", _norm(F.col("vb")))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (blocking keeps
    the join off the cross product; the label-free scale form is
    ``embedding_neardup_lsh``). Output (id_a, id_b, cosine >= threshold)."""
    emb = _emb(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("l"), F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("l"), F.col("embedding").alias("vb")
    )
    return _pair_cosine(a, b, "l", threshold)


def embedding_neardup_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4, n_planes: int = 8
) -> DataFrame:
    """Near-dup pairs blocked by LSH bucket with hamming-1 multiprobe — the
    100-TB form of ``embedding_neardup_pairs`` (label blocking presumes a
    label; bucket keys are data-independent and uniformly distributed, so
    the self-join never skews). The probe side expands each vector to its
    own bucket plus the ``n_planes`` single-bit-flip neighbors; the build
    side stays one row per vector, so every surviving comparison shares a
    bucket within hamming distance 1 and each ordered pair matches exactly
    once (probe values are distinct). Pairs disagreeing on >1 plane are
    missed — the standard LSH recall trade, tuned by n_planes/probe radius."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding", _lsh_bucket_col(n_planes).alias("bucket")
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )
    # norm BEFORE the probe explode — after it, the same vector appears
    # n_planes+1 times and the norm would compute once per probe row
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        _norm(F.col("embedding")).alias("na"),
        F.explode(probes).alias("bucket"),
        F.col("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), "bucket", F.col("embedding").alias("vb")
    )
    return _pair_cosine(a, b, "bucket", threshold)


BATCH_QUERY_IDS = (0, 1, 2, 3, 4, 5, 6, 7)


def lsh_ann_batch(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple = BATCH_QUERY_IDS,
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Batched LSH ANN: N query vectors answered in ONE job — the 100-TB
    serving shape (lsh_ann_topk runs one driver-round-trip job per query).

    The query side (bounded: N rows) explodes to its own-bucket +
    hamming-1 probes and BROADCASTS into the corpus scan, so the corpus is
    read once, pruned map-side to probed buckets, and candidate rows carry
    their query id. Per-query top-k is a window over query_id — the shuffle
    is (pruned candidates) keyed by query, the natural serving partition.
    Norms are hoisted to the join inputs (computed once per vector, not per
    pair). Each (query, candidate) pair arises from exactly one bucket, so
    no dedup exchange exists."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col(n_planes))
    emb = emb.withColumn("nb", _norm(F.col("embedding")))
    q = emb.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nb").alias("nq"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "qid",
        "qv",
        "nq",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
            )
        ).alias("probe"),
    )
    cand = emb.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = _dot(F.col("embedding"), F.col("qv")) / (F.col("nb") * F.col("nq"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        "vec_id",
        "label",
        F.round(cos, 6).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


_BUCKETED_EMB_CACHE: dict[str, str] = {}


def build_bucketed_embeddings(spark: SparkSession, sf_dir: str, n_planes: int = 8) -> str:
    """Materialize the embeddings bucket-PARTITIONED on disk — the
    "bucket = partition key at deployment" claim made real: one hive
    partition directory per LSH bucket, per-row norms precomputed so
    serving never recomputes them. Build once per (sf_dir, n_planes);
    queries then touch only probed directories (PartitionFilters in the
    scan node), which is what makes the unbounded-N serving form below
    scan-bounded at 100 TB."""
    import os
    import tempfile

    key = f"{sf_dir}:{n_planes}"
    path = _BUCKETED_EMB_CACHE.get(key)
    if path and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    path = os.path.join(
        tempfile.gettempdir(),
        f"miru_emb_bucketed_p{n_planes}_" + sf_dir.strip("/").replace("/", "_"),
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        emb = (
            _emb(spark, sf_dir)
            .withColumn("bucket", _lsh_bucket_col(n_planes))
            .withColumn("nb", _norm(F.col("embedding")))
        )
        # cluster rows by bucket before the partitioned write: without this
        # every write task emits one file into every bucket directory
        # (tasks x 2^n_planes tiny files — the small-files anti-pattern that
        # defeats the PartitionFilters pruning this layout exists for);
        # with it each bucket directory holds O(1) files at any input size
        parts = max(spark.sparkContext.defaultParallelism, 2**n_planes // 8)
        emb = emb.repartition(parts, F.col("bucket"))
        emb.write.partitionBy("bucket").mode("overwrite").parquet(path)
    _BUCKETED_EMB_CACHE[key] = path
    return path


PARTITIONED_QUERY_IDS = tuple(range(32))


def lsh_ann_partitioned(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple = PARTITIONED_QUERY_IDS,
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Unbounded-N batched ANN over the bucket-partitioned corpus — the
    log-replay form of ``lsh_ann_batch`` (which broadcasts probes and is
    right only for serving-sized N):

    - probes are NOT broadcast: the probe relation joins the corpus with a
      SHUFFLE hash join on bucket, so N can be a full query log;
    - the corpus scan is pruned BEFORE any row is read by a
      partition-column filter on the probed buckets. The distinct
      probe-bucket set is bounded by the bucket VOCABULARY (2^n_planes),
      not by N — a driver-safe list at any query count — so directory
      pruning (PartitionFilters) survives unbounded N;
    - per-query top-k is a window keyed by query_id (the natural serving
      partition), same contract as lsh_ann_batch: ties (cosine desc,
      vec_id asc), rank <= k.

    Rank-identical to lsh_ann_batch on the same query ids (pinned in
    tests); the only difference is the physical strategy."""
    path = build_bucketed_embeddings(spark, sf_dir, n_planes)
    queries = _emb(spark, sf_dir).filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    df, _ = ann_partitioned_topk(spark, path, queries, k=k, n_planes=n_planes)
    return df


def ann_partitioned_topk(
    spark: SparkSession,
    bucketed_path: str,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    prune: bool = True,
) -> tuple:
    """Core of the unbounded-N partitioned ANN join (shared by the sf-dir
    gate wrapper above and tools/ann_partitioned_bench.py's 1M×1k run).

    ``queries`` must have columns (qid, qv: array<float>). Returns
    ``(topk_df, probed_buckets)`` so callers can report the pruning
    fraction — the scan provably touches only ``probed_buckets`` of the
    bucket vocabulary (PartitionFilters on the hive partition column)."""
    corpus = spark.read.parquet(bucketed_path)
    q = queries.select(
        "qid",
        "qv",
        _norm(F.col("qv")).alias("nq"),
        _lsh_bucket_col(n_planes, col=F.col("qv")).alias("qb"),
    )
    probes = q.select(
        "qid",
        "qv",
        "nq",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
            )
        ).alias("probe"),
    )
    # partition pruning: distinct probed buckets, bounded by 2^n_planes —
    # this collect scans only the (bounded) query relation, never the corpus
    bucket_list = sorted(
        int(r["probe"]) for r in probes.select("probe").distinct().collect()
    )
    if prune:  # prune=False exists ONLY for the bench A/B that measures
        # what directory pruning is worth; production always prunes.
        corpus = corpus.filter(F.col("bucket").isin(bucket_list))
    cand = corpus.join(
        probes.hint("shuffle_hash"),  # never broadcast a query LOG
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = _dot(F.col("embedding"), F.col("qv")) / (F.col("nb") * F.col("nq"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        "vec_id",
        "label",
        F.round(cos, 6).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
    return out, bucket_list


def ivf_train(
    spark: SparkSession, sf_dir: str, k: int = 4, n_iter: int = 2
) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table — the IVF
    coarse-quantizer TRAINING step that `ivf_topk`'s docstring defers ("a
    real IVF would k-means its own" cells). Returns the trained codebook:
    one row per (cluster, dimension) with the final cell size —
    (cluster, n, pos, val), val rounded 6 dp.

    This is product quantization with ONE subspace (Jegou, Douze & Schmid
    2011: the IVF coarse quantizer is plain k-means over whole vectors), so
    it runs `quantize._pq_fit_df` with m=1, dsub=dim — the one
    deterministic Lloyd's loop in the repo:
    - seeds = the embeddings of the k smallest vec_ids — never rand();
    - assignment = squared-L2 argmin with distances rounded 9 dp first,
      ties to the lower cluster id (both engines);
    - update = element-wise mean rounded 6 dp, so the next iteration's
      centroid literals are bit-identical regardless of partitioning or
      engine; raises ("empty PQ cell") if any cell empties (the two
      engines would need an identical refill rule; pick k so it cannot).

    Scale shape (Lloyd's on Spark done right): per iteration exactly ONE
    map-side-combined aggregate keyed by (subspace=0, cluster, pos) — k*dim
    rows cross the exchange, never the corpus — and the k*dim centroid
    table returns to the plan as broadcast-folded literals, so assignment
    is a map-only pass. Per-iteration cost is one corpus scan; at 100 TB
    you train on a sample with the same code. Reference analog: the coarse
    quantizer of IVF indexes; the reference engine has no vector stage, so
    this extends the similarity tier rather than mirroring a reference
    file."""
    emb = scoped_cache(
        _emb(spark, sf_dir).select("vec_id", "embedding"), "ivf_train_emb"
    )
    books, sizes, dim = _pq_fit_df(emb, 1, k, n_iter)
    cent_df = spark.createDataFrame(
        [(c, sizes[(0, c)], p, books[0][c][p]) for c in range(k) for p in range(dim)],
        "cluster int, n long, pos int, val double",
    )
    return cent_df.orderBy("cluster", "pos")


def _lsh_bucket_col(n_planes: int = 8, dim: int = 64, col: Column | None = None) -> Column:
    """Random-hyperplane LSH bucket id (sign bits from deterministic
    md5-of-literal planes — Catalyst folds the hashes at plan time).
    ``col`` defaults to the corpus ``embedding`` column; pass the query
    vector column when bucketing a probe relation."""
    vec = F.col("embedding") if col is None else col
    bits = []
    for j in range(n_planes):
        comps = [
            (
                F.conv(F.substring(F.md5(F.lit(f"p{j}:{i}")), 1, 12), 16, 10).cast("double")
                - F.lit(float(2**47))
            )
            for i in range(dim)
        ]
        dot = _dot(vec, F.array(*comps))
        bits.append(F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0)))
    return sum(bits).cast("int")


def lsh_bucket_stats(spark: SparkSession, sf_dir: str, n_planes: int = 8) -> DataFrame:
    """Bucket histogram — the partitioning the bucketed ANN join uses.
    Deterministic, so oracle-checkable end to end."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select(_lsh_bucket_col(n_planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def lsh_ann_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10, n_planes: int = 8
) -> DataFrame:
    """LSH-bucketed ANN top-k — the 100-TB scale path for similarity
    search: vectors are pre-bucketed by hyperplane signs; a query probes
    its OWN bucket plus every hamming-1 neighbor (multiprobe: flipping the
    bit whose hyperplane margin the query sits closest to is the classic
    refinement; probing all 1+n_planes neighbors is its exhaustive form),
    and only candidates in probed buckets are scored exactly. The scan is
    pruned to ~ (n_planes+1)/2^n_planes of the corpus instead of O(N) —
    the bucket column would be a partition key in a real deployment."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col(n_planes))
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select("bucket", "embedding").first()
    qb = int(qrow["bucket"])
    probes = [qb] + [qb ^ (1 << j) for j in range(n_planes)]
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("qv"))
    cand = emb.filter(F.col("bucket").isin(probes) & (F.col("vec_id") != query_vec_id))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id", "label", F.round(cos, 6).alias("cosine")
    )
    return _ranked_topk(scored, k, "vec_id", F.desc("cosine"), F.asc("vec_id")).select(
        "vec_id", "label", "cosine", "rank"
    )


ANN_RECALL_QUERY_IDS = tuple(range(16))


def ann_recall(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple = ANN_RECALL_QUERY_IDS,
    k: int = 10,
    planes: tuple = (4, 8, 12),
) -> DataFrame:
    """Measured recall@k of the LSH ANN tier against exact cosine ground
    truth — the number an ANN user asks first, as a first-class gated
    operator (so bucket-code changes can never silently regress recall).

    One output row per n_planes: (n_queries, k, n_candidates, n_hits,
    recall_ppm). ``recall_ppm`` is integer floor-division parts-per-million
    (float-free value hash); ``n_candidates`` is the total scored-candidate
    count across queries — the COST axis, so one gate row carries the whole
    recall/cost tradeoff (BASELINE.md records the curve).

    Scale shape: ground truth is |Q| bounded brute-force scans — this is a
    MEASUREMENT harness run on a sample, not a serving path; the ANN side is
    the same bucket/probe plan as lsh_ann_batch. Every collect is k x |Q|
    rows (or one count), driver-bounded by construction.
    """
    from pyspark.sql.window import Window

    emb = scoped_cache(
        _emb(spark, sf_dir).select("vec_id", "embedding"), "ann_recall_emb"
    )
    q = emb.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    nq = q.count()
    if nq != len(query_ids):
        raise ValueError(f"only {nq} of {len(query_ids)} query ids present")
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(cos, 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id")
    )
    truth = {(int(r["qid"]), int(r["vec_id"])) for r in exact.collect()}

    out_rows = []
    for p in sorted(planes):
        enc = emb.withColumn("bucket", _lsh_bucket_col(p))
        qb = q.withColumn("qb", _lsh_bucket_col(p, col=F.col("qv")))
        probes = qb.select(
            "qid",
            "qv",
            F.explode(
                F.array(
                    F.col("qb"),
                    *[F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(p)],
                )
            ).alias("probe"),
        )
        cand = enc.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("qid")),
        ).select("qid", "vec_id", F.round(cos, 6).alias("cosine"))
        cand = scoped_cache(cand, f"ann_recall_cand_{p}")
        n_candidates = cand.count()
        ann = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "vec_id")
            .collect()
        )
        release_scope(f"ann_recall_cand_{p}")
        hits = sum((int(r["qid"]), int(r["vec_id"])) in truth for r in ann)
        out_rows.append(
            (p, nq, k, n_candidates, hits, (hits * 1_000_000) // (k * nq))
        )
    # everything above is collect()ed — nothing lazy depends on the caches,
    # so release them instead of pinning the embeddings table across ops
    release_scope("ann_recall_emb")
    return spark.createDataFrame(
        out_rows,
        "n_planes int, n_queries bigint, k int, n_candidates bigint, "
        "n_hits bigint, recall_ppm bigint",
    )
