"""1M-vector × 1k-query bench for the bucket-partitioned ANN serving form.

VERDICT r3 item 7's done-condition: a bench line at 1M vectors × 1k queries
showing the corpus scan touches ONLY probed bucket partitions. This runs
`ann_partitioned_topk` (the exact plan `lsh_ann_partitioned`'s gate entry
uses — only the input table differs) over a deterministic synthetic corpus:

- corpus: 1M float32[64] vectors, a mixture of 512 deterministic centers
  (real embedding corpora are clustered; splitmix64-hash generation so any
  partitioning yields identical rows). Materialized bucket-PARTITIONED on
  disk (hive dir per LSH bucket, norms precomputed) — generation and the
  one-time build are NOT part of any timing.
- query log: 1k queries drawn from 32 hot clusters (query logs are
  Zipf-concentrated; a log that touches every topic uniformly would defeat
  ANY partition pruning, which is a property of the log, not the plan).
- timed: full top-5 serving collect, pruned vs unpruned (prune=False reads
  every bucket directory but runs the identical join), reps each, fresh
  probe stamps. Evidence recorded: probed/total bucket dirs, the executed
  plan's PartitionFilters + ShuffledHashJoin markers, walls.

    python tools/ann_partitioned_bench.py [--rows 1000000] [--queries 1000]
        [--planes 10] [--reps 2] [--out BENCH_ANN_1M.json]

Protocol (CLAUDE.md): nothing else runs during the timed section; <8 GB/s
probes mark the result advisory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

DIM = 64
N_CENTERS = 512
HOT_CLUSTERS = 8  # query logs are Zipf-concentrated on hot topics
NOISE = 0.35  # corpus spread (corpus occupies ~every bucket — realistic)
QUERY_NOISE = 0.15  # queries are tight paraphrases of hot docs: dedup
# lookups / near-dup retrieval sit close to an existing vector; a log that
# touched every topic uniformly would defeat ANY partition pruning (a
# property of the log, not of the plan)


def _mixfloat(idx: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer → float64 in [-1, 1); deterministic per (idx, salt)."""
    x = idx.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 52) - 1.0


def _centers() -> np.ndarray:
    idx = np.arange(N_CENTERS * DIM, dtype=np.uint64)
    return _mixfloat(idx, salt=1).reshape(N_CENTERS, DIM)


def _vectors_for_ids(ids: np.ndarray, centers: np.ndarray, salt: int,
                     cluster_of: np.ndarray, noise: float = NOISE) -> np.ndarray:
    nz = _mixfloat(
        (ids[:, None].astype(np.uint64) * np.uint64(DIM)
         + np.arange(DIM, dtype=np.uint64)[None, :]).ravel(), salt=salt,
    ).reshape(len(ids), DIM) * noise
    return (centers[cluster_of] + nz).astype(np.float32)


def build_corpus(spark, rows: int, planes: int, parts: int) -> str:
    """Materialize the bucket-partitioned 1M corpus once (untimed)."""
    from pyspark.sql import functions as F

    from miru_spark.pipeline.similarity import _lsh_bucket_col, _norm

    path = os.path.join(tempfile.gettempdir(), f"miru_ann_bucketed_{rows}_p{planes}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    centers = _centers()

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            cl = (ids % N_CENTERS).astype(np.int64)
            vecs = _vectors_for_ids(ids, centers, salt=2, cluster_of=cl)
            yield pd.DataFrame({
                "vec_id": ids,
                "embedding": list(vecs),
                "label": [f"c{c}" for c in cl],
            })

    base = spark.range(0, rows, 1, parts)
    df = base.mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label string"
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        df.withColumn("bucket", _lsh_bucket_col(planes))
        .withColumn("nb", _norm(F.col("embedding")))
        # co-locate each bucket in ONE task before the hive write: without
        # this, every write task emits a file into every bucket dir
        # (tasks × 2^planes tiny files — the small-files anti-pattern)
        .repartition(parts, F.col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(path)
    )
    return path


def query_log(spark, n_queries: int):
    """1k fresh query vectors from the 32 hot clusters (qids disjoint from
    corpus vec_ids so the vec_id != qid guard never drops a true neighbor)."""
    centers = _centers()
    qids = np.arange(n_queries, dtype=np.int64)
    cl = (qids % HOT_CLUSTERS).astype(np.int64)
    vecs = _vectors_for_ids(
        qids + 10_000_000, centers, salt=3, cluster_of=cl, noise=QUERY_NOISE
    )
    pdf = pd.DataFrame({"qid": qids + 10_000_000, "qv": list(vecs)})
    return spark.createDataFrame(pdf, schema="qid long, qv array<float>")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--queries", type=int, default=1_000)
    ap.add_argument("--planes", type=int, default=12)
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_ANN_1M.json"))
    args = ap.parse_args()

    from tools.host_probe import BW_HEALTHY_GBPS, probe

    from miru_spark.pipeline.similarity import ann_partitioned_topk
    from miru_spark.session import get_spark

    out: dict = {
        "rows": args.rows, "queries": args.queries, "planes": args.planes,
        "k": args.k, "reps": args.reps, "hot_clusters": HOT_CLUSTERS,
    }
    out["probe_pre"] = probe()["bw_gbps"]

    spark = get_spark("ann_partitioned_bench", cores=args.cores)
    corpus_path = build_corpus(spark, args.rows, args.planes, args.parts)
    out["bucket_dirs_total"] = sum(
        1 for d in os.listdir(corpus_path) if d.startswith("bucket=")
    )
    queries = query_log(spark, args.queries)

    walls: dict[str, list[float]] = {"pruned": [], "unpruned": []}
    for _ in range(args.reps):
        for form, prune in (("pruned", True), ("unpruned", False)):
            t0 = time.perf_counter()
            df, buckets = ann_partitioned_topk(
                spark, corpus_path, queries, k=args.k,
                n_planes=args.planes, prune=prune,
            )
            rows = df.collect()  # full serving evaluation, never bare count
            walls[form].append(round(time.perf_counter() - t0, 2))
            if prune:
                out["buckets_probed"] = len(buckets)
                out["topk_rows"] = len(rows)
                plan = df._jdf.queryExecution().executedPlan().toString()
                out["plan_partition_filters"] = (
                    "PartitionFilters" in plan and "bucket" in plan
                )
                out["plan_shuffled_hash_join"] = "ShuffledHashJoin" in plan
                out["plan_broadcast_join"] = "BroadcastHashJoin" in plan

    # compute pruning (why walls at 1M are join-bound, not scan-bound):
    # exact dot products evaluated = candidate pairs, vs rows*queries for
    # brute force — the LSH win is this ratio; the PARTITION win (bytes)
    # is what compounds at the decade where corpus cells are TB-sized.
    from pyspark.sql import functions as F

    from miru_spark.pipeline.similarity import _lsh_bucket_col, _norm

    corpus_df = spark.read.parquet(corpus_path)
    probes_df = (
        queries.select(
            "qid", _lsh_bucket_col(args.planes, col=F.col("qv")).alias("qb")
        )
        .select(
            "qid",
            F.explode(
                F.array(
                    F.col("qb"),
                    *[
                        F.col("qb").bitwiseXOR(F.lit(1 << j))
                        for j in range(args.planes)
                    ],
                )
            ).alias("probe"),
        )
    )
    out["candidate_pairs"] = (
        corpus_df.join(probes_df, F.col("bucket") == F.col("probe"))
        .select(F.count("*"))
        .first()[0]
    )
    out["bruteforce_pairs"] = args.rows * args.queries

    # bytes evidence: directory pruning means the scan's input is exactly
    # the probed dirs' files — compare their on-disk bytes to the table total
    def _dir_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    probed_set = {f"bucket={b}" for b in buckets}
    total_b = probed_b = 0
    for d in os.listdir(corpus_path):
        if not d.startswith("bucket="):
            continue
        sz = _dir_bytes(os.path.join(corpus_path, d))
        total_b += sz
        if d in probed_set:
            probed_b += sz
    out["scan_bytes_probed"] = probed_b
    out["scan_bytes_total"] = total_b
    out["scan_bytes_fraction"] = round(probed_b / total_b, 4)

    out["pruned_walls_sec"] = walls["pruned"]
    out["unpruned_walls_sec"] = walls["unpruned"]
    out["pruned_min_sec"] = min(walls["pruned"])
    out["unpruned_min_sec"] = min(walls["unpruned"])
    out["prune_fraction"] = round(
        out["buckets_probed"] / out["bucket_dirs_total"], 4
    )
    out["probe_post"] = probe()["bw_gbps"]
    out["probe_healthy"] = min(out["probe_pre"], out["probe_post"]) >= BW_HEALTHY_GBPS
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
