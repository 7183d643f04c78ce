"""1M-vector bench for the PQ tier: train / encode / ADC-serve walls, the
measured bytes-on-disk compression, and the scan-pruning proof.

The PQ claim (pipeline/quantize.py) is a STORAGE claim — at the target
decade the float32 embedding column is the cost, and serving must read
only the code columns. This records exactly that, end to end:

- corpus: the same deterministic clustered synthetic as
  ann_partitioned_bench (splitmix64 mixture of 512 centers — real
  embedding corpora are clustered, which is also what keeps every PQ cell
  populated), written as a plain embeddings.parquet (untimed).
- timed: (1) codebook training (`_pq_fit`, production-ish m=8/ksub=16 by
  default — 2 corpus scans, one m*ksub*dsub-row exchange per iteration);
  (2) encode+write of the codes table (map-only); (3) raw ADC top-k from
  the STORED codes (`pq_topk_from_codes`); (4) the shortlist->exact-
  rerank composition (`pq_rerank_from_codes` — the form actually served);
  (5) the exact squared-L2 scan over the float column — same metric, so
  wall ratios are scan-bytes honesty and recall@k is measurable for both
  PQ forms (raw ADC's recall collapses under code-tie degeneracy by
  construction; the rerank number is the one that matters).
- evidence: du -sb of codes vs embeddings parquet (the compression the
  docstring promises), the executed ADC plan containing no `embedding`
  column, and recall@k of ADC against the exact L2 top-k.

    python tools/pq_bench.py [--rows 1000000] [--m 8] [--ksub 16]
        [--reps 2] [--out BENCH_PQ_1M.json]

Protocol (CLAUDE.md): nothing else runs during the timed section; <8 GB/s
probes mark the result advisory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from miru_spark.functions.topk import ranked_topk  # noqa: E402
from miru_spark.pipeline.quantize import (  # noqa: E402
    _code_col,
    _pq_fit,
    _sqdist_lit,
    _sub_slice,
    pq_rerank_from_codes,
    pq_topk_from_codes,
)
from miru_spark.pipeline.similarity import _emb  # noqa: E402
from miru_spark.session import get_spark  # noqa: E402
from tools.ann_partitioned_bench import (  # noqa: E402
    DIM,
    N_CENTERS,
    _centers,
    _vectors_for_ids,
)
from tools.host_probe import BW_HEALTHY_GBPS, probe  # noqa: E402


def build_corpus(spark, rows: int, parts: int) -> str:
    """Plain (vec_id, embedding float32[64], label int) table — the same
    shape as the testdata embeddings table `_emb` reads. Untimed."""
    path = os.path.join(tempfile.gettempdir(), f"miru_pq_corpus_{rows}")
    marker = os.path.join(path, "embeddings.parquet", "_SUCCESS")
    if os.path.exists(marker):
        return path
    centers = _centers()

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            cl = (ids % N_CENTERS).astype(np.int64)
            vecs = _vectors_for_ids(ids, centers, salt=7, cluster_of=cl)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(vecs),
                    "label": cl.astype(np.int32),
                }
            )

    base = spark.range(0, rows, 1, parts)
    df = base.mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int"
    )
    shutil.rmtree(path, ignore_errors=True)
    df.write.parquet(os.path.join(path, "embeddings.parquet"))
    return path


def _du(path: str) -> int:
    return int(
        subprocess.run(
            ["du", "-sb", path], capture_output=True, text=True, check=True
        ).stdout.split()[0]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--ksub", type=int, default=16)
    ap.add_argument("--n-iter", type=int, default=2)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--shortlist", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_PQ_1M.json"))
    args = ap.parse_args()

    out: dict = {
        "rows": args.rows,
        "dim": DIM,
        "m": args.m,
        "ksub": args.ksub,
        "n_iter": args.n_iter,
        "k": args.k,
        "reps": args.reps,
    }
    out["probe_pre"] = probe()["bw_gbps"]

    spark = get_spark("pq_bench", cores=args.cores)
    sf_dir = build_corpus(spark, args.rows, args.parts)
    emb_bytes = _du(os.path.join(sf_dir, "embeddings.parquet"))

    # 1. train ---------------------------------------------------------------
    t0 = time.perf_counter()
    books, sizes, dsub = _pq_fit(spark, sf_dir, args.m, args.ksub, args.n_iter)
    out["train_s"] = round(time.perf_counter() - t0, 2)
    ns = sorted(n for n in sizes.values())
    out["cell_sizes_min_max"] = [ns[0], ns[-1]]

    # 2. encode + write (map-only) --------------------------------------------
    codes_dir = os.path.join(tempfile.gettempdir(), f"miru_pq_codes_{args.rows}")
    shutil.rmtree(codes_dir, ignore_errors=True)
    t0 = time.perf_counter()
    # pq_encode refits internally for its standalone contract; the refit
    # would double-count training here, so inline the same encode plan
    # against the already-trained books.
    cols = [F.col("vec_id"), F.col("label")] + [
        _code_col(_sub_slice(j, dsub), books[j]).cast("smallint").alias(f"c{j}")
        for j in range(args.m)
    ]
    _emb(spark, sf_dir).select(*cols).write.mode("overwrite").parquet(codes_dir)
    out["encode_write_s"] = round(time.perf_counter() - t0, 2)

    codes_bytes = _du(codes_dir)
    out["embeddings_bytes"] = emb_bytes
    out["codes_bytes"] = codes_bytes
    out["compression_x"] = round(emb_bytes / codes_bytes, 2)

    # query = corpus vector 0 (excluded from results by both forms)
    q = [
        float(v)
        for v in spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter("vec_id = 0")
        .collect()[0]["embedding"]
    ]
    qlit = F.array(*[F.lit(v) for v in q])

    # 3. serving: raw ADC, ADC-shortlist->rerank, exact L2 scan — same metric
    emb_parquet = os.path.join(sf_dir, "embeddings.parquet")
    adc_walls, rerank_walls, exact_walls = [], [], []
    adc_ids = rerank_ids = exact_ids = None
    for _ in range(args.reps):
        t0 = time.perf_counter()
        adc_df = pq_topk_from_codes(spark, codes_dir, books, q, k=args.k)
        adc_ids = [r["vec_id"] for r in adc_df.collect()]
        adc_walls.append(round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        rr_df = pq_rerank_from_codes(
            spark, codes_dir, emb_parquet, books, q,
            k=args.k, shortlist=args.shortlist,
        )
        rerank_ids = [r["vec_id"] for r in rr_df.collect()]
        rerank_walls.append(round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        d2 = F.round(_sqdist_lit(F.col("embedding"), q), 6)
        exact = ranked_topk(
            spark.read.parquet(emb_parquet)
            .filter(F.col("vec_id") != 0)
            .select("vec_id", d2.alias("d2")),
            args.k,
            "vec_id",
            F.asc("d2"),
            F.asc("vec_id"),
        ).collect()
        exact_walls.append(round(time.perf_counter() - t0, 2))
        exact_ids = [r["vec_id"] for r in exact]

    out["shortlist"] = args.shortlist
    out["adc_walls_s"] = adc_walls
    out["rerank_walls_s"] = rerank_walls
    out["exact_scan_walls_s"] = exact_walls
    out["adc_min_s"] = min(adc_walls)
    out["rerank_min_s"] = min(rerank_walls)
    out["exact_min_s"] = min(exact_walls)
    out["adc_recall_at_k"] = round(len(set(adc_ids) & set(exact_ids)) / args.k, 3)
    out["rerank_recall_at_k"] = round(
        len(set(rerank_ids) & set(exact_ids)) / args.k, 3
    )

    plan = (
        pq_topk_from_codes(spark, codes_dir, books, q, k=args.k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    out["adc_plan_reads_embedding"] = "embedding" in plan

    out["probe_post"] = probe()["bw_gbps"]
    out["probe_healthy"] = min(out["probe_pre"], out["probe_post"]) >= BW_HEALTHY_GBPS

    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
