"""100M-doc (next-decade) evidence for the fulltext index tier.

The pipeline operators carry 10M-doc evidence (BENCH_SWEEP_10M*.json); the
index build/serve story claims 100-TB design but previously topped out at
10M docs measured. This runs the decade above:

1. generate the deterministic 100M-row corpus once (materialized parquet —
   generation is NOT part of any timing);
2. build the full inverted index (sha256 gate → docIDs → Arrow tokenize →
   segments + forward index → salted merge with 8 MiB row groups → stats →
   roaring filters), timed, probe-stamped → files/sec;
3. query walls: head-term conjunction on the DISTRIBUTED path (cold and
   warm — the path that exists for all-head-term queries), a rare term and
   an AND-NOT on the SERVING path (selective queries stay driver-side),
   plus the rank-identity cross-check between the two paths on the
   conjunction's top-k;
4. row-group pruning evidence: bytes/rows read by the merged-index scan for
   a 2-term query vs the table total (the 8 MiB row-group bound is what
   keeps per-term pruning real as posting blobs grow).

    python tools/fulltext_100m.py [--rows 100000000] [--cores 32]
        [--parts 256] [--out BENCH_100M.json]

Protocol notes (CLAUDE.md): nothing else may run during the timed section;
pre/post host probes are stamped and a <8 GB/s probe marks the result
advisory.
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


def ensure_corpus(rows: int, parts: int, cores: int) -> str:
    corpus = os.path.join(tempfile.gettempdir(), f"miru_scaling_corpus_{rows}.parquet")
    if os.path.exists(os.path.join(corpus, "_SUCCESS")):
        return corpus
    gen = (
        "import sys; sys.path.insert(0, {repo!r});"
        "from miru_spark.session import get_spark;"
        "from miru_spark.corpus import generate_corpus;"
        "s = get_spark('gen', cores={cores});"
        "generate_corpus(s, n_rows={rows}, seed=7, partitions={parts})"
        ".write.mode('overwrite').parquet({corpus!r}); s.stop()"
    ).format(repo=REPO, cores=cores, rows=rows, parts=parts, corpus=corpus)
    subprocess.run([sys.executable, "-c", gen], check=True, timeout=7200)
    return corpus


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--parts", type=int, default=256)
    ap.add_argument("--gen-only", action="store_true",
                    help="materialize the corpus and exit (so generation can "
                    "overlap other work; the TIMED run then starts clean)")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse an existing index dir (query walls only)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_100M.json"))
    args = ap.parse_args()

    corpus_path = ensure_corpus(args.rows, args.parts, args.cores)
    if args.gen_only:
        print(f"corpus ready: {corpus_path}")
        return

    from tools.host_probe import BW_HEALTHY_GBPS, probe

    from miru_spark.session import get_spark
    from miru_spark.query.scorer import search_distributed, search_local

    out: dict = {"rows": args.rows, "cores": args.cores, "parts": args.parts}
    out["probe_pre"] = probe()["bw_gbps"]

    spark = get_spark("fulltext_100m", cores=args.cores)
    corpus = spark.read.parquet(corpus_path)
    n = corpus.count()  # warm the scan so build timing is the build
    out["n_files"] = n

    idx = os.path.join(tempfile.gettempdir(), f"miru_idx_{args.rows}")
    if not args.skip_build:
        from miru_spark.index.build import build_index

        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        build_index(spark, corpus, idx, num_partitions=args.parts, resume=False)
        dt = time.perf_counter() - t0
        out["build_sec"] = round(dt, 2)
        out["files_per_sec"] = round(n / dt, 1)
        out["probe_post_build"] = probe()["bw_gbps"]

    # --- query walls -------------------------------------------------------
    q = "merge AND sort"  # two head terms (~70% df each)
    t0 = time.perf_counter()
    top_cold = search_distributed(spark, idx, q, k=10).collect()
    out["dist_head_conj_cold_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    top_warm = search_distributed(spark, idx, q, k=10).collect()
    out["dist_head_conj_warm_sec"] = round(time.perf_counter() - t0, 2)
    assert [r["doc_id"] for r in top_cold] == [r["doc_id"] for r in top_warm]

    # selective queries stay on the serving path (driver-side kernel)
    t0 = time.perf_counter()
    rare = search_local(idx, "rareterm0", k=10)
    out["local_rare_term_sec"] = round(time.perf_counter() - t0, 2)
    out["local_rare_rows"] = int(len(rare))
    t0 = time.perf_counter()
    search_local(idx, "index AND NOT license", k=10)
    out["local_andnot_sec"] = round(time.perf_counter() - t0, 2)

    # rank-identity cross-check: serving == distributed on the conjunction
    t0 = time.perf_counter()
    loc = search_local(idx, q, k=10)
    out["local_head_conj_sec"] = round(time.perf_counter() - t0, 2)
    out["paths_rank_identical"] = (
        [int(x) for x in loc["doc_id"]] == [r["doc_id"] for r in top_cold]
    )

    # row-group pruning: the merged scan for the 2 query terms vs the table
    from pyspark.sql import functions as F

    merged = spark.read.parquet(os.path.join(idx, "merged"))
    pruned = merged.select("term", "docids").filter(F.col("term").isin(["merge", "sort"]))
    t0 = time.perf_counter()
    nrows = pruned.select(F.count("*")).first()[0]
    out["pruned_scan_sec"] = round(time.perf_counter() - t0, 2)
    out["pruned_scan_rows"] = int(nrows)
    out["merged_total_rows"] = int(merged.select(F.count("*")).first()[0])

    out["probe_post"] = probe()["bw_gbps"]
    out["probe_healthy"] = min(out["probe_pre"], out["probe_post"]) >= BW_HEALTHY_GBPS
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
