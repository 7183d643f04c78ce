"""Query-log replay evidence for search_batch.

Two measurements:

1. PLANNING cost and optimized-plan length per batch size N. The queries
   reach the scoring kernel as broadcast data, so the plan length must not
   grow with N. Planning is optimizer CPU on the driver — NOT memory-bandwidth
   bound — so this comparison is valid even on a degraded-probe day (the
   walls protocol in CLAUDE.md is about shuffle/scan-heavy executor work).

2. A 512-query log replays as ONE job. Execution wall is recorded for
   completeness (advisory under a degraded probe like every other wall).

    python tools/batch_log_bench.py [--sf /root/testdata/sf0.1]
        [--ns 16,64,256] [--exec-n 512] [--out BENCH_BATCH_LOG.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def gen_queries(terms: list[str], n: int) -> list[str]:
    """Deterministic mixed-shape query log over the index vocabulary."""
    out = []
    for i in range(n):
        a = terms[(i * 13 + 1) % len(terms)]
        b = terms[(i * 29 + 7) % len(terms)]
        c = terms[(i * 47 + 3) % len(terms)]
        if a == b or b == c or a == c:
            out.append(a)
        elif i % 4 == 0:
            out.append(f"{a} AND {b}")
        elif i % 4 == 1:
            out.append(f"{a} OR {b} OR {c}")
        elif i % 4 == 2:
            out.append(f"{a} AND NOT {b}")
        else:
            out.append(f"({a} OR {b}) AND {c}")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--ns", default="16,64,256")
    ap.add_argument("--exec-n", type=int, default=512)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_BATCH_LOG.json"))
    args = ap.parse_args()

    from tools.host_probe import BW_HEALTHY_GBPS, probe

    import pyarrow.parquet as pq

    from miru_spark.operators.fulltext import build_documents_index
    from miru_spark.query.scorer import search_batch
    from miru_spark.session import get_spark

    out: dict = {"sf": args.sf, "cores": args.cores}
    out["probe_pre"] = probe()["bw_gbps"]
    spark = get_spark("batch_log_bench", cores=args.cores)
    idx = build_documents_index(spark, args.sf)
    terms = sorted(
        pq.read_table(os.path.join(idx, "stats"), columns=["term"])
        .column("term")
        .to_pylist()
    )
    out["vocab"] = len(terms)

    # --- 1. planning cost and plan length vs N -----------------------------
    plans = {}
    for n in [int(x) for x in args.ns.split(",")]:
        queries = gen_queries(terms, n)
        t0 = time.perf_counter()
        df = search_batch(spark, idx, queries, k=10)
        plan = df._jdf.queryExecution().optimizedPlan()
        dt = time.perf_counter() - t0
        plans[f"n{n}"] = {"plan_sec": round(dt, 2), "plan_chars": len(plan.toString())}
        print(f"plan N={n}: {dt:.2f}s, {plans[f'n{n}']['plan_chars']} chars", flush=True)
    out["planning"] = plans

    # --- 2. one-job execution of the full log ------------------------------
    queries = gen_queries(terms, args.exec_n)
    t0 = time.perf_counter()
    rows = search_batch(spark, idx, queries, k=10).collect()
    out["exec_sec"] = round(time.perf_counter() - t0, 2)
    out["exec_n_queries"] = args.exec_n
    out["exec_rows"] = len(rows)
    qids = {r["query_id"] for r in rows}
    out["exec_queries_answered"] = len(qids)

    out["probe_post"] = probe()["bw_gbps"]
    out["probe_healthy"] = min(out["probe_pre"], out["probe_post"]) >= BW_HEALTHY_GBPS
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
