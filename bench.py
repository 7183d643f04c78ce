"""Headline benchmark — the driver's per-round feedback loop.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}``.

What it measures (BASELINE.md protocol):
1. ``index_build`` — full inverted-index build (sha256 gate → docIDs →
   tokenize → per-partition segments → salted merge → stats → filters) over
   the documents table, fresh directory every run (resume off). Also reported
   as ``files_per_sec``.
2. ``bm25_serve_ms`` — the serving path (block-max WAND / numpy set algebra)
   over the reference query set; per-query p50/p95 ms.
3. headline DataFrame queries from __spark_entry__.queries() (BM25 relational
   + engine path, dedup, similarity, text analysis, relational analogs).

Scaling-efficiency evidence (north rule: >=0.8 from N to 4N) is a separate
run-twice protocol — ``python tools/scaling_bench.py`` — because one process
cannot host two differently-sized local masters; results land in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from miru_spark.session import get_spark

    spark = get_spark("miru_spark_bench", cores=cpus)

    import __spark_entry__ as entry
    from miru_spark.corpus import reference_query_set
    from miru_spark.index.build import build_index
    from miru_spark.operators.fulltext import _docs, _docs_as_corpus
    from miru_spark.query.scorer import search_local

    # host weather report: this shared-host VM has episodes where co-tenant
    # pressure cuts memory bandwidth >10x with no guest-visible signal
    # (tools/host_probe.py); stamping the probe into the bench JSON lets a
    # reader tell a real regression from a degraded-host artifact.
    from tools.host_probe import BW_HEALTHY_GBPS, probe
    bw_pre = probe()

    queries: dict[str, float] = {}
    t_total0 = time.perf_counter()

    # 1. index build (fresh, no resume) --------------------------------------
    idx_dir = os.path.join(tempfile.gettempdir(), "miru_bench_idx")
    shutil.rmtree(idx_dir, ignore_errors=True)
    corpus = _docs_as_corpus(_docs(spark, sf_dir))
    n_files = corpus.count()  # warm the scan so build timing is the build
    t0 = time.perf_counter()
    build_index(spark, corpus, idx_dir, num_partitions=max(8, cpus // 2), resume=False)
    build_s = time.perf_counter() - t0
    queries["index_build"] = round(build_s, 4)
    files_per_sec = n_files / build_s

    # 2. BM25 serving latency over the reference query set (4 passes; pass 0
    # warms the OS page cache and posting caches and is EXCLUDED from the
    # percentiles — serving latency is a steady-state metric, and cold-pass
    # samples under shared-host contention dominated p95 noise; total wall
    # still counts every pass) ------------------------------------------------
    lat_ms, warm_ms = [], []
    for rep in range(4):
        for q in reference_query_set():
            t0 = time.perf_counter()
            search_local(idx_dir, q["query"], k=q["k"],
                         lang_filter=q["lang_filter"], repo_filter=q["repo_filter"])
            dt = (time.perf_counter() - t0) * 1000.0
            lat_ms.append(dt)
            if rep > 0:
                warm_ms.append(dt)
    lat = np.array(warm_ms)
    queries["bm25_serve_total"] = round(float(np.array(lat_ms).sum()) / 1000.0, 4)

    # 3. headline DataFrame queries ------------------------------------------
    headline = [
        "ft_bm25_and", "ft_bm25_or", "ft_engine_bm25", "ft_term_stats",
        "ft_conjunctive_count", "dedup_exact", "minhash_lsh_pairs",
        "simhash_neardup_pairs", "cosine_topk", "token_counts", "lang_id",
        "quality_scores", "aggregate_counts", "analytics_waveform",
        "reco_collaborative", "pricing_summary", "shipping_priority",
        # round-2 operators
        "ft_bm25_after_delete", "ft_bm25_time_range", "ngram_jaccard_pairs",
        "strut_scores",
        # late-round-2 training-data capstones
        "embedding_neardup_lsh", "dedup_survivors", "training_shards",
        # round-3 operators: full Catwalk feature model, stopworded BM25,
        # multi-fragment highlighting, bloom-pruned join, batched ANN
        # serving, incremental gatherFeatures cache
        "catwalk_features", "ft_bm25_stopworded_en", "ft_highlights",
        "bloom_prune_join", "lsh_ann_topk", "lsh_ann_batch",
        "gather_features_cached",
        # batched BM25 serving: 4 queries, ONE posting scan (search_batch)
        "ft_bm25_batch",
        # deterministic split + within-doc repetition quality signal
        "stratified_split", "ngram_repetition",
        # round-4 operators: OR-reachable Range (termless matches), pure-
        # negative serving, German stop set e2e, cross-partition Catwalk
        # merge, bucket-partitioned unbounded-N ANN
        "ft_bm25_or_timerange", "ft_not_only", "ft_bm25_stopworded_de",
        "catwalk_merged", "lsh_ann_partitioned",
        # round-4 additions: IVF codebook training (distributed Lloyd's),
        # per-source corpus balancing under domain skew, masks-mode batched
        # BM25 (CNF shapes as data), cross-doc span dedup (Lee et al.)
        "ivf_train", "domain_quota_sample",
        "ft_bm25_batch_cnf", "span_dedup_stats",
        # S-stemmer analyzer e2e (builds its own stemmed index, like the
        # stopworded entries — the cost is the build, not the serve)
        "ft_bm25_stemmed_en",
        # concat-and-chunk packing audit (two-level prefix sum) and
        # deterministic mixture resampling (map-only emit + audit), plus
        # their composition with exact dedup (the epoch capstone)
        "pack_sequences", "mixture_resample", "epoch_build",
        # round-5 operators: Porter-stemmed BM25 e2e (builds its own index,
        # cached per analyzer), persisted Catwalk store round-trip + serving
        # (the two gates share one staged build), materialized epoch artifact
        # (write + manifest-only audit), measured ANN recall/cost curve
        "ft_bm25_porter_en", "catwalk_saved_model", "strut_scores_saved",
        "epoch_write_audit", "lsh_ann_recall",
        # product quantization: per-subspace codebook training + ADC top-k
        # over map-only codes (the bytes-per-vector scale path) + the
        # shortlist->exact-rerank serving composition
        "pq_train", "pq_topk", "pq_rerank",
        # IVF-PQ: coarse cells + residual codes, probed-cell serving
        "ivfpq_topk", "ivfpq_rerank",
        # measured recall@k of the quantized tiers (ann_recall contract
        # extended to PQ/IVF-PQ: batched ADC scan + one exact truth scan)
        "pq_recall", "ivfpq_recall",
        # stored-index lifecycle: frozen-codebook appends + tombstone
        # removal (each rebuilds its index per invocation on purpose)
        "ivfpq_append_serve", "ivfpq_remove_serve",
    ]
    qmap = entry.queries()
    for name in headline:
        t0 = time.perf_counter()
        qmap[name](spark, sf_dir).collect()
        queries[name] = round(time.perf_counter() - t0, 4)

    # Strut model cache warm path (StrutModelCache analog): a second
    # strut_scores in the same session reuses the generation-keyed model
    # rows, measuring rescoring without the model gather
    t0 = time.perf_counter()
    qmap["strut_scores"](spark, sf_dir).collect()
    queries["strut_scores_warm"] = round(time.perf_counter() - t0, 4)

    # Strut INCREMENTAL rescore warm path: model reconstructed from the
    # persisted FeatureCache counts (tiny parquet bounded by the feature
    # vocabulary) — the fact table is never rescanned at serve time
    from miru_spark.operators.relational import (
        catwalk_model_cache,
        strut_scores_from_cache,
    )

    cache_dir = os.path.join(tempfile.gettempdir(), "miru_bench_strutcache")
    shutil.rmtree(cache_dir, ignore_errors=True)
    cache = catwalk_model_cache(spark, sf_dir, cache_dir)
    cache.update(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    t0 = time.perf_counter()
    strut_scores_from_cache(spark, sf_dir, cache).collect()
    queries["strut_scores_incr_warm"] = round(time.perf_counter() - t0, 4)

    total = time.perf_counter() - t_total0
    bw_post = probe()
    # healthy-band gate (BASELINE.md protocol: 8-15 GB/s typical; numbers
    # taken under a degraded host move shuffle-heavy ops 2-3x and must not
    # be transcribed as a row of record) — a run outside the band is marked
    # ADVISORY rather than silently comparable
    healthy = min(bw_pre["bw_gbps"], bw_post["bw_gbps"]) >= BW_HEALTHY_GBPS
    print(json.dumps({
        "metric": "index-build + BM25 serve + headline query suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_files": int(n_files),
        "files_per_sec": round(files_per_sec, 2),
        "bm25_p50_ms": round(float(np.percentile(lat, 50)), 2),
        "bm25_p95_ms": round(float(np.percentile(lat, 95)), 2),
        "cpus": cpus,
        "host_bw_gbps_pre": bw_pre["bw_gbps"],
        "host_bw_gbps_post": bw_post["bw_gbps"],
        "probe_healthy": healthy,
        "advisory": not healthy,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
