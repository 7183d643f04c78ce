"""Cluster entrypoint: ``spark-submit --py-files miru_spark.zip -m`` driver.

Usage (cluster — the 10^12-file path; conf comes from spark-submit):

    python tools/make_pyfiles.py                        # → dist/miru_spark.zip
    spark-submit --master yarn --deploy-mode client \
        --py-files dist/miru_spark.zip \
        tools/submit_job.py build \
        --corpus s3a://bucket/code_corpus/ --index-dir s3a://bucket/index/ \
        --partitions 4096

    spark-submit ... tools/submit_job.py search \
        --index-dir s3a://bucket/index/ --query "merge AND sort" --k 10

Locally (sandbox) the same module runs under ``python -m miru_spark.cli``
with ``--local-cores N``. Resume is on by default: a re-submitted build job
skips every partition whose segment manifest is complete (the S15 checkpoint
contract, miru-stream-plugins/.../fulltext/FullTextGatherer.java:205-242).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(args) -> SparkSession:
    """Under spark-submit the master/conf are already set — just getOrCreate.
    ``--local-cores`` forces a sandbox-style local master instead."""
    if getattr(args, "local_cores", None):
        from miru_spark.session import get_spark

        return get_spark("miru_spark_cli", cores=args.local_cores)
    return SparkSession.builder.appName("miru_spark_cli").getOrCreate()


def cmd_build(args) -> None:
    spark = _spark(args)
    if args.synthetic_rows:
        from miru_spark.corpus import generate_corpus

        corpus = generate_corpus(
            spark, n_rows=args.synthetic_rows, seed=args.seed, partitions=args.partitions
        )
    else:
        reader = spark.read
        corpus = (
            reader.format("iceberg").load(args.corpus)
            if args.format == "iceberg"
            else reader.parquet(args.corpus)
        )
    from miru_spark.index.build import build_index

    summary = build_index(
        spark,
        corpus,
        args.index_dir,
        num_partitions=args.partitions,
        resume=not args.no_resume,
        check_sha256=not args.no_sha_check,
    )
    print(json.dumps(summary))


def cmd_compact(args) -> None:
    """Compact, then publish the generation as every refresh does: merge,
    filters, and the journaled REMOVE/REPAIR ops."""
    from miru_spark.index.compact import compact
    from miru_spark.streaming.ingest import refresh

    stats = compact(args.index_dir, target_docs=args.target_docs)
    stats["merge"] = refresh(_spark(args), args.index_dir)
    print(json.dumps(stats))


def cmd_search(args) -> None:
    lang = args.lang.split(",") if args.lang else None
    repo = args.repo.split(",") if args.repo else None
    if args.distributed:
        spark = _spark(args)
        from miru_spark.query.scorer import search_distributed

        rows = search_distributed(
            spark, args.index_dir, args.query, k=args.k, lang_filter=lang, repo_filter=repo
        ).collect()
        out = [r.asDict() for r in rows]
    else:  # serving path — no Spark session needed at all
        from miru_spark.query.scorer import search_local

        out = search_local(
            args.index_dir, args.query, k=args.k, lang_filter=lang, repo_filter=repo
        ).to_dict("records")
    print(json.dumps(out, default=str))


def cmd_remove(args) -> None:
    """Version-guarded logical delete / repair by (repo, path, commit) key
    (resolved against the merged forward index) or by explicit docIDs."""
    from miru_spark.index import removal

    fn = removal.repair_docs if args.repair else removal.remove_docs
    if args.doc_ids:
        ids = [int(x) for x in args.doc_ids.split(",")]
    else:  # resolves on the driver: no Spark session
        keys = [tuple(k.split("@", 2)) for k in args.keys.split(",")]
        if any(len(k) != 3 for k in keys):
            raise SystemExit("--keys takes comma-separated repo@path@commit keys")
        ids = removal.resolve_keys(None, args.index_dir, keys)
    applied = fn(args.index_dir, ids, version=args.version)
    print(json.dumps({"op": "repair" if args.repair else "remove",
                      "resolved": len(ids), "applied": applied}))


def cmd_sync(args) -> None:
    """One incremental sync pass src → dst (cursor-resumable); --refresh
    merges the replica so it becomes queryable."""
    from miru_spark.sync import sync_index

    out = sync_index(args.src, args.dst)
    if args.refresh:
        from miru_spark.streaming.ingest import refresh

        out["refresh"] = refresh(_spark(args), args.dst)
    print(json.dumps(out))


def cmd_pipeline(args) -> None:
    """Run one training-data pipeline operator (pipeline/registry.py) over a
    corpus directory holding `documents.parquet` / `embeddings.parquet`,
    writing the result as parquet (or printing it with --show). This is the
    spark-submit entry for the dedup/similarity/text family — the same
    (spark, sf_dir) callables the correctness gate runs."""
    from miru_spark.pipeline.registry import pipeline_ops

    ops = pipeline_ops()
    if args.op not in ops:
        raise SystemExit(
            f"unknown op {args.op!r}; available: {', '.join(sorted(ops))}"
        )
    spark = _spark(args)
    df = ops[args.op](spark, args.corpus)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        # count from the written files, not the plan (no recompute)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"op": args.op, "out": args.out, "rows": n}))
    else:
        df.show(args.show_rows, truncate=False)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="miru_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--corpus", help="corpus table path (parquet dir or iceberg table)")
    b.add_argument("--format", choices=["parquet", "iceberg"], default="parquet")
    b.add_argument("--synthetic-rows", type=int, default=0, help="generate a synthetic corpus instead")
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--partitions", type=int, default=64)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--no-sha-check", action="store_true")
    b.add_argument("--local-cores", type=int, default=0)
    b.set_defaults(fn=cmd_build)

    c = sub.add_parser("compact", help="compact small (streamed) index partitions")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--target-docs", type=int, default=1_000_000)
    c.add_argument("--local-cores", type=int, default=0)
    c.set_defaults(fn=cmd_compact)

    s = sub.add_parser("search", help="BM25 top-k query")
    s.add_argument("--index-dir", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--lang", default="")
    s.add_argument("--repo", default="")
    s.add_argument("--distributed", action="store_true")
    s.add_argument("--local-cores", type=int, default=0)
    s.set_defaults(fn=cmd_search)

    r = sub.add_parser("remove", help="logical delete/repair (version-guarded)")
    r.add_argument("--index-dir", required=True)
    r.add_argument("--doc-ids", default="", help="comma-separated docIDs")
    r.add_argument("--keys", default="", help="comma-separated repo@path@commit keys")
    r.add_argument("--version", type=int, required=True)
    r.add_argument("--repair", action="store_true", help="restore instead of remove")
    r.add_argument("--local-cores", type=int, default=0)
    r.set_defaults(fn=cmd_remove)

    y = sub.add_parser("sync", help="incremental cross-cluster index sync")
    y.add_argument("--src", required=True)
    y.add_argument("--dst", required=True)
    y.add_argument("--refresh", action="store_true", help="merge the replica after sync")
    y.add_argument("--local-cores", type=int, default=0)
    y.set_defaults(fn=cmd_sync)

    p = sub.add_parser("pipeline", help="run a training-data pipeline operator")
    p.add_argument("--op", required=True, help="operator name (pipeline/registry.py)")
    p.add_argument("--corpus", required=True, help="dir with documents/embeddings parquet")
    p.add_argument("--out", default="", help="output parquet dir (omit to --show)")
    p.add_argument("--show-rows", type=int, default=20)
    p.add_argument("--local-cores", type=int, default=0)
    p.set_defaults(fn=cmd_pipeline)

    args = ap.parse_args(argv)
    if args.cmd == "build" and not args.corpus and not args.synthetic_rows:
        ap.error("build needs --corpus or --synthetic-rows")
    if args.cmd == "remove" and not args.doc_ids and not args.keys:
        ap.error("remove needs --doc-ids or --keys")
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
