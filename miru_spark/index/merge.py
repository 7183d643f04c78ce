"""Hierarchical segment merge with explicit head-term salting + global stats.

miru merges posting deltas into its LSM per "atomized" container key so a
merge only touches the tail (LabInvertedIndex.java:87-150); our partitions own
disjoint ascending docID ranges, so merging a term is pure concatenation of
its per-partition runs in pid order — no re-sort (same insight, SURVEY.md §4).

Skew (the thing miru never faced, single-node): a head term like ``def``
appears in >50% of docs; a naive groupBy(term) sends ALL its postings to one
reducer. We salt explicitly: each term is merged into
``ceil(total_pids / span)`` shard rows where ``span`` shrinks as the term's
df grows, and ``shard = pid // span`` — so every shard covers a CONTIGUOUS
pid range (→ contiguous docID range, delta encoding stays tight, block-max
skipping stays valid) and no reduce task sees more than ~TARGET_POSTINGS
postings. Rare terms get one row. Global (term, df, cf) stats come from a
cheap pre-aggregation of the per-segment partial counts — map-side combined
by Catalyst, never touching posting payloads.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.codec import encode_varint
from miru_spark.jsonio import save_json_atomic

TARGET_POSTINGS_PER_SHARD = 250_000

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("docids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("block_last", T.BinaryType()),
        T.StructField("block_max_tf", T.BinaryType()),
    ]
)


def _load_offsets(index_dir: str) -> dict[int, int]:
    """pid → global docID offset, the prefix sum of manifest doc counts in
    pid order (pids are key-ordered ranges, so local rank + offset = global
    key rank — identical to assign_doc_ids at any parallelism)."""
    from miru_spark.index.compact import reconcile

    reconcile(index_dir)  # complete any interrupted compaction swap first
    man_dir = os.path.join(index_dir, "manifests")
    counts: dict[int, int] = {}
    for name in os.listdir(man_dir):
        if name.endswith(".json"):
            with open(os.path.join(man_dir, name)) as f:
                m = json.load(f)
            counts[m["pid"]] = m["n_docs"]
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets


INTERMEDIATE_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("runkey", T.LongType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("docids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("block_last", T.BinaryType()),
        T.StructField("block_max_tf", T.BinaryType()),
    ]
)


def _concat_runs(pdf: pd.DataFrame, off: dict, runcol: str) -> dict:
    """Concatenate docID-ordered posting runs WITHOUT decoding.

    Delta encoding makes a run position-independent except for its first
    gap: rewriting run i's first varint to
    ``(min_doc_i + offset_i) − (max_doc_{i−1} + offset_{i−1})`` and
    byte-concatenating the rest globalizes + merges in O(bytes) — the same
    only-touch-the-boundary property miru gets from atomized posting keys
    (LabInvertedIndex.java:87-150). TF payloads are gap-free varints (pure
    concat); block_last arrays shift by the offset vectorized. ``off`` maps
    runcol → docID offset (empty after the first level: ids already global).
    Associative, so hierarchical multi-level merging yields identical bytes.
    """
    pdf = pdf.sort_values(runcol)  # run order == docID order (disjoint ranges)
    d_parts: list[bytes] = []
    bl_parts: list[bytes] = []
    prev_last = 0
    gmin = -1
    df = 0
    cf = 0
    for rk, db, mind, maxd, bl, rdf, rcf in zip(
        pdf[runcol], pdf["docids"], pdf["min_doc"], pdf["max_doc"],
        pdf["block_last"], pdf["df"], pdf["cf"]
    ):
        o = off.get(int(rk), 0)
        gfirst = int(mind) + o
        k = 1  # length of the first varint in db
        while db[k - 1] & 0x80:
            k += 1
        d_parts.append(encode_varint(np.array([gfirst - prev_last], dtype=np.uint64)))
        d_parts.append(db[k:])
        bl_parts.append((np.frombuffer(bl, dtype=np.int64) + o).tobytes() if o else bytes(bl))
        prev_last = int(maxd) + o
        if gmin < 0:
            gmin = gfirst
        df += int(rdf)
        cf += int(rcf)
    return {
        "df": df,
        "cf": cf,
        "min_doc": gmin,
        "max_doc": prev_last,
        "docids": b"".join(d_parts),
        "tfs": b"".join(pdf["tfs"]),
        "block_last": b"".join(bl_parts),
        "block_max_tf": b"".join(pdf["block_max_tf"]),
    }


def merge_segments(spark: SparkSession, index_dir: str, fanin: int | None = None) -> dict:
    """segments/*.parquet → merged/ + stats/ + doc_meta/ + corpus_stats.json.

    Applies the global docID offsets during the first concatenation level
    (free — only first varints are rewritten). ``fanin`` bounds how many runs
    any single reduce task concatenates: with more partitions than ``fanin``,
    intermediate hierarchical levels merge ``fanin`` adjacent runs at a time
    (within their salt shard, so skew bounds still hold) — the tree merge a
    10^6-partition build needs so no task ever sees a million runs."""
    offsets = _load_offsets(index_dir)
    off_b = spark.sparkContext.broadcast(offsets)
    seg = spark.read.parquet(os.path.join(index_dir, "segments"))
    n_pids = max(offsets) + 1

    # global per-term stats (partial sums per segment row → tiny shuffle)
    stats = seg.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    stats.write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))
    stats = spark.read.parquet(os.path.join(index_dir, "stats"))

    # span per term: contiguous pid ranges per shard, sized to bound skew
    span_col = F.greatest(
        F.lit(1),
        (F.lit(n_pids) / F.ceil(F.col("df") / F.lit(TARGET_POSTINGS_PER_SHARD))).cast("int"),
    )
    term_span = stats.select("term", span_col.alias("span"))

    salted = seg.join(term_span, "term").withColumn(
        "shard", (F.col("pid") / F.col("span")).cast("int")
    )

    # runkey = run index within the (term, shard) group, ascending with pid
    # (shard = pid // span ⇒ runkey = pid % span); offsets are applied at the
    # FIRST concatenation level, keyed by original pid
    level = salted.withColumn("runkey", (F.col("pid") % F.col("span")).cast("long"))
    width = n_pids  # upper bound on runs per (term, shard) group
    first_level = True

    def make_level(apply_offsets: bool, group_runs: int | None):
        """Build the applyInPandas fn for one merge level. group_runs=None →
        final level (collapse to one row per (term, shard))."""
        def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            off = off_b.value if apply_offsets else {}
            row = _concat_runs(pdf, off, "pid" if apply_offsets else "runkey")
            out = {"term": key[0], "shard": int(key[1]), **row}
            if group_runs is not None:
                out["runkey"] = int(key[2])
            return pd.DataFrame([out])[
                [f.name for f in (INTERMEDIATE_SCHEMA if group_runs is not None else MERGED_SCHEMA).fields]
            ]
        return fn

    while fanin and width > fanin:
        grouped = level.withColumn("gk", (F.col("runkey") / F.lit(fanin)).cast("long"))
        level = grouped.groupBy("term", "shard", "gk").applyInPandas(
            make_level(first_level, fanin), schema=INTERMEDIATE_SCHEMA
        )
        first_level = False
        width = -(-width // fanin)

    # persist before repartitionByRange: the range partitioner's sampling
    # pass would otherwise EXECUTE the whole merge twice (measured ~2x)
    merged = level.groupBy("term", "shard").applyInPandas(
        make_level(first_level, None), schema=MERGED_SCHEMA
    ).persist()
    (
        merged.repartitionByRange(max(8, n_pids), "term")
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        # small row groups → parquet min/max term stats prune at ~few-rows
        # granularity; without this, a 3-head-term query decompressed every
        # blob in a 100MB+ row group (measured 72s vs 2s at 10M docs)
        .option("parquet.block.size", 8 * 1024 * 1024)
        .parquet(os.path.join(index_dir, "merged"))
    )
    merged.unpersist()

    # globalize the forward index: doc_id = local rank + partition offset
    # (slim columns only — content never takes this path)
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "pid int, _off long"
    )
    meta_local = spark.read.parquet(os.path.join(index_dir, "doc_meta_local"))
    meta_cols = ["repo", "path", "commit", "lang", "doc_len"] + (
        ["ts"] if "ts" in meta_local.columns else []  # S4 doc-time passthrough
    )
    (
        meta_local.join(F.broadcast(off_df), "pid")
        .select((F.col("local_doc_id") + F.col("_off")).alias("doc_id"), *meta_cols)
        .write.mode("overwrite")
        # bounded row groups: the serving path (scorer._meta_lookup, behind
        # the rare-term doc_len fetch and the top-k gather) decodes and
        # caches whole row groups, so this bounds the unit it reads. It
        # prunes by footer doc_id min/max, which only helps where ranges
        # are narrow: this write does not sort by doc_id, and a task packs
        # several pids' rows, so its groups' ranges overlap and a lookup
        # visits every group whose range covers a wanted id
        .option("parquet.block.size", 8 * 1024 * 1024)
        .parquet(os.path.join(index_dir, "doc_meta"))
    )

    meta = spark.read.parquet(os.path.join(index_dir, "doc_meta"))
    agg = meta.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"), F.max("doc_id").alias("max_doc")
    ).first()
    n_terms = stats.count()
    corpus_stats = {
        "n_docs": int(agg["n"]),
        "avgdl": float(agg["avgdl"]),
        "max_doc_id": int(agg["max_doc"]),
        "n_terms": int(n_terms),
        "n_pids": int(n_pids),
    }
    # the serving caches' generation stamp: written after every merged
    # artifact, and atomically so a query racing a refresh never parses a
    # torn file (build_field_filters re-stamps it after rewriting filters/)
    save_json_atomic(os.path.join(index_dir, "corpus_stats.json"), corpus_stats)
    return dict(corpus_stats)
