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

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from miru_spark.codec import encode_varint
from miru_spark.storage import data_files, load_json, save_json_atomic

TARGET_POSTINGS_PER_SHARD = 250_000
# row-group bound of merged/ and doc_meta_local: the unit a lookup decodes
ROW_GROUP_BYTES = 8 * 1024 * 1024

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
# stats/: the term dictionary with global counts (merge_segments writes it)
STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
    ]
)


def publish_pid_offsets(index_dir: str, pids, n_docs) -> None:
    """Write the (pid, offset, n_docs) table that maps a doc_id to its
    doc_meta_local row: the last pid whose offset is <= doc_id, row doc_id −
    offset. Not in corpus_stats.json, which every query reads."""
    n = np.asarray(n_docs, dtype=np.int64)
    table = {"pid": np.asarray(pids).tolist(), "offset": (np.cumsum(n) - n).tolist(), "n_docs": n.tolist()}
    save_json_atomic(os.path.join(index_dir, "pid_offsets.json"), table)


def load_pid_offsets(index_dir: str) -> np.ndarray:
    """The published (pid, offset, n_docs) table as a (3, P) int64 array;
    empty before the first merge. An index merged before the table existed
    has no published forward index and raises."""
    path = os.path.join(index_dir, "pid_offsets.json")
    if not os.path.exists(path) and os.path.exists(os.path.join(index_dir, "corpus_stats.json")):
        raise ValueError(f"{index_dir}: index predates pid_offsets.json; re-run merge_segments")
    t = load_json(path, {"pid": [], "offset": [], "n_docs": []})
    return np.array([t["pid"], t["offset"], t["n_docs"]], dtype=np.int64).reshape(3, -1)


def republish_without(index_dir: str, retired) -> None:
    """Re-publish the offset table once compaction folded the ``retired``
    pids into the pid before them (same offsets, fewer pids), then restamp
    the generation: serving caches hold footers of the replaced files."""
    if not os.path.exists(os.path.join(index_dir, "pid_offsets.json")):
        return  # no published table names them: never merged, or merged before it existed
    pid, _, n = load_pid_offsets(index_dir)
    gone = np.isin(pid, list(retired))
    if not gone.any():
        return
    folded = np.zeros_like(n)
    np.add.at(folded, np.maximum.accumulate(np.where(gone, 0, np.arange(pid.size))), n)
    publish_pid_offsets(index_dir, pid[~gone], folded[~gone])
    stats_path = os.path.join(index_dir, "corpus_stats.json")
    save_json_atomic(stats_path, load_json(stats_path, None))


def footer_schema(path: str) -> T.StructType:
    """The schema Spark infers for the parquet directory ``path``, without
    the Spark job that inference runs: Spark takes the footer of the first
    data file in path order (``storage.data_files``); it is read here on the
    driver."""
    first = data_files(path)[0]
    return from_arrow_schema(pq.read_schema(os.path.join(path, first)))


def forward_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The published forward index: doc_meta_local joined to the broadcast
    (pid, offset, n_docs) table, doc_id = offset + local_doc_id. Rows of
    pids not merged yet, or past a pid's published count, stay invisible."""
    pid, off, n = load_pid_offsets(index_dir)
    table = spark.createDataFrame(
        pd.DataFrame({"pid": pid.astype(np.int32), "_off": off, "_n": n}),
        "pid int, _off long, _n long",
    )
    meta_dir = os.path.join(index_dir, "doc_meta_local")
    local = spark.read.schema(footer_schema(meta_dir)).parquet(meta_dir)
    cols = [c for c in local.columns if c not in ("local_doc_id", "pid")]
    return (
        local.join(F.broadcast(table), "pid")
        .filter(F.col("local_doc_id") < F.col("_n"))
        .select((F.col("local_doc_id") + F.col("_off")).alias("doc_id"), *cols)
    )


INTERMEDIATE_SCHEMA = T.StructType(
    MERGED_SCHEMA.fields[:2] + [T.StructField("runkey", T.LongType())] + MERGED_SCHEMA.fields[2:]
)
RUN_COLS = [f.name for f in MERGED_SCHEMA.fields[2:]]


def _group_starts(batch: pa.RecordBatch, keys) -> np.ndarray:
    """Rows of ``batch`` (sorted by ``keys``) where a new group starts.
    Null keys form one group, as under groupBy."""
    new = np.zeros(batch.num_rows, dtype=bool)
    new[:1] = True
    for k in keys:
        col = batch.column(k)
        a, b = col.slice(1), col.slice(0, len(col) - 1)
        ne = pc.not_equal(a, b)
        if ne.null_count:
            ne = pc.if_else(pc.is_null(ne), pc.xor(pc.is_null(a), pc.is_null(b)), ne)
        new[1:] |= ne.to_numpy(zero_copy_only=False)
    return np.flatnonzero(new)


def _combined(batches: list[pa.RecordBatch]) -> pa.RecordBatch:
    """The rows of ``batches`` (one schema) as one contiguous batch."""
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def whole_groups(batches, keys) -> Iterator[tuple[pa.RecordBatch, np.ndarray]]:
    """Regroup Arrow batches sorted by ``keys`` into batches of whole groups:
    each group lands in exactly one yielded batch, wherever the input batch
    boundaries fall. Yields (batch, group start rows). The open group at the
    end of a batch is carried, as a list of slices, into the next batch; a
    batch that only continues it is appended, so a group spanning k batches
    is copied once, not k times. Memory stays bounded by one input batch
    plus one group, and a kernel sees many groups per call instead of one
    Python call per group."""
    carry: list[pa.RecordBatch] = []  # the open group, all of one key
    n_carry = 0
    for batch in batches:
        if not batch.num_rows:
            continue
        starts = _group_starts(batch, keys)
        if carry:
            seam = _combined([carry[-1].slice(carry[-1].num_rows - 1), batch.slice(0, 1)])
            if _group_starts(seam, keys).size == 1:
                starts = starts[1:]  # row 0 continues the open group
                if not starts.size:
                    carry.append(batch)
                    n_carry += batch.num_rows
                    continue
        last = int(starts[-1])
        done = np.concatenate([np.zeros(int(bool(carry)), dtype=np.int64), starts[:-1] + n_carry])
        if done.size:
            yield _combined(carry + [batch.slice(0, last)]), done
        carry, n_carry = [batch.slice(last)], batch.num_rows - last
    if carry:
        yield _combined(carry), np.zeros(1, dtype=np.int64)


def _concat_runs(runs, off: dict, runcol: str) -> dict:
    """Concatenate one group's docID-ordered posting runs WITHOUT decoding.
    ``runs`` maps each RUN_COLS column and ``runcol`` to the group's values,
    as lists in ``runcol`` order (run order == docID order: disjoint
    ranges).

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
    d_parts: list[bytes] = []
    bl_parts: list[bytes] = []
    prev_last = 0
    gmin = -1
    df = 0
    cf = 0
    for rk, db, mind, maxd, bl, rdf, rcf in zip(
        runs[runcol], runs["docids"], runs["min_doc"], runs["max_doc"],
        runs["block_last"], runs["df"], runs["cf"]
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
        "tfs": b"".join(runs["tfs"]),
        "block_last": b"".join(bl_parts),
        "block_max_tf": b"".join(runs["block_max_tf"]),
    }


def concat_groups(batch: pa.RecordBatch, starts, keys, runcol: str, off: dict) -> pa.RecordBatch:
    """One row per group of ``batch`` (sorted by ``keys`` then ``runcol``;
    groups start at the rows ``starts``, as ``whole_groups`` yields them):
    the group's ``keys`` values, then RUN_COLS from ``_concat_runs``."""
    cols = {c: batch.column(c).to_pylist() for c in (runcol, *RUN_COLS)}
    bounds = np.append(starts, batch.num_rows).tolist()
    rows = [
        _concat_runs({c: v[s:e] for c, v in cols.items()}, off, runcol)
        for s, e in zip(bounds[:-1], bounds[1:])
    ]
    return pa.RecordBatch.from_arrays(
        [batch.column(k).take(starts) for k in keys] + [pa.array([r[c] for r in rows]) for c in RUN_COLS],
        names=[*keys, *RUN_COLS],
    )


def merge_segments(spark: SparkSession, index_dir: str, fanin: int | None = None) -> dict:
    """segments/*.parquet → merged/ + stats/ + pid_offsets.json +
    corpus_stats.json.

    The salted segment rows are range-partitioned by (term, shard) into
    ``spark.sql.shuffle.partitions`` partitions and sorted by (term, shard,
    run); one ``mapInArrow`` task per partition hands its whole groups
    (``whole_groups``) to ``concat_groups`` and writes merged/ directly.
    Without ``fanin`` the range sampling runs over the JVM-only segment plan,
    so nothing is cached and the Python kernel runs once. The partition count
    is explicit, so AQE cannot collapse merged/ into one file, and the file
    count does not grow with the number of pids.

    Applies the global docID offsets during the first concatenation level
    (free — only first varints are rewritten). ``fanin`` bounds how many runs
    any single group concatenates: with more partitions than ``fanin``,
    intermediate hierarchical levels merge ``fanin`` adjacent runs at a time
    (within their salt shard, so skew bounds still hold), each after a hash
    exchange on (term, shard, gk) — the tree merge a 10^6-partition build
    needs so no group ever holds a million runs. The range exchange then
    samples the last intermediate level, so its sampling job runs that
    level's kernel once more (the hash exchanges' output is reused).

    The forward index is not rewritten: the (pid, offset, n_docs) table
    addresses doc_meta_local by docID (miru's partition + local docID
    activity index, MiruActivityIndex.java:16-45)."""
    from miru_spark.index.build import SEGMENT_SCHEMA
    from miru_spark.index.compact import load_manifests

    # pids are key-ordered ranges: local rank + offset = global key rank
    pids, n_docs, n_tokens = np.array(
        [(m["pid"], m["n_docs"], m["n_tokens"]) for m in load_manifests(index_dir)], dtype=np.int64
    ).reshape(-1, 3).T
    offsets = dict(zip(pids.tolist(), (np.cumsum(n_docs) - n_docs).tolist()))
    off_b = spark.sparkContext.broadcast(offsets)
    seg = spark.read.schema(from_arrow_schema(SEGMENT_SCHEMA)).parquet(
        os.path.join(index_dir, "segments")
    )
    n_pids = max(offsets) + 1

    # global per-term stats (partial sums per segment row → tiny shuffle)
    stats_dir = os.path.join(index_dir, "stats")
    stats = seg.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    stats.write.mode("overwrite").parquet(stats_dir)
    stats = spark.read.schema(STATS_SCHEMA).parquet(stats_dir)

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
    runcol = "pid"

    def concat(keys, runcol: str, schema: T.StructType):
        """The mapInArrow kernel of one level: one row per ``keys`` group."""
        def fn(batches):
            off = off_b.value if runcol == "pid" else {}
            for batch, starts in whole_groups(batches, keys):
                yield concat_groups(batch, starts, keys, runcol, off).rename_columns(schema.names)

        return fn

    while fanin and width > fanin:
        keys = ("term", "shard", "gk")
        level = (
            level.withColumn("gk", (F.col("runkey") / F.lit(fanin)).cast("long"))
            .select(*keys, runcol, *RUN_COLS)
            .repartition(*keys)
            .sortWithinPartitions(*keys, runcol)
            .mapInArrow(concat(keys, runcol, INTERMEDIATE_SCHEMA), INTERMEDIATE_SCHEMA)
        )
        runcol = "runkey"
        width = -(-width // fanin)

    keys = ("term", "shard")
    (
        level.select(*keys, runcol, *RUN_COLS)
        .repartitionByRange(int(spark.conf.get("spark.sql.shuffle.partitions")), *keys)
        .sortWithinPartitions(*keys, runcol)
        .mapInArrow(concat(keys, runcol, MERGED_SCHEMA), MERGED_SCHEMA)
        .write.mode("overwrite")
        # small row groups → parquet min/max term stats prune at ~few-rows
        # granularity; without this, a 3-head-term query decompressed every
        # blob in a 100MB+ row group (measured 72s vs 2s at 10M docs)
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .parquet(os.path.join(index_dir, "merged"))
    )

    corpus_stats = {
        "n_docs": int(n_docs.sum()),
        "avgdl": int(n_tokens.sum()) / int(n_docs.sum()),
        "max_doc_id": int(n_docs.sum()) - 1,
        "n_terms": int(pads.dataset(stats_dir).count_rows()),
        "n_pids": n_pids,
    }
    publish_pid_offsets(index_dir, pids, n_docs)
    # the serving caches' generation stamp: written after every merged
    # artifact, and atomically so a query racing a refresh never parses a
    # torn file (build_field_filters re-stamps it after rewriting filters/)
    save_json_atomic(os.path.join(index_dir, "corpus_stats.json"), corpus_stats)
    return dict(corpus_stats)
