"""Structured Streaming ingest: miru's WAL sip-cursor loop, Spark-native.

miru readers consume the WAL incrementally via sip cursors — resumable
offsets advanced only after a durable index write
(miru-api/.../wal/MiruWALClient.java:68-76; the checkpoint-after-durable-
write ordering in miru-stream-plugins/.../fulltext/FullTextGatherer.java:
205-242). The Spark-native equivalents used here:

- WAL + sip cursor      → ``readStream`` file source + streaming checkpoint
                          (offsets live in ``checkpointLocation``)
- partition roll        → each micro-batch appends NEW index partitions
                          (pids continue from the manifest high-water mark)
- append-order docIDs   → docIDs continue from the last assigned id; within
                          a batch they are the (repo, path, commit) rank —
                          matching miru's insertion-ordered activity index
                          (MiruPartitionCursor.java:29-31)
- delta merge ("chits") → ``refresh()`` re-merges segments into the global
                          queryable index (miru merges delta indexes when
                          chits run out, MiruMergeChits.java:8-15)

Idempotency: Structured Streaming may replay a micro-batch after a crash.
``_BATCHES`` records, ATOMICALLY AND BEFORE ANY BUILD WORK, the batch_id →
pid_base reservation (write-then-rename); the build then runs with
resume=True. A replay therefore reuses the crashed batch's reserved pids
and skips per-partition manifests that already completed — the same
documents can never be indexed twice under fresh pids, closing the crash
window between segment build and batch record. A batch is ``done`` only
after its manifests are all durable; the pid high-water mark counts
reservations as well as manifests, so a later batch never collides with a
crashed one's pids.

REMOVE/REPAIR activities (miru MiruPartitionedActivity.Type,
miru-api/.../activity/MiruPartitionedActivity.java:14-16): a batch may
carry an ``op`` column ('add' | 'remove' | 'repair'). Non-add rows are
version-guarded removal-log updates (version = batch_id — WAL order), not
index writes; keys that don't resolve yet (doc appended but not merged)
are journaled to ``pending_ops.json`` and applied by ``refresh()`` right
after the merge, mirroring miru's index-then-mask ordering
(MiruIndexer.java:138-162).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.corpus import CORPUS_SCHEMA
from miru_spark.index import removal
from miru_spark.index.build import (
    build_field_filters, build_segments, key_partition, manifest_path, meta_path, segment_path,
)
from miru_spark.storage import load_json, read_json_files, save_json_atomic

_BATCHES = "stream_batches.json"
_PENDING = "pending_ops.json"


def _load_batches(index_dir: str) -> dict:
    return load_json(os.path.join(index_dir, _BATCHES), {})


def _save_batches(index_dir: str, batches: dict) -> None:
    save_json_atomic(os.path.join(index_dir, _BATCHES), batches)


def _bases(index_dir: str, batches: dict | None = None) -> int:
    """Next pid: the high-water mark over BOTH durable manifests and batch
    reservations — a crashed batch's reserved pids stay claimed until its
    replay completes them, so later batches never collide. (docIDs need no
    base: segments store partition-local ids; the merge assigns global ids
    from manifest counts in pid order, which IS arrival order here.)"""
    man_dir = os.path.join(index_dir, "manifests")
    pid_base = 0
    if os.path.isdir(man_dir):
        for m in read_json_files(man_dir).values():
            pid_base = max(pid_base, m["pid"] + 1)
    if batches is None:
        batches = _load_batches(index_dir)
    for rec in batches.values():
        pid_base = max(pid_base, rec.get("pid_base", 0) + rec.get("n_partitions", 0))
    return pid_base


def _load_pending(index_dir: str) -> list:
    return load_json(os.path.join(index_dir, _PENDING), [])


def _save_pending(index_dir: str, ops: list) -> None:
    save_json_atomic(os.path.join(index_dir, _PENDING), ops)


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    partitions_per_batch: int = 4,
    dedup_store: str | None = None,
) -> None:
    """Index one micro-batch: reserve pids durably, build with resume, mark
    done — idempotent under replay at every crash point. Rows with
    op='remove'/'repair' are journaled for ``refresh()`` instead of built.
    With ``dedup_store`` set, 'add' rows pass through the ingest-time
    near-dup filter (streaming/dedup.py) first — only novel docs are
    indexed; the filter's own journal makes the composition replay-safe
    (a replayed batch re-reads the identical survivor set)."""
    batches = _load_batches(index_dir)
    rec = batches.get(str(batch_id))
    if rec is not None and (
        rec.get("done")
        # legacy record shape ({"pids": [...], "n_docs": N}, written by the
        # pre-reservation code only AFTER a durable build) — treat as done,
        # or a replay would re-index the batch under fresh pids
        or ("pids" in rec and "done" not in rec)
    ):
        return  # replayed batch — already durable, skip (sip-cursor semantics)
    if rec is None:
        rec = {"done": False}
        batches[str(batch_id)] = rec

    if "op" in batch_df.columns:
        if not rec.get("ops_recorded"):
            ops_rows = (
                batch_df.filter(F.col("op").isin("remove", "repair"))
                .select("op", "repo", "path", "commit")
                .collect()
            )
            if ops_rows:
                pending = _load_pending(index_dir)
                pending.extend(
                    {
                        "op": r["op"], "repo": r["repo"], "path": r["path"],
                        "commit": r["commit"], "version": int(batch_id),
                    }
                    for r in ops_rows
                )
                _save_pending(index_dir, pending)
            # a crash before this save re-journals on replay; duplicated
            # pending entries are no-ops under the removal version guard
            rec["ops_recorded"] = True
            _save_batches(index_dir, batches)
        batch_df = batch_df.filter(F.col("op").isNull() | (F.col("op") == "add")).drop("op")
    if dedup_store is not None:
        from miru_spark.streaming.dedup import filter_batch

        batch_df = filter_batch(
            batch_df.sparkSession, batch_df, dedup_store, batch_id
        )
    if batch_df.isEmpty():
        rec["done"] = True
        _save_batches(index_dir, batches)
        return

    # versioned schema guard: appends must be additive vs the index schema
    from miru_spark.schema import register_or_check

    register_or_check(index_dir, batch_df)

    if "pid_base" not in rec:
        rec["pid_base"] = _bases(index_dir, batches)
        rec["n_partitions"] = partitions_per_batch
        _save_batches(index_dir, batches)  # reservation durable BEFORE building
    pid_base = rec["pid_base"]
    # a replay re-executes key_partition, and repartitionByRange SAMPLES its
    # boundaries — partition contents are not guaranteed identical across
    # runs, so per-partition resume (which fingerprints only doc counts)
    # could mix old and new boundaries. Instead: scrub anything a crashed
    # attempt left in this batch's RESERVED pid range and rebuild it whole —
    # idempotence comes from the reservation, not partitioner determinism.
    for pid in range(pid_base, pid_base + rec["n_partitions"]):
        for p in (manifest_path(index_dir, pid), segment_path(index_dir, pid), meta_path(index_dir, pid)):
            if os.path.exists(p):
                os.remove(p)
    keyed = key_partition(batch_df, partitions_per_batch)
    shifted = keyed.withColumn("_pid", (F.col("_pid") + F.lit(pid_base)).cast("int"))
    manifests = build_segments(shifted, index_dir, resume=False).collect()
    rec.update(
        pids=sorted(m["pid"] for m in manifests),
        n_docs=sum(m["n_docs"] for m in manifests),
        done=True,
    )
    _save_batches(index_dir, batches)


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    partitions_per_batch: int = 4,
    available_now: bool = True,
    dedup_store: str | None = None,
):
    """Start the streaming build: parquet files arriving in ``source_dir``
    are tokenized and appended as index partitions. ``available_now=True``
    drains what's there and stops (the batch-incremental mode); False keeps
    a continuous stream. ``dedup_store`` enables ingest-time near-dup
    filtering (streaming/dedup.py) before indexing. Returns the
    StreamingQuery."""
    os.makedirs(index_dir, exist_ok=True)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(source_dir)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: append_batch(
            df, bid, index_dir, partitions_per_batch, dedup_store=dedup_store
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh(spark: SparkSession, index_dir: str) -> dict:
    """Re-merge all segments into the queryable global index (the delta-merge
    analog), then apply journaled REMOVE/REPAIR ops against the fresh
    forward index — miru's index-then-mask ordering. Call after a drain /
    periodically on a live stream."""
    from miru_spark.index.merge import merge_segments

    summary = merge_segments(spark, index_dir)  # also publishes the pid offsets
    build_field_filters(spark, index_dir)
    pending = _load_pending(index_dir)
    if pending:
        # resolve ALL keys in one driver-side lookup (no Spark job; it reads
        # only the doc_meta_local row groups whose key statistics admit a
        # pending key), then apply grouped by (kind, version) — the per-doc
        # version guard makes application order-independent, so grouping
        # loses nothing and a 10k-op drain costs a handful of log writes
        keymap = removal.resolve_keys_map(
            index_dir,
            sorted({(o["repo"], o["path"], o["commit"]) for o in pending}),
        )
        applied = 0
        unresolved: list[dict] = []
        for kind in ("remove", "repair"):
            by_version: dict[int, list[int]] = {}
            for o in pending:
                if o["op"] != kind:
                    continue
                ids = keymap.get((o["repo"], o["path"], o["commit"]), [])
                if ids:
                    by_version.setdefault(int(o["version"]), []).extend(ids)
                else:
                    # key not indexed YET (op outran its add across drains) —
                    # keep it journaled so a later merge that surfaces the key
                    # still applies the version-guarded op, matching miru's
                    # removal version guard instead of dropping it forever
                    unresolved.append(o)
            fn = removal.remove_docs if kind == "remove" else removal.repair_docs
            for version in sorted(by_version):
                applied += fn(index_dir, by_version[version], version)
        _save_pending(index_dir, unresolved)  # only resolved ops leave the journal
        summary["removal_ops_applied"] = applied
        summary["removal_ops_pending"] = len(unresolved)
    summary["n_removed"] = int(removal.removed_array(index_dir).size)
    return summary
