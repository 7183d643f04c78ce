"""Cross-cluster index sync (S16): cursor-based, incremental, resumable.

miru-sync ships WAL activities per (tenant, partition) with durable
progress cursors; the receiving cluster indexes what arrives
(miru-sync-deployable/.../MiruSyncSender.java:74-300 — forward/reverse
progress rows, per-partition cursors, batch ship, resume from cursor).
The Spark-native analog ships this engine's durable unit — the per-
partition SEGMENT (postings + forward-index rows + manifest) — because
segments ARE the WAL here (build checkpoints, SURVEY.md S2):

- ``sync_index(src, dst)`` diffs manifests: a pid is shipped iff the
  destination has no manifest for it or the manifest changed (compaction
  rewrites). Manifests and compaction journals hold pids and counts, no
  paths: a pid's files copy to the same ``build.segment_path``/``meta_path``
  names under the destination BEFORE the manifest (the same
  durability order as the build), so an interrupted sync leaves either a
  complete partition or a resumable gap — never a manifest without its bytes.
- progress lives in ``dst/sync_progress.json`` (atomic write-then-rename):
  pid → source manifest fingerprint. Re-running sync is a no-op for
  already-shipped unchanged pids — the sip-cursor contract.
- the removal log syncs by VERSION-GUARDED merge (same rule as the WAL
  replay: higher version wins per doc) — a replica never resurrects a doc
  the source deleted later, regardless of sync order.
- ``schema.json`` syncs with the additive check — a replica refuses a
  non-additive divergence instead of silently mixing schemas.

The receiver becomes queryable by running ``streaming.ingest.refresh``
(merge + filters), exactly like a local build — mirroring miru, where the
receiver indexes shipped activities rather than copying index bytes.
"""

from __future__ import annotations

import json
import os

from miru_spark.index import removal
from miru_spark.index.build import manifest_path, meta_path, segment_path
from miru_spark.index.merge import republish_without
from miru_spark.schema import check_additive, load_schema, save_schema
from miru_spark.storage import copy_atomic, load_json, read_json_files, save_json_atomic

_PROGRESS = "sync_progress.json"


def _manifest_fingerprint(m: dict) -> str:
    return json.dumps(
        {k: m[k] for k in ("pid", "n_docs", "n_tokens", "n_postings", "n_terms")},
        sort_keys=True,
    )


def sync_index(src_dir: str, dst_dir: str) -> dict:
    """One sync pass. Returns {shipped_pids, skipped_pids, removal_ops,
    schema_synced}. Idempotent; safe to interrupt and re-run."""
    os.makedirs(dst_dir, exist_ok=True)

    # complete any interrupted compaction swap on the SOURCE before reading
    # its manifests — a torn manifest set would ship (and retire) wrongly
    from miru_spark.index.compact import load_manifests

    src_manifests = load_manifests(src_dir)

    # schema first (additive guard): refuse divergent replicas loudly
    schema_synced = False
    src_schema = load_schema(src_dir)
    if src_schema is not None:
        dst_schema = load_schema(dst_dir)
        if dst_schema is None:
            save_schema(dst_dir, src_schema)
            schema_synced = True
        elif dst_schema.fields != src_schema.fields:
            check_additive(dst_schema, src_schema)
            save_schema(dst_dir, src_schema)
            schema_synced = True

    progress_path = os.path.join(dst_dir, _PROGRESS)
    progress: dict = load_json(progress_path, {})
    shipped, skipped = [], []
    src_pids = {m["pid"] for m in src_manifests}
    for m in src_manifests:
        pid = m["pid"]
        fp = _manifest_fingerprint(m)
        dst_man = manifest_path(dst_dir, pid)
        if progress.get(str(pid)) == fp and os.path.exists(dst_man):
            skipped.append(pid)
            continue
        # ship data files (atomic copies) BEFORE the manifest
        for path in (segment_path, meta_path):
            copy_atomic(path(src_dir, pid), path(dst_dir, pid))
        os.makedirs(os.path.dirname(dst_man), exist_ok=True)
        save_json_atomic(dst_man, dict(m, status="synced"))
        progress[str(pid)] = fp
        save_json_atomic(progress_path, progress)  # cursor AFTER durable ship
        shipped.append(pid)

    # retire replica partitions the source no longer has (compaction folded
    # them into a surviving pid): re-publish the offset table without them,
    # then delete their data files, then their manifests, so an interrupted
    # pass leaves no published pid without files and the next one finishes.
    retired = []
    dst_man_dir = os.path.join(dst_dir, "manifests")
    if os.path.isdir(dst_man_dir):
        retired = [dm["pid"] for dm in read_json_files(dst_man_dir).values() if dm["pid"] not in src_pids]
    republish_without(dst_dir, retired)
    for pid in retired:
        for p in (segment_path(dst_dir, pid), meta_path(dst_dir, pid)):
            if os.path.exists(p):
                os.remove(p)
        os.remove(manifest_path(dst_dir, pid))
        progress.pop(str(pid), None)
        save_json_atomic(progress_path, progress)

    removal_ops = removal.merge_log(src_dir, dst_dir)
    return {
        "shipped_pids": shipped,
        "skipped_pids": skipped,
        "retired_pids": retired,
        "removal_ops": removal_ops,
        "schema_synced": schema_synced,
    }
