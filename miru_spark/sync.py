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
  rewrites). Data files copy BEFORE the manifest (the same
  durability order as the build), so an interrupted sync leaves either a
  complete partition or a resumable gap — never a manifest pointing at
  missing bytes.
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
import shutil
import uuid

from miru_spark.index.merge import republish_without
from miru_spark.jsonio import load_json as _load_json
from miru_spark.jsonio import save_json_atomic as _write_atomic_json
from miru_spark.schema import check_additive, load_schema, save_schema

_PROGRESS = "sync_progress.json"


def _manifest_fingerprint(m: dict) -> str:
    return json.dumps(
        {k: m[k] for k in ("pid", "n_docs", "n_tokens", "n_postings", "n_terms")},
        sort_keys=True,
    )


def _copy_atomic(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = dst + f".tmp-{uuid.uuid4().hex}"
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)


def _sync_removal_log(src_dir: str, dst_dir: str) -> int:
    """Version-guarded merge of the removal log (higher version wins per
    doc — MiruIndexer.java:140-147 applied across clusters)."""
    from miru_spark import roaring
    import numpy as np

    src_log = _load_json(os.path.join(src_dir, "removal_log.json"), None)
    if src_log is None:
        return 0
    dst_path = os.path.join(dst_dir, "removal_log.json")
    dst_log = _load_json(dst_path, {"versions": {}, "removed": []})
    removed = set(dst_log["removed"])
    src_removed_set = set(src_log["removed"])  # hoisted: O(1) per key below
    changed = 0
    for key, ver in src_log["versions"].items():
        if ver > dst_log["versions"].get(key, -1):
            dst_log["versions"][key] = ver
            src_removed = int(key) in src_removed_set
            if src_removed and int(key) not in removed:
                removed.add(int(key))
                changed += 1
            elif not src_removed and int(key) in removed:
                removed.discard(int(key))
                changed += 1
            else:
                changed += 1  # version bump alone must persist too
    if changed:
        dst_log["removed"] = sorted(removed)
        ids = np.array(dst_log["removed"], dtype=np.int64)
        # bitmap (data) before log (authority) — same order as removal.py
        with open(os.path.join(dst_dir, "removed.roaring") + ".tmp", "wb") as f:
            f.write(roaring.from_array(ids))
        os.replace(os.path.join(dst_dir, "removed.roaring") + ".tmp",
                   os.path.join(dst_dir, "removed.roaring"))
        _write_atomic_json(dst_path, dst_log)
    return changed


def sync_index(src_dir: str, dst_dir: str) -> dict:
    """One sync pass. Returns {shipped_pids, skipped_pids, removal_ops,
    schema_synced}. Idempotent; safe to interrupt and re-run."""
    os.makedirs(dst_dir, exist_ok=True)

    # complete any interrupted compaction swap on the SOURCE before reading
    # its manifests — a torn manifest set would ship (and retire) wrongly
    from miru_spark.index.compact import reconcile

    reconcile(src_dir)

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

    man_dir = os.path.join(src_dir, "manifests")
    progress_path = os.path.join(dst_dir, _PROGRESS)
    progress: dict = _load_json(progress_path, {})
    shipped, skipped = [], []
    src_pids: set[int] = set()
    names = sorted(n for n in os.listdir(man_dir) if n.endswith(".json"))
    for name in names:
        with open(os.path.join(man_dir, name)) as f:
            m = json.load(f)
        pid = m["pid"]
        src_pids.add(pid)
        fp = _manifest_fingerprint(m)
        dst_man = os.path.join(dst_dir, "manifests", name)
        if progress.get(str(pid)) == fp and os.path.exists(dst_man):
            skipped.append(pid)
            continue
        # ship data files (atomic copies) BEFORE the manifest
        dst_seg = os.path.join(dst_dir, "segments", os.path.basename(m["segment_file"]))
        dst_meta = os.path.join(dst_dir, "doc_meta_local", os.path.basename(m["meta_file"]))
        _copy_atomic(m["segment_file"], dst_seg)
        _copy_atomic(m["meta_file"], dst_meta)
        dst_m = dict(m, segment_file=dst_seg, meta_file=dst_meta, status="synced")
        os.makedirs(os.path.dirname(dst_man), exist_ok=True)
        _write_atomic_json(dst_man, dst_m)
        progress[str(pid)] = fp
        _write_atomic_json(progress_path, progress)  # cursor AFTER durable ship
        shipped.append(pid)

    # retire replica partitions the source no longer has (compaction folded
    # them into a surviving pid): re-publish the offset table without them,
    # then delete their data files, then their manifests, so an interrupted
    # pass leaves no published pid without files and the next one finishes.
    retired = []
    dst_man_dir = os.path.join(dst_dir, "manifests")
    if os.path.isdir(dst_man_dir):
        for n in sorted(os.listdir(dst_man_dir)):
            if not n.endswith(".json"):
                continue
            with open(os.path.join(dst_man_dir, n)) as f:
                dm = json.load(f)
            if dm["pid"] not in src_pids:
                retired.append((n, dm))
    republish_without(dst_dir, [dm["pid"] for _, dm in retired])
    for n, dm in retired:
        for f_ in (dm["segment_file"], dm["meta_file"]):
            if os.path.exists(f_):
                os.remove(f_)
        os.remove(os.path.join(dst_man_dir, n))
        progress.pop(str(dm["pid"]), None)
        _write_atomic_json(progress_path, progress)

    removal_ops = _sync_removal_log(src_dir, dst_dir)
    return {
        "shipped_pids": shipped,
        "skipped_pids": skipped,
        "retired_pids": [dm["pid"] for _, dm in retired],
        "removal_ops": removal_ops,
        "schema_synced": schema_synced,
    }
