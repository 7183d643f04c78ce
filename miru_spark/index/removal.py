"""Logical delete / repair for the merged index (miru's F5 removal path).

miru version-guards REMOVE activities into a removal bitmap that is
ANDNOT-ed into every query's candidate mask, and REPAIR restores (and
re-indexes) a doc under a newer version:
  - miru-service/.../stream/MiruIndexer.java:138-162 (remove: set removal
    bit iff activity.version beats the indexed version),
  - miru-api/.../activity/MiruPartitionedActivity.java:14-16 (Type enum:
    ACTIVITY / REPAIR / REMOVE),
  - miru-bitmaps/.../MiruBitmapsRoaring.java:457-505 (buildIndexMask =
    index ANDNOT removal).

The Spark-native analog keeps the index segments IMMUTABLE (they are
parquet; at 100 TB a physical delete is a compaction concern, not a query
concern) and maintains two small side files per index:

  removed.roaring    — roaring bitmap of removed docIDs (the query mask)
  removal_log.json   — docID → version high-water mark (the REMOVE/REPAIR
                       version guard) + removed docID list (authority for
                       rebuilding the bitmap)

Write ordering is bitmap-then-log (data before manifest, the same
resume contract as segments): a crash between the two leaves a bitmap
ahead of the log; the next version-guarded apply rewrites both, and the
log — not the bitmap — is the version authority, so a replay is
idempotent.

Content repair: under this engine's key model (repo, path, commit) an
updated document arrives as a NEW commit → new docID; the pairing is
"append new key + REMOVE old docID". REPAIR here restores a wrongly
removed docID's visibility (clears the bit under a newer version), which
is the query-visible half of miru's repair; re-tokenization of changed
content is a rebuild/compaction concern by construction.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np

from miru_spark import roaring
from miru_spark.index.merge import forward_index

_LOG = "removal_log.json"
_BITMAP = "removed.roaring"

# serving cache: (index_dir, mtime) → sorted removed docID array
_REMOVED_CACHE: dict[tuple, np.ndarray] = {}


def _log_path(index_dir: str) -> str:
    return os.path.join(index_dir, _LOG)


def _load_log(index_dir: str) -> dict:
    p = _log_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"versions": {}, "removed": []}


def _write_atomic(path: str, data: bytes) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _save(index_dir: str, log: dict) -> None:
    ids = np.array(sorted(int(d) for d in log["removed"]), dtype=np.int64)
    # bitmap (data) BEFORE log (authority) — crash leaves a replayable gap
    _write_atomic(os.path.join(index_dir, _BITMAP), roaring.from_array(ids))
    _write_atomic(_log_path(index_dir), json.dumps(log).encode())


def remove_docs(index_dir: str, doc_ids: list[int], version: int) -> int:
    """Version-guarded logical delete. A REMOVE applies to a doc iff
    ``version`` beats that doc's recorded high-water mark (late/duplicate
    WAL deliveries are no-ops — MiruIndexer.java:140-147). Returns the
    number of docs newly removed."""
    log = _load_log(index_dir)
    removed = set(log["removed"])
    applied = changed = 0
    for d in doc_ids:
        key = str(int(d))
        if version > log["versions"].get(key, -1):
            log["versions"][key] = version
            changed += 1  # version bump must persist even without a bit flip
            if int(d) not in removed:
                removed.add(int(d))
                applied += 1
    if changed:
        log["removed"] = sorted(removed)
        _save(index_dir, log)
    return applied


def repair_docs(index_dir: str, doc_ids: list[int], version: int) -> int:
    """Version-guarded restore: clears the removal bit for each doc whose
    recorded version is older than ``version`` (miru REPAIR under a newer
    activity version). Returns the number of docs restored."""
    log = _load_log(index_dir)
    removed = set(log["removed"])
    applied = changed = 0
    for d in doc_ids:
        key = str(int(d))
        if version > log["versions"].get(key, -1):
            log["versions"][key] = version
            changed += 1  # version bump must persist even without a bit flip
            if int(d) in removed:
                removed.discard(int(d))
                applied += 1
    if changed:
        log["removed"] = sorted(removed)
        _save(index_dir, log)
    return applied


def removed_array(index_dir: str) -> np.ndarray:
    """Sorted removed-docID array for the serving path (cached by log
    mtime; empty array when no removals exist)."""
    p = _log_path(index_dir)
    try:
        gen = os.path.getmtime(p)
    except OSError:
        return np.empty(0, dtype=np.int64)
    key = (index_dir, gen)
    arr = _REMOVED_CACHE.get(key)
    if arr is None:
        # sweep this index's stale generations — every remove/repair bumps
        # the mtime, and a long-lived server would otherwise strand one
        # array copy per removal round forever
        for k in [k for k in _REMOVED_CACHE if k[0] == index_dir]:
            del _REMOVED_CACHE[k]
        bp = os.path.join(index_dir, _BITMAP)
        if os.path.exists(bp):
            with open(bp, "rb") as f:
                arr = roaring.to_array(f.read())
        else:  # bitmap lost — rebuild from the log (the authority)
            log = _load_log(index_dir)
            arr = np.array(sorted(log["removed"]), dtype=np.int64)
        _REMOVED_CACHE[key] = arr
    return arr


def resolve_keys(spark, index_dir: str, keys: list[tuple[str, str, str]]) -> list[int]:
    """(repo, path, commit) → docIDs via the merged forward index. Keys not
    present resolve to nothing (removing an unknown doc is a no-op, as in
    miru: the WAL can carry removes for docs a partition never saw)."""
    return [d for ids in resolve_keys_map(spark, index_dir, keys).values() for d in ids]


def resolve_keys_map(
    spark, index_dir: str, keys: list[tuple[str, str, str]]
) -> dict[tuple[str, str, str], list[int]]:
    """Batch form: key → docIDs, ONE broadcast-join job for any number of
    keys (a per-key job would make a 10k-op drain run 10k Spark jobs)."""
    from pyspark.sql import functions as F

    if not keys:
        return {}
    meta = forward_index(spark, index_dir)
    kdf = spark.createDataFrame(
        [(r, p, c) for r, p, c in keys], "repo string, path string, commit string"
    )
    rows = (
        meta.join(F.broadcast(kdf), ["repo", "path", "commit"])
        .select("repo", "path", "commit", "doc_id")
        .collect()
    )
    out: dict[tuple[str, str, str], list[int]] = {}
    for r in rows:
        out.setdefault((r["repo"], r["path"], r["commit"]), []).append(r["doc_id"])
    return out
