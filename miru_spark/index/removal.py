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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from miru_spark import roaring, storage
from miru_spark.index.build import KEY_COLS

_LOG = "removal_log.json"
_BITMAP = "removed.roaring"

# serving cache: (index_dir, mtime) → sorted removed docID array
_REMOVED_CACHE: dict[tuple, np.ndarray] = {}


def _log_path(index_dir: str) -> str:
    return os.path.join(index_dir, _LOG)


def _save(index_dir: str, log: dict) -> None:
    ids = np.array(sorted(int(d) for d in log["removed"]), dtype=np.int64)
    # bitmap (data) BEFORE log (authority) — crash leaves a replayable gap
    storage.put_bytes(os.path.join(index_dir, _BITMAP), roaring.from_array(ids))
    storage.put_bytes(_log_path(index_dir), json.dumps(log).encode())


def _apply(index_dir: str, updates) -> tuple[int, int]:
    """The version-guarded merge into the removal log: an update
    (doc_id, version, removed) applies iff ``version`` beats the doc's
    recorded high-water mark (late/duplicate WAL deliveries are no-ops —
    MiruIndexer.java:140-147), and then records the version and sets the
    doc's bit to ``removed``. Saves bitmap before log when any version moved.
    Returns (bits flipped, versions bumped)."""
    log = storage.load_json(_log_path(index_dir), {"versions": {}, "removed": []})
    removed = set(log["removed"])
    flipped = bumped = 0
    for d, version, rm in updates:
        key = str(int(d))
        if version > log["versions"].get(key, -1):
            log["versions"][key] = version
            bumped += 1  # a version bump must persist even without a bit flip
            if rm != (int(d) in removed):
                (removed.add if rm else removed.discard)(int(d))
                flipped += 1
    if bumped:
        log["removed"] = sorted(removed)
        _save(index_dir, log)
    return flipped, bumped


def remove_docs(index_dir: str, doc_ids: list[int], version: int) -> int:
    """Version-guarded logical delete (``_apply``). Returns the number of
    docs newly removed."""
    return _apply(index_dir, [(d, version, True) for d in doc_ids])[0]


def repair_docs(index_dir: str, doc_ids: list[int], version: int) -> int:
    """Version-guarded restore (``_apply``): clears the removal bit, as miru
    REPAIRs under a newer activity version. Returns the number of docs
    restored."""
    return _apply(index_dir, [(d, version, False) for d in doc_ids])[0]


def merge_log(src_dir: str, dst_dir: str) -> int:
    """Merge ``src_dir``'s removal log into ``dst_dir``'s under the same
    version guard (higher version wins per doc — MiruIndexer.java:140-147
    applied across clusters), so a replica never resurrects a doc the
    source deleted later, whatever the sync order. Returns the number of
    version bumps."""
    src = storage.load_json(_log_path(src_dir), None)
    if src is None:
        return 0
    gone = set(src["removed"])
    return _apply(dst_dir, [(int(k), v, int(k) in gone) for k, v in src["versions"].items()])[1]


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
            log = storage.load_json(p, {"removed": []})
            arr = np.array(sorted(log["removed"]), dtype=np.int64)
        _REMOVED_CACHE[key] = arr
    return arr


def resolve_keys(spark, index_dir: str, keys: list[tuple[str, str, str]]) -> list[int]:
    """(repo, path, commit) → docIDs via the published forward index. Keys
    not present resolve to nothing (removing an unknown doc is a no-op, as
    in miru: the WAL can carry removes for docs a partition never saw).
    ``spark`` is unused: resolution reads doc_meta_local on the driver."""
    return [d for ids in resolve_keys_map(index_dir, keys).values() for d in ids]


def resolve_keys_map(
    index_dir: str, keys: list[tuple[str, str, str]]
) -> dict[tuple[str, str, str], list[int]]:
    """Batch form: key → docIDs, on the driver and without a Spark job, as
    miru applies a REMOVE inside the partition that holds the doc
    (MiruIndexer.java:138-162). Each published pid's doc_meta_local footer
    comes from the serving cache; a row group is read only if its
    repo/path/commit min/max statistics admit some wanted key (files need
    not be key-sorted: compaction concatenates pids), and then only its key
    columns, through ``scorer._meta_block``. doc_id = the pid's offset + row
    (the row is local_doc_id, as the serving path addresses it);
    unpublished pids and rows past a pid's published count stay invisible.
    Cost: the published footers plus the admitted groups' key columns."""
    from miru_spark.query import scorer  # scorer imports this module

    if not keys:
        return {}
    wanted = set(map(tuple, keys))
    key_cols = [pa.array(col, pa.string()) for col in zip(*wanted)]
    gen = scorer._index_generation(index_dir)
    out: dict[tuple[str, str, str], list[int]] = {}
    for pid, offset, n in zip(*scorer._pid_offsets(index_dir, gen)):
        meta_footer = scorer._meta_footer(index_dir, gen, int(pid))
        footer, starts = meta_footer[2], meta_footer[3]
        idx = [footer.schema.names.index(c) for c in KEY_COLS]
        for rg in range(int(np.searchsorted(starts, n, side="left"))):
            if not _admits(footer.row_group(rg), idx, key_cols):
                continue
            blk, _ = scorer._meta_block(meta_footer, rg, KEY_COLS)
            hit = np.ones(len(blk[KEY_COLS[0]]), dtype=bool)
            for c, k in zip(KEY_COLS, key_cols):
                hit &= pc.is_in(blk[c], value_set=k).to_numpy(zero_copy_only=False)
            rows = np.flatnonzero(hit)
            rows = rows[rows + starts[rg] < n]
            cols = [blk[c].take(rows).to_pylist() for c in KEY_COLS]
            for row, key in zip((rows + starts[rg] + offset).tolist(), zip(*cols)):
                if key in wanted:
                    out.setdefault(key, []).append(row)
    return out


def _admits(row_group, idx: list[int], key_cols: list[pa.Array]) -> bool:
    """Whether some key lies inside the row group's min/max statistics on
    every key column (a column without statistics admits every key)."""
    ok = None
    for i, k in zip(idx, key_cols):
        st = row_group.column(i).statistics
        if st is None or not st.has_min_max:
            continue
        inside = pc.and_(pc.greater_equal(k, st.min), pc.less_equal(k, st.max))
        ok = inside if ok is None else pc.and_(ok, inside)
    return ok is None or pc.any(ok).as_py()
