"""Segment compaction: merge many small partitions into few large ones.

miru amortizes delta-index merges with "chits" and a largest-first policy
(miru-service/.../partition/MiruMergeChits.java:8-15, merge at
MiruPartitionAccessor.java:362-388): small deltas accumulate, then compact
into the persistent index. Our streaming appends (streaming/ingest.py) create
one small index partition per micro-batch partition — after a day of
micro-batches, thousands of tiny segments slow the merge and the manifest
scan. ``compact`` rewrites groups of ADJACENT pids (pid order = docID order)
into single segments:

- posting runs concatenate with the merge's zero-decode first-varint
  kernel (miru_spark.index.merge.concat_groups) using LOCAL offsets =
  cumulative doc counts within the group — docIDs keep their
  partition-local meaning, so the global merge is untouched semantically;
- forward-index rows concatenate with the same local-id rebasing;
- the multi-file group swap is JOURNALED: compacted data is staged under
  ``_compact_``-prefixed final names (invisible to Spark/pyarrow dataset
  scans), a journal {manifest, retired_pids} records the intended swap (the
  files it touches are named from those pids), and only then are retired
  manifests/files removed and the compacted manifest published. A crash at
  ANY point leaves either the original state (no journal yet) or a journal
  whose staged files are complete — ``reconcile`` rolls the swap FORWARD
  idempotently, so doc counts are never double-counted and later partitions'
  global docIDs never shift. ``merge_segments`` reconciles before reading
  manifests.

Global docIDs are unchanged: offsets derive from manifest counts in pid
order, and compaction preserves both pid order and per-group totals. Each
swap re-publishes the merge's (pid, offset, n_docs) table without the
retired pids, so the published index keeps serving until the next merge.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from miru_spark.index.build import manifest_path, meta_path, segment_path, write_forward_index, write_parquet_atomic
from miru_spark.index.merge import concat_groups, load_pid_offsets, republish_without, whole_groups
from miru_spark.storage import read_json_files, save_json_atomic


def load_manifests(index_dir: str) -> list[dict]:
    """Every partition's manifest in pid order, after completing any
    interrupted compaction swap."""
    reconcile(index_dir)
    manifests = read_json_files(os.path.join(index_dir, "manifests")).values()
    return sorted(manifests, key=lambda m: m["pid"])


def _journal_path(index_dir: str, pid: int) -> str:
    return os.path.join(index_dir, "manifests", f"compact_{pid}.journal")


def _staged_files(index_dir: str, pid: int) -> list[tuple[str, str]]:
    """(staged, final) data files of compacted ``pid``."""
    return [
        (os.path.join(os.path.dirname(final), "_compact_" + os.path.basename(final)), final)
        for final in (segment_path(index_dir, pid), meta_path(index_dir, pid))
    ]


def _finish_swap(index_dir: str, journal: dict) -> None:
    """Roll a journaled group swap FORWARD (idempotent: every step tolerates
    having already happened). Order: retire old manifests, promote staged
    data, publish compacted manifest, re-publish the offset table, retire
    old data (after no table names it), drop journal."""
    pid, retired = journal["manifest"]["pid"], journal["retired_pids"]
    for p in [manifest_path(index_dir, r) for r in retired]:
        if os.path.exists(p):
            os.remove(p)
    for staged, final in _staged_files(index_dir, pid):
        if os.path.exists(staged):
            os.replace(staged, final)
    save_json_atomic(manifest_path(index_dir, pid), journal["manifest"])
    republish_without(index_dir, retired)
    for p in [f(index_dir, r) for r in retired for f in (segment_path, meta_path)]:
        if os.path.exists(p):
            os.remove(p)
    os.remove(_journal_path(index_dir, pid))


def reconcile(index_dir: str) -> int:
    """Complete any interrupted compaction swaps (called by merge before
    reading manifests). A journal's staged files are durable before the
    journal itself, so forward is always the safe direction. Returns the
    number of swaps completed."""
    man_dir = os.path.join(index_dir, "manifests")
    if not os.path.isdir(man_dir):
        return 0
    journals = read_json_files(man_dir, ".journal").values()
    for journal in journals:
        _finish_swap(index_dir, journal)
    # sweep staged _compact_* files no surviving journal names: they are
    # orphans from a crash BEFORE their journal was written — nothing will
    # ever promote them, so without this they accumulate forever.  Files a
    # journal still names stay put (rolling forward is that journal's job).
    referenced = {
        staged
        for journal in read_json_files(man_dir, ".journal").values()
        for staged, _final in _staged_files(index_dir, journal["manifest"]["pid"])
    }
    for sub in ("segments", "doc_meta_local"):
        d = os.path.join(index_dir, sub)
        if not os.path.isdir(d):
            continue
        for f_ in os.listdir(d):
            p = os.path.join(d, f_)
            if f_.startswith("_compact_") and p not in referenced:
                os.remove(p)
    return len(journals)


def compact(index_dir: str, target_docs: int = 1_000_000) -> dict:
    """Greedily group adjacent pids until ~target_docs, rewrite each group
    as one segment. Driver-side file rewrite (segments are small relative to
    the corpus; a Spark job version would map over groups identically).
    Returns {groups, before_partitions, after_partitions}."""
    manifests = load_manifests(index_dir)
    published = set(load_pid_offsets(index_dir)[0].tolist())
    groups: list[list[dict]] = []
    cur: list[dict] = []
    cur_docs = 0
    for m in manifests:
        # merged pids and pids appended since never share a group
        if cur and (
            cur_docs + m["n_docs"] > target_docs
            or (m["pid"] in published) != (cur[-1]["pid"] in published)
        ):
            groups.append(cur)
            cur, cur_docs = [], 0
        cur.append(m)
        cur_docs += m["n_docs"]
    if cur:
        groups.append(cur)

    for group in groups:
        if len(group) == 1:
            continue  # nothing to compact
        # local offsets within the group: cumulative docs in pid order
        off, acc = {}, 0
        for m in group:
            off[m["pid"]] = acc
            acc += m["n_docs"]
        new_pid = group[0]["pid"]
        # stage under _-prefixed names: invisible to spark/pyarrow dataset
        # scans, and the live files of new_pid stay the ORIGINAL (manifest-
        # consistent) bytes until the journaled swap promotes the staged copy
        (staged_seg, _), (staged_meta, _) = _staged_files(index_dir, new_pid)

        # --- postings: the merge kernel over the group's runs in (term, pid) order
        seg = pa.concat_tables([pq.read_table(segment_path(index_dir, m["pid"])) for m in group])
        seg = seg.sort_by([("term", "ascending"), ("pid", "ascending")])
        out = pa.Table.from_batches(
            [
                concat_groups(batch, starts, ("term",), "pid", off)
                for batch, starts in whole_groups(seg.to_batches(), ("term",))
            ]
        )
        out = out.add_column(1, "pid", pa.array(np.full(out.num_rows, new_pid, np.int32)))
        write_parquet_atomic(out, staged_seg)

        # --- forward index: concat with rebased local ids
        metas = []
        for m in group:
            t = pq.read_table(meta_path(index_dir, m["pid"]))
            local = pc.add(t["local_doc_id"], off[m["pid"]])
            t = t.set_column(t.schema.get_field_index("local_doc_id"), "local_doc_id", local)
            pids = pa.array(np.full(t.num_rows, new_pid, np.int32))
            metas.append(t.set_column(t.schema.get_field_index("pid"), "pid", pids))
        write_forward_index(pa.concat_tables(metas), staged_meta)

        # --- journal the swap (staged data durable first), then roll forward
        n_docs = int(sum(m["n_docs"] for m in group))
        manifest = {
            "pid": new_pid,
            "n_docs": n_docs,
            "n_tokens": int(sum(m["n_tokens"] for m in group)),
            "n_postings": pc.sum(out["df"]).as_py(),
            "n_terms": out.num_rows,
            "doc_id_start": 0,
            "doc_id_end": n_docs - 1,
            "status": "compacted",
        }
        journal = {"manifest": manifest, "retired_pids": [m["pid"] for m in group[1:]]}
        save_json_atomic(_journal_path(index_dir, new_pid), journal)
        _finish_swap(index_dir, journal)

    return {
        "groups": len(groups),
        "before_partitions": len(manifests),
        "after_partitions": len(load_manifests(index_dir)),
    }
