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
  ``_``-prefixed names (invisible to Spark/pyarrow dataset scans), a journal
  records the intended swap, and only then are retired manifests/files
  removed and the compacted manifest published. A crash at ANY point leaves
  either the original state (no journal yet) or a journal whose staged
  files are complete — ``reconcile`` rolls the swap FORWARD idempotently, so
  doc counts are never double-counted and later partitions' global docIDs
  never shift. ``merge_segments`` reconciles before reading manifests.

Global docIDs are unchanged: offsets derive from manifest counts in pid
order, and compaction preserves both pid order and per-group totals. Each
swap re-publishes the merge's (pid, offset, n_docs) table without the
retired pids, so the published index keeps serving until the next merge.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from miru_spark.index.build import write_forward_index, write_parquet_atomic
from miru_spark.index.merge import concat_groups, load_pid_offsets, republish_without, whole_groups
from miru_spark.storage import read_json_files, save_json_atomic


def _load_manifests(index_dir: str) -> list[dict]:
    reconcile(index_dir)
    manifests = read_json_files(os.path.join(index_dir, "manifests")).values()
    return sorted(manifests, key=lambda m: m["pid"])


def _finish_swap(index_dir: str, journal: dict) -> None:
    """Roll a journaled group swap FORWARD (idempotent: every step tolerates
    having already happened). Order: retire old manifests, promote staged
    data, publish compacted manifest, re-publish the offset table, retire
    old data (after no table names it), drop journal."""
    man_dir = os.path.join(index_dir, "manifests")
    for pid in journal["retired_pids"]:
        p = os.path.join(man_dir, f"partition_{pid}.json")
        if os.path.exists(p):
            os.remove(p)
    for staged, final in journal["promote"]:
        if os.path.exists(staged):
            os.replace(staged, final)
    mpath = os.path.join(man_dir, f"partition_{journal['manifest']['pid']}.json")
    save_json_atomic(mpath, journal["manifest"])
    republish_without(index_dir, journal["retired_pids"])
    for f_ in journal["retired_files"]:
        if os.path.exists(f_):
            os.remove(f_)
    os.remove(journal["_path"])


def reconcile(index_dir: str) -> int:
    """Complete any interrupted compaction swaps (called by merge before
    reading manifests). A journal's staged files are durable before the
    journal itself, so forward is always the safe direction. Returns the
    number of swaps completed."""
    man_dir = os.path.join(index_dir, "manifests")
    if not os.path.isdir(man_dir):
        return 0
    journals = read_json_files(man_dir, ".journal")
    for name, journal in journals.items():
        journal["_path"] = os.path.join(man_dir, name)
        _finish_swap(index_dir, journal)
    # sweep staged _compact_* files no surviving journal references: they are
    # orphans from a crash BEFORE their journal was written — nothing will
    # ever promote them, so without this they accumulate forever.  Files a
    # journal still lists stay put (rolling forward is that journal's job).
    referenced = {
        os.path.abspath(staged)
        for journal in read_json_files(man_dir, ".journal").values()
        for staged, _final in journal["promote"]
    }
    for sub in ("segments", "doc_meta_local"):
        d = os.path.join(index_dir, sub)
        if not os.path.isdir(d):
            continue
        for f_ in os.listdir(d):
            p = os.path.join(d, f_)
            if f_.startswith("_compact_") and os.path.abspath(p) not in referenced:
                os.remove(p)
    return len(journals)


def compact(index_dir: str, target_docs: int = 1_000_000) -> dict:
    """Greedily group adjacent pids until ~target_docs, rewrite each group
    as one segment. Driver-side file rewrite (segments are small relative to
    the corpus; a Spark job version would map over groups identically).
    Returns {groups, before_partitions, after_partitions}."""
    manifests = _load_manifests(index_dir)
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

    seg_dir = os.path.join(index_dir, "segments")
    meta_dir = os.path.join(index_dir, "doc_meta_local")
    man_dir = os.path.join(index_dir, "manifests")
    n_before = len(manifests)

    for gi, group in enumerate(groups):
        if len(group) == 1:
            continue  # nothing to compact
        # local offsets within the group: cumulative docs in pid order
        off, acc = {}, 0
        for m in group:
            off[m["pid"]] = acc
            acc += m["n_docs"]
        # --- postings: the merge kernel over the group's runs in (term, pid) order
        seg = pa.concat_tables([pq.read_table(m["segment_file"]) for m in group])
        seg = seg.sort_by([("term", "ascending"), ("pid", "ascending")])
        new_pid = group[0]["pid"]
        out = pa.Table.from_batches(
            [
                concat_groups(batch, starts, ("term",), "pid", off)
                for batch, starts in whole_groups(seg.to_batches(), ("term",))
            ]
        )
        out = out.add_column(1, "pid", pa.array(np.full(out.num_rows, new_pid, np.int32)))
        new_seg = os.path.join(seg_dir, f"seg_{new_pid}.parquet")
        new_meta = os.path.join(meta_dir, f"meta_{new_pid}.parquet")
        # stage under _-prefixed names: invisible to spark/pyarrow dataset
        # scans, and the live seg_{new_pid} stays the ORIGINAL (manifest-
        # consistent) bytes until the journaled swap promotes the staged copy
        staged_seg = os.path.join(seg_dir, f"_compact_seg_{new_pid}.parquet")
        staged_meta = os.path.join(meta_dir, f"_compact_meta_{new_pid}.parquet")
        write_parquet_atomic(out, staged_seg)

        # --- forward index: concat with rebased local ids
        metas = []
        for m in group:
            t = pq.read_table(m["meta_file"]).to_pandas()
            t["local_doc_id"] = t["local_doc_id"] + off[m["pid"]]
            t["pid"] = new_pid
            metas.append(t)
        meta_out = pd.concat(metas, ignore_index=True)
        mschema = pq.read_schema(group[0]["meta_file"])
        write_forward_index(pa.Table.from_pandas(meta_out[[f.name for f in mschema]], schema=mschema), staged_meta)

        # --- journal the swap (staged data durable first), then roll forward
        manifest = {
            "pid": new_pid,
            "n_docs": int(sum(m["n_docs"] for m in group)),
            "n_tokens": int(sum(m["n_tokens"] for m in group)),
            "n_postings": pc.sum(out["df"]).as_py(),
            "n_terms": out.num_rows,
            "doc_id_start": 0,
            "doc_id_end": int(sum(m["n_docs"] for m in group)) - 1,
            "segment_file": new_seg,
            "meta_file": new_meta,
            "status": "compacted",
        }
        journal = {
            "manifest": manifest,
            "retired_pids": [m["pid"] for m in group[1:]],
            "retired_files": [
                f_
                for m in group[1:]
                for f_ in (m["segment_file"], m["meta_file"])
                if f_ not in (new_seg, new_meta)
            ],
            "promote": [[staged_seg, new_seg], [staged_meta, new_meta]],
        }
        jpath = os.path.join(man_dir, f"compact_{new_pid}.journal")
        save_json_atomic(jpath, journal)
        journal["_path"] = jpath
        _finish_swap(index_dir, journal)

    return {
        "groups": len(groups),
        "before_partitions": n_before,
        "after_partitions": len(_load_manifests(index_dir)),
    }
