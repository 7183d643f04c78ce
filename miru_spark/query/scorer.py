"""BM25 top-k over the merged index: distributed DataFrame path + local path.

Replaces miru's TF-IDF scorer (miru-stream-plugins/.../fulltext/FullText.java:99-220,
multiplier = queryCount/collectionFrequency at :118-127, per-doc accumulation
:188-199, bounded top-k heap :129-132) with BM25 per the north rule:
``idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)``,
``tf_norm = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``, k1=1.2, b=0.75.
Tie order is miru's: (score desc, docID desc) (FullText.java:294-303).

Two execution paths, rank-identical by test:

- ``search_distributed`` / ``search_batch``: the throughput path, ONE
  DataFrame program (``_bm25_topk``) over a batch of queries —
  ``search_distributed`` is a batch of one. Postings for ONLY the query
  terms are read (parquet predicate pushdown on the term-range-partitioned
  merged index), decoded once per posting row and cut at the published pid
  offsets by one ``mapInArrow`` kernel, exchanged on pid, and solved per
  pid by a second: every live query goes through the same numpy evaluator
  and BM25 code as ``search_local`` (pid-local leaves, global df), with a
  running per-query top-k, as miru solves each partition with its own
  index and a bounded heap (FullText.java:129-132). A ``row_number() <= k``
  window makes the final cross-pid merge (FullTextAnswerMerger.java:31-68).
  Scales to any corpus: no driver materialization, no dense whole-index
  array on a worker, and nothing per query in the plan.

- ``search_local``: the serving-latency path. pyarrow reads only the posting
  rows of the query terms; numpy set algebra evaluates the filter AST
  (AND = intersect, OR = union, pButNotQ = setdiff — the same bitmap algebra
  as miru's MiruBitmapsRoaring.java:162-436, on sorted int arrays instead of
  roaring containers); MaxScore term-level pruning skips whole terms that
  cannot reach the current kth score (the generalization of miru's
  `considerIfLastIdGreaterThanN` pruning, MiruAggregateUtil.java:1130,1181).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark import roaring
from miru_spark.codec import decode_block_meta, decode_postings
from miru_spark.index import removal
from miru_spark.index.build import meta_path
from miru_spark.index.merge import MERGED_SCHEMA, load_pid_offsets, whole_groups
from miru_spark.query import parser as qp

K1 = 1.2
B = 0.75
MAX_WILDCARD_EXPANSION = 1000  # miru's maxWildcardExpansion cap (MiruAggregateUtil.java:1158-1166)


def bm25_idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    return np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_tf_norm(tf, doc_len, avgdl):
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * doc_len / avgdl))


@dataclass
class IndexHandle:
    index_dir: str
    n_docs: int
    avgdl: float

    @classmethod
    def open(cls, index_dir: str) -> "IndexHandle":
        with open(os.path.join(index_dir, "corpus_stats.json")) as f:
            cs = json.load(f)
        return cls(index_dir, cs["n_docs"], cs["avgdl"])


def expand_prefixes(index_dir: str, prefix_set: set[str]) -> dict[str, list[str]]:
    """Prefix → matching dictionary terms (deterministic: term-sorted, capped).
    Uses the stats table (the term dictionary), pyarrow range pushdown."""
    out: dict[str, list[str]] = {}
    if not prefix_set:
        return out
    ds = _dataset(index_dir, "stats")
    for p in prefix_set:
        hi = p + "￿"
        t = ds.to_table(columns=["term"], filter=(pads.field("term") >= p) & (pads.field("term") < hi))
        terms = sorted(x for x in t.column("term").to_pylist() if x.startswith(p))
        out[p] = terms[:MAX_WILDCARD_EXPANSION]
    return out


# --------------------------------------------------------------------- local
# The serving cache (miru serves from memory-resident indexes behind its LAB
# block cache, LabInvertedIndex.java:31-73) is one LRU, _CACHE, bounded by
# the summed bytes of its entries: pyarrow dataset handles, the published pid
# offset table, doc_meta_local footers and row groups, filter bitmaps, dense
# docID → doc_len / ts / all-ids arrays, decoded postings and each scoring
# term's doc lengths aligned with them (miru keeps TF beside the postings the
# same way, LabFieldIndex.java:478-542). An entry larger than the bound is
# served uncached. Postings are keyed (index_dir, gen, term) and every other
# kind (index_dir, gen, kind, ...), so no term collides with another kind.
# The generation is the mtime of corpus_stats.json, which every merge/refresh
# rewrites LAST (atomically) and which compaction re-stamps after it
# re-publishes the offset table; the first call that sees a new generation of
# an index sweeps that index's older ones out, so a long-lived server strands
# nothing across refreshes. The cache lives in every process that serves,
# including each executor Python worker running _score_pids: 32
# workers × this bound (1 GiB) must stay far below one dense doc_meta table
# at 100M docs (~10 GB), which CLAUDE.md bans from workers.
_CACHE_MAX_BYTES = 32 << 20
_LIVE_GENERATION: dict[str, float] = {}


class _ByteLRU:
    """LRU map bounded by the summed byte size of its values (dicts iterate
    in insertion order; hits re-insert at the tail). ``put`` returns the
    value; one larger than the bound is not kept and evicts nothing."""

    def __init__(self):
        self.entries: dict[tuple, tuple[object, int]] = {}
        self.nbytes = 0

    def __contains__(self, key) -> bool:
        return key in self.entries

    def get(self, key):
        hit = self.entries.pop(key, None)
        if hit is None:
            return None
        self.entries[key] = hit
        return hit[0]

    def put(self, key, value, nbytes: int):
        if nbytes <= _CACHE_MAX_BYTES:
            self.pop(key)
            self.entries[key] = (value, nbytes)
            self.nbytes += nbytes
            while self.nbytes > _CACHE_MAX_BYTES:
                self.pop(next(iter(self.entries)))
        return value

    def pop(self, key) -> None:
        old = self.entries.pop(key, None)
        if old is not None:
            self.nbytes -= old[1]


_CACHE = _ByteLRU()
_POSTING_CACHE = _CACHE  # the name perfbench probes posting residency by


def _index_generation(index_dir: str) -> float:
    try:
        gen = os.path.getmtime(os.path.join(index_dir, "corpus_stats.json"))
    except OSError:
        gen = -1.0
    if _LIVE_GENERATION.get(index_dir) != gen:
        _LIVE_GENERATION[index_dir] = gen
        _sweep_stale(index_dir, gen)
    return gen


def _sweep_stale(index_dir: str, gen: float) -> None:
    """Drop every cache entry of ``index_dir`` whose generation is not ``gen``."""
    for k in [k for k in _CACHE.entries if k[0] == index_dir and k[1] != gen]:
        _CACHE.pop(k)


def _cached(key: tuple, load, nbytes=lambda v: v.nbytes):
    """``key``'s cache entry; a miss stores ``load()``, charged ``nbytes(value)``."""
    hit = _CACHE.get(key)
    if hit is None:
        hit = load()
        _CACHE.put(key, hit, nbytes(hit))
    return hit


def _dataset(index_dir: str, part: str) -> pads.Dataset:
    """Cached pyarrow dataset (file discovery is a filesystem walk per call
    otherwise — measured as the bulk of warm-query latency), charged the
    bytes of its file paths."""
    return _cached(
        (index_dir, _index_generation(index_dir), "dataset", part),
        lambda: pads.dataset(os.path.join(index_dir, part)),
        lambda ds: sum(map(len, ds.files)),
    )


def _pid_offsets(index_dir: str, gen: float) -> np.ndarray:
    """The published (pid, offset, n_docs) table, (3, P) int64."""
    return _cached((index_dir, gen, "file", "pid_offsets.json"), lambda: load_pid_offsets(index_dir))


def _meta_footer(index_dir: str, gen: float, pid: int) -> tuple:
    """(cache key, path, footer, row groups' first rows + row count) of a pid's
    file, keyed also by mtime and size: compaction and sync replace it in place."""
    path = meta_path(index_dir, pid)
    st = os.stat(path)
    key = (index_dir, gen, "doc_meta_local", pid, st.st_mtime_ns, st.st_size)

    def load():
        footer = pq.read_metadata(path)
        rows = [footer.row_group(r).num_rows for r in range(footer.num_row_groups)]
        return key, path, footer, np.concatenate([[0], np.cumsum(rows)])

    return _cached(key, load, lambda hit: hit[2].serialized_size + hit[3].nbytes)


def _meta_columns(index_dir: str, gen: float) -> list[str]:
    return _meta_footer(index_dir, gen, int(_pid_offsets(index_dir, gen)[0, 0]))[2].schema.names


def _read_row_group(path: str, footer, row_group: int, columns: list[str]):
    """The one doc_meta_local parquet read of the serving path."""
    with pq.ParquetFile(path, metadata=footer) as pf:
        return pf.read_row_group(row_group, columns=columns)


def _meta_block(meta_footer: tuple, rg: int, columns) -> tuple[dict, int]:
    """Row group ``rg`` of a ``_meta_footer``: its ``columns`` (Arrow arrays) and
    bytes, via the serving cache; a doc_len fetch never decodes display strings."""
    key, path, footer, _ = meta_footer
    key = (*key, rg)
    blk, nbytes = _CACHE.get(key) or ({}, 0)
    need = [c for c in columns if c not in blk]
    if need:
        t = _read_row_group(path, footer, rg, need)
        blk = {**blk, **{c: t.column(c).combine_chunks() for c in need}}
        nbytes = sum(col.nbytes for col in blk.values())
        _CACHE.put(key, (blk, nbytes), nbytes)
    return blk, nbytes


def _meta_lookup(index_dir: str, ids, columns: list[str], diag: dict | None = None) -> dict:
    """doc_meta ``columns`` for ``ids`` (numpy arrays, row i ↔ ids[i]),
    served from the serving cache, by position: pid = the last published
    entry whose offset is <= the id, row = id − offset, row group from the
    footer's row counts. Only groups holding a wanted id are read, and taken
    from early once the groups held outgrow the cache bound (the worker rule
    in CLAUDE.md). Ids outside the published generation raise.
    ``diag["meta_row_groups_read"]`` counts the groups read, cached or not."""
    ids = np.asarray(ids, dtype=np.int64)
    if ids.size == 0:
        return {c: pa.nulls(0) for c in columns}
    want = np.unique(ids)
    inv = np.searchsorted(want, ids)
    gen = _index_generation(index_dir)
    pids, offsets, counts = _pid_offsets(index_dir, gen)
    n_missing = np.count_nonzero((want < 0) | (want >= offsets[-1] + counts[-1]))
    if n_missing:
        raise ValueError(f"doc_meta is missing {n_missing} of {want.size} ids")
    entry = np.searchsorted(offsets, want, side="right") - 1
    starts, groups = [], []  # the touched pids' row groups: first doc_id, (file, group)
    for e in np.unique(entry):
        meta_footer = _meta_footer(index_dir, gen, int(pids[e]))
        starts.append(offsets[e] + meta_footer[3][:-1])
        groups += [(meta_footer, r) for r in range(meta_footer[3].size - 1)]
    starts = np.concatenate(starts)
    g = np.searchsorted(starts, want, side="right") - 1
    local = want - starts[g]  # row within its group
    cuts = [*np.unique(g, return_index=True)[1].tolist(), want.size]
    parts = {c: [] for c in columns}
    held, rows, base, held_bytes = [], [], 0, 0  # groups with hits not yet taken
    for a, b in zip(cuts[:-1], cuts[1:]):
        blk, nbytes = _meta_block(*groups[g[a]], columns)
        held.append(blk)
        rows.append(local[a:b] + base)  # row in the held groups' concatenation
        base += len(blk[columns[0]])
        held_bytes += nbytes
        if b == want.size or held_bytes > _CACHE_MAX_BYTES:
            take = np.concatenate(rows)
            for c in columns:
                parts[c].append(np.asarray(pa.chunked_array([h[c] for h in held]).take(take)))
            held, rows, base, held_bytes = [], [], 0, 0
    if diag is not None:
        diag["meta_row_groups_read"] = diag.get("meta_row_groups_read", 0) + len(cuts) - 1
    return {c: np.concatenate(parts[c])[inv] for c in columns}


# Above this many ids the sparse read stops paying (it touches
# min(|ids|, row groups) groups; a big spread set degenerates to the full
# scan plus lookup overhead) — fall back to the dense cached array.
_SPARSE_IDS_MAX = 65536


class _SparseCol:
    """Driver-side docID → value map fetched through the doc_meta row-group
    cache — numpy-fancy-indexable like the dense array, but it touches only
    the row groups covering the requested ids. The serving path uses it for
    a time-masked candidate set's ``ts`` (``_docts_for``); doc lengths
    travel with the postings instead (``_doclens_for``). At large N the
    dense materialization costs minutes of wall for a 1-hit query (the
    100M-doc run)."""

    def __init__(self, ids: np.ndarray, vals: np.ndarray):
        o = np.argsort(ids)
        self._ids = ids[o]
        self._vals = vals[o]

    def __getitem__(self, idx):
        # ids absent from the fetched universe must raise, not silently
        # return a neighbor's value (searchsorted alone would): verify the
        # hit vectorized, clamping the top-end insertion point first.
        if self._ids.size == 0:
            if np.asarray(idx).size == 0:
                return self._vals[np.zeros(0, dtype=np.int64)]
            raise KeyError(
                f"sparse doc_meta fetch is empty; requested "
                f"{np.atleast_1d(idx)[:3].tolist()}..."
            )
        i = np.minimum(np.searchsorted(self._ids, idx), self._ids.size - 1)
        if not np.all(self._ids[i] == idx):
            missing = np.asarray(idx)[np.asarray(self._ids[i] != idx)]
            raise KeyError(
                f"{missing.size if missing.ndim else 1} id(s) absent from the "
                f"sparse doc_meta fetch (e.g. {np.atleast_1d(missing)[:3].tolist()})"
            )
        return self._vals[i]


def _sparse_col(index_dir: str, column: str, ids: np.ndarray) -> _SparseCol:
    want = np.unique(np.asarray(ids, dtype=np.int64))
    vals = _meta_lookup(index_dir, want, [column])[column]
    return _SparseCol(want, np.asarray(vals, dtype=np.int64))


class _DenseLens:
    """A large term's doc lengths, indexed by posting position like a cached
    aligned array, but gathered from the dense docID → doc_len array only
    at the positions asked for: a conjunction over a head term pays for its
    candidates, not for the term's whole posting list."""

    def __init__(self, dense: np.ndarray, docids: np.ndarray):
        self._dense = dense
        self._docids = docids

    def __getitem__(self, pos):
        return self._dense[self._docids[pos]]


def _doclens_for(index_dir: str, postings: dict, terms, diag: dict | None = None) -> dict:
    """term → its doc lengths aligned with its postings: ``lens[t][i]`` is
    the doc_len of ``postings[t][0][i]``. BM25 never needs a doc length
    outside a scoring term's own postings.

    A term with at most _SPARSE_IDS_MAX postings resolves once per index
    generation — one doc_meta row-group lookup for all of a call's missing
    terms — and stays in the cache beside its postings, so a warm query
    reads no doc_meta. A larger term gathers from the dense array
    (``_dense_column``, read once per call while it outgrows the cache) and
    is not cached. ``diag["doclen_fetched"]`` counts the
    postings whose doc length this call looked up in doc_meta."""
    gen = _index_generation(index_dir)
    lens, missing, dense = {}, [], None
    for t in sorted(terms):
        if t not in postings:
            continue
        d = postings[t][0]
        if d.size > _SPARSE_IDS_MAX:
            dense = _dense_column(index_dir, "doc_len") if dense is None else dense
            lens[t] = _DenseLens(dense, d)
        elif (hit := _CACHE.get((index_dir, gen, "doclens", t))) is not None:
            lens[t] = hit
        else:
            missing.append(t)
    fetched = 0
    if missing:
        ids = np.concatenate([postings[t][0] for t in missing])
        vals = np.asarray(_meta_lookup(index_dir, ids, ["doc_len"])["doc_len"], dtype=np.int32)
        for t in missing:
            n = postings[t][0].size
            lens[t] = vals[fetched : fetched + n].copy()  # owns its bytes once cached
            fetched += n
            _CACHE.put((index_dir, gen, "doclens", t), lens[t], lens[t].nbytes)
    if diag is not None:
        diag["doclen_fetched"] = fetched
    return lens


def _docts_for(index_dir: str, cand: np.ndarray) -> "np.ndarray | _SparseCol":
    """Doc-time provider for a KNOWN candidate set: dense cache if present,
    sparse row-group fetch when the set is small."""
    gen = _index_generation(index_dir)
    dense = (index_dir, gen, "dense", "ts") in _CACHE or cand.size > _SPARSE_IDS_MAX
    if dense or "ts" not in _meta_columns(index_dir, gen):
        return _docts(index_dir)  # raises without a ts column
    return _sparse_col(index_dir, "ts", cand)


def _dense_column(index_dir: str, column: str) -> np.ndarray:
    """Dense docID → ``column`` int64 array: the published pids' columns
    concatenated in pid order, each cut to its published count (driver-side;
    the distributed path joins instead)."""
    gen = _index_generation(index_dir)
    return _cached((index_dir, gen, "dense", column), lambda: np.concatenate([
        np.asarray(pq.read_table(meta_path(index_dir, pid), columns=[column]).column(0), dtype=np.int64)[:n]
        for pid, n in zip(*_pid_offsets(index_dir, gen)[[0, 2]])
    ]))


def _docts(index_dir: str) -> np.ndarray:
    """Dense docID → event-time array (S4 doc-time index, the serving analog
    of miru's MiruTimeIndex.java:15-56 / LabTimeIndex.java:139-150). Raises
    if the index was built without a ts column."""
    if "ts" not in _meta_columns(index_dir, _index_generation(index_dir)):
        raise ValueError("index has no doc-time column (built without ts)")
    return _dense_column(index_dir, "ts")


def _all_doc_ids(index_dir: str) -> np.ndarray:
    """Sorted full index mask (every doc_id): the published docIDs are
    dense from 0."""
    gen = _index_generation(index_dir)
    return _cached((index_dir, gen, "dense", "all_ids"),
                   lambda: np.arange(_pid_offsets(index_dir, gen)[2].sum(), dtype=np.int64))


_DISPLAY_COLS = ["repo", "path", "commit", "lang"]


def _docmeta_for(index_dir: str, ids: np.ndarray, diag: dict | None = None) -> dict[str, np.ndarray]:
    """Display fields {repo, path, commit, lang} for a KNOWN id set, row i ↔
    ids[i], through the serving cache — NEVER a dense materialization (at
    100M docs that is a multi-GB table; this runs inside executor Python
    workers via _score_pids, where a dense fallback would pin
    that table once per worker)."""
    cols = _meta_lookup(index_dir, ids, _DISPLAY_COLS, diag)
    return {c: np.asarray(cols[c]) for c in _DISPLAY_COLS}


def load_postings(
    index_dir: str, terms: set[str]
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """term → (sorted docIDs, tfs, block_last, block_max_tf); shards
    concatenated in shard order (contiguous docID ranges by construction, so
    block metadata concatenates monotonically too)."""
    if not terms:
        return {}
    gen = _index_generation(index_dir)
    out: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
    missing = set()
    for term in terms:
        hit = _CACHE.get((index_dir, gen, term))
        if hit is not None:
            out[term] = hit
        else:
            missing.add(term)
    if not missing:
        return out
    ds = _dataset(index_dir, "merged")

    def _load_one(term: str):
        # per-term scan: row-group stats prune to this term's groups; Arrow
        # reads + decompression release the GIL, so terms load concurrently
        t = ds.to_table(
            columns=["shard", "docids", "tfs", "block_last", "block_max_tf"],
            filter=pads.field("term") == term,
        )
        grp = t.to_pandas().sort_values("shard")
        ds_, tf_, bl_, bm_ = [], [], [], []
        for db, tb, blb, bmb in zip(grp["docids"], grp["tfs"], grp["block_last"], grp["block_max_tf"]):
            d, tf = decode_postings(db, tb)
            bl, bm = decode_block_meta(blb, bmb)
            ds_.append(d)
            tf_.append(tf)
            bl_.append(bl)
            bm_.append(bm)
        if not ds_:
            return term, None
        return term, (
            np.concatenate(ds_),
            np.concatenate(tf_),
            np.concatenate(bl_),
            np.concatenate(bm_),
        )

    if len(missing) == 1:
        results = [_load_one(next(iter(missing)))]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(missing))) as ex:
            results = list(ex.map(_load_one, sorted(missing)))
    for term, entry in results:
        if entry is None:
            continue
        out[term] = entry
        _CACHE.put((index_dir, gen, term), entry, sum(a.nbytes for a in entry))
    return out


def load_filter_bitmap(index_dir: str, field: str, values: list[str]) -> bytes:
    """Roaring OR of the selected values' filter bitmaps (miru's
    getCompositeAuthz pattern, miru-plugin/.../index/MiruAuthzIndex.java:13),
    done container-level in miru_spark.roaring. Each value's bitmap is read
    once per index generation and kept in the serving cache (a value absent
    from the index caches as the empty bitmap)."""
    gen = _index_generation(index_dir)
    keys = {v: (index_dir, gen, f"filters/{field}", v) for v in values}
    bitmaps = {v: _CACHE.get(k) for v, k in keys.items()}
    missing = sorted(v for v, b in bitmaps.items() if b is None)
    if missing:
        t = _dataset(index_dir, "filters").to_table(
            columns=["value", "doc_ids"],
            filter=(pads.field("field") == field) & (pads.field("value").isin(missing)),
        )
        # one row per (field, value): build_field_filters groups by both
        read = dict(zip(t.column("value").to_pylist(), t.column("doc_ids").to_pylist()))
        for v in missing:
            bitmaps[v] = read.get(v) or roaring.or_many([])
            _CACHE.put(keys[v], bitmaps[v], len(bitmaps[v]))
    return roaring.or_many(list(bitmaps.values()))


def load_filter_set(index_dir: str, field: str, values: list[str]) -> np.ndarray:
    """Decoded docID array of the composite filter (test/debug convenience)."""
    return roaring.to_array(load_filter_bitmap(index_dir, field, values))


def _intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two SORTED unique arrays via binary search into the
    larger — O(|small|·log|big|); np.intersect1d re-sorts the concatenation
    (measured 2x slower on multi-million-posting conjunctions)."""
    if a.size > b.size:
        a, b = b, a
    if a.size == 0:
        return a
    pos = np.searchsorted(b, a)
    pos_c = np.minimum(pos, b.size - 1)
    return a[(pos < b.size) & (b[pos_c] == a)]


def _setdiff_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """a \\ b for sorted unique arrays, same binary-search trick."""
    if a.size == 0 or b.size == 0:
        return a
    pos = np.searchsorted(b, a)
    pos_c = np.minimum(pos, b.size - 1)
    return a[~((pos < b.size) & (b[pos_c] == a))]


def _index_leaf(index_dir: str):
    """The index-wide leaf provider of ``_eval_ast`` (search_local): All →
    every doc_id, Field → its filter bitmap, Range → the dense doc-time mask."""

    def leaf(node) -> np.ndarray:
        if isinstance(node, qp.All):
            # full index mask (buildIndexMask, MiruBitmapsRoaring.java:457-505);
            # removal/time masks compose on top in search_local as usual
            return _all_doc_ids(index_dir)
        if isinstance(node, qp.Field):
            # field filter clause → its roaring bitmap, decoded as a doc set
            return load_filter_set(index_dir, node.field, [node.value])
        # ts:[lo TO hi] → doc-time mask as a doc set (buildTimeRangeMask,
        # MiruBitmapsRoaring.java:506-521); composes under AND/OR/NOT/XOR
        ts = _docts(index_dir)
        return np.nonzero((ts >= node.lo) & (ts <= node.hi))[0].astype(np.int64)

    return leaf


def _eval_ast(node, postings, expansions, leaf) -> np.ndarray:
    """The filter AST as a sorted doc set. Term and Prefix leaves read
    ``postings``; All, Field and Range leaves come from ``leaf(node)``:
    index-wide in search_local (``_index_leaf``), one pid's doc range in the
    distributed kernel (``_PidView.leaf``)."""
    if isinstance(node, qp.Term):
        return postings.get(node.term, (np.empty(0, dtype=np.int64),))[0]
    if isinstance(node, (qp.All, qp.Field, qp.Range)):
        return leaf(node)
    if isinstance(node, qp.Prefix):
        sets = [postings[t][0] for t in expansions.get(node.prefix, []) if t in postings]
        if not sets:
            return np.empty(0, dtype=np.int64)
        out = sets[0]
        for s in sets[1:]:
            out = np.union1d(out, s)
        return out
    if isinstance(node, qp.And):
        sets = sorted((_eval_ast(c, postings, expansions, leaf) for c in node.children), key=len)
        out = sets[0]
        for s in sets[1:]:
            if out.size == 0:
                return out  # abort-if-empty short circuit (MiruAggregateUtil.java:1143)
            out = _intersect_sorted(out, s)
        return out
    if isinstance(node, qp.Or):
        out = np.empty(0, dtype=np.int64)
        for c in node.children:
            out = np.union1d(out, _eval_ast(c, postings, expansions, leaf))
        return out
    if isinstance(node, qp.Not):
        pos = _eval_ast(node.positive, postings, expansions, leaf)
        neg = _eval_ast(node.negative, postings, expansions, leaf)
        return _setdiff_sorted(pos, neg)
    if isinstance(node, qp.Xor):
        # n-ary xor = docs in an ODD number of children (2-ary: setxor1d);
        # miru MiruFilterOperation.java:16
        sets = [_eval_ast(c, postings, expansions, leaf) for c in node.children]
        if len(sets) == 2:
            return np.setxor1d(sets[0], sets[1], assume_unique=True)
        allv = np.concatenate(sets) if sets else np.empty(0, dtype=np.int64)
        ids, counts = np.unique(allv, return_counts=True)
        return ids[counts % 2 == 1]
    raise TypeError(type(node))


def _score_candidates(cand, scoring_terms, postings, doclens, n_docs, avgdl, df):
    """Exact BM25 over the candidate vector; ``doclens`` maps each scoring
    term to its posting-aligned doc lengths (``_doclens_for``), read at the
    same positions as its tfs, and ``df`` to its document frequency (the
    posting count in search_local, the global stats in the distributed
    kernel, which sees one pid's slice). Per-term contribution vectors are computed
    concurrently (numpy releases the GIL), then ACCUMULATED in sorted term
    order — float sums stay bit-reproducible and rank-identical to the
    sequential oracle."""
    scores = np.zeros(cand.size, dtype=np.float64)
    terms = [t for t in sorted(scoring_terms) if t in postings]

    def _contrib(term):
        d, tf = postings[term][:2]
        pos = np.searchsorted(d, cand)
        pos_c = np.minimum(pos, d.size - 1)
        mask = (pos < d.size) & (d[pos_c] == cand)
        if not mask.any():
            return None
        at = pos_c[mask]
        idf = bm25_idf(float(df[term]), n_docs)
        return mask, idf * bm25_tf_norm(
            tf[at].astype(np.float64), doclens[term][at].astype(np.float64), avgdl
        )

    if len(terms) > 2 and cand.size > 100_000:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(terms))) as ex:
            parts = list(ex.map(_contrib, terms))
    else:
        parts = [_contrib(t) for t in terms]
    for part in parts:  # sorted-term order preserved by map()
        if part is not None:
            mask, vals = part
            scores[mask] += vals
    return scores


def _tf_upper(tf):
    """BM25 tf-norm upper bound: doc_len→0 maximizes tf*(k1+1)/(tf+k1*(1-b))."""
    tf = np.asarray(tf, dtype=np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B))


def _blockmax_wand_candidates(
    scoring_terms, postings, k, n_docs, doclens, avgdl, diag=None, removed=None
):
    """Block-max WAND candidate generation for pure disjunctions (vectorized).

    Two pruning levels, both sound (every dropped doc provably scores < the
    kth-best total):

    1. **MaxScore term split**: θ = the exact kth single-term score of the
       strongest term (a lower bound on the final kth-best total, since BM25
       contributions are >= 0). Terms are sorted by global upper bound
       ``idf · tf_norm_ub(max_tf)``; docs appearing ONLY in non-essential
       terms (prefix whose cumulative UB < θ) can never reach θ.
    2. **Per-block max-score skipping** (the block-max step, per the north
       rule; generalizes miru's `considerIfLastIdGreaterThanN` recency skip,
       miru-plugin/.../solution/MiruAggregateUtil.java:1130,1181): for every
       surviving candidate, its score upper bound is Σ_t UB(block of t
       containing d), with UB(block) = idf_t · tf_norm_ub(block_max_tf).
       Candidates whose block-UB sum < θ are skipped before exact scoring.
       Docs past a term's last block or absent from a block contribute at
       most the block UB (>= their true contribution, possibly 0) — sound.

    Classic document-at-a-time WAND advances one pivot per step (per-row
    Python — banned here); this formulation does the same block-UB skipping
    as array passes: one searchsorted per term over the candidate vector.
    ``doclens`` is the per-term posting-aligned form of ``_doclens_for``.
    """
    ubs = {}
    for t in scoring_terms:
        if t not in postings:
            continue
        d, tf = postings[t][:2]
        ubs[t] = bm25_idf(float(d.size), n_docs) * float(_tf_upper(float(tf.max())))
    if not ubs:
        return np.empty(0, dtype=np.int64)
    order = sorted(ubs, key=lambda t: -ubs[t])
    # θ = exact kth single-term score of the strongest term that HAS > k
    # postings (rare terms have the highest idf/UB but can't seed a kth bound)
    theta = 0.0
    for t in order:
        d, tf = postings[t][:2]
        at = slice(None)
        if removed is not None and removed.size:
            # θ must lower-bound the kth best among ELIGIBLE docs: seeding it
            # from removed docs' scores could prune a valid candidate. idf
            # still uses the stored df (removal doesn't rewrite statistics —
            # miru's mask-only semantics).
            at = ~np.isin(d, removed, assume_unique=True)
        tf0 = tf[at]
        if tf0.size > k:
            s = bm25_idf(float(d.size), n_docs) * bm25_tf_norm(
                tf0.astype(np.float64), doclens[t][at].astype(np.float64), avgdl
            )
            theta = float(np.partition(s, s.size - k)[s.size - k])
            break
    essential, acc = [], 0.0
    for t in reversed(order):  # ascending ub
        acc += ubs[t]
        if theta <= 0.0 or acc >= theta:  # >= : a doc reaching exactly theta can tie in
            essential.append(t)
    sets = [postings[t][0] for t in essential]
    cand = sets[0]
    for s_ in sets[1:]:
        cand = np.union1d(cand, s_)
    if diag is not None:
        diag["union_size"] = int(cand.size)
        diag["essential_terms"] = len(essential)
        diag["theta"] = theta
    if theta <= 0.0 or cand.size == 0:
        return cand

    # block-max skipping: per-candidate UB = Σ_t UB of the containing block
    ub_sum = np.zeros(cand.size, dtype=np.float64)
    for t in order:
        d, tf, block_last, block_max_tf = postings[t]
        idf = bm25_idf(float(d.size), n_docs)
        block_ub = idf * _tf_upper(block_max_tf)
        pos = np.searchsorted(block_last, cand)  # containing-block index
        valid = pos < block_last.size  # past the last block → term contributes 0
        ub_sum[valid] += block_ub[pos[valid]]
    keep = ub_sum >= theta - 1e-12
    if diag is not None:
        diag["after_blockmax"] = int(np.count_nonzero(keep))
    return cand[keep]


def search_local(
    index_dir: str,
    query: str,
    k: int = 10,
    lang_filter: list[str] | None = None,
    repo_filter: list[str] | None = None,
    time_range: tuple[int, int] | None = None,
    gather: bool = True,
    diag: dict | None = None,
) -> pd.DataFrame:
    """Serving path: parse → numpy set algebra → block-max WAND → BM25 top-k
    → gather. Pass ``diag={}`` to capture pruning statistics,
    ``doclen_fetched``, the postings whose doc length this call read from
    doc_meta (0 once the scoring terms' aligned doc lengths are cached), and
    ``meta_row_groups_read``, the row groups the top-k gather read.

    Masks (ANDNOT/AND into the candidate set, never into the statistics —
    miru's buildIndexMask / buildTimeRangeMask composition,
    MiruBitmapsRoaring.java:457-521, FullTextCustomQuestion.java:109-111):
    removal bitmap always; ``time_range=(lo, hi)`` inclusive doc-time mask
    when the index carries a ts column."""
    h = IndexHandle.open(index_dir)
    from miru_spark import analyzers as anz

    ast = qp.parse_query(query, analyzer=anz.load(index_dir))
    expansions = expand_prefixes(index_dir, qp.prefixes(ast))
    needed = qp.all_terms(ast) | {t for ts in expansions.values() for t in ts}
    postings = load_postings(index_dir, needed)

    scoring_terms = qp.positive_terms(ast) | {
        t for p in qp.positive_prefixes(ast) for t in expansions.get(p, [])
    }
    pure_or = isinstance(ast, (qp.Term, qp.Or)) and all(
        isinstance(c, qp.Term) for c in getattr(ast, "children", ())
    )
    doclens = _doclens_for(index_dir, postings, scoring_terms, diag)
    removed = removal.removed_array(index_dir)
    # WAND θ is seeded from unfiltered single-term scores, so ANY candidate
    # mask that θ doesn't account for (lang/repo/time) makes pruning unsound
    # — eligible docs could all score below the unfiltered kth best. Removal
    # is the one mask θ DOES account for (seeding skips removed docs).
    if (
        pure_or
        and not lang_filter
        and not repo_filter
        and time_range is None
        and len(scoring_terms) > 1
    ):
        cand = _blockmax_wand_candidates(
            scoring_terms, postings, k, h.n_docs, doclens, h.avgdl, diag=diag,
            removed=removed,
        )
    else:
        cand = _eval_ast(ast, postings, expansions, _index_leaf(index_dir))
    if diag is not None:
        diag["scored"] = int(cand.size)
    if removed.size:
        cand = _setdiff_sorted(cand, removed)
    if time_range is not None:
        ts = _docts_for(index_dir, cand)
        cand = cand[(ts[cand] >= time_range[0]) & (ts[cand] <= time_range[1])]
    if lang_filter:  # roaring AND into the candidate set (container-skipping)
        cand = roaring.and_array(load_filter_bitmap(index_dir, "lang", lang_filter), cand)
    if repo_filter:
        cand = roaring.and_array(load_filter_bitmap(index_dir, "repo", repo_filter), cand)
    if cand.size == 0:
        return pd.DataFrame(columns=["doc_id", "score", "repo", "path", "commit", "lang"])

    df = {t: postings[t][0].size for t in scoring_terms if t in postings}
    scores = _score_candidates(cand, scoring_terms, postings, doclens, h.n_docs, h.avgdl, df)
    kk = min(k, cand.size)
    order = np.lexsort((cand, scores))[::-1][:kk]  # (score desc, docID desc)
    top = {"doc_id": cand[order], "score": scores[order]}
    if gather:  # lazy gather of stored fields (miru's Promise gather, FullText.java:204-218)
        top.update(_docmeta_for(index_dir, top["doc_id"], diag))
    return pd.DataFrame(top)


# --------------------------------------------------------------- distributed
_TOPK_SCHEMA = (
    "query_id int, doc_id long, score double, rank int, "
    "repo string, path string, commit string, lang string"
)
# the cut kernel's rows: one pid's slice of one merged posting row
_SLICE_SCHEMA = "pid int, term string, doc_ids array<long>, tfs array<int>"
# the score kernel's rows: a task's per-query top-k with display fields
_HIT_SCHEMA = (
    "query_id int, doc_id long, score double, repo string, path string, commit string, lang string"
)


# postings per output batch of the cut kernel: bounds its memory and keeps
# the int32 list offsets of a batch far from overflow
_SLICE_BATCH_POSTINGS = 1 << 22


def _cut_at_pids(batches, table: np.ndarray) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over merged/ (term, docids, tfs): decode each
    posting row once and cut it at the published pid offsets (``table`` is
    the (pid, offset, n_docs) table) with one searchsorted, one output row
    per pid the row touches."""
    pids, offsets = table[0], table[1]
    for batch in batches:
        cut, n = [], 0  # per posting row: (its pids, row, slice starts, doc_ids, tfs)
        blobs = zip(batch.column("docids").to_pylist(), batch.column("tfs").to_pylist())
        for i, (db, tb) in enumerate(blobs):
            d, tf = decode_postings(db, tb)
            if not d.size:
                continue
            lo, hi = np.searchsorted(offsets, d[[0, -1]], side="right") - 1
            bounds = np.concatenate([[0], np.searchsorted(d, offsets[lo + 1 : hi + 1]), [d.size]])
            keep = np.flatnonzero(np.diff(bounds))  # the pids of the range it has docs in
            cut.append((pids[lo + keep], i, bounds[keep], d, tf))
            n += d.size
            if n >= _SLICE_BATCH_POSTINGS:
                yield _slice_batch(batch.column("term"), cut)
                cut, n = [], 0
        if cut:
            yield _slice_batch(batch.column("term"), cut)


def _slice_batch(terms: pa.Array, cut: list) -> pa.RecordBatch:
    """The cut kernel's (pid, term, doc_ids, tfs) rows for ``cut``, whose
    slices tile each posting row's doc_ids in order."""
    sizes = [c[3].size for c in cut]
    base = np.cumsum([0] + sizes[:-1])
    starts = pa.array(np.append(np.concatenate([b + c[2] for b, c in zip(base, cut)]), sum(sizes)).astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate([c[0] for c in cut]).astype(np.int32)),
            terms.take(pa.array(np.concatenate([np.full(c[0].size, c[1]) for c in cut]))),
            pa.ListArray.from_arrays(starts, pa.array(np.concatenate([c[3] for c in cut]))),
            pa.ListArray.from_arrays(starts, pa.array(np.concatenate([c[4] for c in cut]).astype(np.int32))),
        ],
        names=["pid", "term", "doc_ids", "tfs"],
    )


def _holds(mask) -> np.ndarray:
    """An Arrow boolean array as numpy, null read as False."""
    return pc.fill_null(mask, False).to_numpy(zero_copy_only=False)


class _PidView:
    """One pid's doc range [off, off + n) and the doc_meta_local columns a
    batch needs, read through the serving cache on first use and cut to the
    published count: the distributed kernel's pid-local leaves and masks. A
    worker never builds a whole-index array: every Python worker would pin
    its own copy."""

    def __init__(self, index_dir: str, gen: float, pid: int, off: int, n: int, columns):
        self.index_dir, self.gen, self.pid, self.off, self.n = index_dir, gen, pid, off, n
        self.columns = columns
        self.cols: dict | None = None

    def col(self, name: str):
        if self.cols is None:
            meta_footer = _meta_footer(self.index_dir, self.gen, self.pid)
            blocks = [_meta_block(meta_footer, rg, self.columns)[0] for rg in range(meta_footer[3].size - 1)]
            self.cols = {c: pa.concat_arrays([b[c] for b in blocks]).slice(0, self.n) for c in self.columns}
        return self.cols[name]

    def where(self, mask) -> np.ndarray:
        """doc_ids of the pid's rows where the Arrow boolean ``mask`` holds."""
        return self.off + np.flatnonzero(_holds(mask))

    def leaf(self, node) -> np.ndarray:
        if isinstance(node, qp.All):
            return np.arange(self.off, self.off + self.n, dtype=np.int64)
        if isinstance(node, qp.Field):
            return self.where(pc.equal(self.col(node.field), node.value))
        ts = self.col(node.field)
        return self.where(pc.and_(pc.greater_equal(ts, node.lo), pc.less_equal(ts, node.hi)))

    def masked(self, cand: np.ndarray, plan: dict) -> np.ndarray:
        """``cand`` under the lang/repo/time masks of the batch."""
        for field, keep in (("lang", plan["lang_filter"]), ("repo", plan["repo_filter"])):
            if keep and cand.size:
                at = pa.array(cand - self.off)
                cand = cand[_holds(pc.is_in(self.col(field).take(at), value_set=pa.array(keep)))]
        if plan["time_range"] is not None and cand.size:
            ts = np.asarray(self.col("ts"))[cand - self.off]
            cand = cand[(ts >= plan["time_range"][0]) & (ts <= plan["time_range"][1])]
        return cand


def _topk_cut(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best of (ids, scores) on (round(score, 6) desc, doc_id desc)."""
    order = np.lexsort((ids, np.round(scores, 6)))[::-1][:k]
    return ids[order], scores[order]


def _solve_pid(plan: dict, view: _PidView, postings: dict, top: dict) -> None:
    """Every live query of the batch over one pid, folded into ``top``
    (query_id → its running (doc_ids, scores) top-k): ``_eval_ast`` with
    the pid's leaves, minus the removed ids in the pid's range, under the
    masks, then scored by ``_score_candidates`` with the global df."""
    removed = plan["removed"]
    gone = removed[slice(*np.searchsorted(removed, [view.off, view.off + view.n]))]
    doclens: dict = {}
    for qid, ast, expansions, scoring in plan["queries"]:
        cand = _eval_ast(ast, postings, expansions, view.leaf)
        cand = view.masked(_setdiff_sorted(cand, gone), plan)
        if not cand.size:
            continue
        for t in scoring:
            if t in postings and t not in doclens:
                doclens[t] = np.asarray(view.col("doc_len"))[postings[t][0] - view.off]
        scores = _score_candidates(
            cand, scoring, postings, doclens, plan["n_docs"], plan["avgdl"], plan["df"]
        )
        if qid in top:
            cand, scores = np.concatenate([top[qid][0], cand]), np.concatenate([top[qid][1], scores])
        top[qid] = _topk_cut(cand, scores, plan["k"])


def _score_pids(batches, plan: dict) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over the pid slices sorted by pid: per whole pid
    group (``merge.whole_groups``) its {term: (doc_ids, tfs)} postings and
    ``_solve_pid``; when the task ends, each query's top-k (at most k rows
    per query per task cross the final exchange) with its display fields
    (``_docmeta_for``)."""
    index_dir = plan["index_dir"]
    gen = _index_generation(index_dir)
    ranges = {int(p): (int(o), int(n)) for p, o, n in plan["pids"].T}
    top: dict = {}
    for batch, starts in whole_groups(batches, ("pid",)):
        pid_col = batch.column("pid").to_numpy()
        terms = batch.column("term").to_pylist()
        lists = [batch.column(c) for c in ("doc_ids", "tfs")]
        d_off, tf_off = (np.asarray(x.offsets) for x in lists)
        d_all, tf_all = (np.asarray(x.values) for x in lists)
        bounds = np.append(starts, batch.num_rows).tolist()
        for s, e in zip(bounds[:-1], bounds[1:]):
            slices: dict = {}
            for r in range(s, e):
                if terms[r] is not None:  # the pid's marker row carries no term
                    slices.setdefault(terms[r], []).append(
                        (d_all[d_off[r] : d_off[r + 1]], tf_all[tf_off[r] : tf_off[r + 1]])
                    )
            postings = {}
            for t, parts in slices.items():  # a term's slices are disjoint doc ranges
                parts.sort(key=lambda p: p[0][0])
                postings[t] = tuple(np.concatenate(x) for x in zip(*parts))
            pid = int(pid_col[s])
            view = _PidView(index_dir, gen, pid, *ranges[pid], plan["columns"])
            _solve_pid(plan, view, postings, top)
    if not top:
        return
    qids = np.concatenate([np.full(v[0].size, q, dtype=np.int32) for q, v in top.items()])
    ids = np.concatenate([v[0] for v in top.values()])
    shown = _docmeta_for(index_dir, ids)
    yield pa.RecordBatch.from_arrays(
        [pa.array(qids), pa.array(ids), pa.array(np.concatenate([v[1] for v in top.values()]))]
        + [pa.array(shown[c], pa.string()) for c in _DISPLAY_COLS],
        names=["query_id", "doc_id", "score", *_DISPLAY_COLS],
    )


def _batch_plan(
    index_dir: str,
    queries: list[str],
    k: int,
    lang_filter: list[str] | None = None,
    repo_filter: list[str] | None = None,
    time_range: tuple[int, int] | None = None,
) -> dict | None:
    """The driver half of ``_bm25_topk``: parse each query, probe every
    required term against the dictionary in one read (a query with an absent
    required conjunct is provably empty and never reaches the cluster),
    expand prefixes, and read the global df of the live queries' terms.
    Returns what the kernels need, or None when no query is live."""
    h = IndexHandle.open(index_dir)
    from miru_spark import analyzers as anz

    analyzer = anz.load(index_dir)
    gen = _index_generation(index_dir)
    table = _pid_offsets(index_dir, gen)
    has_ts = bool(table.shape[1]) and "ts" in _meta_columns(index_dir, gen)
    if time_range is not None and not has_ts:
        raise ValueError("index has no doc-time column (built without ts)")

    parsed = []
    all_required: set[str] = set()
    for qid, q in enumerate(queries):
        ast = qp.parse_query(q, analyzer=analyzer)
        if qp.ranges(ast) and not has_ts:
            raise ValueError(f"query {qid!r}: index has no doc-time column (built without ts)")
        parsed.append((qid, ast))
        all_required |= qp.required_terms(ast)

    stats = _dataset(index_dir, "stats")
    present: set[str] = set()
    if all_required:
        present = set(
            stats.to_table(columns=["term"], filter=pads.field("term").isin(sorted(all_required)))
            .column("term").to_pylist()
        )
    live = []  # (qid, ast, expansions, sorted scoring terms)
    union: set[str] = set()
    for qid, ast in parsed:
        if qp.required_terms(ast) - present:
            continue  # a required conjunct is absent → provably empty
        expansions = expand_prefixes(index_dir, qp.prefixes(ast))
        needed = qp.all_terms(ast) | {t for ts in expansions.values() for t in ts}
        if needed or qp.can_match_termless(ast):
            scoring = qp.positive_terms(ast) | {
                t for p in qp.positive_prefixes(ast) for t in expansions.get(p, [])
            }
            live.append((qid, ast, expansions, sorted(scoring)))
            union |= needed
    if not live or not table.shape[1]:
        return None
    terms = sorted(union)
    df = {}
    if terms:
        t = stats.to_table(columns=["term", "df"], filter=pads.field("term").isin(terms))
        df = dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))
    fields = set().union(*(qp.filter_fields(x[1]) for x in live))
    fields |= {f for f, m in (("lang", lang_filter), ("repo", repo_filter), ("ts", time_range)) if m}
    return {
        "index_dir": index_dir,
        "k": k,
        "n_docs": h.n_docs,
        "avgdl": h.avgdl,
        "pids": table,
        "terms": terms,
        "df": df,
        "queries": live,
        "removed": removal.removed_array(index_dir),
        "columns": ["doc_len", *sorted(fields)],
        "lang_filter": lang_filter,
        "repo_filter": repo_filter,
        "time_range": time_range,
    }


def _term_in(terms: list[str]):
    """``term IN (terms)`` parsed from one SQL string: ``Column.isin``
    costs py4j round trips per literal (52 ms of planning for 64 terms)."""
    quoted = ("'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in terms)
    return F.expr(f"term IN ({', '.join(quoted)})")


def _bm25_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[str],
    k: int,
    lang_filter: list[str] | None = None,
    repo_filter: list[str] | None = None,
    time_range: tuple[int, int] | None = None,
) -> DataFrame:
    """The distributed BM25 plan: per-query top-k of N queries in ONE job
    over ONE posting scan, solved per pid (miru solves each partition with
    its own index and a bounded heap, then merges, FullText.java:129-132).
    Returns ``_TOPK_SCHEMA`` rows.

    - driver (``_batch_plan``): parse, probe, expand, read df, n_docs,
      avgdl and the pid table; the live queries, removed ids and masks go
      to the kernels in one broadcast, so the plan size is O(1) in N;
    - scan merged/ with the ``term IN (union)`` pushdown; ``_cut_at_pids``
      decodes each posting row once and cuts it at the pid offsets;
    - union one row per published pid, so a termless-capable query (All,
      Field, Range, pure NOT) sees every pid; exchange on pid and sort;
    - ``_score_pids``: per pid, every live query through ``search_local``'s
      evaluator and BM25 code, a running per-query top-k, display fields
      for the at most k rows per query per task it emits;
    - final cut: row_number over (round(score, 6) desc, doc_id desc) — the
      oracle's tie rule — filtered to rank ≤ k; the raw float64 score is
      returned."""
    plan = _batch_plan(index_dir, queries, k, lang_filter, repo_filter, time_range)
    if plan is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    plan_b = spark.sparkContext.broadcast(plan)

    def cut(batches):
        return _cut_at_pids(batches, plan_b.value["pids"])

    def score(batches):
        return _score_pids(batches, plan_b.value)

    pids = plan["pids"][0][plan["pids"][2] > 0]  # a pid with no docs has nothing to solve
    rows = spark.createDataFrame(pd.DataFrame({"pid": pids.astype(np.int32)}), "pid int").select(
        "pid",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("array<long>").alias("doc_ids"),
        F.lit(None).cast("array<int>").alias("tfs"),
    )
    if plan["terms"]:
        hits = (
            spark.read.schema(MERGED_SCHEMA).parquet(os.path.join(index_dir, "merged"))
            .select("term", "docids", "tfs")  # column pruning: skip block metadata
            .filter(_term_in(plan["terms"]))
            .mapInArrow(cut, _SLICE_SCHEMA)
        )
        rows = hits.unionByName(rows)
    top = (
        rows.repartition("pid")
        .sortWithinPartitions("pid")
        .mapInArrow(score, _HIT_SCHEMA)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.round("score", 6).desc(), F.col("doc_id").desc())
    return top.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).select(
        "query_id", "doc_id", "score", "rank", *_DISPLAY_COLS
    )


def search_distributed(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    lang_filter: list[str] | None = None,
    repo_filter: list[str] | None = None,
    time_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Throughput path: the top-k of one query as a batch of one
    (``_bm25_topk``). Masks — removal always; ``lang_filter`` /
    ``repo_filter`` / ``time_range=(lo, hi)`` (inclusive doc time) when
    given — restrict the candidates, never the statistics.

    Returns (doc_id, score, repo, path, commit, lang) in rank order:
    (score rounded to 6 dp desc, doc_id desc)."""
    top = _bm25_topk(spark, index_dir, [query], k, lang_filter, repo_filter, time_range)
    # ≤k rows: one partition sorted locally, not a sampled range exchange
    return top.coalesce(1).sortWithinPartitions("rank").select(
        "doc_id", "score", *_DISPLAY_COLS
    )


def search_batch(
    spark: SparkSession, index_dir: str, queries: list[str], k: int = 10
) -> DataFrame:
    """N queries answered in ONE job over ONE posting scan (``_bm25_topk``).

    Answering a query LOG one ``search_distributed`` call at a time pays a
    full Spark job — scan + decode + shuffle + driver round-trip — per
    query; here the index is read once regardless of N, and each posting
    row is decoded once however many queries want its term (the
    ``lsh_ann_batch`` treatment applied to BM25; reference analog: miru
    answers many MiruRequests against ONE shared request context rather
    than re-opening the index per question, MiruService solve loop).

    Returns (query_id int, doc_id long, score double, rank int, repo, path,
    commit, lang) — doc_id is the ENGINE docID; callers map to their own
    ids from ``path`` as usual."""
    return _bm25_topk(spark, index_dir, queries, k)
