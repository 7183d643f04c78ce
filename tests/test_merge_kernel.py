"""The merge and filter kernels run under mapInArrow over rows sorted by a
group key: ``merge.whole_groups`` regroups Arrow batches so every group
reaches the kernel whole, wherever Spark cuts the batches. Their output must
not depend on the batch size, and merged/ is written by a fixed number of
range partitions, not one file per pid."""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from miru_spark import roaring
from miru_spark.codec import decode_postings, encode_postings
from miru_spark.corpus import generate_corpus
from miru_spark.index import merge
from miru_spark.index.build import build_field_filters
from miru_spark.index.merge import RUN_COLS, _concat_runs, merge_segments, whole_groups
from miru_spark.streaming.ingest import append_batch, refresh


def _rows(index_dir, sub, keys):
    files = sorted(glob.glob(os.path.join(index_dir, sub, "*.parquet")))
    frames = [pq.read_table(f).to_pandas() for f in files]
    return pd.concat(frames, ignore_index=True).sort_values(keys).reset_index(drop=True)


def _assert_same_rows(a, b):
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for col in a.columns:
        assert (a[col].values == b[col].values).all(), col


@pytest.mark.parametrize("batch_rows", [1, 2, 3, 5, 64])
def test_whole_groups_yields_each_group_once(batch_rows):
    rng = np.random.default_rng(batch_rows)
    n = 200
    key_a = np.sort(rng.integers(0, 12, n))
    table = pa.table({
        "a": pa.array([f"k{v:02d}" for v in key_a]),
        # null keys form one group, as under groupBy
        "b": pa.array([None if v < 2 else int(v) for v in np.sort(rng.integers(0, 5, n))]),
        "row": np.arange(n),
    }).sort_by([("a", "ascending"), ("b", "ascending")])
    expect = set(zip(table.column("a").to_pylist(), table.column("b").to_pylist()))
    seen = set()
    rows = []
    for batch, starts in whole_groups(iter(table.to_batches(max_chunksize=batch_rows)), ("a", "b")):
        bounds = np.append(starts, batch.num_rows)
        keys = list(zip(batch.column("a").to_pylist(), batch.column("b").to_pylist()))
        for s, e in zip(bounds[:-1], bounds[1:]):
            assert len(set(keys[s:e])) == 1  # a group is one key ...
            assert keys[s] not in seen  # ... and arrives once, whole
            seen.add(keys[s])
        rows += batch.column("row").to_pylist()
    assert seen == expect
    assert rows == table.column("row").to_pylist()


def test_whole_groups_copies_a_long_group_once(monkeypatch):
    """One group of thousands of rows at two rows per batch, between two
    short groups: it arrives whole, and its rows are copied a bounded number
    of times (a batch that only continues the open group is appended, not
    re-concatenated with everything carried so far)."""
    n = 6_000
    keys = ["a"] * 3 + ["b"] * n + ["c"] * 3
    table = pa.table({"k": keys, "row": np.arange(len(keys))})
    copied = []
    real = merge._combined

    def counting(batches):
        if len(batches) > 1:
            copied.append(sum(b.num_rows for b in batches))
        return real(batches)

    monkeypatch.setattr(merge, "_combined", counting)
    groups = []
    for batch, starts in whole_groups(iter(table.to_batches(max_chunksize=2)), ("k",)):
        bounds = np.append(starts, batch.num_rows)
        ks, rows = batch.column("k").to_pylist(), batch.column("row").to_pylist()
        groups += [(ks[s], rows[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
    assert [g for g, _ in groups] == ["a", "b", "c"]
    assert sum((r for _, r in groups), []) == list(range(len(keys)))
    assert sum(copied) <= 3 * len(keys)


@pytest.mark.parametrize("apply_offsets", [True, False])
def test_concat_runs_decodes_to_global_ids(apply_offsets):
    """_concat_runs over a group's runs in pid order, with first ids and
    gaps that need 1 to 4 varint bytes: the merged postings decode to the
    runs' global ids in order, block_last shifts by each run's offset, and
    df/cf/min_doc/max_doc are the group's."""
    rng = np.random.default_rng(7)
    n_pids = 6
    sizes = np.array([40, 3_000, 200_000, 30, 2_500_000, 900])
    base = np.cumsum(sizes) - sizes
    # runs hold local ids plus offsets (first level) or global ids (later levels)
    off = dict(enumerate(base.tolist())) if apply_offsets else {}
    for _ in range(40):
        runs = {c: [] for c in ("pid", *RUN_COLS)}
        ids, tfs, block_last = [], [], []
        for pid in sorted(rng.choice(n_pids, int(rng.integers(1, n_pids + 1)), replace=False)):
            d = np.unique(rng.integers(0, sizes[pid], int(rng.integers(1, 300)))) + base[pid]
            tf = rng.integers(1, 9, d.size)
            local = d - off.get(int(pid), 0)
            db, tb, bl, bm = encode_postings(local, tf)
            for c, v in zip(("pid", *RUN_COLS), (int(pid), d.size, int(tf.sum()), int(local[0]),
                                                 int(local[-1]), db, tb, bl, bm)):
                runs[c].append(v)
            ids.append(d)
            tfs.append(tf)
            block_last.append(np.frombuffer(bl, dtype=np.int64) + off.get(int(pid), 0))
        got = _concat_runs(runs, off, "pid")
        ids, tfs = np.concatenate(ids), np.concatenate(tfs)
        got_ids, got_tfs = decode_postings(got["docids"], got["tfs"])
        assert got_ids.tolist() == ids.tolist()
        assert got_tfs.tolist() == tfs.tolist()
        assert np.frombuffer(got["block_last"], dtype=np.int64).tolist() == np.concatenate(block_last).tolist()
        assert (got["df"], got["cf"], got["min_doc"], got["max_doc"]) == (
            ids.size, int(tfs.sum()), int(ids[0]), int(ids[-1])
        )
        assert got["block_max_tf"] == b"".join(runs["block_max_tf"])


@pytest.fixture
def arrow_batch_rows(spark):
    """Set spark.sql.execution.arrow.maxRecordsPerBatch for the test only."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        yield lambda n: spark.conf.set(key, str(n))
    finally:
        spark.conf.set(key, old)


def test_groups_spanning_batches_merge_identically(spark, tiny_index, tmp_path, arrow_batch_rows):
    """At two rows per Arrow batch most (term, shard) and (field, value)
    groups span several batches: merged/ and filters/ rows must still equal
    a run at the default batch size, single level and with fan-in levels."""
    dirs = {}
    for name in ("default", "small", "small_fanin"):
        dirs[name] = str(tmp_path / name)
        shutil.copytree(tiny_index, dirs[name])
    merge_segments(spark, dirs["default"])
    build_field_filters(spark, dirs["default"])
    arrow_batch_rows(2)
    merge_segments(spark, dirs["small"])
    build_field_filters(spark, dirs["small"])
    merge_segments(spark, dirs["small_fanin"], fanin=2)

    merged = {k: _rows(d, "merged", ["term", "shard"]) for k, d in dirs.items()}
    _assert_same_rows(merged["default"], merged["small"])
    _assert_same_rows(merged["default"], merged["small_fanin"])
    _assert_same_rows(_rows(dirs["default"], "filters", ["field", "value"]),
                      _rows(dirs["small"], "filters", ["field", "value"]))


def test_merged_file_count_does_not_follow_pids(spark, tiny_index, tmp_path, global_doc_meta):
    """Three micro-batches add 4 pids each; merged/ stays at most
    spark.sql.shuffle.partitions files with disjoint, ascending (term, shard)
    ranges, and filters/ equals bitmaps built from the forward index."""
    idx = str(tmp_path / "idx")
    shutil.copytree(tiny_index, idx)
    extra = generate_corpus(spark, n_rows=120, seed=7, partitions=1)
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    for b in range(3):
        wave = extra.filter((rowidx >= 40 * b) & (rowidx < 40 * (b + 1)))
        append_batch(wave, b, idx, partitions_per_batch=4)
    summary = refresh(spark, idx)
    assert summary["n_pids"] == 16

    files = sorted(glob.glob(os.path.join(idx, "merged", "*.parquet")))
    assert 0 < len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["term", "shard"])
        keys = list(zip(t.column("term").to_pylist(), t.column("shard").to_pylist()))
        assert keys == sorted(keys)
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges[:-1], ranges[1:]):
        assert hi < lo

    meta = global_doc_meta(idx, ["doc_id", "lang", "repo"])
    want = {
        (field, value): roaring.from_array(np.sort(ids.to_numpy(dtype=np.int64)))
        for field in ("lang", "repo")
        for value, ids in meta.groupby(field)["doc_id"]
    }
    got = _rows(idx, "filters", ["field", "value"])
    assert {(r.field, r.value): r.doc_ids for r in got.itertuples()} == want
    assert {(r.field, r.value): r.n for r in got.itertuples()} == {
        k: roaring.to_array(v).size for k, v in want.items()
    }
