"""Compaction (S13 delta-merge analog): streamed micro-batch segments are
rewritten into fewer partitions with IDENTICAL query results and global
docIDs (offsets derive from manifest counts in pid order, which compaction
preserves)."""

import os

import pytest
from pyspark.sql import functions as F

from miru_spark.corpus import generate_corpus
from miru_spark.index.compact import compact
from miru_spark.query.scorer import search_local
from miru_spark.streaming.ingest import ingest_stream, refresh


@pytest.fixture()
def streamed_index(spark, tmp_path):
    source = str(tmp_path / "arrivals")
    index_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(source)
    full = generate_corpus(spark, n_rows=240, seed=5, partitions=1).persist()
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    for i, (lo, hi) in enumerate([(0, 80), (80, 160), (160, 240)]):
        full.filter((rowidx >= lo) & (rowidx < hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(source, f"wave_{i}"))
        q = ingest_stream(spark, os.path.join(source, "wave_*"), index_dir, ckpt,
                          partitions_per_batch=4)
        q.awaitTermination(120)
    refresh(spark, index_dir)
    return index_dir


def test_compaction_preserves_queries_and_docids(spark, streamed_index):
    idx = streamed_index
    queries = ["merge AND sort", "def", "merge OR sort", "def AND NOT license"]
    before = {q: search_local(idx, q, k=50) for q in queries}

    stats = compact(idx, target_docs=10_000)  # everything into one group
    assert stats["after_partitions"] < stats["before_partitions"]

    refresh(spark, idx)
    for q in queries:
        a, b = before[q], search_local(idx, q, k=50)
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), q
        assert a["score"].tolist() == b["score"].tolist(), q
        assert a["path"].tolist() == b["path"].tolist(), q


def test_compacted_segment_concatenates_shifted_runs(streamed_index):
    """Per term, the compacted segment's postings decode to the original
    segments' runs in pid order, each shifted by its pid's local offset (the
    cumulative doc count before it in the group); df/cf are the sums and
    block_last shifts with the ids."""
    import numpy as np
    import pyarrow.parquet as pq

    from miru_spark.codec import decode_postings
    from miru_spark.index.build import SEGMENT_SCHEMA, segment_path
    from miru_spark.index.compact import load_manifests

    idx = streamed_index
    group = load_manifests(idx)
    expect: dict = {}
    off = 0
    for m in group:
        for r in pq.read_table(segment_path(idx, m["pid"])).to_pylist():
            ids, tfs = decode_postings(r["docids"], r["tfs"])
            e = expect.setdefault(r["term"], {"ids": [], "tfs": [], "block_last": [], "df": 0, "cf": 0})
            e["ids"].append(ids + off)
            e["tfs"].append(tfs)
            e["block_last"].append(np.frombuffer(r["block_last"], dtype=np.int64) + off)
            e["df"] += r["df"]
            e["cf"] += r["cf"]
        off += m["n_docs"]

    stats = compact(idx, target_docs=10_000)
    assert stats["after_partitions"] == 1 < len(group)
    seg = pq.read_table(segment_path(idx, group[0]["pid"]))
    assert seg.schema.remove_metadata() == SEGMENT_SCHEMA
    rows = seg.to_pylist()
    assert [r["term"] for r in rows] == sorted(expect)
    for r in rows:
        e = expect[r["term"]]
        ids, tfs = decode_postings(r["docids"], r["tfs"])
        assert ids.tolist() == np.concatenate(e["ids"]).tolist(), r["term"]
        assert tfs.tolist() == np.concatenate(e["tfs"]).tolist(), r["term"]
        assert np.frombuffer(r["block_last"], dtype=np.int64).tolist() == np.concatenate(e["block_last"]).tolist()
        assert (r["pid"], r["df"], r["cf"], r["min_doc"], r["max_doc"]) == (
            group[0]["pid"], e["df"], e["cf"], ids[0], ids[-1]
        )


def test_compacted_forward_index_rebases_local_ids(streamed_index):
    """The compacted doc_meta_local file holds the group's rows in pid order,
    each pid's local ids shifted by its local offset, all under the new pid."""
    import pyarrow.parquet as pq

    from miru_spark.index.build import meta_path
    from miru_spark.index.compact import load_manifests

    idx = streamed_index
    group = load_manifests(idx)
    expect, off = [], 0
    for m in group:
        rows = pq.read_table(meta_path(idx, m["pid"])).to_pylist()
        expect += [dict(r, local_doc_id=r["local_doc_id"] + off, pid=group[0]["pid"]) for r in rows]
        off += m["n_docs"]

    schema = pq.read_schema(meta_path(idx, group[0]["pid"])).remove_metadata()

    compact(idx, target_docs=10_000)
    got = pq.read_table(meta_path(idx, group[0]["pid"]))
    assert got.schema.remove_metadata() == schema
    assert got.to_pylist() == expect


def test_compacting_a_copy_leaves_the_source_whole(streamed_index, tmp_path, monkeypatch):
    """Manifests and compaction journals name no path, so compacting a
    ``shutil.copytree`` copy rewrites and retires the copy's own files: the
    source keeps every data file and answers as before."""
    import shutil

    from miru_spark.query import scorer

    src = streamed_index
    queries = ["merge AND sort", "def", "merge OR sort"]
    before = {q: search_local(src, q, k=50) for q in queries}
    data_dirs = ("segments", "doc_meta_local")
    files = {sub: sorted(os.listdir(os.path.join(src, sub))) for sub in data_dirs}

    copy = shutil.copytree(src, str(tmp_path / "copy"))
    stats = compact(copy, target_docs=10_000)
    assert stats["after_partitions"] < stats["before_partitions"]

    assert {sub: sorted(os.listdir(os.path.join(src, sub))) for sub in data_dirs} == files
    monkeypatch.setattr(scorer, "_CACHE", scorer._ByteLRU())  # answer from the files, not the cache
    for q in queries:
        for idx in (src, copy):
            got = search_local(idx, q, k=50)
            assert before[q]["doc_id"].tolist() == got["doc_id"].tolist(), (idx, q)
            assert before[q]["score"].tolist() == got["score"].tolist(), (idx, q)


def test_moved_index_syncs_resumes_and_compacts(spark, tmp_path):
    """An ``os.rename``d index names its files under its new directory: sync
    ships from it, a resumed build skips every partition, compaction folds
    it, and the moved index and its replica answer as before the move."""
    from miru_spark.index.build import build_index
    from miru_spark.sync import sync_index

    corpus = generate_corpus(spark, n_rows=200, seed=7, partitions=2).persist()
    old, idx, replica = (str(tmp_path / n) for n in ("old", "moved", "replica"))
    build_index(spark, corpus, old, num_partitions=4)
    before = search_local(old, "merge OR sort", k=50)
    os.rename(old, idx)

    assert len(sync_index(idx, replica)["shipped_pids"]) == 4
    assert build_index(spark, corpus, idx, num_partitions=4, resume=True)["skipped_partitions"] == 4
    stats = compact(idx, target_docs=10_000)
    assert stats["after_partitions"] == 1 < stats["before_partitions"]
    refresh(spark, replica)
    corpus.unpersist()
    for d in (idx, replica):
        after = search_local(d, "merge OR sort", k=50)
        assert before["doc_id"].tolist() == after["doc_id"].tolist(), d
        assert before["score"].tolist() == after["score"].tolist(), d


def test_compaction_respects_target(spark, streamed_index):
    idx = streamed_index
    stats = compact(idx, target_docs=85)  # ~one wave per group
    assert stats["after_partitions"] <= stats["before_partitions"]
    assert stats["groups"] >= 3
    refresh(spark, idx)
    assert len(search_local(idx, "def", k=10)) == 10


def test_crash_mid_compaction_reconciles_forward(spark, streamed_index, monkeypatch):
    """Journaled swap: a crash right after the journal is written (staged
    files durable, nothing retired/published yet) leaves the ORIGINAL
    manifests fully consistent; reconcile() rolls the swap forward and the
    compacted index answers identically."""
    import miru_spark.index.compact as comp

    idx = streamed_index
    before = search_local(idx, "merge OR sort", k=50)
    man_dir = os.path.join(idx, "manifests")
    n_manifests_before = len([n for n in os.listdir(man_dir) if n.endswith(".json")])

    monkeypatch.setattr(comp, "_finish_swap", lambda *a, **k: None)  # crash here
    comp.compact(idx, target_docs=10_000)
    monkeypatch.undo()

    # crashed state: journal present, all original manifests intact
    journals = [n for n in os.listdir(man_dir) if n.endswith(".journal")]
    assert journals
    assert len([n for n in os.listdir(man_dir) if n.endswith(".json")]) == n_manifests_before
    # the staged files are _-prefixed → invisible to a merge scan; the index
    # still answers from the ORIGINAL segments
    refresh(spark, idx)  # merge reconciles: swap rolled forward
    assert not [n for n in os.listdir(man_dir) if n.endswith(".journal")]
    after = search_local(idx, "merge OR sort", k=50)
    assert before["doc_id"].tolist() == after["doc_id"].tolist()
    assert before["score"].tolist() == after["score"].tolist()


def test_assume_sorted_guard(spark, tmp_path):
    """assume_sorted on an input whose partition order does NOT follow key
    order must fail loudly instead of corrupting docIDs (ADVICE item)."""
    from miru_spark.index.build import build_index, check_assumed_sort, key_partition

    corpus = generate_corpus(spark, n_rows=120, seed=3, partitions=1)
    # a hash repartition scrambles key ranges across partitions
    scrambled = corpus.repartition(4)
    with pytest.raises(ValueError, match="assume_sorted violated"):
        build_index(
            spark, scrambled, str(tmp_path / "bad"), num_partitions=4,
            assume_sorted=True,
        )
    # the happy path still works: an in-plan range-partitioned input
    sorted_in_plan = (
        corpus.repartitionByRange(4, "repo", "path", "commit")
        .sortWithinPartitions("repo", "path", "commit")
    )
    check_assumed_sort(key_partition(sorted_in_plan, 4, assume_sorted=True))
