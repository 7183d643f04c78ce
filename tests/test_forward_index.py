"""The forward index served by position from doc_meta_local: the merge
publishes a (pid, offset, n_docs) table instead of rewriting a globalized
doc_meta/, corpus_stats comes from the manifests, a cold top-k gather reads
only the row groups holding a wanted id, and the gate index caches are named
by the code that builds them."""

import json
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from miru_spark.index.merge import forward_index, load_pid_offsets
from miru_spark.query import scorer as sc


def _old_spark_stats(spark, index_dir) -> dict:
    """corpus_stats as the merge computed it from the globalized doc_meta:
    count, avg(doc_len) and max(doc_id) in Spark, plus the stats row count."""
    agg = forward_index(spark, index_dir).agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"), F.max("doc_id").alias("max_doc")
    ).first()
    return {
        "n_docs": int(agg["n"]),
        "repr_avgdl": repr(float(agg["avgdl"])),
        "max_doc_id": int(agg["max_doc"]),
        "n_terms": spark.read.parquet(os.path.join(index_dir, "stats")).count(),
    }


def _stats(index_dir) -> dict:
    with open(os.path.join(index_dir, "corpus_stats.json")) as f:
        cs = json.load(f)
    return {"n_docs": cs["n_docs"], "repr_avgdl": repr(cs["avgdl"]),
            "max_doc_id": cs["max_doc_id"], "n_terms": cs["n_terms"]}


def test_tiny_index_stats_from_manifests_and_no_doc_meta(spark, tiny_index):
    assert not os.path.exists(os.path.join(tiny_index, "doc_meta"))
    assert _stats(tiny_index) == _old_spark_stats(spark, tiny_index)
    pid, off, n = load_pid_offsets(tiny_index)
    assert off[0] == 0 and (off[1:] == np.cumsum(n)[:-1]).all()
    assert n.sum() == sc.IndexHandle.open(tiny_index).n_docs


def test_perfbench_corpus_stats_unchanged(spark, tmp_path):
    """The benchmark's 10k-doc corpus (ts included): the manifest sums give
    the Spark aggregate's n_docs, max_doc_id, n_terms and avgdl to the bit."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    try:
        import gen
    finally:
        sys.path.pop(0)
    from miru_spark.index.build import build_index

    corpus = spark.createDataFrame(gen.corpus_rows(1, 0, 10_000))
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, num_partitions=8, resume=False)
    assert not os.path.exists(os.path.join(idx, "doc_meta"))
    assert _stats(idx) == _old_spark_stats(spark, idx)
    assert _stats(idx)["n_docs"] == 10_000


def test_forward_index_files_encoding(tiny_index):
    """doc_meta_local keeps dictionaries to its low-cardinality columns and
    delta-packs local_doc_id; rows stay dense from 0 in each pid file."""
    pid = int(load_pid_offsets(tiny_index)[0, 0])
    path = os.path.join(tiny_index, "doc_meta_local", f"meta_{pid}.parquet")
    md = pq.read_metadata(path)
    enc = {md.schema.column(j).name: md.row_group(0).column(j).encodings
           for j in range(md.num_columns)}
    for c in ("repo", "commit", "lang", "doc_len", "pid"):
        assert "RLE_DICTIONARY" in enc[c], c
    for c in ("path", "local_doc_id"):
        assert "RLE_DICTIONARY" not in enc[c], c
    assert "DELTA_BINARY_PACKED" in enc["local_doc_id"]
    ids = pq.read_table(path, columns=["local_doc_id"]).column(0).to_numpy()
    np.testing.assert_array_equal(ids, np.arange(ids.size))


def _tiny_row_groups(src, dst, rows_per_group):
    """A copy of ``src`` whose doc_meta_local files hold ``rows_per_group``
    rows per row group."""
    shutil.copytree(src, dst)
    meta_dir = os.path.join(dst, "doc_meta_local")
    for name in os.listdir(meta_dir):
        path = os.path.join(meta_dir, name)
        pq.write_table(pq.read_table(path), path, row_group_size=rows_per_group)
    return dst


def test_cold_gather_reads_only_wanted_row_groups(tiny_index, tmp_path, monkeypatch, serving_cache):
    rows_per_group = 7
    idx = _tiny_row_groups(tiny_index, str(tmp_path / "rg"), rows_per_group)
    pid, off, n = load_pid_offsets(idx)
    assert (n > 3 * rows_per_group).all()  # several groups per pid
    reads = []
    read_row_group = sc._read_row_group

    def counting(path, footer, row_group, columns):
        reads.append((os.path.basename(path), row_group))
        return read_row_group(path, footer, row_group, columns)

    monkeypatch.setattr(sc, "_read_row_group", counting)
    for query, masks in (("merge OR sort", {}), ("def", {"lang_filter": ["python"]}),
                         ("NOT merge", {}), ("rareterm0", {})):
        want = sc.search_local(tiny_index, query, k=10, **masks)
        sc.search_local(idx, query, k=10, gather=False, **masks)  # warm doc lengths
        serving_cache.drop_row_groups()
        reads.clear()
        diag = {}
        got = sc.search_local(idx, query, k=10, diag=diag, **masks)
        assert got.equals(want), query
        ids = got["doc_id"].to_numpy()
        entry = np.searchsorted(off, ids, side="right") - 1
        expected = {(f"meta_{pid[e]}.parquet", int((d - off[e]) // rows_per_group))
                    for d, e in zip(ids, entry)}
        assert len(reads) == len(set(reads))  # each group decoded once
        assert set(reads) == expected, query
        assert diag["meta_row_groups_read"] == len(expected), query
    assert sc.search_local(idx, "merge OR sort", k=10, diag=None).equals(
        sc.search_local(tiny_index, "merge OR sort", k=10))


def test_gate_index_dir_follows_build_sources(tmp_path, monkeypatch):
    """A gate index is cached under a name hashed from the build-path
    sources: changing one of them names a new dir."""
    from miru_spark import codec
    from miru_spark.index import merge
    from miru_spark.operators.fulltext import _gate_index_dir

    base = _gate_index_dir("miru_idx", "/data/sf0.01")
    assert _gate_index_dir("miru_idx", "/data/sf0.01") == base
    for mod in (codec, merge):
        copy = tmp_path / os.path.basename(mod.__file__)
        copy.write_text(open(mod.__file__).read() + "\n# changed\n")
        with monkeypatch.context() as m:
            m.setattr(mod, "__file__", str(copy))
            assert _gate_index_dir("miru_idx", "/data/sf0.01") != base
    assert _gate_index_dir("miru_idx", "/data/sf0.01") == base


def test_index_without_offset_table_raises(spark, tiny_index, tmp_path):
    """An index merged before pid_offsets.json existed has no published
    forward index: serving and the Spark consumers say so instead of
    answering from an empty one."""
    idx = str(tmp_path / "old")
    shutil.copytree(tiny_index, idx)
    os.remove(os.path.join(idx, "pid_offsets.json"))
    for call in (lambda: sc.search_local(idx, "merge OR sort", k=5),
                 lambda: forward_index(spark, idx),
                 lambda: sc.search_distributed(spark, idx, "merge OR sort", k=5)):
        with pytest.raises(ValueError, match="predates pid_offsets.json; re-run merge_segments"):
            call()
