from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pandas as pd
import pyarrow.parquet as pq
import pytest

from miru_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("miru_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    from miru_spark.corpus import generate_corpus

    df = generate_corpus(spark, n_rows=200, seed=42, partitions=2)
    df = df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus, tmp_path_factory):
    from miru_spark.index.build import build_index

    index_dir = str(tmp_path_factory.mktemp("idx") / "tiny")
    build_index(spark, tiny_corpus, index_dir, num_partitions=4)
    yield index_dir
    shutil.rmtree(index_dir, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def global_doc_meta():
    """index_dir → the published forward index as one pandas frame keyed by
    global doc_id: each published pid's doc_meta_local rows, offset by the
    merge's (pid, offset, n_docs) table."""
    from miru_spark.index.merge import load_pid_offsets

    def read(index_dir, columns=None):
        frames = []
        for pid, off, n in load_pid_offsets(index_dir).T:
            path = os.path.join(index_dir, "doc_meta_local", f"meta_{pid}.parquet")
            t = pq.read_table(path).to_pandas().iloc[:n]
            t.insert(0, "doc_id", t.pop("local_doc_id") + off)
            frames.append(t.drop(columns="pid"))
        meta = pd.concat(frames, ignore_index=True)
        return meta if columns is None else meta[columns]

    return read


@pytest.fixture
def serving_cache(monkeypatch):
    """A private, empty serving cache for the test: scorer's ``_CACHE`` and
    its ``_POSTING_CACHE`` alias. ``reset()`` swaps in another empty one;
    ``drop_row_groups()`` evicts only the doc_meta_local row groups and the
    filter bitmaps, so footers, postings and doc lengths stay warm."""
    from miru_spark.query import scorer as sc

    def reset():
        cache = sc._ByteLRU()
        monkeypatch.setattr(sc, "_CACHE", cache)
        monkeypatch.setattr(sc, "_POSTING_CACHE", cache)
        return cache

    def drop_row_groups():
        # a row group's key is its file's footer key plus the group number
        for k in [k for k in sc._CACHE.entries
                  if (k[2] == "doc_meta_local" and len(k) == 7) or k[2].startswith("filters/")]:
            sc._CACHE.pop(k)

    reset()
    return SimpleNamespace(reset=reset, drop_row_groups=drop_row_groups)
