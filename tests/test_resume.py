"""Resume contract (FIXTURES.md F6 / SURVEY.md S14-S15): an interrupted build
re-run completes from manifests with identical final artifacts, and completed
partitions are skipped (no recomputation)."""

import glob
import json
import os

import pandas as pd
import pytest

from miru_spark.corpus import generate_corpus
from miru_spark.index.build import (
    assign_doc_ids, build_index, build_segments, manifest_path, meta_path, segment_path,
)
from miru_spark.query.scorer import search_local


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, n_rows=200, seed=7, partitions=2).persist()
    df.count()
    return df


def _segment_fingerprint(index_dir):
    import pyarrow.parquet as pq

    out = {}
    for f in sorted(glob.glob(os.path.join(index_dir, "segments", "seg_*.parquet"))):
        t = pq.read_table(f).to_pandas().sort_values("term").reset_index(drop=True)
        out[os.path.basename(f)] = pd.util.hash_pandas_object(
            t[["term", "df", "cf", "min_doc", "max_doc"]], index=False
        ).sum()
    return out


def test_interrupted_build_resumes(spark, corpus, tmp_path):
    idx_full = str(tmp_path / "full")
    build_index(spark, corpus, idx_full, num_partitions=4)
    fp_full = _segment_fingerprint(idx_full)

    # "interrupted" build: build only 2 of 4 partition segments, then resume
    idx_resume = str(tmp_path / "resume")
    with_ids, _ = assign_doc_ids(corpus, 4)
    with_ids = with_ids.persist()
    with_ids.count()
    partial = with_ids.filter(with_ids["_pid"] < 2)
    build_segments(partial, idx_resume, resume=True).collect()
    built_before = set(os.listdir(os.path.join(idx_resume, "manifests")))
    assert len(built_before) == 2

    summary = build_index(spark, corpus, idx_resume, num_partitions=4, resume=True)
    assert summary["skipped_partitions"] == 2  # checkpointed partitions not recomputed
    assert _segment_fingerprint(idx_resume) == fp_full

    # resumed index answers identically
    a = search_local(idx_full, "merge AND sort")
    b = search_local(idx_resume, "merge AND sort")
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_full_rerun_skips_everything(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, num_partitions=4)
    s2 = build_index(spark, corpus, idx, num_partitions=4, resume=True)
    assert s2["skipped_partitions"] == 4


def test_manifest_contents(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx2")
    build_index(spark, corpus, idx, num_partitions=4)
    for f in glob.glob(os.path.join(idx, "manifests", "*.json")):
        m = json.load(open(f))
        for key in ("pid", "n_docs", "n_tokens", "n_postings", "n_terms", "doc_id_start", "doc_id_end"):
            assert key in m, key
        assert m["n_docs"] > 0 and m["n_tokens"] > 0
        # a manifest holds counts, no path: the pid alone names its files
        assert not [v for v in m.values() if isinstance(v, str) and os.sep in v], m
        assert f == manifest_path(idx, m["pid"])
        assert os.path.exists(segment_path(idx, m["pid"])) and os.path.exists(meta_path(idx, m["pid"]))
