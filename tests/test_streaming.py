"""Streaming ingest: micro-batched corpus arrival → appended index
partitions → refresh → queries match the oracle; replayed batches are
idempotent (the WAL sip-cursor contract, MiruWALClient.java:68-76)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from miru_spark.corpus import generate_corpus
from miru_spark.index.build import assign_doc_ids
from miru_spark.query.oracle import oracle_topk
from miru_spark.query.scorer import search_local
from miru_spark.streaming.ingest import _bases, append_batch, ingest_stream, refresh


@pytest.fixture(scope="module")
def stream_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    source = str(root / "arrivals")
    index_dir = str(root / "idx")
    ckpt = str(root / "ckpt")
    os.makedirs(source)
    full = generate_corpus(spark, n_rows=150, seed=42, partitions=1).persist()
    # row index i is recoverable from the generator's path "src/d*/f{i}.ext"
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    for i, (lo, hi) in enumerate([(0, 50), (50, 100), (100, 150)]):
        wave = full.filter((rowidx >= lo) & (rowidx < hi))
        wave.coalesce(1).write.mode("overwrite").parquet(os.path.join(source, f"wave_{i}"))
        # drain after each wave: three separate micro-batches, resumed from
        # the same streaming checkpoint each time
        q = ingest_stream(spark, os.path.join(source, "wave_*"), index_dir, ckpt)
        q.awaitTermination(120)
    refresh(spark, index_dir)
    return index_dir, full


def test_stream_indexed_everything(stream_index, spark):
    index_dir, full = stream_index
    with open(os.path.join(index_dir, "corpus_stats.json")) as f:
        cs = json.load(f)
    assert cs["n_docs"] == 150
    with open(os.path.join(index_dir, "stream_batches.json")) as f:
        batches = json.load(f)
    assert sum(b["n_docs"] for b in batches.values()) == 150
    assert len(batches) >= 3


def test_stream_query_matches_oracle_scores(stream_index, spark):
    """docIDs are arrival-ordered (not global key rank), so compare by key:
    the (repo, path) → score map must match the batch oracle exactly."""
    index_dir, full = stream_index
    with_ids, _ = assign_doc_ids(full, 2)
    for q in ("merge AND sort", "def", "merge OR sort"):
        got = search_local(index_dir, q, k=200)
        exp = oracle_topk(with_ids, q, k=200).toPandas()
        gmap = {(r.repo, r.path): round(float(r.score), 6) for r in got.itertuples()}
        emap = {(r.repo, r.path): round(float(r.score), 6) for r in exp.itertuples()}
        assert gmap == emap


def test_replayed_batch_is_skipped(stream_index, spark):
    index_dir, full = stream_index
    before = _bases(index_dir)
    # replay an already-recorded batch_id with different data — must be a no-op
    append_batch(full.limit(10), 0, index_dir)
    assert _bases(index_dir) == before


def test_streaming_e2e_compose_dedup_removal_refresh_serve(spark, tmp_path):
    """The composed deployment loop the r4 verdict asked for, in ONE test:
    ingest → append_batch(dedup_store=) → journaled removal ops →
    refresh() → serve, across 3 batches with crash-replays between (a
    foreachBatch redelivery after work-done-but-checkpoint-uncommitted is
    exactly a replayed batch_id). Final top-k is oracle-checked: brute-force
    BM25 over the docs that SHOULD be indexed (adds minus the near-dup
    copies the ingest filter drops), with removal masking candidates only
    (global stats keep the removed docs) — compared by (repo, path) key."""
    index_dir = str(tmp_path / "idx")
    store = str(tmp_path / "store")
    os.makedirs(index_dir)

    full = generate_corpus(spark, n_rows=150, seed=42, partitions=1).persist()
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    w1 = full.filter(rowidx < 50)
    w2 = full.filter((rowidx >= 50) & (rowidx < 100))
    w3 = full.filter(rowidx >= 100)
    # verbatim copies of two wave-1 docs arrive again in wave 2 under new
    # keys — the ingest filter must drop them (exact dup = hamming 0; a
    # paraphrase's hamming budget is covered by test_stream_dedup.py)
    copies = (
        w1.orderBy("path")
        .limit(2)
        .withColumn("repo", F.lit("rcopy"))
        .withColumn("path", F.concat(F.lit("copy/"), F.col("path")))
    )

    # batch 0: plain adds
    append_batch(w1, 0, index_dir, partitions_per_batch=2, dedup_store=store)
    # batch 1: adds + the near-dup copies
    append_batch(
        w2.unionByName(copies), 1, index_dir, partitions_per_batch=2, dedup_store=store
    )
    # CRASH #1: batch 1 redelivered (work durable, checkpoint uncommitted)
    before = _bases(index_dir)
    append_batch(
        w2.unionByName(copies), 1, index_dir, partitions_per_batch=2, dedup_store=store
    )
    assert _bases(index_dir) == before, "replayed batch must not reserve pids"

    # mid-stream refresh + serve to pick removal victims that actually rank
    refresh(spark, index_dir)
    mid = search_local(index_dir, "merge AND sort", k=2)
    victims = list(zip(mid["repo"], mid["path"], mid["commit"]))
    assert len(victims) == 2

    # batch 2: adds + journaled REMOVE ops for the two victims
    vic_cond = F.struct("repo", "path", "commit").isin(
        [F.struct(F.lit(r), F.lit(p), F.lit(c)) for r, p, c in victims]
    )
    removes = full.filter(vic_cond).withColumn("op", F.lit("remove"))
    adds3 = w3.withColumn("op", F.lit("add"))
    append_batch(
        adds3.unionByName(removes), 2, index_dir,
        partitions_per_batch=2, dedup_store=store,
    )
    # CRASH #2: batch 2 redelivered after ops were journaled AND built
    before = _bases(index_dir)
    append_batch(
        adds3.unionByName(removes), 2, index_dir,
        partitions_per_batch=2, dedup_store=store,
    )
    assert _bases(index_dir) == before

    summary = refresh(spark, index_dir)
    assert summary.get("removal_ops_applied", 0) == 2

    # what SHOULD be indexed: all adds minus the dropped copies
    with open(os.path.join(index_dir, "corpus_stats.json")) as f:
        assert json.load(f)["n_docs"] == 150
    indexed = full  # copies dropped, so the indexed corpus == the generator's 150
    with_ids, _ = assign_doc_ids(indexed, 2)
    vic_set = {(r, p) for r, p, _ in victims}
    from miru_spark.query.scorer import search_distributed

    for q in ("merge AND sort", "merge OR sort", "def"):
        exp = oracle_topk(with_ids, q, k=10_000).toPandas()
        emap = {
            (r.repo, r.path): round(float(r.score), 6)
            for r in exp.itertuples()
            if (r.repo, r.path) not in vic_set
        }
        got = search_local(index_dir, q, k=10_000)
        gmap = {(r.repo, r.path): round(float(r.score), 6) for r in got.itertuples()}
        assert gmap == emap, q
        gd = search_distributed(spark, index_dir, q, k=10_000).toPandas()
        gdmap = {(r.repo, r.path): round(float(r.score), 6) for r in gd.itertuples()}
        assert gdmap == emap, q
        assert not vic_set & set(gmap), "removed docs must not serve"


# queries of every shape the published generation serves: a conjunction, a
# pure negation, a lang mask and a ts Range reachable through OR
WINDOW_QUERIES = [
    ("merge AND sort", {}),
    ("NOT merge", {}),
    ("merge OR sort", {"lang_filter": ["python", "go"]}),
    ("ts:[0 TO 17] OR sort", {}),
]


def _window_answers(spark, index_dir):
    from miru_spark.query.scorer import search_batch, search_distributed

    local = [search_local(index_dir, q, k=20, **m) for q, m in WINDOW_QUERIES]
    batch = (
        search_batch(spark, index_dir, [q for q, _ in WINDOW_QUERIES], k=20)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    dist = [search_distributed(spark, index_dir, q, k=20, **m).toPandas() for q, m in WINDOW_QUERIES]
    return local, batch, dist


def _assert_same_answers(a, b):
    for x, y in zip(a[0] + [a[1]] + a[2], b[0] + [b[1]] + b[2]):
        assert len(x) > 0
        assert x.equals(y), (x, y)


def test_published_generation_stays_consistent(spark, tmp_path, monkeypatch, serving_cache):
    """Between an append and its refresh, and between a compaction and the
    next refresh, every path answers from the last published generation:
    also inside the swap, after compaction (or a sync to a replica) replaced
    a published pid's file but before it re-published the offset table, and
    on a replica whose sync crashed after that re-publish. After a refresh
    the answers equal a fresh build's. No step writes a doc_meta/ directory."""
    from miru_spark.index import compact as compact_mod
    from miru_spark.index.merge import load_pid_offsets
    from miru_spark import sync as sync_mod

    full = generate_corpus(spark, n_rows=240, seed=13, partitions=1)
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    full = full.withColumn("ts", F.pmod(rowidx, F.lit(37))).persist()
    waves = [full.filter((rowidx >= lo) & (rowidx < lo + 80)) for lo in (0, 80, 160)]

    def no_doc_meta(index_dir):
        assert not os.path.exists(os.path.join(index_dir, "doc_meta"))

    def in_window(republish, index_dir, expected):
        """republish_without, answering from ``index_dir`` just before it:
        footers stay cached from the published generation, row groups are
        read cold from the files the swap replaced."""
        def hook(*args):
            serving_cache.drop_row_groups()
            _assert_same_answers(expected, _window_answers(spark, index_dir))
            republish(*args)
        return hook

    idx = str(tmp_path / "idx")
    for b in (0, 1):
        append_batch(waves[b], b, idx, partitions_per_batch=2)
        refresh(spark, idx)
    published = _window_answers(spark, idx)
    pid, off, _ = load_pid_offsets(idx)
    replica = str(tmp_path / "replica")
    sync_mod.sync_index(idx, replica)
    refresh(spark, replica)
    _assert_same_answers(published, _window_answers(spark, replica))

    append_batch(waves[2], 2, idx, partitions_per_batch=2)  # not yet refreshed
    _assert_same_answers(published, _window_answers(spark, idx))

    republish = compact_mod.republish_without
    with monkeypatch.context() as m:
        m.setattr(compact_mod, "republish_without", in_window(republish, idx, published))
        stats = compact_mod.compact(idx, target_docs=10_000)
    assert stats["after_partitions"] == 2  # the published group, the appended one
    kept, kept_off, _ = load_pid_offsets(idx)
    assert kept.tolist() == [pid[0]] and kept_off.tolist() == [off[0]]
    _assert_same_answers(published, _window_answers(spark, idx))
    no_doc_meta(idx)

    def crash_after(*args):
        in_window(republish, replica, published)(*args)
        raise RuntimeError("crash before the retired files are deleted")

    with monkeypatch.context() as m:
        m.setattr(sync_mod, "republish_without", crash_after)
        with pytest.raises(RuntimeError, match="crash"):
            sync_mod.sync_index(idx, replica)
    assert load_pid_offsets(replica)[0].tolist() == [pid[0]]
    serving_cache.drop_row_groups()
    _assert_same_answers(published, _window_answers(spark, replica))

    refresh(spark, idx)
    no_doc_meta(idx)
    fresh = str(tmp_path / "fresh")
    for b in (0, 1, 2):
        append_batch(waves[b], b, fresh, partitions_per_batch=2)
    refresh(spark, fresh)
    after = _window_answers(spark, idx)
    _assert_same_answers(after, _window_answers(spark, fresh))

    # the next pass retires what the crashed one left
    assert sync_mod.sync_index(idx, replica)["retired_pids"] == pid[1:].tolist()
    refresh(spark, replica)
    no_doc_meta(replica)
    _assert_same_answers(after, _window_answers(spark, replica))
