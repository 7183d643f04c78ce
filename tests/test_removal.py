"""F5 removal/REPAIR path + S4 doc-time index.

Semantics under test (miru parity):
- REMOVE is version-guarded (MiruIndexer.java:138-162): an older version
  never overrides a newer one, replay is idempotent.
- The removal bitmap is a candidate mask only (buildIndexMask,
  MiruBitmapsRoaring.java:457-505): surviving docs keep their exact
  pre-delete BM25 scores (df/avgdl/N untouched).
- Both query paths and the WAND-pruned disjunctive path stay
  rank-identical to "brute-force top-k minus removed ids".
- Streaming REMOVE/REPAIR ops journal through pending_ops and apply at
  refresh(); a replayed op batch is a no-op.
- time_range=(lo,hi) masks candidates by the doc-time column in both
  paths (FullTextCustomQuestion.java:109-111 composition).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from miru_spark.corpus import generate_corpus
from miru_spark.index import removal
from miru_spark.index.build import KEY_COLS, SEGMENT_SCHEMA, assign_doc_ids, build_index
from miru_spark.index.merge import MERGED_SCHEMA, STATS_SCHEMA, footer_schema, forward_index
from miru_spark.query.oracle import oracle_topk
from miru_spark.query.scorer import search_distributed, search_local


@pytest.fixture(scope="module")
def del_index(spark, tiny_corpus, tmp_path_factory):
    """Fresh index (the session tiny_index must stay unmutated) with a ts
    column: ts = row index % 37, recoverable from the generator's path."""
    index_dir = str(tmp_path_factory.mktemp("delidx") / "idx")
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    corpus = tiny_corpus.withColumn("ts", F.pmod(rowidx, F.lit(37)))
    build_index(spark, corpus, index_dir, num_partitions=4)
    with_ids, _ = assign_doc_ids(corpus.drop("ts"), 4)
    return index_dir, with_ids.persist()


def _expected(with_ids, query, removed_ids, k=10):
    """Mask-only semantics: brute-force top-k over the FULL corpus (global
    stats), removed ids dropped, then cut to k."""
    exp = oracle_topk(with_ids, query, k=10_000).toPandas()
    exp = exp[~exp["doc_id"].isin(removed_ids)].head(k)
    return list(exp["doc_id"]), [round(float(s), 6) for s in exp["score"]]


def test_remove_masks_both_paths(del_index, spark):
    index_dir, with_ids = del_index
    base = search_local(index_dir, "merge AND sort", k=5)
    victims = [int(base["doc_id"].iloc[0]), int(base["doc_id"].iloc[2])]
    assert removal.remove_docs(index_dir, victims, version=1) == 2

    exp_ids, exp_scores = _expected(with_ids, "merge AND sort", victims, k=5)
    got_l = search_local(index_dir, "merge AND sort", k=5)
    assert list(got_l["doc_id"]) == exp_ids
    assert [round(float(s), 6) for s in got_l["score"]] == exp_scores
    got_d = search_distributed(spark, index_dir, "merge AND sort", k=5).toPandas()
    assert list(got_d["doc_id"]) == exp_ids


def test_wand_path_sound_under_removal(del_index, spark):
    """Disjunctive query takes the block-max WAND path; θ must be seeded
    from ELIGIBLE docs only, so the top-k after heavy deletion is still
    exactly brute-force-minus-removed."""
    index_dir, with_ids = del_index
    top = search_local(index_dir, "merge OR sort OR def", k=20)
    victims = [int(d) for d in top["doc_id"].iloc[:15]]
    removal.remove_docs(index_dir, victims, version=2)
    removal.remove_docs(index_dir, [0, 1], version=2)
    try:
        all_removed = set(removal.removed_array(index_dir).tolist())
        exp_ids, exp_scores = _expected(with_ids, "merge OR sort OR def", all_removed, k=10)
        got = search_local(index_dir, "merge OR sort OR def", k=10)
        assert list(got["doc_id"]) == exp_ids
        assert [round(float(s), 6) for s in got["score"]] == exp_scores
    finally:  # restore for later tests in this module
        removal.repair_docs(index_dir, victims + [0, 1], version=3)


def test_version_guard(del_index):
    index_dir, _ = del_index
    # doc 42: removed at v10
    assert removal.remove_docs(index_dir, [42], version=10) == 1
    # older remove: no-op (already recorded at higher version)
    assert removal.remove_docs(index_dir, [42], version=5) == 0
    # same-version replay: no-op (idempotent WAL delivery)
    assert removal.remove_docs(index_dir, [42], version=10) == 0
    # older repair: rejected, doc stays removed
    assert removal.repair_docs(index_dir, [42], version=9) == 0
    assert 42 in removal.removed_array(index_dir)
    # newer repair: restores
    assert removal.repair_docs(index_dir, [42], version=11) == 1
    assert 42 not in removal.removed_array(index_dir)
    # stale remove after repair: rejected even though the bit is clear
    assert removal.remove_docs(index_dir, [42], version=11) == 0
    assert 42 not in removal.removed_array(index_dir)


def test_time_range_masks_both_paths(del_index, spark):
    """ts = rowidx % 37; range [0, 17] keeps ~half the docs. Expected =
    brute-force minus out-of-range ids (global stats, mask-only)."""
    index_dir, with_ids = del_index
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    out_of_range = {
        r["doc_id"]
        for r in with_ids.withColumn("ts", F.pmod(rowidx, F.lit(37)))
        .filter(~F.col("ts").between(0, 17))
        .select("doc_id")
        .collect()
    }
    removed_now = set(removal.removed_array(index_dir).tolist())
    exp_ids, exp_scores = _expected(
        with_ids, "merge OR sort", out_of_range | removed_now, k=8
    )
    got_l = search_local(index_dir, "merge OR sort", k=8, time_range=(0, 17))
    assert list(got_l["doc_id"]) == exp_ids
    assert [round(float(s), 6) for s in got_l["score"]] == exp_scores
    got_d = search_distributed(
        spark, index_dir, "merge OR sort", k=8, time_range=(0, 17)
    ).toPandas()
    assert list(got_d["doc_id"]) == exp_ids


def test_streaming_remove_repair_and_replay(spark, tmp_path):
    """REMOVE op batch → refresh → doc invisible; replayed op batch no-op;
    REPAIR under newer version restores."""
    from miru_spark.streaming.ingest import append_batch, refresh

    index_dir = str(tmp_path / "sidx")
    os.makedirs(index_dir)
    corpus = generate_corpus(spark, n_rows=80, seed=7, partitions=1)
    append_batch(corpus.withColumn("op", F.lit("add")), 0, index_dir, 2)
    refresh(spark, index_dir)
    before = search_local(index_dir, "merge OR sort", k=5)
    victim = before.iloc[0]
    ops = spark.createDataFrame(
        [("remove", victim["repo"], victim["path"], victim["commit"])],
        "op string, repo string, path string, commit string",
    )
    # pad op rows to the corpus schema (adds need content; ops don't)
    ops_full = ops.select(
        "op", "repo", "path", "commit",
        F.lit("x").alias("lang"), F.lit("").alias("content"),
        F.sha2(F.lit(""), 256).alias("sha256"),
    )
    append_batch(ops_full, 1, index_dir, 2)
    s = refresh(spark, index_dir)
    assert s["n_removed"] == 1
    after = search_local(index_dir, "merge OR sort", k=5)
    assert victim["doc_id"] not in set(after["doc_id"])

    # replay the same op batch — done-marker short-circuits, nothing changes
    append_batch(ops_full, 1, index_dir, 2)
    s2 = refresh(spark, index_dir)
    assert s2["n_removed"] == 1

    # REPAIR at a newer version restores visibility
    repair_full = ops_full.withColumn("op", F.lit("repair"))
    append_batch(repair_full, 2, index_dir, 2)
    s3 = refresh(spark, index_dir)
    assert s3["n_removed"] == 0
    restored = search_local(index_dir, "merge OR sort", k=5)
    assert victim["doc_id"] in set(restored["doc_id"])


def test_reserved_pids_survive_crash_window(spark, tmp_path):
    """ADVICE fix: the pid reservation is durable before any build, so a
    'crashed' batch (reservation present, not done) keeps its pids claimed
    and a replay completes under the SAME pids — no duplicate docs."""
    import json

    from miru_spark.streaming.ingest import _bases, append_batch, refresh

    index_dir = str(tmp_path / "cidx")
    os.makedirs(index_dir)
    corpus = generate_corpus(spark, n_rows=60, seed=9, partitions=1)
    append_batch(corpus, 0, index_dir, 2)
    # simulate the crash window: mark batch 1 reserved but not done
    bpath = os.path.join(index_dir, "stream_batches.json")
    with open(bpath) as f:
        batches = json.load(f)
    batches["1"] = {"pid_base": _bases(index_dir), "n_partitions": 2, "done": False}
    with open(bpath, "w") as f:
        json.dump(batches, f)
    claimed_base = batches["1"]["pid_base"]
    # a NEW batch must not collide with the crashed batch's reserved pids
    assert _bases(index_dir) == claimed_base + 2
    # the replay of batch 1 reuses its reservation
    wave2 = generate_corpus(spark, n_rows=90, seed=9, partitions=1).filter(
        F.regexp_extract("path", r"f(\d+)\.", 1).cast("long") >= 60
    )
    append_batch(wave2, 1, index_dir, 2)
    with open(bpath) as f:
        rec = json.load(f)["1"]
    assert rec["done"] and rec["pid_base"] == claimed_base
    assert min(rec["pids"]) == claimed_base
    refresh(spark, index_dir)
    import json as _j

    with open(os.path.join(index_dir, "corpus_stats.json")) as f:
        assert _j.load(f)["n_docs"] == 90


def test_ts_range_clause_in_query(del_index, spark):
    """`ts:[lo TO hi]` as a first-class query clause (Range node) — composes
    with terms/booleans, rank-identical to the oracle on both paths."""
    index_dir, with_ids = del_index
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    corpus_ts = with_ids.withColumn("ts", F.pmod(rowidx, F.lit(37)))
    removed_now = set(removal.removed_array(index_dir).tolist())
    for q in ("merge ts:[0 TO 17]", "(merge OR sort) AND ts:[5 TO 20]"):
        exp = oracle_topk(corpus_ts, q, k=10_000).toPandas()
        exp = exp[~exp["doc_id"].isin(removed_now)].head(8)
        got_l = search_local(index_dir, q, k=8)
        assert list(got_l["doc_id"]) == list(exp["doc_id"]), q
        assert [round(float(s), 6) for s in got_l["score"]] == [
            round(float(s), 6) for s in exp["score"]
        ], q
        got_d = search_distributed(spark, index_dir, q, k=8).toPandas()
        assert list(got_d["doc_id"]) == list(exp["doc_id"]), q


def test_or_reachable_range_and_pure_negative_all_paths(del_index, spark):
    """VERDICT r3 items 1+4: a Range clause that is OR-reachable (a doc can
    match with zero term hits) and mustNots-only queries must be
    rank-identical on the serving AND distributed paths vs the oracle.
    Termless matches enter at score 0.0, tie order (0.0, doc_id desc);
    removal masks compose on the termless branch too."""
    index_dir, with_ids = del_index
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    corpus_ts = with_ids.withColumn("ts", F.pmod(rowidx, F.lit(37)))
    removed_now = set(removal.removed_array(index_dir).tolist())
    cases = [
        ("rareterm0 OR ts:[0 TO 2]", 12),  # scored ∪ termless mix (df=1)
        ("NOT merge", 10),  # pure negative → Not(All, merge)
        ("lang:python AND NOT merge", 8),  # wholly termless w/ negative term
        ("merge OR ts:[0 TO 2]", 8),  # OR-reachable Range, scored fills k
    ]
    for q, k in cases:
        exp = oracle_topk(corpus_ts, q, k=10_000).toPandas()
        exp = exp[~exp["doc_id"].isin(removed_now)].head(k)
        got_l = search_local(index_dir, q, k=k)
        assert list(got_l["doc_id"]) == list(exp["doc_id"]), q
        assert [round(float(s), 6) for s in got_l["score"]] == [
            round(float(s), 6) for s in exp["score"]
        ], q
        got_d = search_distributed(spark, index_dir, q, k=k).toPandas()
        assert list(got_d["doc_id"]) == list(exp["doc_id"]), q
    # the first case must genuinely exercise BOTH branches
    mixed = oracle_topk(corpus_ts, cases[0][0], k=10_000).toPandas()
    mixed = mixed[~mixed["doc_id"].isin(removed_now)].head(12)
    assert (mixed["score"] > 0).any() and (mixed["score"] == 0).any()


def test_narrow_time_range_disjunction_sound(del_index, spark):
    """Regression: a pure disjunction + a NARROW time mask must not take the
    WAND fast path — θ seeds from unfiltered scores, so every in-range doc
    can sit below it and be pruned. Expected = brute force minus
    out-of-range minus removed, cut to k."""
    index_dir, with_ids = del_index
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    out_of_range = {
        r["doc_id"]
        for r in with_ids.withColumn("ts", F.pmod(rowidx, F.lit(37)))
        .filter(~F.col("ts").between(0, 1))
        .select("doc_id")
        .collect()
    }
    removed_now = set(removal.removed_array(index_dir).tolist())
    exp_ids, exp_scores = _expected(
        with_ids, "merge OR sort OR def", out_of_range | removed_now, k=5
    )
    assert exp_ids, "fixture must leave at least one in-range match"
    got = search_local(index_dir, "merge OR sort OR def", k=5, time_range=(0, 1))
    assert list(got["doc_id"]) == exp_ids
    assert [round(float(s), 6) for s in got["score"]] == exp_scores


def _rowidx():
    """The generator's row index, recovered from its path."""
    return F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")


def _join_reference(spark, index_dir, keys) -> dict:
    """key → sorted docIDs by the Spark join resolution used to run:
    the published forward index joined to the key table."""
    kdf = spark.createDataFrame(list(keys), "repo string, path string, commit string")
    out: dict = {}
    for r in forward_index(spark, index_dir).join(kdf, KEY_COLS).select(*KEY_COLS, "doc_id").collect():
        out.setdefault((r["repo"], r["path"], r["commit"]), []).append(r["doc_id"])
    return {k: sorted(v) for k, v in out.items()}


def _resolved(index_dir, keys) -> dict:
    return {k: sorted(v) for k, v in removal.resolve_keys_map(index_dir, keys).items()}


_ABSENT = ("org0/none", "src/none.py", "0" * 40)


def test_resolve_keys_matches_forward_index_join(spark, tiny_index, tiny_corpus, tmp_path):
    """The driver-side lookup answers exactly what forward_index ⋈ keys
    answers: on the tiny index, after refreshes that index one key twice,
    for a key only an unrefreshed pid holds, for an absent key, and after
    compaction concatenates pids."""
    from miru_spark.index.compact import compact
    from miru_spark.streaming.ingest import append_batch, refresh

    keys = sorted(tuple(r) for r in tiny_corpus.select(*KEY_COLS).collect())[::17] + [_ABSENT]
    got = _resolved(tiny_index, keys)
    assert got == _join_reference(spark, tiny_index, keys)
    assert len(got) == len(keys) - 1

    index_dir = str(tmp_path / "sidx")
    os.makedirs(index_dir)
    corpus = generate_corpus(spark, n_rows=150, seed=11, partitions=1)
    append_batch(corpus.filter(_rowidx() < 60), 0, index_dir, 2)
    refresh(spark, index_dir)
    twice = corpus.filter(_rowidx() == 5)  # indexed again: a second docID
    append_batch(corpus.filter(_rowidx().between(60, 119)).unionByName(twice), 1, index_dir, 2)
    refresh(spark, index_dir)
    append_batch(corpus.filter(_rowidx() >= 120), 2, index_dir, 2)  # not refreshed
    rows = {int(r["i"]): (r["repo"], r["path"], r["commit"])
            for r in corpus.select(_rowidx().alias("i"), *KEY_COLS).collect()}
    keys = [rows[i] for i in (5, 17, 59, 60, 88, 119, 120, 149)] + [_ABSENT]
    got = _resolved(index_dir, keys)
    assert got == _join_reference(spark, index_dir, keys)
    assert len(got[rows[5]]) == 2
    assert rows[120] not in got and rows[149] not in got and _ABSENT not in got

    summary = compact(index_dir, target_docs=10_000)
    assert summary["after_partitions"] < summary["before_partitions"]
    assert _resolved(index_dir, keys) == _join_reference(spark, index_dir, keys) == got


def test_resolve_keys_reads_only_admitted_row_groups(spark, tmp_path, monkeypatch, serving_cache):
    """A row group whose repo/path/commit statistics admit no wanted key is
    never read: resolving 2 keys over 64-row groups reads at least one
    group and fewer than all of them, and answers as the join does."""
    from miru_spark.query import scorer

    index_dir = str(tmp_path / "rg")
    corpus = generate_corpus(spark, n_rows=600, seed=5, partitions=1)
    build_index(spark, corpus, index_dir, num_partitions=2)
    meta_dir = os.path.join(index_dir, "doc_meta_local")
    n_groups = 0
    for name in os.listdir(meta_dir):
        path = os.path.join(meta_dir, name)
        pq.write_table(pq.read_table(path), path, row_group_size=64)
        n_groups += pq.read_metadata(path).num_row_groups
    keys = sorted(tuple(r) for r in corpus.select(*KEY_COLS).collect())[100::300]
    assert len(keys) == 2 and n_groups >= 8

    reads = []
    read_row_group = scorer._read_row_group

    def counting(path, footer, row_group, columns):
        reads.append((path, row_group))
        return read_row_group(path, footer, row_group, columns)

    monkeypatch.setattr(scorer, "_read_row_group", counting)
    got = _resolved(index_dir, keys)
    assert 1 <= len(reads) < n_groups
    assert got == _join_reference(spark, index_dir, keys) and len(got) == 2


@pytest.mark.parametrize("which", ["tiny", "ts"])
def test_index_reads_carry_inferred_schema(spark, tiny_index, del_index, which):
    """Each index read passes the schema Spark would infer, so reading
    segments/, merged/, stats/ and the forward index runs no Spark job."""
    index_dir = tiny_index if which == "tiny" else del_index[0]
    meta_dir = os.path.join(index_dir, "doc_meta_local")
    given = {
        "segments": from_arrow_schema(SEGMENT_SCHEMA),
        "merged": MERGED_SCHEMA,
        "stats": STATS_SCHEMA,
        "doc_meta_local": footer_schema(meta_dir),
    }
    assert ("ts" in given["doc_meta_local"].names) == (which == "ts")
    for part, schema in given.items():
        assert schema == spark.read.parquet(os.path.join(index_dir, part)).schema, part

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("miru_infer_control", "a read without a schema infers it")
        spark.read.parquet(meta_dir).schema
        assert list(tracker.getJobIdsForGroup("miru_infer_control"))
        sc.setJobGroup("miru_schema_reads", "index reads carry their schema")
        for part in ("segments", "merged", "stats"):
            spark.read.schema(given[part]).parquet(os.path.join(index_dir, part)).schema
        assert forward_index(spark, index_dir).schema["doc_id"]
        assert list(tracker.getJobIdsForGroup("miru_schema_reads")) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


def test_footer_schema_follows_spark_file_choice(spark, tmp_path):
    """With files of different columns (an additive append), the inferred
    schema is the first data file's in path order, as Spark infers it."""
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    for name, cols in (("meta_2.parquet", {"a": [1], "b": ["x"]}),
                       ("meta_10.parquet", {"a": [1], "c": [2.0]}),
                       ("_staged.parquet", {"z": [1]}), (".tmp.parquet", {"y": [1]})):
        pq.write_table(pa.table(cols), os.path.join(d, name))
    assert footer_schema(d) == spark.read.parquet(d).schema
    assert footer_schema(d).names == ["a", "c"]
