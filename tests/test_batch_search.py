"""search_batch and search_distributed: N queries in ONE job must equal the
serving path run per query — same doc_ids, scores equal by ``==`` — on
every AST shape, under every mask, on awkward pid layouts and above Spark's
window group-limit threshold; the plan must not grow with N, and the
per-pid kernel must emit at most k rows per query per task. Also: the
pointer-doubling label propagation must converge on high-diameter graphs
that defeat plain neighbor-min."""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from miru_spark.corpus import generate_corpus, reference_query_set
from miru_spark.query import scorer as sc
from miru_spark.query.scorer import search_batch, search_distributed, search_local


def _expected_from_local(index_dir, query, k):
    """search_local cuts top-k on the RAW score while search_batch cuts on
    the 6-dp-ROUNDED score; fetch k+slack rows and re-rank on the rounded
    score so a rounding-induced tie straddling the k boundary can't make the
    comparison fail on correct code (ADVICE r3)."""
    exp = search_local(index_dir, query, k=k + 10)
    exp["score"] = exp["score"].astype(float).round(6)
    exp = exp.sort_values(
        ["score", "doc_id"], ascending=False, kind="mergesort"
    ).head(k)
    return exp


def test_batch_matches_per_query_local(tiny_index, spark):
    qs = [x for x in reference_query_set() if x["qid"] in (1, 3, 5, 6, 7)]
    queries = [x["query"] for x in qs]
    batch = search_batch(spark, tiny_index, queries, k=10).toPandas()
    for qid, x in enumerate(qs):
        exp = _expected_from_local(tiny_index, x["query"], k=10)
        got = batch[batch["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), x["query"]
        assert got["score"].tolist() == pytest.approx(exp["score"].tolist(), abs=1e-6)
        assert got["rank"].tolist() == list(range(1, len(got) + 1))


def test_batch_skips_provably_empty_and_unknown_queries(tiny_index, spark):
    out = search_batch(
        spark, tiny_index, ["zzznothere AND merge", "merge AND sort"], k=5
    ).toPandas()
    # query 0 has an absent required conjunct -> contributes no rows at all
    assert set(out["query_id"]) == {1}
    assert len(out) == 5


def test_batch_termless_shapes_match_local(tiny_index, spark):
    """Queries where a Field clause is OR-reachable, a pure-negative query,
    and a wholly termless query all match docs with no term hit in one
    mixed batch — each must be rank-identical to its own search_local run."""
    queries = [
        "rareterm0 OR lang:python",  # scored ∪ termless union (df(rareterm0)=1)
        "NOT merge",  # mustNots-only → Not(All, merge)
        "lang:go AND NOT sort",  # termless with a negative term hit
        "merge AND sort",  # plain scored query sharing the batch
    ]
    batch = search_batch(spark, tiny_index, queries, k=12).toPandas()
    for qid, q in enumerate(queries):
        exp = _expected_from_local(tiny_index, q, k=12)
        got = batch[batch["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), q
        assert got["score"].tolist() == pytest.approx(exp["score"].tolist(), abs=1e-6), q
    # the union shape actually mixed branches: query 0 has both scored and
    # 0.0-score rows (otherwise this test proves nothing)
    q0 = batch[batch["query_id"] == 0]
    assert (q0["score"] > 0).any() and (q0["score"] == 0).any()


def test_label_propagation_converges_on_path_graph(spark):
    """A PATH graph of length 500 has diameter 500: plain neighbor-min needs
    ~500 rounds (the wall the r3 1M sweep hit when star edges grew the LSH
    graph's diameter past 20). Pointer doubling must close it in <= 20
    rounds (2^20 >> 500) and label every node with the component min."""
    from miru_spark.pipeline.dedup import _min_label_iterate

    n = 500
    half = [(i, i + 1) for i in range(n)]
    edges = spark.createDataFrame(
        half + [(b, a) for a, b in half], "id_a long, id_b long"
    ).cache()
    diag = {}
    labels = _min_label_iterate(edges, max_iter=20, diag=diag)
    got = labels.toPandas()
    labels.unpersist()
    edges.unpersist()
    assert len(got) == n + 1
    assert (got["label"] == 0).all()
    # pointer doubling: ~log2(500) + slack, nowhere near the 500 rounds
    # plain neighbor-min would need
    assert diag["rounds"] <= 12, diag


def test_label_propagation_two_components(spark):
    from miru_spark.pipeline.dedup import _min_label_iterate

    half = [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)]
    edges = spark.createDataFrame(
        half + [(b, a) for a, b in half], "id_a long, id_b long"
    ).cache()
    labels = _min_label_iterate(edges, max_iter=20)
    got = {int(r["id"]): int(r["label"]) for r in labels.collect()}
    labels.unpersist()
    edges.unpersist()
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10, 13: 10}


def _local_ranked(index_dir, query, k, **masks):
    """search_local's answer in the distributed paths' rank order, raw
    scores kept: they cut on the 6-dp-rounded score, so fetch k + slack
    rows and re-rank before taking k (a rounding tie straddling the k
    boundary must not fail correct code)."""
    exp = search_local(index_dir, query, k=k + 10, **masks)
    exp = exp.assign(r=exp["score"].astype(float).round(6)).sort_values(
        ["r", "doc_id"], ascending=False, kind="mergesort"
    ).head(k)
    return [int(x) for x in exp["doc_id"]], [float(x) for x in exp["score"]]


def _assert_batch_equals_local(index_dir, spark, queries, k, **masks):
    """search_batch (no masks) or search_distributed (one query per call,
    with masks) gives search_local's doc_ids and bit-identical scores."""
    if masks:
        got = {i: search_distributed(spark, index_dir, q, k=k, **masks).toPandas()
               for i, q in enumerate(queries)}
    else:
        batch = search_batch(spark, index_dir, queries, k=k).toPandas()
        got = {i: batch[batch["query_id"] == i].sort_values("rank") for i in range(len(queries))}
        for i, g in got.items():
            assert g["rank"].tolist() == list(range(1, len(g) + 1)), queries[i]
    for i, q in enumerate(queries):
        ids, scores = _local_ranked(index_dir, q, k, **masks)
        assert got[i]["doc_id"].tolist() == ids, (q, masks)
        assert got[i]["score"].tolist() == scores, (q, masks)
        want = search_local(index_dir, q, k=k + 10, **masks).set_index("doc_id")
        assert got[i]["path"].tolist() == want.loc[ids, "path"].tolist(), (q, masks)


def _dictionary(index_dir):
    return sorted(pq.read_table(os.path.join(index_dir, "stats"), columns=["term"])
                  .column("term").to_pylist())


@pytest.fixture(scope="module")
def removed_index(spark, tiny_corpus, tmp_path_factory):
    """The tiny corpus with ts = row index % 37, every 5th document removed."""
    from miru_spark.index import removal
    from miru_spark.index.build import build_index

    idx = str(tmp_path_factory.mktemp("removed") / "idx")
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    build_index(spark, tiny_corpus.withColumn("ts", F.pmod(rowidx, F.lit(37))), idx, num_partitions=4)
    removal.remove_docs(idx, list(range(0, sc.IndexHandle.open(idx).n_docs, 5)), version=1)
    yield idx
    shutil.rmtree(idx, ignore_errors=True)


def test_batch_equals_local_on_every_ast_shape(removed_index, spark):
    queries = [
        "merge AND sort",  # CNF-able
        "(merge OR sort) AND (hash OR join)",  # CNF-able, OR inside AND
        "merge AND NOT (sort OR hash)",  # nested NOT
        "merge AND NOT (sort AND NOT hash)",  # NOT under NOT
        "NOT merge",  # pure NOT
        "(merge OR sort) XOR hash",  # Xor
        "merge XOR sort XOR hash",  # n-ary Xor
        "rareterm0 OR lang:python",  # OR-reachable Field
        "lang:go AND NOT sort",  # termless Field with a negative term
        "merge AND ts:[3 TO 20]",  # Range under AND
        "rareterm0 OR ts:[0 TO 4]",  # OR-reachable Range
        "me* AND sort",  # prefix
        "NOT so*",  # negative prefix
    ]
    assert all(len(search_local(removed_index, q, k=1)) for q in queries)
    _assert_batch_equals_local(removed_index, spark, queries, k=10)
    # alone, the first query's term is in one pid and the second has none:
    # the other pids reach the kernel only through their marker rows
    for q in ("rareterm0 OR lang:python", "lang:go"):
        _assert_batch_equals_local(removed_index, spark, [q], k=10)


def test_batch_wide_or_over_63_terms_equals_local(removed_index, spark):
    """An OR over more distinct terms than a 64-bit word holds, batched
    beside a narrow query, answers as search_local does."""
    terms = _dictionary(removed_index)
    # the dictionary plus absent terms: more than 63 distinct terms
    wide = " OR ".join(terms + [f"absentterm{i}" for i in range(64 - len(terms) + 1)])
    assert len(set(wide.split(" OR "))) > 63
    queries = [wide, "merge AND sort"]
    assert all(len(search_local(removed_index, q, k=1)) for q in queries)
    _assert_batch_equals_local(removed_index, spark, queries, k=10)


def test_distributed_masks_equal_local(removed_index, spark):
    masks = [
        {"lang_filter": ["python"]},
        {"repo_filter": ["org1/repo1", "org3/repo3"]},
        {"time_range": (5, 20)},
        {"lang_filter": ["go", "python"], "repo_filter": ["org2/repo2"], "time_range": (0, 30)},
    ]
    for m in masks:
        _assert_batch_equals_local(
            removed_index, spark, ["merge OR sort", "def AND NOT license", "NOT merge"], k=8, **m
        )


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plan_size_flat_in_batch_size(tiny_index, spark):
    """Queries reach the kernels as broadcast data, so the optimized plan
    does not grow with the batch: 8 and 256 queries over the same terms,
    with Field and Xor shapes among them, plan alike."""
    terms = _dictionary(tiny_index)[:16]
    shapes = ["{a} AND {b}", "{a} OR lang:go", "{a} XOR {b}", "{a} AND NOT {b}"]

    def gen(n):  # the first 8 queries already use all 16 terms
        return [shapes[i % 4].format(a=terms[2 * i % 16], b=terms[(2 * i + 1 + 2 * (i // 8)) % 16])
                for i in range(n)]

    small, big = (len(_optimized_plan(search_batch(spark, tiny_index, gen(n), k=5))) for n in (8, 256))
    assert big <= small * 1.02, (small, big)


def _kernel_answer(index_dir, queries, k):
    """The score kernel run in-process as ONE task over every pid: the
    rows it emits, as {query_id: [(doc_id, score)]}, plus the number of
    pids whose solve found candidates per query."""
    plan = sc._batch_plan(index_dir, queries, k)
    merged = pads.dataset(os.path.join(index_dir, "merged")).to_table(
        columns=["term", "docids", "tfs"], filter=pads.field("term").isin(plan["terms"])
    )
    cut = pa.Table.from_batches(list(sc._cut_at_pids(merged.to_batches(), plan["pids"])))
    rows = pa.Table.from_batches(list(sc._score_pids(cut.sort_by("pid").to_batches(), plan)))
    out = {}
    for q, d, s in zip(*(rows.column(c).to_pylist() for c in ("query_id", "doc_id", "score"))):
        out.setdefault(q, []).append((d, s))
    return plan, cut, out


def test_score_kernel_emits_at_most_k_rows_per_query_per_task(removed_index):
    queries = ["merge OR sort", "def", "NOT merge", "lang:go"]
    k = 3
    plan, cut, out = _kernel_answer(removed_index, queries, k)
    assert plan["pids"].shape[1] == 4
    # every query has matches in more than one pid, so a per-pid top-k
    # alone would emit more than k rows
    for q in ("merge", "sort", "def"):
        hit = cut.filter(pc.equal(cut.column("term"), q))
        assert len(set(hit.column("pid").to_pylist())) > 1, q
    for qid, q in enumerate(queries):
        ids, scores = _local_ranked(removed_index, q, k)
        assert [d for d, _ in out[qid]] == ids, q
        assert [s for _, s in out[qid]] == scores, q


@pytest.fixture(scope="module")
def layered_index(spark, tmp_path_factory):
    """1,600 docs bulk-built in 6 pids, then a 300-doc append + refresh in 2
    pids, so pid sizes differ; merged with at most 500 postings per shard,
    so each head term is cut into shards that hold two pids each."""
    from miru_spark.index import merge
    from miru_spark.index.build import build_index
    from miru_spark.streaming.ingest import append_batch, refresh

    idx = str(tmp_path_factory.mktemp("layered") / "idx")
    full = generate_corpus(spark, n_rows=1900, seed=11, partitions=2).persist()
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(merge, "TARGET_POSTINGS_PER_SHARD", 500)
        build_index(spark, full.filter(rowidx < 1600), idx, num_partitions=6)
        append_batch(full.filter(rowidx >= 1600), 0, idx, partitions_per_batch=2)
        refresh(spark, idx)
    full.unpersist()
    yield idx
    shutil.rmtree(idx, ignore_errors=True)


LAYERED_QUERIES = [
    "def",  # head term: several shards, each spanning a pid boundary
    "def AND return",
    "merge OR sort OR hash",
    "def AND NOT (license OR lang:go)",
    "NOT def",
    "me* OR rareterm97",
]


def test_pid_cut_on_unequal_pids_and_shards_spanning_them(layered_index, spark, tmp_path):
    from miru_spark.index.compact import compact
    from miru_spark.index.merge import load_pid_offsets

    pids, offsets, n = load_pid_offsets(layered_index)
    assert pids.size > 6 and len(set(n.tolist())) > 1, n
    rows = pq.read_table(os.path.join(layered_index, "merged"), columns=["term", "min_doc", "max_doc"],
                         filters=[("term", "=", "def")]).to_pandas()
    assert len(rows) >= 2
    spans = [np.searchsorted(offsets, r, side="right") - 1 for r in (rows["min_doc"], rows["max_doc"])]
    assert (spans[1] > spans[0]).all(), rows  # every shard crosses a pid boundary

    queries = LAYERED_QUERIES + [" OR ".join(_dictionary(layered_index))]
    assert len(_dictionary(layered_index)) > 63
    _assert_batch_equals_local(layered_index, spark, queries, k=20)
    _assert_batch_equals_local(layered_index, spark, LAYERED_QUERIES[:3], k=20,
                               lang_filter=["python", "go"])

    # compaction folds the bulk pids 3 by 3 (about 267 docs each), so one
    # published pid now holds the slices of two shards of a head term
    idx = shutil.copytree(layered_index, str(tmp_path / "compacted"))
    compact(idx, target_docs=850)
    assert load_pid_offsets(idx)[0].size < pids.size
    _assert_batch_equals_local(idx, spark, queries, k=20)
    _assert_batch_equals_local(idx, spark, LAYERED_QUERIES[:3], k=20, repo_filter=["org1/repo1"])


def test_cut_kernel_splits_rows_at_pid_offsets(layered_index, monkeypatch):
    from miru_spark.index.merge import load_pid_offsets

    table = load_pid_offsets(layered_index)
    merged = pads.dataset(os.path.join(layered_index, "merged")).to_table(
        columns=["term", "df", "docids", "tfs"], filter=pads.field("term").isin(["def", "merge"])
    )
    whole = pa.Table.from_batches(list(sc._cut_at_pids(merged.to_batches(), table)))
    # every slice lies in its pid's doc range, and the slices of a term
    # hold all of its postings
    where = {p: (o, o + n) for p, o, n in table.T.tolist()}
    for pid, ids in zip(whole.column("pid").to_pylist(), whole.column("doc_ids").to_pylist()):
        assert where[pid][0] <= min(ids) and max(ids) < where[pid][1], pid
    for t in ("def", "merge"):
        rows = whole.filter(pc.equal(whole.column("term"), t))
        df = pc.sum(merged.filter(pc.equal(merged.column("term"), t)).column("df")).as_py()
        assert sum(map(len, rows.column("doc_ids").to_pylist())) == df, t
    assert whole.num_rows > merged.num_rows
    # output batches bounded by postings: one per posting row at a bound of 1
    monkeypatch.setattr(sc, "_SLICE_BATCH_POSTINGS", 1)
    pieces = list(sc._cut_at_pids(merged.to_batches(), table))
    assert len(pieces) == merged.num_rows
    assert pa.Table.from_batches(pieces).equals(whole)


def test_top_k_above_the_window_group_limit_threshold(layered_index, spark):
    """k = 1200 is above spark.sql.optimizer.windowGroupLimitThreshold, so
    Spark plans no WindowGroupLimit; the per-task top-k still bounds what
    crosses the final exchange, and the answer equals search_local's."""
    k = 1200
    assert k > int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))
    assert len(search_local(layered_index, "def OR merge", k=k + 1)) > k
    _assert_batch_equals_local(layered_index, spark, ["def OR merge", "NOT def"], k=k)
