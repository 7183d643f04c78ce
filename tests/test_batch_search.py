"""search_batch: N queries in ONE job must be rank-identical to the serving
path run per query, the one distributed plan must keep its shape (no
RDD-backed driver tables, a per-partition top-k below the exchange), and
the pointer-doubling label propagation must converge on high-diameter
graphs that defeat plain neighbor-min."""

import pytest

from miru_spark.corpus import reference_query_set
from miru_spark.query import parser as qp
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
    and a wholly termless query all flow through the batch path's shared
    doc_meta candidate branch — each must be rank-identical to its own
    search_local run (one mixed batch, one meta scan)."""
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


def test_bitmask_and_collect_set_encodings_agree(tiny_index, spark, monkeypatch):
    """The matched-terms aggregate has two physical encodings: a bit_or long
    (≤63 distinct terms — the serving norm) and collect_set(string) (the
    fallback). Same queries, both encodings, identical answers — and a
    genuinely >63-term OR exercises the fallback without the monkeypatch."""
    import miru_spark.query.scorer as sc

    queries = [
        "merge AND sort",
        "merge OR lang:go",
        "(merge OR sort) XOR tree",
        "NOT merge",
    ]
    bitmask = search_batch(spark, tiny_index, queries, k=10).toPandas()
    dflt = sc._BITMASK_MAX_TERMS
    monkeypatch.setattr(sc, "_BITMASK_MAX_TERMS", 0)  # force collect_set form
    fallback = search_batch(spark, tiny_index, queries, k=10).toPandas()
    for df in (bitmask, fallback):
        df.sort_values(["query_id", "rank"], inplace=True, ignore_index=True)
    assert bitmask["doc_id"].tolist() == fallback["doc_id"].tolist()
    assert bitmask["score"].tolist() == fallback["score"].tolist()
    monkeypatch.setattr(sc, "_BITMASK_MAX_TERMS", dflt)

    # a wide disjunction over the whole dictionary, answered by BOTH
    # encodings on search_distributed (threshold forced below the term
    # count for the fallback leg) — identical top-k either way
    import os

    import pyarrow.parquet as pq

    terms = sorted(
        pq.read_table(
            os.path.join(tiny_index, "stats"), columns=["term"]
        ).column("term").to_pylist()
    )
    assert len(terms) > 16
    wide = " OR ".join(terms)
    wide_bits = search_distributed(spark, tiny_index, wide, k=10).toPandas()
    monkeypatch.setattr(sc, "_BITMASK_MAX_TERMS", 16)
    wide_set = search_distributed(spark, tiny_index, wide, k=10).toPandas()
    assert len(wide_bits) == 10
    assert wide_bits["doc_id"].tolist() == wide_set["doc_id"].tolist()
    # bit_or plans as HashAggregate, collect_set as ObjectHashAggregate —
    # different partial-merge orders move float sums at the ~1e-15 level
    assert wide_bits["score"].tolist() == pytest.approx(
        wide_set["score"].tolist(), abs=1e-9
    )


def _force_case_form(monkeypatch):
    """No query is CNF-able → search_batch takes the CASE form."""
    monkeypatch.setattr(qp, "cnf_clauses", lambda *a: None)


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_masks_mode_matches_case_mode_and_local(tiny_index, spark, monkeypatch):
    """Masks mode (per-query CNF clause masks as broadcast DATA) must be
    rank- and score-identical to the CASE plan and to the serving path on
    every CNF-able shape, including pure-negative and nested-NOT."""
    queries = [
        "merge AND sort",
        "merge OR sort OR tree",
        "merge AND NOT sort",
        "NOT merge",
        "merge AND NOT (sort OR tree)",
        "(merge OR sort) AND (tree OR heap)",
    ]
    masks = search_batch(spark, tiny_index, queries, k=8).toPandas()
    _force_case_form(monkeypatch)
    case = search_batch(spark, tiny_index, queries, k=8).toPandas()
    for df in (masks, case):
        df.sort_values(["query_id", "rank"], inplace=True, ignore_index=True)
    assert masks["doc_id"].tolist() == case["doc_id"].tolist()
    assert masks["score"].tolist() == pytest.approx(case["score"].tolist(), abs=1e-9)
    for qid, q in enumerate(queries):
        loc = search_local(tiny_index, q, k=8)
        got = masks[masks["query_id"] == qid]
        assert got["doc_id"].tolist() == [int(x) for x in loc["doc_id"]], q


def test_masks_mode_guards_and_auto_fallback(tiny_index, spark, monkeypatch):
    """The form is chosen from the input: a CNF-able batch plans the clause
    table, one Field query sends the whole batch to the CASE form, and the
    CNF-able query's answer is the same in both."""
    alone = search_batch(spark, tiny_index, ["merge AND sort"], k=5)
    mixed = search_batch(spark, tiny_index, ["merge AND sort", "merge OR lang:go"], k=5)
    assert "clauses" in _optimized_plan(alone)
    assert "clauses" not in _optimized_plan(mixed)
    got = mixed.toPandas()
    got = got[got["query_id"] == 0].sort_values("rank")
    want = alone.toPandas().sort_values("rank")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    _force_case_form(monkeypatch)
    forced = search_batch(spark, tiny_index, ["merge AND sort"], k=5)
    assert "clauses" not in _optimized_plan(forced)
    assert forced.toPandas().sort_values("rank")["doc_id"].tolist() == want["doc_id"].tolist()


def test_masks_mode_plan_size_constant_in_batch_size(tiny_index, spark, monkeypatch):
    """The reason masks mode exists: the optimized plan must NOT grow with
    the number of queries (the CASE form grows linearly — fine at N=4,
    fatal for a 100k-query log replay)."""
    import os

    import pyarrow.parquet as pq

    terms = sorted(
        pq.read_table(
            os.path.join(tiny_index, "stats"), columns=["term"]
        ).column("term").to_pylist()
    )

    def gen(n):
        out = []
        for i in range(n):
            a, b = terms[i % len(terms)], terms[(i * 7 + 3) % len(terms)]
            out.append(f"{a} AND {b}" if a != b else a)
        return out

    def plan_len(queries):
        return len(_optimized_plan(search_batch(spark, tiny_index, queries, k=5)))

    m_small, m_big = plan_len(gen(8)), plan_len(gen(256))
    _force_case_form(monkeypatch)
    c_small, c_big = plan_len(gen(8)), plan_len(gen(256))
    # CASE plan grows ~32x in conditions; masks plan stays flat
    assert m_big < 2 * m_small, (m_small, m_big)
    assert c_big > 5 * c_small, (c_small, c_big)


def test_batch_cnf_gate_queries_take_masks_form():
    """The ft_bm25_batch_cnf gate exists to cover the masks form: every one
    of its queries must convert to CNF term masks within the bit budget."""
    from miru_spark.operators.fulltext import BATCH_CNF_QUERIES
    from miru_spark.query.scorer import _BITMASK_MAX_TERMS

    for q in BATCH_CNF_QUERIES:
        ast = qp.parse_query(q)
        assert not qp.prefixes(ast), q
        assert qp.cnf_clauses(ast, {}) is not None, q
        assert len(qp.all_terms(ast)) <= _BITMASK_MAX_TERMS, q


@pytest.fixture
def removed_index(tiny_index, tmp_path):
    """A copy of the tiny index with every 5th document removed."""
    import shutil

    from miru_spark.index import removal
    from miru_spark.query.scorer import IndexHandle

    idx = str(tmp_path / "removed")
    shutil.copytree(tiny_index, idx)
    removal.remove_docs(idx, list(range(0, IndexHandle.open(idx).n_docs, 5)), version=1)
    return idx


def test_driver_tables_plan_as_local_relations(removed_index, spark, monkeypatch):
    """The removed ids, the query fan-out and the clause table are built
    from pandas, so Arrow plans them as LocalRelations. A LogicalRDD in the
    plan means a silent fallback to an RDD-backed table (a Spark job per
    broadcast)."""
    cnf = ["merge AND sort", "NOT merge", "merge OR sort"]
    plans = {
        "masks": _optimized_plan(search_batch(spark, removed_index, cnf, k=5)),
        "distributed": _optimized_plan(
            search_distributed(spark, removed_index, "merge AND NOT sort", k=5)
        ),
    }
    assert "clauses" in plans["masks"]
    _force_case_form(monkeypatch)
    plans["case"] = _optimized_plan(
        search_batch(spark, removed_index, cnf + ["merge OR lang:go"], k=5)
    )
    for form, plan in plans.items():
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (form, plan)


def test_distributed_top_k_is_cut_before_the_exchange(removed_index, spark):
    """search_distributed is a batch of one: its rank ≤ k filter plans as a
    WindowGroupLimit whose Partial half runs on every partition BELOW the
    exchange that gathers the query's rows, so at most k rows per partition
    are shuffled (the per-partition heaps TakeOrderedAndProject had)."""
    df = search_distributed(spark, removed_index, "merge OR sort", k=5)
    got = df.toPandas()
    assert len(got) == 5
    want = search_local(removed_index, "merge OR sort", k=5)
    assert got["doc_id"].tolist() == [int(x) for x in want["doc_id"]]
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    partial = [i for i, x in enumerate(lines) if "WindowGroupLimit" in x and "Partial" in x]
    final = [i for i, x in enumerate(lines) if "WindowGroupLimit" in x and "Final" in x]
    assert partial and final, plan
    # tree strings print parents first: an exchange on query_id sits between
    # the Final and the Partial limit
    between = lines[final[0]:partial[0]]
    assert any("Exchange hashpartitioning(query_id" in x for x in between), plan
