"""Unit tests of the block-max WAND kernel on hand-crafted posting lists:
pruning must fire (whole blocks skipped via per-block max-score bounds) AND
the surviving set must contain every true top-k doc (soundness)."""

import numpy as np

from miru_spark.codec import BLOCK_SIZE, decode_block_meta, encode_postings
from miru_spark.query.scorer import (
    _blockmax_wand_candidates,
    _score_candidates,
    bm25_idf,
    bm25_tf_norm,
)

N_DOCS = 20_000
AVGDL = 50.0


def _mk(doc_ids, tfs):
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    _, _, bl, bm = encode_postings(d, t)
    bl, bm = decode_block_meta(bl, bm)
    return (d, t, bl, bm)


def _aligned(postings, doclens):
    """The kernels' doc-length input: per term, aligned with its docIDs."""
    return {t: doclens[p[0]] for t, p in postings.items()}


def _bruteforce_topk(postings, doclens, k):
    all_docs = np.unique(np.concatenate([p[0] for p in postings.values()]))
    scores = np.zeros(all_docs.size)
    for _, (d, tf, _, _) in sorted(postings.items()):
        idf = bm25_idf(float(d.size), N_DOCS)
        pos = np.searchsorted(all_docs, d)
        scores[pos] += idf * bm25_tf_norm(
            tf.astype(np.float64), doclens[d].astype(np.float64), AVGDL
        )
    order = np.lexsort((all_docs, scores))[::-1][:k]
    return all_docs[order], scores[order]


def test_blockmax_prunes_blocks_and_keeps_topk():
    """Term A sets θ; term B is essential (its global UB, driven by one
    high-tf head block, beats θ) but its tf=1 tail blocks lie OUTSIDE A's doc
    range, so their per-block bound alone can't reach θ → those whole blocks
    must be skipped, while the true top-k (inside the overlap) survives."""
    doclens = np.full(N_DOCS, int(AVGDL), dtype=np.int64)
    a_docs = np.arange(0, 4000, 2, dtype=np.int64)  # 2000 postings, tf=5
    a_tfs = np.full(a_docs.size, 5, dtype=np.int64)
    b_docs = np.concatenate(
        [np.arange(0, 2 * BLOCK_SIZE, 2), np.arange(10_000, 14_000, 2)]
    ).astype(np.int64)
    b_tfs = np.ones(b_docs.size, dtype=np.int64)
    b_tfs[:BLOCK_SIZE] = 30  # head block inflates B's global UB above θ
    postings = {"a": _mk(a_docs, a_tfs), "b": _mk(b_docs, b_tfs)}
    lens = _aligned(postings, doclens)

    diag = {}
    cand = _blockmax_wand_candidates(
        {"a", "b"}, postings, 10, N_DOCS, lens, AVGDL, diag=diag
    )
    assert diag["theta"] > 0.0
    assert diag["essential_terms"] == 2  # B passed the MaxScore split
    assert diag["after_blockmax"] < diag["union_size"]  # blocks were skipped
    # every pruned doc is a B-tail doc (>= 10000, outside A's range)
    pruned = np.setdiff1d(np.union1d(a_docs, b_docs), cand)
    assert pruned.size > 0 and (pruned >= 10_000).all()

    # soundness: exact top-k from the pruned set == exact top-k from everything
    exp_docs, exp_scores = _bruteforce_topk(postings, doclens, 10)
    df = {t: postings[t][0].size for t in postings}
    got_scores = _score_candidates(cand, {"a", "b"}, postings, lens, N_DOCS, AVGDL, df)
    order = np.lexsort((cand, got_scores))[::-1][:10]
    np.testing.assert_array_equal(cand[order], exp_docs)
    np.testing.assert_allclose(got_scores[order], exp_scores, rtol=1e-12)


def test_blockmax_nonessential_term_dropped():
    doclens = np.full(N_DOCS, int(AVGDL), dtype=np.int64)
    strong_docs = np.arange(0, 1000, dtype=np.int64)
    strong_tfs = np.full(strong_docs.size, 5, dtype=np.int64)
    # weak term: common (low idf), tf=1, disjoint doc range → never top-k
    weak_docs = np.arange(10_000, 19_000, dtype=np.int64)
    weak_tfs = np.ones(weak_docs.size, dtype=np.int64)
    postings = {"strong": _mk(strong_docs, strong_tfs), "weak": _mk(weak_docs, weak_tfs)}
    lens = _aligned(postings, doclens)

    diag = {}
    cand = _blockmax_wand_candidates(
        {"strong", "weak"}, postings, 10, N_DOCS, lens, AVGDL, diag=diag
    )
    # weak-only docs must all be pruned (by MaxScore split or block bounds)
    assert not np.intersect1d(cand, weak_docs).size
    exp_docs, _ = _bruteforce_topk(postings, doclens, 10)
    assert np.isin(exp_docs, cand).all()


def test_blockmax_exact_theta_tie_kept():
    """A doc whose UB equals θ exactly must survive (>= comparison)."""
    doclens = np.full(N_DOCS, int(AVGDL), dtype=np.int64)
    docs = np.arange(0, 300, dtype=np.int64)
    tfs = np.ones(docs.size, dtype=np.int64)  # all identical scores → all tie at θ
    other = _mk(np.arange(500, 600, dtype=np.int64), np.ones(100, dtype=np.int64))
    postings = {"a": _mk(docs, tfs), "b": other}
    lens = _aligned(postings, doclens)
    cand = _blockmax_wand_candidates({"a", "b"}, postings, 10, N_DOCS, lens, AVGDL)
    assert np.isin(docs, cand).all()


def test_theta_seed_reads_doclens_of_eligible_postings():
    """With removed docs, θ is the exact kth single-term score over the
    eligible postings, each scored with its own doc length (the lengths
    vary, so a length read at the wrong posting moves θ)."""
    doclens = np.arange(N_DOCS, dtype=np.int64) % 97 + 10
    docs = np.arange(0, 400, 2, dtype=np.int64)
    tfs = np.ones(docs.size, dtype=np.int64)  # equal tf: doc length decides
    rare = np.arange(1000, 1005, dtype=np.int64)  # too few postings to seed θ
    postings = {"a": _mk(docs, tfs), "b": _mk(rare, np.ones(rare.size, dtype=np.int64))}
    removed = docs[::3]
    diag = {}
    _blockmax_wand_candidates({"a", "b"}, postings, 10, N_DOCS, _aligned(postings, doclens),
                              AVGDL, diag=diag, removed=removed)
    keep = ~np.isin(docs, removed)
    s = bm25_idf(float(docs.size), N_DOCS) * bm25_tf_norm(
        tfs[keep].astype(np.float64), doclens[docs[keep]].astype(np.float64), AVGDL
    )
    assert diag["theta"] == np.sort(s)[-10]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_wand_topk_property(data):
    """Random posting lists + doc lengths: WAND candidates must always
    contain the true top-k (soundness under arbitrary tf/df shapes)."""
    n_terms = data.draw(st.integers(2, 5))
    doclens = np.full(N_DOCS, int(AVGDL), dtype=np.int64)
    postings = {}
    for t in range(n_terms):
        n = data.draw(st.integers(1, 300))
        lo = data.draw(st.integers(0, 10_000))
        docs = np.unique(
            np.asarray(data.draw(st.lists(st.integers(lo, lo + 5000), min_size=n, max_size=n)))
        ).astype(np.int64)
        tfs = np.asarray(
            data.draw(st.lists(st.integers(1, 12), min_size=docs.size, max_size=docs.size))
        ).astype(np.int64)
        postings[f"t{t}"] = _mk(docs, tfs)
    k = data.draw(st.integers(1, 15))
    lens = _aligned(postings, doclens)

    cand = _blockmax_wand_candidates(set(postings), postings, k, N_DOCS, lens, AVGDL)
    exp_docs, exp_scores = _bruteforce_topk(postings, doclens, k)
    kk = min(k, exp_docs.size)
    assert np.isin(exp_docs[:kk], cand).all()
    df = {t: postings[t][0].size for t in postings}
    scores = _score_candidates(cand, set(postings), postings, lens, N_DOCS, AVGDL, df)
    order = np.lexsort((cand, scores))[::-1][:kk]
    np.testing.assert_array_equal(cand[order], exp_docs[:kk])
    np.testing.assert_allclose(scores[order], exp_scores[:kk], rtol=1e-12)


def test_sparse_serving_reads_match_dense(tiny_index, serving_cache, global_doc_meta):
    """Serving a small-universe query takes the sparse path through the
    doc_meta row-group cache (_sparse_col / _docmeta_for). Its answer with
    a cold cache, with a warm cache and with the dense doc_len array must
    agree, its display fields must equal a full pyarrow read of the forward
    index, and the sparse path must never populate the dense array it
    avoids."""
    import numpy as np

    from miru_spark.query import scorer as sc

    full = global_doc_meta(tiny_index).set_index("doc_id")
    gen = sc._index_generation(tiny_index)
    for q in ("rareterm0", "merge AND sort"):
        serving_cache.reset()
        cold = sc.search_local(tiny_index, q, k=10)
        assert any(k[2] == "doc_meta_local" and len(k) == 7 for k in sc._CACHE.entries), q
        warm = sc.search_local(tiny_index, q, k=10)
        assert (tiny_index, gen, "dense", "doc_len") not in sc._CACHE
        sc._dense_column(tiny_index, "doc_len")  # warm the dense array: the dense path
        dense = sc.search_local(tiny_index, q, k=10)
        assert len(cold), q
        for other in (warm, dense):
            assert cold["doc_id"].tolist() == other["doc_id"].tolist(), q
            assert np.allclose(cold["score"], other["score"])
        want = full.loc[cold["doc_id"], ["repo", "path", "commit", "lang"]]
        for c in want.columns:
            assert cold[c].tolist() == want[c].tolist(), (q, c)
            assert warm[c].tolist() == want[c].tolist(), (q, c)


def test_sparse_col_rejects_absent_ids():
    """_SparseCol must raise on ids outside the fetched universe (ADVICE r4:
    bare searchsorted silently returned a neighbor's value, or IndexError at
    the top end)."""
    import numpy as np
    import pytest

    from miru_spark.query.scorer import _SparseCol

    col = _SparseCol(np.array([3, 7, 20], dtype=np.int64),
                     np.array([30, 70, 200], dtype=np.int64))
    np.testing.assert_array_equal(col[np.array([7, 3, 20])], [70, 30, 200])
    assert col[np.array([7])] == 70
    with pytest.raises(KeyError):
        col[np.array([4])]  # between members: old code returned 70
    with pytest.raises(KeyError):
        col[np.array([21])]  # past the top end: old code raised IndexError
    with pytest.raises(KeyError):
        col[np.array([3, 8, 20])]  # mixed present/absent
    # empty fetched universe: KeyError (not IndexError from ids[-1]), and
    # an empty request against it is legal (vacuously present)
    empty = _SparseCol(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    with pytest.raises(KeyError):
        empty[np.array([5])]
    assert empty[np.array([], dtype=np.int64)].size == 0
