"""Product quantization: the distributed per-subspace Lloyd's + ADC program
must reproduce an independent numpy re-implementation exactly (partitioning
cannot leak in), honor the empty-cell fail-loud contract, and resolve
quantization ties deterministically."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def sfdir(sf_dir):
    return sf_dir


def _np_fit(X, m, ksub, n_iter):
    """The quantize._pq_fit contract re-implemented serially: seeds = the
    ksub smallest vec_ids' subvectors, argmin on 9-dp-rounded squared L2
    (ties to the lower code), means rounded 6 dp."""
    dim = X.shape[1]
    dsub = dim // m
    books, assigns = [], []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:ksub].copy()

        def assign(C):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).round(9)
            return d.argmin(axis=1)

        for _ in range(n_iter):
            a = assign(C)
            C = np.array([S[a == c].mean(axis=0).round(6) for c in range(ksub)])
        books.append(C)
        assigns.append(assign(C))
    return books, assigns, dsub


def _corpus(spark, sfdir):
    rows = (
        spark.read.parquet(f"{sfdir}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    X = np.array(
        [[float(v) for v in r["embedding"]] for r in rows], dtype=np.float64
    )
    ids = [int(r["vec_id"]) for r in rows]
    labels = {int(r["vec_id"]): int(r["label"]) for r in rows}
    return X, ids, labels


def test_pq_train_matches_numpy(spark, sfdir):
    from miru_spark.pipeline.quantize import pq_train

    m, ksub, n_iter = 4, 4, 2
    got = pq_train(spark, sfdir, m=m, ksub=ksub, n_iter=n_iter).collect()

    X, _ids, _labels = _corpus(spark, sfdir)
    books, assigns, dsub = _np_fit(X, m, ksub, n_iter)

    assert len(got) == m * ksub * dsub
    for r in got:
        j, c, p = r["subspace"], r["cluster"], r["pos"]
        assert r["n"] == int((assigns[j] == c).sum())
        assert round(r["val"], 6) == round(float(books[j][c, p]), 6)
    # every subspace partitions the whole corpus
    for j in range(m):
        assert sum(int((assigns[j] == c).sum()) for c in range(ksub)) == X.shape[0]


def test_pq_topk_matches_numpy_adc(spark, sfdir):
    from miru_spark.pipeline.quantize import pq_topk

    m, ksub, n_iter, k = 4, 4, 2, 10
    got = pq_topk(spark, sfdir, k=k, m=m, ksub=ksub, n_iter=n_iter).collect()

    X, ids, labels = _corpus(spark, sfdir)
    books, assigns, dsub = _np_fit(X, m, ksub, n_iter)
    q = X[ids.index(0)]
    scored = []
    for i, vid in enumerate(ids):
        if vid == 0:
            continue
        adc = round(
            sum(
                round(
                    float(
                        ((q[j * dsub : (j + 1) * dsub] - books[j][assigns[j][i]]) ** 2).sum()
                    ),
                    9,
                )
                for j in range(m)
            ),
            6,
        )
        scored.append((adc, vid))
    scored.sort()
    exp = scored[:k]

    assert [r["rank"] for r in got] == list(range(1, k + 1))
    assert [(r["adc"], r["vec_id"]) for r in got] == exp
    for r in got:
        assert r["label"] == labels[r["vec_id"]]


def test_pq_topk_tie_contract(spark, sfdir):
    """With the gate codebook (4^4 = 256 code combinations over 500
    vectors) exact adc ties are expected; the result must be sorted by
    (adc asc, vec_id asc) so the ordering is deterministic anyway."""
    from miru_spark.pipeline.quantize import pq_topk

    got = pq_topk(spark, sfdir, k=10).collect()
    keys = [(r["adc"], r["vec_id"]) for r in got]
    assert keys == sorted(keys)


def test_pq_from_codes_rank_identical_and_reads_only_codes(
    spark, sfdir, tmp_path
):
    """The stored-codes serving form (the at-scale path) must be
    rank-identical to the self-contained gate form, and its scan must read
    ONLY the code columns — the whole point of PQ is that the float column
    never enters the serving plan."""
    from miru_spark.pipeline.quantize import pq_encode, pq_topk, pq_topk_from_codes

    codes_dir = str(tmp_path / "codes")
    books = pq_encode(spark, sfdir, codes_dir)
    q = [
        float(v)
        for v in spark.read.parquet(f"{sfdir}/embeddings.parquet")
        .filter("vec_id = 0")
        .collect()[0]["embedding"]
    ]
    from_codes = pq_topk_from_codes(spark, codes_dir, books, q, k=10)
    inline = pq_topk(spark, sfdir, k=10).collect()
    got = from_codes.collect()
    assert [(r["vec_id"], r["adc"], r["rank"]) for r in got] == [
        (r["vec_id"], r["adc"], r["rank"]) for r in inline
    ]
    plan = from_codes._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan
    # the codes table itself must not carry the float column at all
    assert "embedding" not in spark.read.parquet(codes_dir).columns


def test_pq_rerank_matches_numpy_and_beats_raw_adc(spark, sfdir):
    """The shortlist -> exact-rerank composition must (a) match a serial
    numpy re-implementation exactly and (b) recover true neighbors raw ADC
    loses to tie degeneracy: rerank recall@10 vs the exact L2 top-10 must
    be >= raw ADC's."""
    from miru_spark.pipeline.quantize import pq_rerank_topk, pq_topk

    m, ksub, n_iter, k, C = 4, 4, 2, 10, 50
    got = pq_rerank_topk(
        spark, sfdir, k=k, shortlist=C, m=m, ksub=ksub, n_iter=n_iter
    ).collect()

    X, ids, labels = _corpus(spark, sfdir)
    books, assigns, dsub = _np_fit(X, m, ksub, n_iter)
    q = X[ids.index(0)]
    adc_scored = []
    for i, vid in enumerate(ids):
        if vid == 0:
            continue
        adc = round(
            sum(
                round(
                    float(
                        ((q[j * dsub : (j + 1) * dsub] - books[j][assigns[j][i]]) ** 2).sum()
                    ),
                    9,
                )
                for j in range(m)
            ),
            6,
        )
        adc_scored.append((adc, vid))
    adc_scored.sort()
    short = [vid for _, vid in adc_scored[:C]]
    idx_of = {vid: i for i, vid in enumerate(ids)}
    rr = sorted(
        (round(float(((X[idx_of[vid]] - q) ** 2).sum()), 6), vid) for vid in short
    )[:k]
    assert [(r["d2"], r["vec_id"]) for r in got] == rr

    # exact ground truth over the whole corpus
    exact = sorted(
        (round(float(((X[i] - q) ** 2).sum()), 6), vid)
        for i, vid in enumerate(ids)
        if vid != 0
    )[:k]
    exact_ids = {vid for _, vid in exact}
    rerank_recall = len({vid for _, vid in rr} & exact_ids) / k
    adc_ids = {r["vec_id"] for r in pq_topk(spark, sfdir, k=k).collect()}
    adc_recall = len(adc_ids & exact_ids) / k
    assert rerank_recall >= adc_recall


def test_adc_table_bitwise_matches_spark_evaluation(spark, sfdir):
    """_adc_table computes the distance table driver-side; its contract is
    BITWISE identity with evaluating the same `_sqdist_lit` + round(9)
    expressions in Spark (same inputs, same IEEE op order, same HALF_UP
    rounding). Pin it — any drift here would silently shift ADC ranks away
    from the DuckDB oracle."""
    from pyspark.sql import functions as F

    from miru_spark.pipeline.quantize import (
        _adc_table,
        _pq_fit,
        _probe_cells,
        _round_half_up,
        _sqdist_lit,
    )

    books, _sizes, dsub = _pq_fit(spark, sfdir, 4, 4, 2)
    q = [
        float(v)
        for v in spark.read.parquet(f"{sfdir}/embeddings.parquet")
        .filter("vec_id = 0")
        .collect()[0]["embedding"]
    ]
    dtab = _adc_table(books, q, dsub)
    exprs = []
    for j, book in enumerate(books):
        qsub = F.array(*[F.lit(float(q[j * dsub + i])) for i in range(dsub)])
        for c, cent in enumerate(book):
            exprs.append(F.round(_sqdist_lit(qsub, cent), 9).alias(f"d_{j}_{c}"))
    row = spark.range(1).select(*exprs).collect()[0]
    for j, book in enumerate(books):
        for c in range(len(book)):
            assert dtab[j][c] == row[f"d_{j}_{c}"], (j, c)

    # _probe_cells (the m=1 ADC row, sorted) must order cells exactly as
    # the Spark-evaluated round(_sqdist_lit(q, cent), 9) does, ties to the
    # lower cell: each subspace codebook plus a duplicate of its cell 0
    # (an exact tie with cell 0) serves as a coarse codebook
    for j, book in enumerate(books):
        cents = book + [book[0]]
        qsub = q[j * dsub : (j + 1) * dsub]
        qlit = F.array(*[F.lit(v) for v in qsub])
        d = spark.range(1).select(
            *[F.round(_sqdist_lit(qlit, c), 9) for c in cents]
        ).collect()[0]
        want = sorted(range(len(cents)), key=lambda c: (d[c], c))
        assert _probe_cells(cents, qsub, len(cents)) == want, j
        assert want.index(0) < want.index(len(book))
        assert _probe_cells(cents, qsub, 2) == want[:2]

    # the rounding rule itself, at an exact half boundary where Python's
    # banker's round would disagree (2.5e-9 -> banker's 2e-9, HALF_UP 3e-9)
    spark_rounded = spark.range(1).select(
        F.round(F.lit(2.5e-9), 9).alias("r")
    ).collect()[0]["r"]
    assert _round_half_up(2.5e-9, 9) == spark_rounded == 3e-9
    # the builtin's banker's rule genuinely drifts from Spark at exactly-
    # representable halves (0.5 is exact in binary; 2.5e-9 is not)
    assert _round_half_up(0.5, 0) == 1.0 and round(0.5, 0) == 0.0


def test_pq_train_raises_on_indivisible_dim(spark, sfdir):
    from miru_spark.pipeline.quantize import pq_train

    with pytest.raises(ValueError, match="not divisible"):
        pq_train(spark, sfdir, m=5)


@pytest.mark.parametrize("train", ["pq_train", "ivf_train"])
def test_pq_train_raises_on_empty_cell(spark, tmp_path, train):
    """An all-identical corpus ties every assignment to code 0, emptying
    codes 1..ksub-1 — the train must RAISE (fail loud), never emit a
    codebook with silently-missing cells. ivf_train is the same Lloyd's
    loop with m = 1, so it raises the same way."""
    from pyspark.sql import types as T

    from miru_spark.pipeline.quantize import pq_train
    from miru_spark.pipeline.similarity import ivf_train

    d = str(tmp_path / "flat")
    vec = [1.0] * 64
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(
        [(i, vec, 0) for i in range(10)], schema
    ).write.parquet(f"{d}/embeddings.parquet")
    fit = {"pq_train": pq_train, "ivf_train": ivf_train}[train]
    with pytest.raises(ValueError, match="empty PQ cell"):
        fit(spark, d)


# ---- IVF-PQ: coarse cells + residual codes ----


def _np_coarse_fit(X, kc, n_iter):
    """The coarse (m = 1) Lloyd's contract re-implemented serially: seeds =
    the kc smallest vec_ids' vectors, argmin on 9-dp-rounded squared L2
    (ties to the lower cell), means rounded 6 dp."""
    C = X[:kc].copy()

    def assign(C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).round(9)
        return d.argmin(axis=1)

    for _ in range(n_iter):
        a = assign(C)
        C = np.array([X[a == c].mean(axis=0).round(6) for c in range(kc)])
    return C, assign(C)


def _np_ivfpq(X, ids, kc, nprobe, m, ksub, n_iter, k, shortlist):
    """The whole IVF-PQ program serially: coarse fit, residuals, PQ fit on
    residuals, probe, per-cell ADC over probed rows, top-k — plus the
    shortlist -> exact re-rank. Returns (topk, rerank) as
    ([(adc, vec_id)], [(d2, vec_id)])."""
    C, cell = _np_coarse_fit(X, kc, n_iter)
    R = X - C[cell]
    books, assigns, dsub = _np_fit(R, m, ksub, n_iter)
    qi = ids.index(0)
    q = X[qi]
    cd = [(round(float(((q - C[l]) ** 2).sum()), 9), l) for l in range(kc)]
    cd.sort()
    probed = [l for _, l in cd[:nprobe]]
    dtabs = {
        l: [
            [
                round(
                    float(
                        (
                            (
                                (q - C[l])[j * dsub : (j + 1) * dsub]
                                - books[j][c]
                            )
                            ** 2
                        ).sum()
                    ),
                    9,
                )
                for c in range(ksub)
            ]
            for j in range(m)
        ]
        for l in probed
    }
    scored = []
    for i, vid in enumerate(ids):
        if vid == 0 or int(cell[i]) not in probed:
            continue
        adc = round(
            sum(dtabs[int(cell[i])][j][assigns[j][i]] for j in range(m)), 6
        )
        scored.append((adc, vid))
    scored.sort()
    topk = scored[:k]
    idx_of = {vid: i for i, vid in enumerate(ids)}
    rr = sorted(
        (round(float(((X[idx_of[vid]] - q) ** 2).sum()), 6), vid)
        for _, vid in scored[:shortlist]
    )[:k]
    return topk, rr


def test_ivfpq_topk_and_rerank_match_numpy(spark, sfdir):
    """The distributed IVF-PQ composition (coarse Lloyd's -> residual PQ
    -> probed-cell ADC -> optional exact re-rank) must reproduce an
    independent serial numpy program exactly — partitioning cannot leak
    into cells, codes, probe choice, or ranks."""
    from miru_spark.pipeline.quantize import ivfpq_rerank_topk, ivfpq_topk

    kc, nprobe, m, ksub, n_iter, k, C = 4, 2, 4, 4, 2, 10, 50
    X, ids, _labels = _corpus(spark, sfdir)
    exp_topk, exp_rr = _np_ivfpq(X, ids, kc, nprobe, m, ksub, n_iter, k, C)

    got = ivfpq_topk(
        spark, sfdir, k=k, kc=kc, nprobe=nprobe, m=m, ksub=ksub, n_iter=n_iter
    ).collect()
    assert [(r["adc"], r["vec_id"]) for r in got] == exp_topk

    got_rr = ivfpq_rerank_topk(
        spark, sfdir, k=k, shortlist=C, kc=kc, nprobe=nprobe,
        m=m, ksub=ksub, n_iter=n_iter,
    ).collect()
    assert [(r["d2"], r["vec_id"]) for r in got_rr] == exp_rr


def test_ivfpq_from_codes_rank_identical_and_partition_pruned(
    spark, sfdir, tmp_path
):
    """The stored cell-partitioned form must (a) rank-match the inline
    composition and (b) actually prune: the executed plan's scan carries a
    PartitionFilters entry on cell and reads no float column."""
    from miru_spark.pipeline.quantize import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_topk_from_codes,
    )

    codes_dir = str(tmp_path / "ivfpq_codes")
    cents, books = ivfpq_encode(spark, sfdir, codes_dir)
    q = [
        float(v)
        for v in spark.read.parquet(f"{sfdir}/embeddings.parquet")
        .filter("vec_id = 0")
        .collect()[0]["embedding"]
    ]
    served = ivfpq_topk_from_codes(spark, codes_dir, cents, books, q)
    inline = ivfpq_topk(spark, sfdir)
    assert [r.asDict() for r in served.collect()] == [
        r.asDict() for r in inline.collect()
    ]

    plan = served._sc._jvm.PythonSQLUtils.explainString(
        served._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cell" in plan
    assert "embedding" not in plan
    # the partition directories exist (one per coarse cell)
    import os

    dirs = sorted(d for d in os.listdir(codes_dir) if d.startswith("cell="))
    assert len(dirs) == len(cents)


def test_pq_recall_invariants_and_floors(spark, sfdir):
    """pq_recall: (a) rerank hits are non-decreasing in the shortlist size
    C — a bigger ADC shortlist only ADDS candidates, and any candidate that
    outranks a true neighbor under (d2, vec_id) is itself a true neighbor;
    (b) every rerank row dominates the raw-ADC row (same argument with the
    ADC top-k as the smaller set) — raw ADC is expected LOW at the gate
    codebook (4^4 combinations => rampant exact ties); (c) pinned floors
    (deterministic values, >= keeps improvements green; measured on r5
    code at sf0.001: adc 150000, rerank@50 375000)."""
    from miru_spark.pipeline.quantize import pq_recall

    rows = pq_recall(spark, sfdir).collect()
    adc = [r for r in rows if r["variant"] == "adc"]
    rer = sorted(
        (r for r in rows if r["variant"] == "rerank"),
        key=lambda r: r["shortlist"],
    )
    assert len(adc) == 1 and [r["shortlist"] for r in rer] == [10, 25, 50]
    hits = [r["n_hits"] for r in rer]
    assert hits == sorted(hits), hits
    assert all(r["n_hits"] >= adc[0]["n_hits"] for r in rer)
    assert adc[0]["recall_ppm"] >= 100000
    assert rer[-1]["recall_ppm"] >= 350000
    for r in rows:
        assert r["n_queries"] == 8 and r["k"] == 10
        assert 0 <= r["n_hits"] <= 80
        assert r["recall_ppm"] == (r["n_hits"] * 1_000_000) // 80


def test_ivfpq_recall_rerank_dominates_adc(spark, sfdir):
    """ivfpq_recall: rerank >= adc at every nprobe (the provable
    invariant — monotonicity in nprobe itself is NOT guaranteed once the
    shortlist cut binds, and the sf0.001 numbers demonstrate that:
    rerank@1 > rerank@2 on this corpus); pinned floor at the widest probe
    (measured on r5 code: rerank@4 = 475000)."""
    from miru_spark.pipeline.quantize import ivfpq_recall

    rows = ivfpq_recall(spark, sfdir).collect()
    by = {(r["variant"], r["nprobe"]): r for r in rows}
    assert set(by) == {(v, n) for v in ("adc", "rerank") for n in (1, 2, 4)}
    for n in (1, 2, 4):
        assert by[("rerank", n)]["n_hits"] >= by[("adc", n)]["n_hits"], n
        assert by[("adc", n)]["n_candidates"] == by[("rerank", n)]["n_candidates"]
    # cost axis: more probes => strictly more scored candidates, up to the
    # full corpus (minus the 8 self rows) at nprobe = kc
    ncs = [by[("adc", n)]["n_candidates"] for n in (1, 2, 4)]
    assert ncs[0] < ncs[1] < ncs[2], ncs
    assert by[("rerank", 4)]["recall_ppm"] >= 400000
    for r in rows:
        assert r["n_queries"] == 8 and r["k"] == 10
        assert r["recall_ppm"] == (r["n_hits"] * 1_000_000) // 80


def test_ivfpq_append_matches_bulk_encode_and_guards_ids(spark, sfdir, tmp_path):
    """Incremental maintenance contract: an index built by TWO
    ivfpq_append batches (frozen codebooks) holds exactly the rows the
    encode-all program writes, serves rank-identically, and re-appending
    existing ids raises (fail-loud, column-pruned guard)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from miru_spark.functions.cache import release_scope
    from miru_spark.pipeline.quantize import (
        _ivfpq_fit,
        ivfpq_append,
        ivfpq_encode,
        ivfpq_topk_from_codes,
    )

    kc = m = ksub = 4
    emb, cents, books, _res, _dsub = _ivfpq_fit(spark, sfdir, kc, m, ksub, 2)
    inc = str(tmp_path / "inc")
    n0 = ivfpq_append(spark, inc, emb.filter(F.col("vec_id") % 2 == 0), cents, books)
    n1 = ivfpq_append(spark, inc, emb.filter(F.col("vec_id") % 2 == 1), cents, books)
    q = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    release_scope("ivfpq_emb")
    release_scope("ivfpq_res")

    bulk = str(tmp_path / "bulk")
    cents_b, books_b = ivfpq_encode(spark, sfdir, bulk, kc=kc, m=m, ksub=ksub)
    assert cents_b == cents and books_b == books  # deterministic training

    cols = ["vec_id", "label", "cell"] + [f"c{j}" for j in range(m)]
    rows_inc = sorted(
        tuple(r) for r in spark.read.parquet(inc).select(*cols).collect()
    )
    rows_bulk = sorted(
        tuple(r) for r in spark.read.parquet(bulk).select(*cols).collect()
    )
    assert rows_inc == rows_bulk and n0 + n1 == len(rows_bulk)

    got = ivfpq_topk_from_codes(spark, inc, cents, books, q, k=10).collect()
    want = ivfpq_topk_from_codes(spark, bulk, cents, books, q, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    with _pytest.raises(ValueError, match="already exist"):
        ivfpq_append(
            spark, inc, spark.read.parquet(f"{sfdir}/embeddings.parquet").limit(3),
            cents, books,
        )


def test_ivfpq_remove_tombstones_and_compact(spark, sfdir, tmp_path):
    """Removal lifecycle: tombstoning the current top-2 must re-rank over
    the survivors exactly as an index built WITHOUT those rows would
    (frozen codebooks make encode per-row, so the comparison is exact);
    retried removals are idempotent; compaction folds the mask into a
    tombstone-free rewrite that serves identically."""
    import pyspark.sql.functions as F

    from miru_spark.functions.cache import release_scope
    from miru_spark.pipeline.quantize import (
        _ivfpq_fit,
        _read_tombstones,
        ivfpq_append,
        ivfpq_compact,
        ivfpq_remove,
        ivfpq_topk_from_codes,
    )

    kc = m = ksub = 4
    emb, cents, books, _res, _dsub = _ivfpq_fit(spark, sfdir, kc, m, ksub, 2)
    q = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    full = str(tmp_path / "full")
    ivfpq_append(spark, full, emb, cents, books)
    base = ivfpq_topk_from_codes(spark, full, cents, books, q, k=10).collect()
    removed = [base[0]["vec_id"], base[1]["vec_id"]]

    ivfpq_remove(spark, full, removed)
    got = ivfpq_topk_from_codes(spark, full, cents, books, q, k=10).collect()
    assert {r["vec_id"] for r in got}.isdisjoint(set(removed))
    assert got[0]["vec_id"] == base[2]["vec_id"]  # survivors shift up
    assert [r["rank"] for r in got] == list(range(1, 11))

    # exact baseline: an index that never contained the removed rows
    wo = str(tmp_path / "wo")
    ivfpq_append(
        spark, wo, emb.filter(~F.col("vec_id").isin(removed)), cents, books
    )
    release_scope("ivfpq_emb")
    release_scope("ivfpq_res")
    want = ivfpq_topk_from_codes(spark, wo, cents, books, q, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # idempotent replay
    ivfpq_remove(spark, full, removed)
    again = ivfpq_topk_from_codes(spark, full, cents, books, q, k=10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]

    # compaction: tombstone-free rewrite serves identically
    compacted = str(tmp_path / "compacted")
    n = ivfpq_compact(spark, full, compacted)
    assert n == spark.read.parquet(full).count() - len(removed)
    assert _read_tombstones(spark, compacted) is None
    after = ivfpq_topk_from_codes(
        spark, compacted, cents, books, q, k=10
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in got]


# ---- Stored-index edge states: toy index, no training ----


def _toy_store(spark, path):
    """Stored IVF-PQ index over 12 toy 4-dim vectors with hand-made frozen
    codebooks (kc = 2 cells, m = 2 subspaces, ksub = 2 codes), built by
    `ivfpq_append` — the real write path, no Lloyd's run. Returns
    (emb, cents, books, query)."""
    from miru_spark.pipeline.quantize import ivfpq_append

    emb = spark.createDataFrame(
        [(i, i % 3, [0.1 * (i % 5), 0.2 * (i % 3), 0.05 * i, 1.0]) for i in range(12)],
        "vec_id bigint, label int, embedding array<float>",
    )
    cents = [[0.0, 0.0, 0.0, 1.0], [0.4, 0.4, 0.5, 1.0]]
    books = [[[0.0, 0.0], [0.2, 0.2]], [[0.0, 0.0], [0.3, 0.1]]]
    ivfpq_append(spark, path, emb, cents, books)
    return emb, cents, books, [0.3, 0.2, 0.25, 1.0]


def test_ivfpq_remove_without_table_raises(spark, tmp_path):
    """Removing from a path with no main table is an error naming the
    path, and writes nothing — a lone `_tombstones` dir would make every
    later read die on schema inference instead."""
    import os
    import re

    from miru_spark.pipeline.quantize import ivfpq_remove

    path = str(tmp_path / "no_index")
    with pytest.raises(ValueError, match=re.escape(path)):
        ivfpq_remove(spark, path, [1, 2])
    assert not os.path.exists(path)


def test_ivfpq_compact_to_zero_survivors_raises(spark, tmp_path):
    """Compacting a fully tombstoned index raises before writing: an empty
    partitioned write leaves nothing to infer a schema from."""
    import os

    from miru_spark.pipeline.quantize import ivfpq_compact, ivfpq_remove

    path = str(tmp_path / "idx")
    _toy_store(spark, path)
    ivfpq_remove(spark, path, range(12))
    out = str(tmp_path / "compacted")
    with pytest.raises(ValueError, match="empty index"):
        ivfpq_compact(spark, path, out)
    assert not os.path.exists(out)


def test_ivfpq_file_uri_honors_tombstones_remote_scheme_raises(spark, tmp_path):
    """Tombstones must mask through a file:// URI exactly as through the
    plain path (os.path cannot see a URI; treating it as absent would
    silently un-delete), and the append guard must see the standing table
    through the URI (skipping it would write duplicate rows). A remote
    scheme the existence check cannot see raises before any Spark job."""
    import pyspark.sql.functions as F

    from miru_spark.pipeline.quantize import (
        ivfpq_append,
        ivfpq_remove,
        ivfpq_topk_from_codes,
    )

    plain = str(tmp_path / "idx")
    uri = "file://" + plain
    emb, cents, books, q = _toy_store(spark, uri)

    def served(path):
        return [
            tuple(r)
            for r in ivfpq_topk_from_codes(
                spark, path, cents, books, q, query_vec_id=-1, k=5
            ).collect()
        ]

    base = served(plain)
    assert served(uri) == base
    removed = [base[0][0], base[1][0]]
    assert ivfpq_remove(spark, uri, removed) == 2
    for path in (uri, plain):
        got = served(path)
        assert {r[0] for r in got}.isdisjoint(removed), path
        assert got[0][0] == base[2][0]
    with pytest.raises(ValueError, match="already exist"):
        ivfpq_append(
            spark, uri, emb.filter(F.col("vec_id") == removed[0]), cents, books
        )

    sc = spark.sparkContext
    group = "miru_remote_scheme_guard"
    sc.setJobGroup(group, "no job may run for an unsupported scheme")
    try:
        remote = "s3a://bucket/idx"
        with pytest.raises(ValueError, match="s3a"):
            ivfpq_topk_from_codes(spark, remote, cents, books, q)
        with pytest.raises(ValueError, match="s3a"):
            ivfpq_remove(spark, remote, [1])
        with pytest.raises(ValueError, match="s3a"):
            ivfpq_append(spark, remote, emb, cents, books)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


def test_gate_index_dir_removed_at_exit():
    """The lifecycle gates build their index under a fresh temp dir per
    invocation; it must be gone once the interpreter that made it exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, __spark_entry__ as e\n"
        "p = e._gate_index_path('miru_exit_test_')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'part-0.parquet'), 'w').close()\n"
        "print(os.path.isdir(p), os.path.dirname(p))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True,
        check=True,
    ).stdout.split()
    assert out[0] == "True"
    assert os.path.basename(out[1]).startswith("miru_exit_test_")
    assert not os.path.exists(out[1])


def test_pq_bench_resolves_kernel_names():
    """tools/pq_bench.py imports the private PQ kernel names at module
    scope, so a rename fails here rather than on the next bench run."""
    import importlib
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    bench = importlib.import_module("tools.pq_bench")
    assert callable(bench._pq_fit) and callable(bench._code_col)
