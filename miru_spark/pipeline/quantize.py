"""Product quantization (PQ) for the embedding tier — the bytes-per-vector
scale path.

At the 100-TB decade the float32 embedding column is itself the problem:
64 dims x 4 B = 256 B/vector, and every ANN variant in
`pipeline/similarity.py` still ultimately scans or re-ranks against those
floats. PQ (Jegou, Douze, Schmid 2011, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI) splits each vector into ``m`` contiguous
subvectors, trains an independent ``ksub``-centroid codebook per subspace
(plain k-means, run per subspace), and stores each vector as ``m`` small
codes — one byte each at ksub<=256, a 64x compression here — while queries
score against codes via the Asymmetric Distance Computation (ADC): an
m x ksub lookup table of exact query-subvector-to-centroid distances, so
the corpus scan reads ONLY the code columns and does ONLY table lookups.

Deterministic contract (what makes an exact DuckDB value-hash oracle
possible). `_pq_fit_df` is the ONE Lloyd's loop in the repo: the IVF coarse
quantizer (`similarity.ivf_train`, the coarse half of IVF-PQ) is the same
loop with m=1, dsub=dim — plain k-means over whole vectors is PQ with a
single subspace (Jegou et al. 2011):
- seeds per subspace = the subvectors of the ``ksub`` smallest vec_ids
  (never rand());
- assignment = squared-L2 argmin on 9-dp-ROUNDED distances, ties to the
  lower code (both engines);
- centroid update = element-wise mean ROUNDED 6 dp, so the next
  iteration's literals are bit-identical regardless of partitioning or
  engine; raises if any (subspace, cluster) cell empties;
- ADC = per-(subspace, code) 9-dp-rounded squared distance, summed over
  the m subspaces, rounded 6 dp (round-then-compare on both engines).

Scale shape:
- TRAIN: per iteration exactly ONE map-side-combined aggregate keyed by
  (subspace, cluster, pos) — m*ksub*dsub rows cross the exchange, never
  the corpus — and the codebook returns to the plan as broadcast-folded
  literals, so assignment is a map-only pass. One corpus scan per
  iteration; at 100 TB you train on a bounded sample with the same code
  (the codebook is m*ksub*dsub doubles regardless of corpus size).
- ENCODE: map-only; the codebook is folded literals, output is m small
  ints per row. At scale this runs ONCE at ingest and the codes are a
  stored table column (like `build_bucketed_embeddings` stores buckets);
  the gate form trains + encodes in one invocation for a self-contained
  oracle.
- SERVE (ADC): the m x ksub distance table is computed DRIVER-SIDE from
  the query (`_adc_table` — bitwise-pinned to Spark's own arithmetic;
  Catalyst neither constant-folds HOF aggregates nor analyzes m*ksub of
  them cheaply) and enters the plan as plain literals, so the scan reads
  only codes and does only array lookups; top-k is
  TakeOrderedAndProject. No shuffle beyond the k-row merge. Raw ADC
  top-k degrades to ~arbitrary under code-tie degeneracy, so the served
  form is `pq_rerank_*`: ADC shortlist -> exact re-rank over only the
  shortlisted rows.
- Composition (IVF-PQ, `ivfpq_*`): assign each vector to one of ``kc``
  coarse Lloyd's cells (`_pq_fit_df` with m=1), PQ-encode the RESIDUAL
  x - centroid[cell], and store codes cell-PARTITIONED. Serving probes
  the ``nprobe`` nearest cells only: the coarse cell prunes the SCAN
  (hive partition dirs -> PartitionFilters, the `lsh_ann_partitioned`
  story), PQ prunes the BYTES (code columns only), and each probed cell
  gets its own driver-side ADC table built from the query's residual
  against that cell's centroid. This is the standard billion-scale ANN
  layout (FAISS IVFPQ; Jegou et al. 2011 §V).

Reference analog: none — the reference engine has no vector tier
(VERDICT r2); this extends the similarity tier's scale story downward in
bytes/vector the same way `lsh_ann_partitioned` extends it in scan bytes.

Gate defaults (m=4, ksub=4, n_iter=2, k=10, query_vec_id=0) are sized so
the unrolled-SQL oracle stays tractable; production would be m=8..16,
ksub=256, trained on a sample.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.functions.cache import release_scope, scoped_cache
from miru_spark.functions.topk import ranked_topk
from miru_spark.storage import data_files


def _sqdist_lit(sub_col: Column, cent: list[float]) -> Column:
    """Squared L2 distance from a subvector column to one literal centroid.
    Element math in float64 (subvectors are float32 slices on disk; doing
    the math in double makes Spark and DuckDB bit-identical on identical
    inputs); summation-order noise (~1e-13 relative) is absorbed by the
    caller's 9-dp round — the repo's standard float parity protocol."""
    arr = F.array(*[F.lit(float(v)) for v in cent])
    return F.aggregate(
        F.zip_with(
            sub_col,
            arr,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _code_col(sub_col: Column, book: list[list[float]]) -> Column:
    """argmin-over-codebook as ONE array_min over (distance, code) structs —
    ksub subexpressions, each appearing once (the fold-style when-chain
    alternative re-embeds every prior branch; see CLAUDE.md lang_id note).
    Distances rounded 9 dp first so double sum-order noise cannot flip the
    argmin between engines; genuine sub-1e-9 ties break to the lower code
    via struct ordering on both."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    F.round(_sqdist_lit(sub_col, c), 9).alias("d"),
                    F.lit(j).alias("code"),
                )
                for j, c in enumerate(book)
            ]
        )
    )["code"]


def _sub_slice(j: int, dsub: int) -> Column:
    return F.slice(F.col("embedding"), j * dsub + 1, dsub)


def _query_vec(emb: DataFrame, query_vec_id: int) -> list[float]:
    """The query's embedding as driver-side doubles (one-row collect), or
    a ValueError when ``query_vec_id`` is not in the corpus."""
    rows = (
        emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    )
    if not rows:
        raise ValueError(f"query vec_id {query_vec_id} not in corpus")
    return [float(v) for v in rows[0]["embedding"]]


def _pq_fit(
    spark: SparkSession, sf_dir: str, m: int, ksub: int, n_iter: int
) -> tuple[list[list[list[float]]], dict[tuple[int, int], int], int]:
    """Train the m per-subspace codebooks (the deterministic Lloyd's of
    `_pq_fit_df`). Returns (books, sizes, dsub)
    where books[j][c] is subspace j's cluster-c centroid (6-dp doubles) and
    sizes[(j, c)] the final assignment count. Every per-iteration exchange
    carries m*ksub*dsub rows; the corpus never shuffles."""
    from miru_spark.pipeline.similarity import _emb

    emb = scoped_cache(
        _emb(spark, sf_dir).select("vec_id", "embedding"), "pq_train_emb"
    )
    return _pq_fit_df(emb, m, ksub, n_iter)


def _pq_fit_df(
    emb: DataFrame, m: int, ksub: int, n_iter: int
) -> tuple[list[list[list[float]]], dict[tuple[int, int], int], int]:
    """`_pq_fit` over an explicit (vec_id, embedding) DataFrame — the ONE
    Lloyd's loop: m=1 trains the IVF coarse quantizer over whole vectors
    (`similarity.ivf_train`, `_ivfpq_fit`), m>1 the PQ codebooks (over
    coarse RESIDUALS in the IVF-PQ composition). The caller must cache
    ``emb``: the loop scans it n_iter+2 times (seeds, per-iteration update,
    final sizes)."""
    seed_rows = emb.orderBy("vec_id").limit(ksub).collect()
    if len(seed_rows) < ksub:
        raise ValueError(f"corpus has fewer than ksub={ksub} vectors")
    dim = len(seed_rows[0]["embedding"])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [
            [float(v) for v in r["embedding"][j * dsub : (j + 1) * dsub]]
            for r in seed_rows
        ]
        for j in range(m)
    ]
    want = {(j, c) for j in range(m) for c in range(ksub)}

    for _ in range(n_iter):
        # ONE pass for all m subspaces: explode m (subspace, code, subvec)
        # structs per row, posexplode the subvector, ONE map-side-combined
        # aggregate keyed (subspace, cluster, pos).
        structs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("subspace"),
                    _code_col(_sub_slice(j, dsub), books[j]).alias("cluster"),
                    _sub_slice(j, dsub).alias("sub"),
                )
                for j in range(m)
            ]
        )
        ex = (
            emb.select(F.explode(structs).alias("s"))
            .select(
                F.col("s.subspace").alias("subspace"),
                F.col("s.cluster").alias("cluster"),
                F.posexplode("s.sub").alias("pos", "v"),
            )
        )
        rows = (
            ex.groupBy("subspace", "cluster", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
            .collect()
        )
        got = {(int(r["subspace"]), int(r["cluster"])) for r in rows}
        if got != want:
            raise ValueError(f"empty PQ cell(s) {sorted(want - got)}")
        nxt = [[[0.0] * dsub for _ in range(ksub)] for _ in range(m)]
        for r in rows:
            nxt[int(r["subspace"])][int(r["cluster"])][int(r["pos"])] = float(r["c"])
        books = nxt

    # Final assignment sizes honor the same empty-cell contract as the
    # iteration loop (an inner join against sizes would silently drop an
    # emptied cell's codebook rows — the ivf_train lesson, ADVICE r4).
    assign = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                _code_col(_sub_slice(j, dsub), books[j]).alias("cluster"),
            )
            for j in range(m)
        ]
    )
    size_rows = (
        emb.select(F.explode(assign).alias("s"))
        .select(
            F.col("s.subspace").alias("subspace"),
            F.col("s.cluster").alias("cluster"),
        )
        .groupBy("subspace", "cluster")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {(int(r["subspace"]), int(r["cluster"])) for r in size_rows}
    if got != want:
        raise ValueError(
            f"empty PQ cell(s) after final assignment {sorted(want - got)}"
        )
    sizes = {
        (int(r["subspace"]), int(r["cluster"])): int(r["n"]) for r in size_rows
    }
    return books, sizes, dsub


def pq_train(
    spark: SparkSession, sf_dir: str, m: int = 4, ksub: int = 4, n_iter: int = 2
) -> DataFrame:
    """Train the PQ codebooks and return them as one row per
    (subspace, cluster, dimension-within-subspace) with the final cell
    size: (subspace, cluster, n, pos, val), val rounded 6 dp. The exact
    per-subspace analog of `similarity.ivf_train`'s output contract."""
    books, sizes, dsub = _pq_fit(spark, sf_dir, m, ksub, n_iter)
    cent_df = spark.createDataFrame(
        [
            (j, c, sizes[(j, c)], p, books[j][c][p])
            for j in range(m)
            for c in range(ksub)
            for p in range(dsub)
        ],
        "subspace int, cluster int, n long, pos int, val double",
    )
    return cent_df.orderBy("subspace", "cluster", "pos")


def _round_half_up(x: float, nd: int) -> float:
    """Spark's ROUND for doubles, exactly: BigDecimal.valueOf(x) takes the
    SHORTEST decimal representation (== Python repr), then HALF_UP at nd
    places. Python's builtin round() is banker's AND operates on the full
    binary expansion — both differences matter at boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def _adc_table(
    books: list[list[list[float]]], q: list[float], dsub: int
) -> list[list[float]]:
    """The m x ksub query-to-centroid distance table, computed DRIVER-SIDE
    with bit-identical semantics to the in-plan form: a left-fold of
    (x-y)*(x-y) in element order (exactly ``aggregate(zip_with(...))``'s
    evaluation order — IEEE double ops are deterministic, so same inputs
    + same order = same bits) rounded with Spark's own HALF_UP-on-
    shortest-decimal rule (`_round_half_up`). Identity to the Spark
    evaluation is pinned in tests/test_quantize.py.

    Why not evaluate in Spark: Catalyst neither constant-folds HOF
    aggregates (in-plan, every row re-evaluated all m*ksub folds —
    measured 13x slower than the exact float scan at 1M) nor analyzes 128
    nested HOF expressions cheaply (a 1-row hoist job still cost ~8 s of
    pure plan analysis/codegen per query — the ENTIRE serving wall; the
    1M code scan itself is sub-second). m*ksub*dsub driver float ops is
    the right venue."""
    table = []
    for j, book in enumerate(books):
        qsub = [float(q[j * dsub + i]) for i in range(dsub)]
        row = []
        for cent in book:
            acc = 0.0
            for x, y in zip(qsub, cent):
                acc = acc + (x - y) * (x - y)
            row.append(_round_half_up(acc, 9))
        table.append(row)
    return table


def _rerank_exact(
    emb: DataFrame, q: list[float], ids: list[int], k: int
) -> DataFrame:
    """Exact squared-L2 re-rank of a BOUNDED candidate id list against the
    float column: the isin filter reaches the parquet scan (row-group
    pruning at scale — the scorer._docmeta_for lesson: never materialize
    dense per-corpus state for a selective read)."""
    d2 = F.round(_sqdist_lit(F.col("embedding"), q), 6)
    scored = emb.filter(F.col("vec_id").isin(ids)).select(
        "vec_id", "label", d2.alias("d2")
    )
    return ranked_topk(scored, k, "vec_id", F.asc("d2"), F.asc("vec_id")).select(
        "vec_id", "label", "d2", "rank"
    )


def pq_encode(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> list[list[list[float]]]:
    """Train the codebooks and materialize the ENCODED corpus: one parquet
    table (vec_id, label, c0..c{m-1} smallint) — the at-scale storage form
    (the float column does not survive into the codes table; production
    params m=8..16/ksub<=256 make each row m*2 B vs dim*4 B of float32,
    and parquet dictionary+RLE encodes the tiny code alphabet far below
    even that). Encoding is MAP-ONLY: the codebook enters the plan as
    folded literals; nothing shuffles. Returns the trained books so the
    caller can serve ADC against the written table."""
    books, _sizes, dsub = _pq_fit(spark, sf_dir, m, ksub, n_iter)
    from miru_spark.pipeline.similarity import _emb

    emb = _emb(spark, sf_dir)
    cols = [F.col("vec_id"), F.col("label")] + [
        _code_col(_sub_slice(j, dsub), books[j]).cast("smallint").alias(f"c{j}")
        for j in range(m)
    ]
    emb.select(*cols).write.mode("overwrite").parquet(out_dir)
    return books


def pq_topk_from_codes(
    spark: SparkSession,
    codes_path: str,
    books: list[list[list[float]]],
    query_vec: list[float],
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over a STORED codes table — the serving path the 100-TB
    story actually runs (`pq_topk` re-derives codes inline so its gate is
    self-contained; this form reads ONLY the m smallint code columns —
    verify with explain(): ReadSchema carries no embedding column). The
    query's m x ksub distance table is computed driver-side (`_adc_table`)
    and enters as plain literals; per-row work is m literal-array lookups
    + m-1 additions. Rank-identical to `pq_topk` on the same corpus
    (pinned in tests/test_quantize.py)."""
    m = len(books)
    dsub = len(books[0][0])
    if len(query_vec) != m * dsub:
        raise ValueError(f"query dim {len(query_vec)} != m*dsub {m * dsub}")
    codes = spark.read.parquet(codes_path)
    dtab = _adc_table(books, [float(v) for v in query_vec], dsub)
    adc_terms = [
        F.element_at(
            F.array(*[F.lit(v) for v in dtab[j]]),
            F.col(f"c{j}").cast("int") + 1,
        )
        for j in range(m)
    ]
    adc = F.round(sum(adc_terms[1:], adc_terms[0]), 6)
    scored = codes.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", "label", adc.alias("adc")
    )
    return ranked_topk(scored, k, "vec_id", F.asc("adc"), F.asc("vec_id")).select(
        "vec_id", "label", "adc", "rank"
    )


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """ADC top-k: train the codebooks, encode the corpus map-side (codebook
    as folded literals), and rank by the asymmetric distance — for each
    row, the sum over subspaces of the PRECOMPUTED query-to-centroid
    distance selected by that row's code. The per-row work is m argmins
    over folded literals plus m literal-array lookups; no per-row float
    dot products, and at scale (codes stored at ingest) the scan would
    read only m small int columns.

    Approximate by construction: vectors sharing all m codes tie exactly
    (adc identical), broken by vec_id asc — with the gate's tiny codebook
    (4^4 = 256 combinations) ties are COMMON, which is exactly what makes
    the tie contract worth pinning. Returns (vec_id, label, adc, rank),
    adc ascending (it is a squared distance), query row excluded."""
    from miru_spark.pipeline.similarity import _emb

    books, _sizes, dsub = _pq_fit(spark, sf_dir, m, ksub, n_iter)
    emb = _emb(spark, sf_dir)
    q = _query_vec(emb, query_vec_id)

    # ADC lookup table hoisted out of the per-row plan (_adc_table) —
    # indexing the plain-literal array by the row's code is the only
    # per-row "distance" work beyond the argmin encode.
    dtab = _adc_table(books, q, dsub)
    adc_terms = []
    for j in range(m):
        code = _code_col(_sub_slice(j, dsub), books[j])
        adc_terms.append(
            F.element_at(F.array(*[F.lit(v) for v in dtab[j]]), code + 1)
        )
    adc = F.round(sum(adc_terms[1:], adc_terms[0]), 6)

    scored = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", adc.alias("adc"))
    )
    return ranked_topk(scored, k, "vec_id", F.asc("adc"), F.asc("vec_id")).select(
        "vec_id", "label", "adc", "rank"
    )


def pq_rerank_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """ADC-shortlist -> exact re-rank: the standard PQ serving composition
    (Jegou et al. 2011 use PQ to shortlist, floats to finish). The codes
    prune the corpus to `shortlist` candidates (reading only code columns
    at scale), the float column is then read for ONLY those rows
    (bounded isin -> row-group pruning), and exact squared L2 decides the
    final top-k. This is what repairs raw ADC's tie degeneracy: with a
    tiny codebook thousands of vectors share a code combination and tie
    exactly, so raw ADC top-k is ~arbitrary within the best cells, while
    the re-ranked form recovers true neighbors whose cells reached the
    shortlist. Returns (vec_id, label, d2, rank)."""
    from miru_spark.pipeline.similarity import _emb

    adc_df = pq_topk(
        spark, sf_dir, query_vec_id=query_vec_id, k=shortlist,
        m=m, ksub=ksub, n_iter=n_iter,
    )
    ids = [r["vec_id"] for r in adc_df.collect()]  # bounded: `shortlist` rows
    emb = _emb(spark, sf_dir)
    return _rerank_exact(emb, _query_vec(emb, query_vec_id), ids, k)


def pq_rerank_from_codes(
    spark: SparkSession,
    codes_path: str,
    emb_parquet: str,
    books: list[list[list[float]]],
    query_vec: list[float],
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = 1000,
) -> DataFrame:
    """The stored-codes form of the shortlist -> re-rank composition (what
    a 100-TB deployment serves): ADC over the codes table produces the
    bounded candidate list; the float table is touched only for those ids."""
    adc_df = pq_topk_from_codes(
        spark, codes_path, books, query_vec, query_vec_id=query_vec_id,
        k=shortlist,
    )
    ids = [r["vec_id"] for r in adc_df.collect()]
    emb = spark.read.parquet(emb_parquet)
    return _rerank_exact(emb, [float(v) for v in query_vec], ids, k)


# ---- IVF-PQ: coarse cells + residual codes (Jegou et al. 2011 §V) ----


def _residuals(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, label, cell, embedding=RESIDUAL double array): each row's
    coarse cell (`_code_col` over the whole vector: the m=1 argmin over
    the kc folded-literal centroids) and x - centroid[cell]. Two chained
    projections so the cell argmin is evaluated once, not re-embedded in
    the residual expression (the CollapseProject/when-chain lesson).
    Subtraction of identical doubles is exact IEEE on both engines, so no
    extra rounding is needed on the residual itself — the PQ chain's
    9-dp round-before-argmin absorbs downstream sum-order noise."""
    cents_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in cents]
    )
    cell = _code_col(F.col("embedding"), cents)
    with_cell = emb.select("vec_id", "label", "embedding", cell.alias("cell"))
    resid = F.zip_with(
        F.col("embedding"),
        F.element_at(cents_lit, F.col("cell") + 1),
        lambda x, y: x.cast("double") - y,
    )
    return with_cell.select("vec_id", "label", "cell", resid.alias("embedding"))


def _ivfpq_fit(
    spark: SparkSession, sf_dir: str, kc: int, m: int, ksub: int, n_iter: int
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]], DataFrame, int]:
    """Train the full IVF-PQ index: coarse Lloyd's over the embeddings
    (kc cells, `_pq_fit_df` with m=1), then per-subspace PQ Lloyd's over
    the RESIDUALS — one loop, one deterministic contract (seeds = smallest
    vec_ids, 9-dp round-before-argmin, 6-dp means, fail-loud empty cells),
    which is what keeps the whole composition exactly SQL-expressible. Returns
    (emb, coarse_cents, books, residual_df, dsub); emb and residual_df are
    scope-cached (the Lloyd's loops scan each n_iter+2 times)."""
    from miru_spark.pipeline.similarity import _emb

    emb = scoped_cache(
        _emb(spark, sf_dir).select("vec_id", "label", "embedding"), "ivfpq_emb"
    )
    coarse, _sizes, _dim = _pq_fit_df(emb, 1, kc, n_iter)
    cents = coarse[0]
    res = scoped_cache(_residuals(emb, cents), "ivfpq_res")
    books, _sizes, dsub = _pq_fit_df(res, m, ksub, n_iter)
    return emb, cents, books, res, dsub


def _probe_cells(cents: list[list[float]], q: list[float], nprobe: int) -> list[int]:
    """The nprobe coarse cells nearest the query: the coarse codebook's
    m=1 ADC row (`_adc_table` — the 9-dp-rounded distances `_code_col`
    argmins over), sorted with ties to the lower cell id, so both engines
    probe the same cells."""
    ds = _adc_table([cents], q, len(q))[0]
    return sorted(range(len(cents)), key=lambda cell: (ds[cell], cell))[:nprobe]


def _ivfpq_adc(
    dtabs: dict[int, list[list[float]]],
    probed: list[int],
    kc: int,
    code_cols: list[Column],
) -> Column:
    """Per-row ADC under per-cell distance tables: map the row's cell to
    its probe rank via a kc-long literal array, then for each subspace
    index a (nprobe x ksub) nested literal array by (rank, code). Rows in
    unprobed cells must be filtered out by the CALLER — their rank entry
    is a placeholder."""
    rank_of = {c: r for r, c in enumerate(probed)}
    pr_map = F.array(*[F.lit(rank_of.get(c, 0)) for c in range(kc)])
    pr = F.element_at(pr_map, F.col("cell") + 1)
    terms = []
    for j, code in enumerate(code_cols):
        tabs = F.array(
            *[F.array(*[F.lit(v) for v in dtabs[cell][j]]) for cell in probed]
        )
        terms.append(F.element_at(F.element_at(tabs, pr + 1), code + 1))
    return F.round(sum(terms[1:], terms[0]), 6)


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    kc: int = 4,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """IVF-PQ top-k: probe the nprobe nearest coarse cells, ADC over the
    RESIDUAL codes inside only those cells. Approximate on two axes by
    construction — cells outside the probe set are never scored (true
    neighbors there are lost; recall is tuned by nprobe), and within-cell
    ranking carries PQ quantization error (repaired by `ivfpq_rerank`).
    Returns (vec_id, label, adc, rank), adc ascending, query row excluded.

    Scale shape: training exchanges carry only centroid-table rows; cell
    assignment + residual + encode are map-only over folded literals; the
    probed-cell filter is the one that becomes PartitionFilters directory
    pruning in the stored form (`ivfpq_topk_from_codes`) — the scan cost
    is nprobe/kc of the corpus's CODE bytes, not its float bytes."""
    emb, cents, books, res, dsub = _ivfpq_fit(spark, sf_dir, kc, m, ksub, n_iter)
    q = _query_vec(emb, query_vec_id)
    probed = _probe_cells(cents, q, nprobe)
    dtabs = {
        cell: _adc_table(books, [q[i] - cents[cell][i] for i in range(len(q))], dsub)
        for cell in probed
    }
    code_cols = [_code_col(_sub_slice(j, dsub), books[j]) for j in range(m)]
    adc = _ivfpq_adc(dtabs, probed, kc, code_cols)
    scored = res.filter(
        F.col("cell").isin(probed) & (F.col("vec_id") != query_vec_id)
    ).select("vec_id", "label", adc.alias("adc"))
    return ranked_topk(scored, k, "vec_id", F.asc("adc"), F.asc("vec_id")).select(
        "vec_id", "label", "adc", "rank"
    )


def ivfpq_rerank_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    kc: int = 4,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """IVF-PQ shortlist -> exact re-rank: the served composition (same
    shape as `pq_rerank_topk`, now with the coarse probe bounding the scan
    too). The float column is read only for the `shortlist` candidate rows
    (bounded isin -> row-group pruning). Recall is bounded above by the
    probe: a true neighbor in an unprobed cell cannot be recovered by any
    re-rank — that is the IVF trade, tuned by nprobe."""
    adc_df = ivfpq_topk(
        spark, sf_dir, query_vec_id=query_vec_id, k=shortlist,
        kc=kc, nprobe=nprobe, m=m, ksub=ksub, n_iter=n_iter,
    )
    ids = [r["vec_id"] for r in adc_df.collect()]  # bounded: `shortlist` rows
    from miru_spark.pipeline.similarity import _emb

    emb = _emb(spark, sf_dir)
    return _rerank_exact(emb, _query_vec(emb, query_vec_id), ids, k)


def ivfpq_encode(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    kc: int = 4,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train IVF-PQ and materialize the index: a parquet table
    (vec_id, label, c0..c{m-1} smallint) hive-PARTITIONED by coarse cell —
    `repartition("cell")` FIRST so each cell directory gets one writer's
    files, not tasks x kc tiny files (the build_bucketed_embeddings
    lesson). Returns (coarse_cents, books) for serving."""
    _emb_df, cents, books, res, dsub = _ivfpq_fit(spark, sf_dir, kc, m, ksub, n_iter)
    cols = [F.col("vec_id"), F.col("label"), F.col("cell")] + [
        _code_col(_sub_slice(j, dsub), books[j]).cast("smallint").alias(f"c{j}")
        for j in range(m)
    ]
    (
        res.select(*cols)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_dir)
    )
    return cents, books


def ivfpq_topk_from_codes(
    spark: SparkSession,
    codes_path: str,
    cents: list[list[float]],
    books: list[list[list[float]]],
    query_vec: list[float],
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    honor_tombstones: bool = True,
) -> DataFrame:
    """IVF-PQ serving over the STORED cell-partitioned codes — the 100-TB
    path: the `cell IN probed` filter prunes whole partition DIRECTORIES
    (explain() shows PartitionFilters; pinned by test), so the scan reads
    nprobe/kc of the code files and ZERO float bytes. Rank-identical to
    the inline `ivfpq_topk` on the same corpus (pinned by test). Rows
    tombstoned by `ivfpq_remove` are excluded via a broadcast anti-join
    (the index/removal.py mask analog; no-op when no tombstones exist)."""
    kc, m = len(cents), len(books)
    dsub = len(books[0][0])
    q = [float(v) for v in query_vec]
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != m*dsub {m * dsub}")
    probed = _probe_cells(cents, q, nprobe)
    dtabs = {
        cell: _adc_table(books, [q[i] - cents[cell][i] for i in range(len(q))], dsub)
        for cell in probed
    }
    tomb = _read_tombstones(spark, codes_path) if honor_tombstones else None
    codes = spark.read.parquet(codes_path).filter(F.col("cell").isin(probed))
    if tomb is not None:
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    code_cols = [F.col(f"c{j}").cast("int") for j in range(m)]
    adc = _ivfpq_adc(dtabs, probed, kc, code_cols)
    scored = codes.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", "label", adc.alias("adc")
    )
    return ranked_topk(scored, k, "vec_id", F.asc("adc"), F.asc("vec_id")).select(
        "vec_id", "label", "adc", "rank"
    )


# ---- Measured recall: the PQ tier's "measure, don't guess" gates ----

PQ_RECALL_QUERY_IDS = tuple(range(8))


def _exact_pairs(
    emb: DataFrame, qvecs: dict[int, list[float]]
) -> DataFrame:
    """(qid, vec_id, d2) for every (query, candidate) pair — the ground-
    truth scan shared by both recall gates: ONE corpus pass against the
    broadcast |Q|-row query relation (the `similarity.ann_recall` shape).
    This is a MEASUREMENT harness run on a bounded query sample, not a
    serving path — the serving paths are exactly what it grades."""
    spark = emb.sparkSession
    qdf = spark.createDataFrame(
        [(qid, qvecs[qid]) for qid in sorted(qvecs)],
        "qid bigint, qv array<double>",
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("qv"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    return emb.join(F.broadcast(qdf), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", d2.alias("d2")
    )


def _collect_qvecs(emb: DataFrame, query_ids: tuple) -> dict[int, list[float]]:
    rows = emb.filter(F.col("vec_id").isin(list(query_ids))).select(
        "vec_id", "embedding"
    ).collect()
    if len(rows) != len(query_ids):
        raise ValueError(
            f"only {len(rows)} of {len(query_ids)} query ids present"
        )
    return {int(r["vec_id"]): [float(v) for v in r["embedding"]] for r in rows}


def _truth_set(ex: DataFrame, k: int) -> set:
    """Exact top-k pairs per query from the ground-truth scan: the same
    (d2 asc, vec_id asc) deterministic order the re-rank uses."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    rows = (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
        .collect()
    )
    return {(int(r["qid"]), int(r["vec_id"])) for r in rows}


def pq_recall(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple = PQ_RECALL_QUERY_IDS,
    k: int = 10,
    shortlists: tuple = (10, 25, 50),
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """Measured recall@k of the PQ tier against exact squared-L2 ground
    truth — the `similarity.ann_recall` contract extended to quantized
    serving, so codebook/ADC changes can never silently regress recall.

    One row per served form: variant='adc' (raw ADC top-k — expected LOW:
    with the gate's 4^4=256 code combinations ties are rampant, which is
    the documented reason the served form re-ranks) and variant='rerank'
    at each shortlist size C (ADC top-C -> exact re-rank -> top-k).
    ``recall_ppm`` is integer parts-per-million (float-free value hash);
    'adc' rows carry shortlist=0 as a sentinel. Re-rank recall is provably
    non-decreasing in C (a bigger ADC shortlist only ADDS candidates, and
    any candidate that outranks a true neighbor under (d2, vec_id) IS a
    true neighbor) — pinned in tests/test_quantize.py.

    Scale shape: codebooks train once (the one-aggregate-per-iteration
    Lloyd's); ALL queries are scored in ONE code-relation scan — the
    m-codes-per-row long form joins the broadcast |Q|*m*ksub distance-
    table relation, then ONE map-side-combined (qid, vec_id) sum (the
    lsh_ann_batch amortization story). Ground truth is the one full exact
    scan a measurement needs; every collect is |Q|*max(C) rows."""
    from miru_spark.pipeline.similarity import _emb

    if max(shortlists) < k:
        raise ValueError(f"max shortlist {max(shortlists)} < k={k}")
    # ONE cached relation serves training, encoding, queries, and ground
    # truth — calling _pq_fit(spark, sf_dir) here would pin a second copy
    # of the corpus under its own 'pq_train_emb' scope for the whole run
    # (the accumulated-scoped-cache heap-pressure lesson, CLAUDE.md)
    emb = scoped_cache(
        _emb(spark, sf_dir).select("vec_id", "embedding"), "pq_recall_emb"
    )
    books, _sizes, dsub = _pq_fit_df(emb, m, ksub, n_iter)
    qvecs = _collect_qvecs(emb, query_ids)
    nq = len(query_ids)
    cmax = max(shortlists)

    # broadcast distance-table relation: (qid, subspace, code, d)
    dtab_rows = []
    for qid in sorted(qvecs):
        tab = _adc_table(books, qvecs[qid], dsub)
        for j in range(m):
            for c in range(ksub):
                dtab_rows.append((qid, j, c, tab[j][c]))
    dtab_df = spark.createDataFrame(
        dtab_rows, "qid bigint, subspace int, code int, d double"
    )

    # ONE corpus scan: encode all m codes per row, long form, join, sum.
    structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                _code_col(_sub_slice(j, dsub), books[j]).alias("code"),
            )
            for j in range(m)
        ]
    )
    codes = emb.select("vec_id", F.explode(structs).alias("s")).select(
        "vec_id", F.col("s.subspace").alias("subspace"), F.col("s.code").alias("code")
    )
    adcs = (
        codes.join(F.broadcast(dtab_df), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adc"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    short = scoped_cache(
        adcs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cmax)
        .select("qid", "vec_id", "rn"),
        "pq_recall_short",
    )

    ex = scoped_cache(_exact_pairs(emb, qvecs), "pq_recall_ex")
    truth = _truth_set(ex, k)
    sl_rows = (
        short.join(ex, ["qid", "vec_id"])
        .select("qid", "rn", "vec_id", "d2")
        .collect()
    )  # bounded: |Q| * cmax rows
    for s in ("pq_recall_short", "pq_recall_ex", "pq_recall_emb"):
        release_scope(s)

    by_q: dict[int, list] = {qid: [] for qid in qvecs}
    for r in sl_rows:
        by_q[int(r["qid"])].append((int(r["rn"]), int(r["vec_id"]), float(r["d2"])))
    out = []
    # raw ADC: the first k of the (adc, vec_id)-ordered shortlist
    adc_hits = 0
    for qid, rows in by_q.items():
        rows.sort()
        adc_hits += sum((qid, vid) in truth for rn, vid, _ in rows[:k])
    out.append(("adc", 0, nq, k, adc_hits, (adc_hits * 1_000_000) // (k * nq)))
    for c in sorted(shortlists):
        hits = 0
        for qid, rows in by_q.items():
            cand = sorted(
                ((d2, vid) for rn, vid, d2 in rows if rn <= c)
            )[:k]
            hits += sum((qid, vid) in truth for _, vid in cand)
        out.append(("rerank", c, nq, k, hits, (hits * 1_000_000) // (k * nq)))
    return spark.createDataFrame(
        out,
        "variant string, shortlist int, n_queries bigint, k int, "
        "n_hits bigint, recall_ppm bigint",
    ).orderBy("variant", "shortlist")


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple = PQ_RECALL_QUERY_IDS,
    k: int = 10,
    nprobes: tuple = (1, 2, 4),
    shortlist: int = 50,
    kc: int = 4,
    m: int = 4,
    ksub: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """Measured recall@k of IVF-PQ serving against exact ground truth,
    per nprobe level — the number that tunes the IVF trade (cells outside
    the probe set are unrecoverable by ANY re-rank, so recall vs nprobe is
    the curve a deployment actually sets). One row per (variant, nprobe):
    'adc' = raw probed-ADC top-k, 'rerank' = probed-ADC shortlist ->
    exact re-rank (the served form). Monotonicity in nprobe is NOT
    guaranteed for either variant once the shortlist cut binds (a newly
    probed cell's ADC-competitive non-neighbors can crowd a true neighbor
    out of the shortlist); what IS provable is rerank >= adc at every
    nprobe — any truth member in the raw ADC top-k survives the re-rank,
    because only globally-closer rows (truth members themselves) can
    displace it under (d2, vec_id) — pinned in tests/test_quantize.py.
    ``n_candidates`` is the total scored-candidate count across queries at
    that probe level — the COST axis (the ann_recall contract), so each
    row carries the recall/cost tradeoff a deployment tunes nprobe by.

    Scale shape: one training pass (coarse + residual Lloyd's); ALL
    (query, nprobe) combinations scored from ONE residual-code scan —
    the per-(qid, cell) ADC tables broadcast as a relation keyed
    (qid, cell, subspace, code), candidates replicated per nprobe level
    only AFTER reduction to (qid, vec_id, adc, cell-rank) rows."""
    from pyspark.sql.window import Window

    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} < k={k}")
    if max(nprobes) > kc:
        raise ValueError(f"max nprobe {max(nprobes)} > kc={kc}")
    emb, cents, books, res, dsub = _ivfpq_fit(spark, sf_dir, kc, m, ksub, n_iter)
    qvecs = _collect_qvecs(emb, query_ids)
    nq = len(query_ids)

    # per-(qid, cell) residual ADC tables + probe ranks, driver-side
    # (|Q| * kc * m * ksub * dsub float ops — trivial, bit-pinned)
    dtab_rows = []
    for qid in sorted(qvecs):
        q = qvecs[qid]
        order = _probe_cells(cents, q, kc)  # all cells, probe order
        for rank, cell in enumerate(order, start=1):
            tab = _adc_table(
                books, [q[i] - cents[cell][i] for i in range(len(q))], dsub
            )
            for j in range(m):
                for c in range(ksub):
                    dtab_rows.append((qid, cell, rank, j, c, tab[j][c]))
    dtab_df = spark.createDataFrame(
        dtab_rows,
        "qid bigint, cell int, cr int, subspace int, code int, d double",
    )

    structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                _code_col(_sub_slice(j, dsub), books[j]).alias("code"),
            )
            for j in range(m)
        ]
    )
    codes = res.select("vec_id", "cell", F.explode(structs).alias("s")).select(
        "vec_id", "cell",
        F.col("s.subspace").alias("subspace"), F.col("s.code").alias("code"),
    )
    adcs = (
        codes.join(F.broadcast(dtab_df), ["cell", "subspace", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adc"), F.min("cr").alias("cr"))
    )
    npdf = spark.createDataFrame([(int(n),) for n in sorted(nprobes)], "np int")
    w = Window.partitionBy("qid", "np").orderBy(F.asc("adc"), F.asc("vec_id"))
    cand_all = scoped_cache(
        adcs.join(F.broadcast(npdf), F.col("cr") <= F.col("np")),
        "ivfpq_recall_cand",
    )
    # the COST axis (the ann_recall contract): total scored-candidate count
    # per probe level — what a deployment trades recall against
    n_cand = {
        int(r["np"]): int(r["n"])
        for r in cand_all.groupBy("np").agg(F.count("*").alias("n")).collect()
    }
    short = scoped_cache(
        cand_all.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("qid", "np", "vec_id", "rn"),
        "ivfpq_recall_short",
    )

    ex = scoped_cache(_exact_pairs(emb, qvecs), "ivfpq_recall_ex")
    truth = _truth_set(ex, k)
    sl_rows = (
        short.join(ex, ["qid", "vec_id"])
        .select("qid", "np", "rn", "vec_id", "d2")
        .collect()
    )  # bounded: |Q| * |nprobes| * shortlist rows
    for s in (
        "ivfpq_recall_short", "ivfpq_recall_cand", "ivfpq_recall_ex",
        "ivfpq_emb", "ivfpq_res",
    ):
        release_scope(s)

    by_qn: dict[tuple, list] = {}
    for r in sl_rows:
        by_qn.setdefault((int(r["qid"]), int(r["np"])), []).append(
            (int(r["rn"]), int(r["vec_id"]), float(r["d2"]))
        )
    out = []
    for n in sorted(nprobes):
        a_hits = r_hits = 0
        for qid in sorted(qvecs):
            rows = sorted(by_qn.get((qid, n), []))
            a_hits += sum((qid, vid) in truth for rn, vid, _ in rows[:k])
            cand = sorted((d2, vid) for rn, vid, d2 in rows)[:k]
            r_hits += sum((qid, vid) in truth for _, vid in cand)
        nc = n_cand.get(n, 0)
        out.append(
            ("adc", n, nq, k, nc, a_hits, (a_hits * 1_000_000) // (k * nq))
        )
        out.append(
            ("rerank", n, nq, k, nc, r_hits, (r_hits * 1_000_000) // (k * nq))
        )
    return spark.createDataFrame(
        out,
        "variant string, nprobe int, n_queries bigint, k int, "
        "n_candidates bigint, n_hits bigint, recall_ppm bigint",
    ).orderBy("variant", "nprobe")


# ---- Incremental index maintenance: append without retrain ----


def ivfpq_append(
    spark: SparkSession,
    codes_path: str,
    new_emb: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    check_ids: bool = True,
) -> int:
    """Append a batch of NEW vectors to a stored IVF-PQ index without
    retraining — the `dedup_incremental` story for the vector tier, and
    the standard IVF maintenance contract (FAISS `add`): codebooks are
    FROZEN (a retrain is a rebuild, not an append), the batch is
    cell-assigned + residual-encoded map-only against the frozen
    coarse/PQ codebooks as folded literals, and the new code rows land in
    the existing cell partition directories. Serving needs no change —
    `ivfpq_topk_from_codes` reads the merged table and PartitionFilters
    pruning still holds.

    Scale shape: the BATCH is the only thing scanned for encoding
    (map-only, nothing shuffles except the one `repartition("cell")`
    clustering write — the build_bucketed_embeddings small-files lesson);
    the standing index contributes only its vec_id column to the optional
    collision guard (column-pruned left-semi; pass check_ids=False when an
    id allocator already guarantees uniqueness at the 100-TB decade).
    The guard also rejects ids that are TOMBSTONED: a tombstone masks its
    vec_id at serving until a compaction, so re-ingesting a removed id
    would write a row that silently never serves — compact to a new path
    first, then append.
    Durability note: `mode("append")` is not atomic under mid-write
    failure — a production deployment stages new files and commits via
    manifest rename exactly like `index/build.py` segments and
    `pipeline/epoch.py` shards do; the gate form is single-process.
    Returns the number of rows appended."""
    m = len(books)
    dsub = len(books[0][0])
    batch = new_emb.select("vec_id", "label", "embedding")
    # decided before any job runs, so an unsupported scheme fails first
    standing = check_ids and _has_table(codes_path)
    n = batch.count()  # counted BEFORE encoding: the write is the only
    # action that pays the encode + repartition (no double execution)
    if check_ids:
        n_distinct = batch.select("vec_id").distinct().count()
        if n_distinct != n:
            raise ValueError(
                f"append batch carries duplicate vec_ids "
                f"({n} rows, {n_distinct} distinct)"
            )
        # first write is decided by listing the path, NOT by swallowing
        # read errors — a corrupt standing index must fail the append, not
        # silently disable the guard (fail-loud contract)
        if standing:
            existing = spark.read.parquet(codes_path).select("vec_id")
            tomb = _read_tombstones(spark, codes_path)
            if tomb is not None:
                existing = existing.unionByName(tomb)
            n_dup = batch.join(existing, "vec_id", "left_semi").count()
            if n_dup:
                raise ValueError(
                    f"{n_dup} vec_id(s) in the append batch already exist in "
                    f"{codes_path} (as rows or tombstones) — appends must "
                    "carry fresh ids (rebuild/compact to replace)"
                )
    res = _residuals(batch, cents)
    cols = [F.col("vec_id"), F.col("label"), F.col("cell")] + [
        _code_col(_sub_slice(j, dsub), books[j]).cast("smallint").alias(f"c{j}")
        for j in range(m)
    ]
    out = res.select(*cols).repartition("cell")
    out.write.mode("append").partitionBy("cell").parquet(codes_path)
    return n


# ---- Removal: tombstones + compaction for the stored index ----

_TOMBSTONE_SUBDIR = "_tombstones"


def _local_path(path: str) -> str:
    """The local filesystem path behind a stored-index location: plain
    paths pass through, ``file:`` URIs lose their scheme, and any other
    ``scheme://`` RAISES. Existence is decided with os.path, which cannot
    see a remote filesystem — an s3a:// tombstone table would read as
    absent and its removed rows would silently serve again."""
    if path.startswith("file:"):
        return urlparse(path).path
    if "://" in path:
        raise ValueError(
            f"unsupported scheme {path.split('://', 1)[0]}:// in {path}: the "
            "IVF-PQ maintenance path only decides existence on local paths "
            "and file:// URIs"
        )
    return path


def _has_table(path: str) -> bool:
    """Whether ``path`` holds a parquet table: a directory with at least
    one entry Hadoop input listing does not hide (``storage.data_files``)."""
    return bool(data_files(_local_path(path)))


def _read_tombstones(spark: SparkSession, codes_path: str):
    """The distinct tombstoned vec_ids, or None when none exist. The
    subdirectory is underscore-prefixed, so Hadoop input listing hides it
    from the main table read (the _SUCCESS convention). Absence is decided
    by LISTING the path (`_has_table`) only — a present-but-unreadable
    tombstone table must RAISE, not silently serve rows the operator
    explicitly removed (the fail-loud contract; swallowing read errors
    here would be a silent un-deletion)."""
    path = os.path.join(codes_path, _TOMBSTONE_SUBDIR)
    if not _has_table(path):
        return None
    return spark.read.parquet(path).select("vec_id").distinct()


def ivfpq_remove(spark: SparkSession, codes_path: str, ids) -> int:
    """Remove vectors from a stored IVF-PQ index — the `index/removal.py`
    story for the vector tier: parquet files are immutable, so removal is
    an APPEND-ONLY tombstone id table inside the index directory (hidden
    from the table read by the underscore prefix); serving excludes
    tombstoned rows with a broadcast anti-join, and `ivfpq_compact` folds
    them into a rewrite when the mask grows. Idempotent by construction —
    duplicate tombstones are deduped at read, so retried removals are
    harmless (the streaming REMOVE-op replay contract). A tombstone masks
    its vec_id until a COMPACTION — re-ingesting a removed id before
    compacting would write a row that silently never serves, so
    `ivfpq_append`'s guard rejects tombstoned ids too (compact to a new
    path, then append the replacement). Raises on a path with no main
    table: a lone tombstone directory would make every later read fail
    schema inference. Returns the count of ids tombstoned in this call."""
    if not _has_table(codes_path):
        raise ValueError(f"no IVF-PQ index table at {codes_path} to remove from")
    ids = sorted({int(i) for i in ids})
    if not ids:
        return 0
    df = spark.createDataFrame([(i,) for i in ids], "vec_id bigint")
    df.coalesce(1).write.mode("append").parquet(
        os.path.join(codes_path, _TOMBSTONE_SUBDIR)
    )
    return len(ids)


def ivfpq_compact(spark: SparkSession, codes_path: str, out_path: str) -> int:
    """Fold tombstones into a rewrite: the surviving rows land
    cell-partitioned at ``out_path`` with NO tombstone directory. Writes
    to a NEW directory on purpose — the swap is the caller's journaled
    step (the `index/compact.py` contract: data first, then an atomic
    manifest/pointer flip; an in-place distributed-FS overwrite is not
    crash-safe). Returns the surviving row count; raises, writing
    nothing, when no row survives (an empty partitioned write leaves no
    file to infer a schema from, so the result could never be read)."""
    tomb = _read_tombstones(spark, codes_path)
    codes = spark.read.parquet(codes_path)
    if tomb is not None:
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    n = codes.count()
    if not n:
        raise ValueError(
            f"compacting {codes_path} would leave an empty index: every row "
            "is tombstoned"
        )
    codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(out_path)
    return n
