"""Fulltext operators over the driver's `documents` table.

Two families:
- pure DataFrame programs (tokenize JVM-side → explode → groupBy): these are
  the Catalyst-planned equivalents of the index engine's math, used for the
  DuckDB oracle gate;
- an engine-backed entry (`ft_engine_bm25`) that builds a REAL inverted index
  (miru_spark.index) over the documents table and answers through
  search_distributed — proving index path == relational path == DuckDB.

BM25 constants and tie order match the engine (query/scorer.py). Scores are
rounded to 6 dp on both sides so the driver's value-hash is stable under
float summation order.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from miru_spark.analyzer import tokens_col
from miru_spark.functions.cache import scoped_cache
from miru_spark.functions.topk import ranked_topk as _ranked_topk


def _scoped_cache(df: DataFrame) -> DataFrame:
    return scoped_cache(df, "fulltext_per_doc")
from miru_spark.query.scorer import B, K1

QUERY_TERMS = ["merge", "sort"]  # fixed 2-term conjunction for the gate
QUERY_TERMS_OR = ["vector", "window", "stream"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split-gated spread: repartitions ONLY single-row-group bench files;
    # multi-split production inputs get the bare scan (no pre-map Exchange)
    from miru_spark.sources import read_spread

    return read_spread(spark, f"{sf_dir}/documents.parquet")


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len) exploded relation — all JVM-side.

    ONE tokenize per row (the JVM split costs ~750 core-µs/doc — the hot
    loop), with doc_len carried through the explode so no second tokenize
    scan and no tf⋈dl shuffle join: the only shuffle is the (doc_id, term)
    aggregation, map-side combined."""
    with_toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    exploded = with_toks.select(
        "doc_id", F.size("toks").alias("doc_len"), F.explode("toks").alias("term")
    )
    return exploded.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.first("doc_len").alias("doc_len")
    )


def _tf_col(term: str):
    """tf of one fixed term = size(filter(toks, x == term)). A separate
    factory so the lambda closes over ``term``: a 2-arg lambda (x, t=term)
    would be treated by pyspark as the (element, index) form and ``t``
    would silently receive the INDEX column."""
    return F.size(F.filter("toks", lambda x: x == F.lit(term)))


def _bm25_scored(docs: DataFrame, terms: list[str], conjunctive: bool) -> DataFrame:
    """BM25 over a FIXED small query-term set, shuffle-free.

    One tokenize pass produces a per-doc row (doc_id, doc_len, tf per query
    term) via ``size(filter(toks, x == t))`` — no explode, no (doc, term)
    aggregation shuffle. That tiny projection is cached; the global stats
    (n_docs, avgdl, per-term df) are ONE aggregate over it, and scoring is a
    per-row expression. The previous explode+groupBy form tokenized the
    corpus three times (avgdl job, df job, score job) and shuffled every
    (doc, term) pair."""
    with_toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    tf_cols = [_tf_col(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    per_doc = _scoped_cache(
        with_toks.select("doc_id", F.size("toks").alias("doc_len"), *tf_cols)
    )
    stats = per_doc.agg(
        F.count("*"),
        F.avg("doc_len"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")) for i in range(len(terms))],
    ).first()
    n_docs, avgdl, dfs = stats[0], stats[1], stats[2:]
    idfs = [math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0) for df in dfs]
    norm = K1 * (1.0 - B + B * F.col("doc_len") / avgdl)
    contribs = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.lit(idfs[i]) * (F.col(f"tf_{i}") * (K1 + 1.0)) / (F.col(f"tf_{i}") + norm),
        ).otherwise(F.lit(0.0))
        for i in range(len(terms))
    ]
    match = (
        sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0) for i in range(len(terms)))
        == len(terms)
        if conjunctive
        else sum(F.col(f"tf_{i}") for i in range(len(terms))) > 0
    )
    return per_doc.filter(match).select(
        "doc_id", F.round(sum(contribs), 6).alias("score")
    )


def ft_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10, conjunctive (miru FullText TF_IDF strategy with BM25 math,
    FullTextCustomQuestion.java:53-118 lifecycle; tie (score desc, id desc))."""
    docs = _docs(spark, sf_dir)
    scored = _bm25_scored(docs, QUERY_TERMS, conjunctive=True)
    return _ranked_topk(scored, 10, "doc_id", F.desc("score"), F.desc("doc_id")).select(
        "doc_id", "score", "rank"
    )


def ft_bm25_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10, disjunctive."""
    docs = _docs(spark, sf_dir)
    scored = _bm25_scored(docs, QUERY_TERMS_OR, conjunctive=False)
    return _ranked_topk(scored, 10, "doc_id", F.desc("score"), F.desc("doc_id")).select(
        "doc_id", "score", "rank"
    )


def ft_tfidf_miru(spark: SparkSession, sf_dir: str) -> DataFrame:
    """miru's ORIGINAL scoring, for parity: score(d) = Σ_t qcount(t)/CF(t)·tf(d,t)
    with CF = global collection frequency stored at id=-1
    (FullText.java:118-127 multiplier, :188-199 accumulation;
    LabFieldIndex.java:474-476 global CF). qcount=1 per distinct query term."""
    docs = _docs(spark, sf_dir)
    terms = QUERY_TERMS_OR
    with_toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    tf_cols = [_tf_col(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    # one tokenize pass; CF = one aggregate over the cached tiny projection
    # (same shuffle-free shape as _bm25_scored)
    per_doc = _scoped_cache(with_toks.select("doc_id", *tf_cols))
    cfs = per_doc.agg(*[F.sum(f"tf_{i}") for i in range(len(terms))]).first()
    # a term absent from the corpus has cf=0 and tf=0 everywhere: it
    # contributes nothing, and under ANSI mode its tf/0 would THROW — so
    # present terms only (the oracle's hits CTE likewise never sees it)
    present = [i for i in range(len(terms)) if cfs[i]]
    if not present:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    scored = per_doc.filter(
        sum(F.col(f"tf_{i}") for i in present) > 0
    ).select(
        "doc_id",
        F.round(
            sum(F.col(f"tf_{i}") / F.lit(float(cfs[i])) for i in present), 6
        ).alias("score"),
    )
    return _ranked_topk(scored, 10, "doc_id", F.desc("score"), F.desc("doc_id")).select(
        "doc_id", "score", "rank"
    )


def ft_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (term, df, cf) stats — miru's cardinality store + global CF
    (LabFieldIndex.java:422-542). Top-20 by cf."""
    docs = _docs(spark, sf_dir)
    dt = _doc_terms(docs)
    return (
        dt.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("cf"), "term")
        .limit(20)
    )


def ft_conjunctive_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs matching `merge AND sort` with a lang filter, counted per lang —
    filter algebra + bitmap-filter pushdown analog (F3+F6)."""
    docs = _docs(spark, sf_dir)
    # lang predicate FIRST (pushes to the parquet scan, so only en/de rows
    # tokenize at all), then the token array materialized once per row —
    # two array_contains over the raw tokens_col expression tokenize twice
    return (
        docs.filter(F.col("lang").isin("en", "de"))
        .select("lang", tokens_col("text").alias("toks"))
        .filter(F.array_contains("toks", "merge") & F.array_contains("toks", "sort"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


def ft_xor_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`merge XOR sort` — docs containing exactly one of the two terms
    (odd-membership xor, MiruFilterOperation.java:16), counted per lang.
    The DataFrame-algebra twin of the engine's Xor node (query/parser.py)."""
    # materialize the token array once — two array_contains over tokens_col
    # would tokenize each row twice (CLAUDE.md tokenize-once rule)
    docs = _docs(spark, sf_dir).select("lang", tokens_col("text").alias("toks"))
    a = F.array_contains("toks", "merge")
    b = F.array_contains("toks", "sort")
    xor = (F.when(a, 1).otherwise(0) + F.when(b, 1).otherwise(0)) % 2 == 1
    return (
        docs.filter(xor)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


def numeric_lex_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-lex term encoding (MiruTermComposer.java:124-137 numeric
    prefixes, lex-marshalled so byte order == numeric order): n_chars is
    encoded offset-binary-hex and the range [200, 800] is selected purely by
    STRING comparison on the encoded term — the dictionary-range-scan form a
    numeric range query takes in the index. min/max prove order
    preservation end to end."""
    from miru_spark.functions.composer import lex_long_col, long_to_lex

    docs = _docs(spark, sf_dir)
    enc = lex_long_col(F.col("n_chars").cast("long"))
    lo, hi = long_to_lex(200), long_to_lex(800)
    return (
        docs.select("lang", enc.alias("lex"), "n_chars")
        .filter((F.col("lex") >= lo) & (F.col("lex") <= hi))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


def ft_prefix_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix query `sc*` (wildcard expansion, MiruAggregateUtil.java:1154-1167)
    — docs with any matching token, per lang."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.exists(tokens_col("text"), lambda t: t.startswith("sc")))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


# --------------------------------------------------------- engine-backed path
_ENGINE_INDEX_CACHE: dict[str, str] = {}


def _index_complete(idx: str) -> bool:
    """Disk-first completion check so a warm index is reused across
    processes (the driver runs the oracle gate then bench in the same
    container — the second pass must not pay the build again, and even
    ``resume=True`` re-runs the sha scan + range shuffle + merge).
    ``build_summary.json`` is written LAST in build_index, so its presence
    means every artifact (segments, merged postings, stats, filters,
    analyzer.json) is in place."""
    return os.path.exists(os.path.join(idx, "build_summary.json")) and os.path.exists(
        os.path.join(idx, "corpus_stats.json")
    )


def _finish_engine_topk(spark: SparkSession, res: DataFrame) -> DataFrame:
    """Execute the engine's top-k plan and rank the ≤k survivors driver-side.

    ``search_distributed`` already cuts to k rows inside its plan (each
    scoring task emits at most k rows, and a rank window cuts the merged
    rows to k — PLANS.md). The doc_id decode / rounding / rank happen
    HERE, on the ≤k rows it
    delivers to the driver, rather than as more plan stacked on its
    result."""
    pdf = res.toPandas()
    schema = "doc_id long, score double, rank int"
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    pdf["doc_id"] = pdf["path"].str[4:14].astype("int64")
    pdf["score"] = pdf["score"].round(6)
    pdf = pdf.sort_values(
        ["score", "doc_id"], ascending=False, kind="mergesort"
    ).reset_index(drop=True)
    pdf["rank"] = range(1, len(pdf) + 1)
    return spark.createDataFrame(pdf[["doc_id", "score", "rank"]], schema)


def _docs_as_corpus(docs: DataFrame) -> DataFrame:
    """Adapt the documents table to the engine's corpus shape. The key order
    is (repo, path, commit); using a constant repo and the zero-padded dense
    doc_id as path makes the engine's assigned docID EQUAL the table's doc_id,
    so the engine's (score desc, docID desc) tie order coincides with the
    oracle's (score desc, doc_id desc). ts = doc_id % 100 gives the S4
    doc-time index a deterministic, oracle-expressible event time."""
    return docs.select(
        F.lit("corpus").alias("repo"),
        F.format_string("doc/%010d", F.col("doc_id")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        "lang",
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("sha256"),
        F.pmod(F.col("doc_id"), F.lit(100)).cast("long").alias("ts"),
    )


def _gate_index_dir(name: str, sf_dir: str) -> str:
    """The tmp dir of a cached gate index, named by a hash of schema.py (its
    version) and the build-path sources: an index older code built is never
    reused or resumed into."""
    from miru_spark import analyzer, analyzers, codec, schema
    from miru_spark.index import build, merge

    src = b"".join(Path(m.__file__).read_bytes() for m in (schema, codec, build, merge, analyzer, analyzers))
    tag = f"{name}_{hashlib.sha256(src).hexdigest()[:16]}_" + sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), tag)


def build_documents_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) a real inverted index over the
    documents table; returns the index dir (``_gate_index_dir``)."""
    idx = _ENGINE_INDEX_CACHE.get(sf_dir)
    if idx and os.path.exists(os.path.join(idx, "corpus_stats.json")):
        return idx
    idx = _gate_index_dir("miru_idx", sf_dir)
    if not _index_complete(idx):
        from miru_spark.index.build import build_index

        corpus = _docs_as_corpus(_docs(spark, sf_dir))
        build_index(spark, corpus, idx, num_partitions=8, resume=True)
    _ENGINE_INDEX_CACHE[sf_dir] = idx
    return idx


def _deleted_index(spark: SparkSession, sf_dir: str) -> str:
    """Symlink-clone of the shared documents index with every doc_id % 7 == 0
    logically REMOVEd (version-guarded removal bitmap; the index data files
    stay immutable and shared). Exercises the F5 delete path without
    mutating the index other gate entries read."""
    from miru_spark.index import removal
    from miru_spark.query.scorer import IndexHandle

    base = build_documents_index(spark, sf_dir)
    idx = base + "_del"
    os.makedirs(idx, exist_ok=True)
    for name in os.listdir(base):
        dst = os.path.join(idx, name)
        if os.path.islink(dst) and not os.path.exists(dst):
            os.unlink(dst)  # dangling link from a rebuilt base
        if not os.path.lexists(dst):
            os.symlink(os.path.join(base, name), dst)
    n_docs = IndexHandle.open(idx).n_docs
    removal.remove_docs(idx, list(range(0, n_docs, 7)), version=1)
    return idx


def ft_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 `merge AND sort` top-10 AFTER logically deleting doc_id % 7 == 0
    through the removal path (miru MiruIndexer.java:138-162 REMOVE →
    MiruBitmapsRoaring.java:457-505 buildIndexMask). Removal masks
    candidates only — df/avgdl/N stay corpus-global — so the oracle is the
    same BM25 SQL with deleted ids filtered out of the candidate set."""
    from miru_spark.query.scorer import search_distributed

    idx = _deleted_index(spark, sf_dir)
    res = search_distributed(spark, idx, "merge AND sort", k=10)
    return _finish_engine_topk(spark, res)


def ft_bm25_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 `merge AND sort` top-10 with a doc-time range mask ts ∈ [0, 49]
    (S4: miru's query+time composition, FullTextCustomQuestion.java:109-111
    time mask over MiruTimeIndex) through the distributed path."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index(spark, sf_dir)
    res = search_distributed(spark, idx, "merge AND sort", k=10, time_range=(0, 49))
    return _finish_engine_topk(spark, res)


def ft_engine_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL engine end-to-end on driver data: build inverted index over
    documents, answer `merge AND sort` top-10 via search_distributed, map
    docIDs back to the documents' own doc_id. Must hash-match the same DuckDB
    BM25 SQL as the relational path — index ≡ relational ≡ oracle."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index(spark, sf_dir)
    res = search_distributed(spark, idx, "merge AND sort", k=10)
    return _finish_engine_topk(spark, res)


def build_documents_index_stopworded(
    spark: SparkSession, sf_dir: str, locale: str = "en", stem: str = ""
) -> str:
    """Like build_documents_index but with a locale stopword analyzer
    (Q2: analyzers.find_analyzer(locale, True) — the TermAnalyzers path;
    xx_yy locales walk down to xx per TermAnalyzers.java:120-136), plus an
    optional light stemmer (``stem="s"``, analyzers.py S-stemmer). Separate
    cached dir per (locale, stem): the analyzer is part of the index
    identity."""
    key = f"sw:{locale}:{stem}:{sf_dir}"
    idx = _ENGINE_INDEX_CACHE.get(key)
    if idx and os.path.exists(os.path.join(idx, "corpus_stats.json")):
        return idx
    tag = f"{locale}_{stem}" if stem else locale
    idx = _gate_index_dir(f"miru_idx_sw_{tag}", sf_dir)
    if not _index_complete(idx):
        from miru_spark import analyzers as anz
        from miru_spark.index.build import build_index

        corpus = _docs_as_corpus(_docs(spark, sf_dir))
        build_index(
            spark,
            corpus,
            idx,
            num_partitions=8,
            resume=True,
            analyzer=anz.find_analyzer(locale, True, stem),
        )
    _ENGINE_INDEX_CACHE[key] = idx
    return idx


def ft_bm25_stopworded_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 end-to-end: index built with the en stopword analyzer; the query
    carries stopwords ('the', 'about') that parse_query prunes with the SAME
    analyzer. Un-pruned they'd hit the required-term short circuit (absent
    from the stopworded dictionary) and return empty — a non-empty exact
    match proves index- and query-side tokenization agree."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index_stopworded(spark, sf_dir)
    res = search_distributed(spark, idx, "the merge sort about", k=10)
    return _finish_engine_topk(spark, res)


def ft_bm25_stopworded_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 per-language stop sets: index built with the GERMAN stop set
    selected via the de_at → de fallback walk (TermAnalyzers.java:120-136;
    the de set is Lucene GermanAnalyzer's Snowball default,
    TermAnalyzers.java:60). The query carries German stopwords ('der',
    'und') the en set does NOT contain — un-pruned they'd hit the
    required-term short circuit (absent from the dictionary) and return
    empty, so a non-empty exact match proves the locale-selected set was
    applied on both the index and query sides."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index_stopworded(spark, sf_dir, locale="de_at")
    res = search_distributed(spark, idx, "der merge und sort", k=10)
    return _finish_engine_topk(spark, res)


def ft_bm25_stemmed_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 light stemming end-to-end: index built with the en stopword
    analyzer + the S-stemmer (analyzers.py; Harman 1991 — the deliberately
    SQL-expressible stand-in for the reference's Lucene per-language
    Snowball stemmers, TermAnalyzers.java:51-84). The query carries a
    stopword ('the') and two INFLECTED terms ('merges', 'sorts') that exist
    in the raw corpus but NOT in the stemmed dictionary (every occurrence
    stemmed to merge/sort at build time) — un-stemmed query terms would hit
    the required-term short circuit and return empty, and an un-stemmed
    index would flip df/tf/doc_len and the hash. A non-empty exact match
    therefore proves the stemmer ran identically on BOTH sides, and the
    DuckDB oracle evaluates the same three suffix rules independently in
    SQL (STEM_S_SQL_CASE)."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index_stopworded(spark, sf_dir, locale="en", stem="s")
    res = search_distributed(spark, idx, "the merges sorts", k=10)
    return _finish_engine_topk(spark, res)


def ft_bm25_porter_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 full stemming end-to-end: index built with the en stopword
    analyzer + the PORTER stemmer (porter.py; Porter 1980 — what the
    reference's Lucene English chain actually applies,
    TermAnalyzers.java:51-84 / Lucene PorterStemFilter). The query carries a
    stopword ('the') and two inflected terms ('merges', 'sorting') that the
    build stemmed out of the dictionary (merges/merge → 'merg',
    sorting/sorts/sort → 'sort') — un-stemmed query terms would hit the
    required-term short circuit and return empty.

    ROWS-ONLY gate by design: Porter is not expressible in DuckDB SQL in
    this sandbox (analyzers.Analyzer.duckdb_tokens_sql raises with the
    reason), so there is no oracle_sql() entry. The value-level guarantee
    lives in tests/test_porter.py: the paper's own per-step vectors,
    end-to-end reductions, parity across all implementation surfaces, and
    a three-path (WAND / distributed / batch) rank-identity test over a
    Porter-built index."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index_stopworded(spark, sf_dir, locale="en", stem="porter")
    res = search_distributed(spark, idx, "the merges sorting", k=10)
    return _finish_engine_topk(spark, res)


def ft_serve_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path under the oracle gate: block-max WAND + roaring
    lang-filter bitmaps (search_local) over the real index, lang IN (en, de).
    Rank by rounded score to match the oracle's tie handling."""
    from miru_spark.query.scorer import search_local

    idx = build_documents_index(spark, sf_dir)
    res = search_local(idx, "merge AND sort", k=10, lang_filter=["en", "de"], gather=True)
    schema = "doc_id long, score double, rank int"
    if len(res) == 0:
        return spark.createDataFrame([], schema)
    res = res.assign(
        doc_id=res["path"].str[4:14].astype("int64"), score=res["score"].round(6)
    ).sort_values(["score", "doc_id"], ascending=False, kind="mergesort")
    res["rank"] = range(1, len(res) + 1)
    return spark.createDataFrame(res[["doc_id", "score", "rank"]], schema)


FRAGMENT_SIZE = 100  # Lucene SimpleFragmenter(100)
MAX_FRAGMENTS = 4  # getBestFragments(..., 4, " ... ")
HIGHLIGHT_PREVIEW = 600  # hg.setMaxDocCharsToAnalyze(preview)


def ft_highlights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 multi-fragment highlighter (LuceneBackedQueryParser.java:56-74):
    for the BM25 top-10 of `merge AND sort`, the best 4 scoring fragments,
    query terms wrapped <b>..</b> (SimpleHTMLFormatter's defaults), joined
    by " ... " in score order (Lucene returns best fragments score-desc).

    Deterministic re-spec of Lucene's fragmenter so both engines compute it
    exactly: fragments are fixed 100-char windows over the first
    ``HIGHLIGHT_PREVIEW`` chars (SimpleFragmenter aligns to token
    boundaries; fixed windows are the exact-oracle analog), scored by query-
    term token occurrences, tie-broken by fragment position. Docs whose
    matches all fall past the preview get '' (the reference returns null).

    Plan shape: top-k (10 rows) joins the docs table broadcast-style, the
    fragment explode is bounded (≤6/doc), and the rank window partitions by
    doc_id over those ≤6 rows — nothing here scales with corpus size beyond
    the already-bounded top-k."""
    docs = _docs(spark, sf_dir)
    top = ft_bm25_and(spark, sf_dir)  # doc_id, score, rank
    n_frags = HIGHLIGHT_PREVIEW // FRAGMENT_SIZE
    j = top.select("doc_id", "rank").join(docs.select("doc_id", "text"), "doc_id")
    frags = j.select(
        "doc_id",
        "rank",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(n_frags - 1))).alias("fi"),
    ).filter(
        F.col("fi") * FRAGMENT_SIZE
        < F.least(F.length("text"), F.lit(HIGHLIGHT_PREVIEW))
    )
    frag = F.substring(F.col("text"), F.col("fi") * FRAGMENT_SIZE + 1, FRAGMENT_SIZE)
    toks = F.filter(
        F.split(F.lower(frag), "[^a-z0-9_]+"), lambda t: t != F.lit("")
    )

    def _count(term):  # factory: close over term (2-arg lambda = (elem, idx))
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    hits = sum(_count(t) for t in QUERY_TERMS)
    pat = r"\b(" + "|".join(QUERY_TERMS) + r")\b"
    marked = F.regexp_replace(frag, pat, "<b>$1</b>")
    scored = (
        frags.select(
            "doc_id", "rank", "fi", hits.alias("hits"), marked.alias("marked")
        )
        .filter(F.col("hits") > 0)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("fi"))
            ),
        )
        .filter(F.col("rn") <= MAX_FRAGMENTS)
    )
    agg = scored.groupBy("doc_id").agg(
        F.concat_ws(
            " ... ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("hits")).alias("nh"),
                            F.col("fi").alias("fi"),
                            F.col("marked").alias("m"),
                        )
                    )
                ),
                lambda x: x["m"],
            ),
        ).alias("highlights")
    )
    return (
        top.select("doc_id", "rank")
        .join(agg, "doc_id", "left")
        .select("doc_id", "rank", F.coalesce("highlights", F.lit("")).alias("highlights"))
        .orderBy("rank")
    )


def ft_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 highlighting analog (LuceneBackedQueryParser.java:56-74): for the
    BM25 top-10 of `merge AND sort`, return a 60-char snippet centered on the
    first occurrence of 'merge' — pure string expressions, exact oracle."""
    docs = _docs(spark, sf_dir)
    top = ft_bm25_and(spark, sf_dir)
    pos = F.locate("merge", F.lower(F.col("text")))
    snippet = F.substring(F.col("text"), F.greatest(F.lit(1), pos - 20), 60)
    return (
        top.join(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", "rank", snippet.alias("snippet"))
        .orderBy("rank")
    )


RARE_TERM = "dup"  # df ≈ 5% of docs at every SF — scored hits don't fill k,
OR_RANGE_TS = (0, 9)  # so the doc_meta (termless) branch's 0.0-score docs
OR_RANGE_K = 40  # must enter the top-k for the gate to pass


def ft_bm25_or_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over `dup OR ts:[0 TO 9]` — a Range clause that is OR-reachable,
    so a doc can match with ZERO term hits. The distributed path unions its
    posting-hit branch with a doc_meta forward-index scan (docs satisfying
    the AST with an empty matched-terms set, entering at score 0.0) — the
    Spark form of the reference's uniform full-index-mask filter evaluation
    (MiruAggregateUtil.java:1098-1241). k=40 > df('dup') forces both
    branches into the result: ranks 1..~25 are scored `dup` docs, the tail
    is in-range termless docs ordered (0.0, doc_id desc)."""
    from miru_spark.query.scorer import search_distributed

    idx = build_documents_index(spark, sf_dir)
    q = f"{RARE_TERM} OR ts:[{OR_RANGE_TS[0]} TO {OR_RANGE_TS[1]}]"
    res = search_distributed(spark, idx, q, k=OR_RANGE_K)
    return _finish_engine_topk(spark, res)


def ft_not_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-negative query `NOT dup` — miru wraps mustNots-only queries as
    pButNotQ(all, q) with inclusiveFilter=true
    (LuceneBackedQueryParser.java:139-141): the full index mask ANDNOT the
    negative set, non-scored. Served through search_local (All → index mask
    in _eval_ast); top-10 is (score 0.0, doc_id desc)."""
    from miru_spark.query.scorer import search_local

    idx = build_documents_index(spark, sf_dir)
    res = search_local(idx, f"NOT {RARE_TERM}", k=10, gather=True)
    schema = "doc_id long, score double, rank int"
    if len(res) == 0:
        return spark.createDataFrame([], schema)
    res = res.assign(
        doc_id=res["path"].str[4:14].astype("int64"), score=res["score"].round(6)
    ).sort_values(["score", "doc_id"], ascending=False, kind="mergesort")
    res["rank"] = range(1, len(res) + 1)
    return spark.createDataFrame(res[["doc_id", "score", "rank"]], schema)


BATCH_QUERIES = [
    "merge AND sort",
    "vector OR window OR stream",
    "merge OR sort",
    "sort",
]


def ft_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched serving: FOUR query strings answered in ONE job over ONE
    posting scan (`search_batch` — the lsh_ann_batch treatment applied to
    BM25; miru analog: many MiruRequests solved against one shared index
    context rather than re-opening per question). Queries 0/2/3 share the
    {merge, sort} postings — the batch decodes them once, and every query
    reads them in the per-pid solve. Oracle: UNION ALL of the per-query
    BM25 SQL."""
    from miru_spark.query.scorer import search_batch

    idx = build_documents_index(spark, sf_dir)
    res = search_batch(spark, idx, BATCH_QUERIES, k=10)
    return res.select(
        "query_id",
        F.substring("path", 5, 10).cast("long").alias("doc_id"),
        "score",
        "rank",
    )


BATCH_CNF_QUERIES = [
    "merge AND NOT sort",  # negated literal
    "vector AND NOT (window OR stream)",  # De Morgan: two neg clauses
    "merge AND NOT (sort AND stream)",  # one multi-term neg clause
    "(merge AND sort) OR stream",  # OR-distribution over a conjunction
    f"NOT {RARE_TERM}",  # pure-negative: termless docs enter at 0.0
]


def ft_bm25_batch_cnf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched serving over boolean shapes the flat 4-query gate does not
    cover — negated literals, De Morgan'd groups, OR-distribution, and a
    pure-negative query whose termless matches enter at score 0.0 — all in
    one ``search_batch``, whose per-pid kernel evaluates each query's AST
    with the same numpy evaluator as ``search_local``. Oracle: per-query
    SQL that DuckDB tokenizes and evaluates from the RAW boolean AST over
    per-term matched flags, independently of the engine."""
    from miru_spark.query.scorer import search_batch

    idx = build_documents_index(spark, sf_dir)
    res = search_batch(spark, idx, BATCH_CNF_QUERIES, k=10)
    return res.select(
        "query_id",
        F.substring("path", 5, 10).cast("long").alias("doc_id"),
        "score",
        "rank",
    )
