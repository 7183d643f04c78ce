"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps every implemented operator (SURVEY.md §2 + training-data
pipeline ops) to a (spark, sf_dir) callable; `oracle_sql()` gives the exact
DuckDB equivalent. Column names and rounding match pairwise so the driver's
order-insensitive value-hash gate passes. Entries without an oracle are
non-SQL-expressible (engine internals exercised elsewhere) and get the
weaker rows-only check.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from miru_spark import analyzers as anz
from miru_spark.analyzer import SPLIT_PATTERN
from miru_spark.functions.cache import release_scope
from miru_spark.functions.composer import long_to_lex
from miru_spark.operators import catwalk_store as cstore
from miru_spark.operators import feature_cache
from miru_spark.operators import fulltext as ft
from miru_spark.operators import relational as rel
from miru_spark.pipeline import dedup, epoch, multimodal, quantize, similarity, text

# ---------------------------------------------------------------- SQL snippets
_TOKS = f"list_filter(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'), t -> t <> '')"
_EN_SW_ANALYZER = anz.find_analyzer("en", True)
_TOK_SW_CTE = (
    "tok AS (SELECT doc_id, unnest("
    + _EN_SW_ANALYZER.duckdb_tokens_sql("text")
    + ") AS term FROM documents)"
)
# en stop set + the S-stemmer: DuckDB evaluates the same three suffix
# rules independently (analyzers.STEM_S_SQL_CASE inside duckdb_tokens_sql)
_EN_STEM_ANALYZER = anz.find_analyzer("en", True, "s")
_TOK_STEM_CTE = (
    "tok AS (SELECT doc_id, unnest("
    + _EN_STEM_ANALYZER.duckdb_tokens_sql("text")
    + ") AS term FROM documents)"
)
# de_at walks down to the German (Snowball) set — same resolution the
# engine-side index build performs (TermAnalyzers.java:120-136 walk)
_DE_SW_ANALYZER = anz.find_analyzer("de_at", True)
_TOK_SW_DE_CTE = (
    "tok AS (SELECT doc_id, unnest("
    + _DE_SW_ANALYZER.duckdb_tokens_sql("text")
    + ") AS term FROM documents)"
)
_TOK_CTE = f"tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)"
_TOKARR_CTE = f"tokarr AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)"

# BM25 over documents, parameterized by term list + conjunctive flag
def _bm25_sql(
    terms: list[str],
    conjunctive: bool,
    k: int = 10,
    langs: list[str] | None = None,
    cand_where: str | None = None,
    tok_cte: str | None = None,
) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    nt_filter = f"WHERE nt = {len(terms)}" if conjunctive else ""
    if langs:  # filter candidates only — df/avgdl/N stay corpus-global
        ll = ", ".join(f"'{x}'" for x in langs)
        extra = f"AND doc_id IN (SELECT doc_id FROM documents WHERE lang IN ({ll}))"
        nt_filter = (nt_filter + " " + extra) if nt_filter else ("WHERE true " + extra)
    if cand_where:  # removal / time-range masks: candidates only, stats global
        nt_filter = (
            (nt_filter + f" AND ({cand_where})") if nt_filter else f"WHERE ({cand_where})"
        )
    return f"""
WITH {tok_cte or _TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT d.doc_id, count(t.term)::DOUBLE AS dl
       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, (SELECT avg(dl) FROM dl) AS avgdl),
hits AS (SELECT * FROM tf WHERE term IN ({tlist})),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
scored AS (
  SELECT h.doc_id,
         sum(ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
             * (h.tf * 2.2) / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl))) AS s,
         count(*) AS nt
  FROM hits h JOIN dfs f USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY h.doc_id)
SELECT doc_id, round(s, 6) AS score,
       row_number() OVER (ORDER BY round(s, 6) DESC, doc_id DESC) AS rank
FROM scored {nt_filter}
QUALIFY rank <= {k} ORDER BY rank
"""


def _bm25_batch_sql() -> str:
    """ft_bm25_batch oracle: UNION ALL of the per-query BM25 SQL, one branch
    per ft.BATCH_QUERIES entry. Term lists / conjunctive flags are DERIVED
    from parse_query over the same strings search_batch parses, so a drift
    in BATCH_QUERIES fails loudly here instead of as a downstream gate
    hash mismatch."""
    from miru_spark.query import parser as qp

    specs: list[tuple[list[str], bool]] = []
    for q in ft.BATCH_QUERIES:
        ast = qp.parse_query(q)
        if isinstance(ast, qp.Term):
            specs.append(([ast.term], False))
        elif isinstance(ast, (qp.And, qp.Or)) and all(
            isinstance(c, qp.Term) for c in ast.children
        ):
            specs.append(([c.term for c in ast.children], isinstance(ast, qp.And)))
        else:
            raise ValueError(f"BATCH_QUERIES entry {q!r} is not a flat term query")
    return "\nUNION ALL\n".join(
        f"SELECT {qid} AS query_id, doc_id, score, rank FROM ({_bm25_sql(terms, conj)})"
        for qid, (terms, conj) in enumerate(specs)
    )


def _ast_terms(node, positives_only: bool) -> set:
    """Independent term collector (does not reuse parser.all_terms /
    positive_terms — the oracle must not trust the machinery under test).
    positives_only replicates miru's termCollector: nothing under a NOT's
    negative side scores (MiruAggregateUtil.java:1149,1204-1220)."""
    from miru_spark.query import parser as qp

    if isinstance(node, qp.Term):
        return {node.term}
    if isinstance(node, qp.All):
        return set()
    if isinstance(node, (qp.And, qp.Or, qp.Xor)):
        out: set = set()
        for c in node.children:
            out |= _ast_terms(c, positives_only)
        return out
    if isinstance(node, qp.Not):
        out = _ast_terms(node.positive, positives_only)
        if not positives_only:
            out |= _ast_terms(node.negative, positives_only)
        return out
    raise ValueError(f"oracle cannot express {type(node).__name__}")


def _ast_bool_sql(node) -> str:
    """The RAW boolean AST as a SQL expression over per-doc m_<term> flags
    — evaluated by DuckDB directly, sharing no evaluator with the engine
    (whose per-pid kernel runs scorer._eval_ast), so an evaluation bug
    flips this gate instead of hiding in both engines)."""
    from miru_spark.query import parser as qp

    if isinstance(node, qp.Term):
        return f"m_{node.term}"
    if isinstance(node, qp.All):
        return "TRUE"
    if isinstance(node, qp.And):
        return "(" + " AND ".join(_ast_bool_sql(c) for c in node.children) + ")"
    if isinstance(node, qp.Or):
        return "(" + " OR ".join(_ast_bool_sql(c) for c in node.children) + ")"
    if isinstance(node, qp.Xor):
        ones = " + ".join(
            f"CASE WHEN {_ast_bool_sql(c)} THEN 1 ELSE 0 END" for c in node.children
        )
        return f"(({ones}) % 2 = 1)"
    if isinstance(node, qp.Not):
        return (
            f"({_ast_bool_sql(node.positive)}"
            f" AND NOT ({_ast_bool_sql(node.negative)}))"
        )
    raise ValueError(f"oracle cannot express {type(node).__name__}")


def _ast_eval_empty(node) -> bool:
    """The AST evaluated at the all-false (no term matched) assignment —
    whether a doc with zero needed-term hits matches. Independent of the
    engine's matches-empty derivation for the same reason as above."""
    from miru_spark.query import parser as qp

    if isinstance(node, qp.Term):
        return False
    if isinstance(node, qp.All):
        return True
    if isinstance(node, qp.And):
        return all(_ast_eval_empty(c) for c in node.children)
    if isinstance(node, qp.Or):
        return any(_ast_eval_empty(c) for c in node.children)
    if isinstance(node, qp.Xor):
        return sum(_ast_eval_empty(c) for c in node.children) % 2 == 1
    if isinstance(node, qp.Not):
        return _ast_eval_empty(node.positive) and not _ast_eval_empty(node.negative)
    raise ValueError(f"oracle cannot express {type(node).__name__}")


def _bm25_cnf_sql(query: str, k: int = 10) -> str:
    """BM25 oracle for ONE boolean term query, independent of the engine's
    evaluator: DuckDB tokenizes, builds per-doc matched flags (bool_or per
    needed term), applies the RAW AST as SQL booleans (_ast_bool_sql),
    scores only positive-term contributions, and — when the AST holds at
    the empty matched set (_ast_eval_empty) — unions every doc with NO
    needed-term hit at score 0.0 (the engine's termless matches)."""
    from miru_spark.query import parser as qp

    ast = qp.parse_query(query)
    needed = sorted(_ast_terms(ast, positives_only=False))
    scoring = sorted(_ast_terms(ast, positives_only=True))
    matches_empty = _ast_eval_empty(ast)

    in_needed = ", ".join(f"'{t}'" for t in needed)
    m_cols = ",\n         ".join(
        f"bool_or(h.term = '{t}') AS m_{t}" for t in needed
    )
    if scoring:
        in_scoring = ", ".join(f"'{t}'" for t in scoring)
        s_expr = (
            f"sum(CASE WHEN h.term IN ({in_scoring}) THEN "
            "ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0) "
            "* (h.tf * 2.2) / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)) "
            "ELSE 0.0 END)"
        )
    else:
        s_expr = "sum(0.0)"

    cnf_sql = _ast_bool_sql(ast)
    empties = (
        "\nUNION ALL\nSELECT d.doc_id, 0.0 AS s FROM documents d "
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM perdoc)"
        if matches_empty
        else ""
    )
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT d.doc_id, count(t.term)::DOUBLE AS dl
       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, (SELECT avg(dl) FROM dl) AS avgdl),
hits AS (SELECT * FROM tf WHERE term IN ({in_needed})),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
perdoc AS (
  SELECT h.doc_id,
         {s_expr} AS s,
         {m_cols}
  FROM hits h JOIN dfs f USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY h.doc_id),
unioned AS (
  SELECT doc_id, s FROM perdoc WHERE {cnf_sql}{empties})
SELECT doc_id, round(s, 6) AS score,
       row_number() OVER (ORDER BY round(s, 6) DESC, doc_id DESC) AS rank
FROM unioned QUALIFY rank <= {k} ORDER BY rank
"""


def _bm25_batch_cnf_sql() -> str:
    """ft_bm25_batch_cnf oracle: UNION ALL of per-query boolean SQL over
    ft.BATCH_CNF_QUERIES (NOT, De Morgan, OR-distribution, pure-NOT shapes)."""
    return "\nUNION ALL\n".join(
        f"SELECT {qid} AS query_id, doc_id, score, rank FROM ({_bm25_cnf_sql(q)})"
        for qid, q in enumerate(ft.BATCH_CNF_QUERIES)
    )


def _or_timerange_sql() -> str:
    """ft_bm25_or_timerange oracle: `dup OR ts:[0 TO 9]` over the engine
    corpus (ts = doc_id % 100). Docs containing 'dup' carry their BM25
    score; in-range docs WITHOUT a term hit enter at 0.0 (the engine's
    termless matches); rank = (rounded score desc, doc_id desc)."""
    lo, hi = ft.OR_RANGE_TS
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT d.doc_id, count(t.term)::DOUBLE AS dl
       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, (SELECT avg(dl) FROM dl) AS avgdl),
hits AS (SELECT * FROM tf WHERE term = '{ft.RARE_TERM}'),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
scored AS (
  SELECT h.doc_id,
         sum(ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
             * (h.tf * 2.2) / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl))) AS s
  FROM hits h JOIN dfs f USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY h.doc_id),
unioned AS (
  SELECT doc_id, s FROM scored
  UNION ALL
  SELECT d.doc_id, 0.0 AS s FROM documents d
  WHERE d.doc_id % 100 BETWEEN {lo} AND {hi}
    AND d.doc_id NOT IN (SELECT doc_id FROM scored))
SELECT doc_id, round(s, 6) AS score,
       row_number() OVER (ORDER BY round(s, 6) DESC, doc_id DESC) AS rank
FROM unioned QUALIFY rank <= {ft.OR_RANGE_K} ORDER BY rank
"""


_STOPWORDS_SQL = "['" + "', '".join(text.STOPWORDS) + "']"


def _highlights_sql() -> str:
    """ft_highlights oracle: same fixed-window fragmenter/scorer re-spec the
    Spark side computes (see operators/fulltext.py ft_highlights docstring)."""
    bm25 = _bm25_sql(ft.QUERY_TERMS, conjunctive=True)
    counts = " + ".join(
        f"len(list_filter(regexp_split_to_array(lower(frag), '{SPLIT_PATTERN}'), x -> x = '{t}'))"
        for t in ft.QUERY_TERMS
    )
    pat = "\\b(" + "|".join(ft.QUERY_TERMS) + ")\\b"
    nf = ft.HIGHLIGHT_PREVIEW // ft.FRAGMENT_SIZE
    return f"""
WITH top AS (SELECT doc_id, rank FROM ({bm25})),
fr AS (
  SELECT t.doc_id, t.rank, gs.i AS fi,
         substr(d.text, gs.i * {ft.FRAGMENT_SIZE} + 1, {ft.FRAGMENT_SIZE}) AS frag
  FROM top t
  JOIN documents d USING (doc_id)
  CROSS JOIN (SELECT unnest(generate_series(0, {nf - 1})) AS i) gs
  WHERE gs.i * {ft.FRAGMENT_SIZE} < least(len(d.text), {ft.HIGHLIGHT_PREVIEW})),
scored AS (
  SELECT doc_id, rank, fi, frag, {counts} AS hits FROM fr),
chosen AS (
  SELECT doc_id, rank, fi, hits,
         regexp_replace(frag, '{pat}', '<b>\\1</b>', 'g') AS marked,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, fi ASC) AS rn
  FROM scored WHERE hits > 0),
agg AS (
  SELECT doc_id, string_agg(marked, ' ... ' ORDER BY hits DESC, fi ASC) AS h
  FROM chosen WHERE rn <= {ft.MAX_FRAGMENTS} GROUP BY doc_id)
SELECT t.doc_id, t.rank, coalesce(a.h, '') AS highlights
FROM top t LEFT JOIN agg a USING (doc_id)
ORDER BY t.rank
"""


def _lang_id_sql() -> str:
    branches = "\nUNION ALL\n".join(
        f"SELECT doc_id, lang, '{lang}' AS cand, "
        f"len(list_filter(toks, x -> list_contains(['"
        + "', '".join(text.LANG_MARKERS[lang])
        + "'], x))) AS hits FROM tokarr"
        for lang in sorted(text.LANG_MARKERS)
    )
    return f"""
WITH {_TOKARR_CTE},
scores AS ({branches}),
best AS (
  SELECT doc_id, lang, cand AS lang_pred
  FROM scores
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand ASC) = 1)
SELECT lang, lang_pred, count(*)::BIGINT AS n FROM best GROUP BY 1, 2 ORDER BY 1, 2
"""


_H12 = "('0x' || substr(md5({x}), 1, 12))::BIGINT"  # portable 48-bit hash


def _lsh_bucket_expr_sql(n_planes: int = 8, dim: int = 64) -> str:
    """The LSH bucket id as a SQL expression. The plane components are
    md5-of-literal constants — Catalyst folds the identical expressions at
    plan time on the Spark side, so inlining the same constants here
    (hashlib == md5) keeps both engines computing from the same numbers;
    the dot/sign/bucket math is all SQL. 48-bit ints are exact in float64."""
    import hashlib

    buckets = []
    for j in range(n_planes):
        comps = [
            float(int(hashlib.md5(f"p{j}:{i}".encode()).hexdigest()[:12], 16) - 2**47)
            for i in range(dim)
        ]
        plane = "[" + ", ".join(repr(c) for c in comps) + "]"
        buckets.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane}) > 0 "
            f"THEN {2**j} ELSE 0 END)"
        )
    return "(" + " + ".join(buckets) + ")::INT"


def _lsh_oracle_sql(n_planes: int = 8) -> str:
    return f"""
SELECT bucket, count(*)::BIGINT AS n FROM (
  SELECT {_lsh_bucket_expr_sql(n_planes)} AS bucket FROM embeddings)
GROUP BY bucket ORDER BY bucket
"""


def _lsh_ann_oracle_sql(n_planes: int = 8, k: int = 10) -> str:
    """lsh_ann_topk oracle: bucket the corpus, probe the query's bucket +
    all hamming-1 neighbors, exact cosine re-rank inside the probed set."""
    bucket = _lsh_bucket_expr_sql(n_planes)
    probe_union = "\nUNION ALL\n".join(
        f"SELECT xor(b, {1 << j}) AS p FROM qb" for j in range(n_planes)
    )
    cos = (
        "list_dot_product(embedding::DOUBLE[], qv) / "
        "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv)))"
    )
    return f"""
WITH enc AS (SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings),
qb AS (SELECT bucket AS b FROM enc WHERE vec_id = 0),
probes AS (SELECT b AS p FROM qb UNION ALL {probe_union}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id, label, round({cos}, 6) AS cosine
  FROM enc, q
  WHERE bucket IN (SELECT p FROM probes) AND vec_id <> 0)
SELECT vec_id, label, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM s QUALIFY rank <= {k} ORDER BY rank
"""


def _lsh_ann_batch_oracle_sql(
    query_ids=(0, 1, 2, 3, 4, 5, 6, 7), k: int = 5, n_planes: int = 8
) -> str:
    """lsh_ann_batch oracle: the single-query LSH SQL parameterized over N
    query ids — probes carried per query, per-query exact re-rank."""
    bucket = _lsh_bucket_expr_sql(n_planes)
    qlist = ", ".join(str(int(q)) for q in query_ids)
    probe_union = "\nUNION ALL\n".join(
        f"SELECT qid, qv, xor(qb, {1 << j}) AS p FROM q" for j in range(n_planes)
    )
    cos = (
        "list_dot_product(e.embedding::DOUBLE[], p.qv) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(p.qv, p.qv)))"
    )
    return f"""
WITH enc AS (SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, bucket AS qb
      FROM enc WHERE vec_id IN ({qlist})),
probes AS (SELECT qid, qv, qb AS p FROM q UNION ALL {probe_union}),
s AS (
  SELECT p.qid AS query_id, e.vec_id, e.label, round({cos}, 6) AS cosine
  FROM probes p JOIN enc e ON e.bucket = p.p AND e.vec_id <> p.qid)
SELECT query_id, vec_id, label, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
FROM s QUALIFY rank <= {k} ORDER BY query_id, rank
"""


def _lsh_neardup_oracle_sql(n_planes: int = 8, threshold: float = 0.4) -> str:
    """embedding_neardup_lsh oracle: bucket every vector, expand the probe
    side to own bucket + hamming-1 neighbors, equi-join probes against
    build-side buckets, exact cosine filter. Each ordered pair matches at
    most once (probe values are distinct), so no DISTINCT is needed."""
    bucket = _lsh_bucket_expr_sql(n_planes)
    probe_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, xor(bucket, {1 << j}) AS probe FROM enc"
        for j in range(n_planes)
    )
    cos = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
WITH enc AS (SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings),
ap AS (SELECT vec_id, v, bucket AS probe FROM enc UNION ALL {probe_union})
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cosine
FROM ap a JOIN enc b ON a.probe = b.bucket AND a.vec_id < b.vec_id
WHERE round({cos}, 6) >= {threshold}
ORDER BY id_a, id_b
"""


def _ann_recall_oracle_sql(
    query_ids=tuple(range(16)), k: int = 10, planes=(4, 8, 12)
) -> str:
    """lsh_ann_recall oracle: exact top-k ground truth (brute-force cosine
    per query), then per n_planes the SAME bucket/probe/re-rank SQL as the
    lsh_ann_batch oracle, intersected against the truth. recall_ppm uses
    BIGINT floor division (//) so there is no float in the value hash."""
    qlist = ", ".join(str(int(x)) for x in query_ids)
    nq = len(query_ids)
    cos_eq = (
        "list_dot_product(e.embedding::DOUBLE[], q.qv) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(q.qv, q.qv)))"
    )
    ctes = [
        f"q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv "
        f"FROM embeddings WHERE vec_id IN ({qlist}))",
        f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY round({cos_eq}, 6) DESC, e.vec_id ASC) AS rnk
    FROM embeddings e, q WHERE e.vec_id <> q.qid)
  WHERE rnk <= {k})""",
    ]
    blocks = []
    for p in sorted(planes):
        bucket = _lsh_bucket_expr_sql(p)
        probe_union = "\nUNION ALL\n".join(
            f"SELECT qid, qv, xor(qb, {1 << j}) AS p FROM qb{p}" for j in range(p)
        )
        cos_p = (
            "list_dot_product(e.embedding::DOUBLE[], p.qv) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(p.qv, p.qv)))"
        )
        ctes.append(
            f"enc{p} AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)"
        )
        ctes.append(
            f"qb{p} AS (SELECT q.qid, q.qv, e.bucket AS qb "
            f"FROM q JOIN enc{p} e ON e.vec_id = q.qid)"
        )
        ctes.append(
            f"probes{p} AS (SELECT qid, qv, qb AS p FROM qb{p} UNION ALL {probe_union})"
        )
        ctes.append(
            f"""cand{p} AS (
  SELECT p.qid, e.vec_id, round({cos_p}, 6) AS cosine
  FROM probes{p} p JOIN enc{p} e ON e.bucket = p.p AND e.vec_id <> p.qid)"""
        )
        ctes.append(
            f"""ann{p} AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rnk
    FROM cand{p})
  WHERE rnk <= {k})"""
        )
        hits = (
            f"(SELECT count(*) FROM ann{p} a "
            f"JOIN exact x ON a.qid = x.qid AND a.vec_id = x.vec_id)"
        )
        blocks.append(
            f"SELECT {p}::INT AS n_planes, {nq}::BIGINT AS n_queries, {k}::INT AS k,\n"
            f"       (SELECT count(*) FROM cand{p})::BIGINT AS n_candidates,\n"
            f"       {hits}::BIGINT AS n_hits,\n"
            f"       (({hits} * 1000000) // ({k} * {nq}))::BIGINT AS recall_ppm"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(blocks)
        + "\n) ORDER BY n_planes"
    )


def _media_oracle_sqls() -> tuple[str, str]:
    """(media_features_stats, media_frame_sample) oracles. The synthetic
    media table is data-independent (n=120, id-derived) and every modality
    decodes a raster/sample stream that IS the tiled md5("media{i}")
    digest, so both oracles are PURE SQL — DuckDB computes the md5 itself;
    tiling, mean, float32 rounding, norm and aggregation are SQL. Frame
    sampling reduces to pure arithmetic: videos are i%3==2 with
    n_frames=i%8+1, sampled every 2nd frame."""
    # every modality decodes for real and its raster/sample stream IS the
    # tiled md5("media{i}") digest, so the feature bytes derive from a hash
    # DuckDB can compute itself — the oracle is now PURE SQL, no Python
    # hash constants at all
    values = (
        "SELECT i AS media_id, ['image','audio','video'][(i % 3)::INT + 1] AS kind, "
        "md5('media' || i::VARCHAR) AS hx FROM (SELECT unnest(range(0, 120)) AS i)"
    )
    # feature k = float32(mean(h[(3k)%16], h[(3k+1)%16], h[(3k+2)%16]) / 255)
    feats = []
    for k in range(16):
        bs = " + ".join(
            f"('0x' || substr(hx, {2 * ((3 * k + j) % 16) + 1}, 2))::INT" for j in range(3)
        )
        feats.append(f"((({bs}) / 3.0) / 255.0)::FLOAT::DOUBLE")
    fl = "[" + ", ".join(feats) + "]"
    features_sql = f"""
WITH pm AS ({values}),
nn AS (SELECT kind, sqrt(list_sum(list_transform({fl}, x -> x * x))) AS norm FROM pm)
SELECT kind, count(*)::BIGINT AS n, round(avg(norm), 6) AS avg_norm
FROM nn GROUP BY kind ORDER BY kind
"""
    frames_sql = """
WITH m AS (SELECT unnest(range(0, 120)) AS i)
SELECT i AS media_id, ((i % 8) // 2 + 1)::BIGINT AS n_frames_sampled
FROM m WHERE i % 3 = 2 ORDER BY media_id
"""
    return features_sql, frames_sql


def _ivf_oracle_sql() -> str:
    """ivf_topk oracle: the ENTIRE IVF program in SQL — per-label centroids
    (mean per position), probe the 3 nearest cells by centroid cosine,
    exact re-rank inside them. Upgrades ivf_topk from rows-only to a full
    value-hash gate."""
    cos = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
pos AS (SELECT unnest(range(1, 65))::INT AS i),
cent AS (
  SELECT label, list(a ORDER BY i) AS c FROM (
    SELECT label, i, avg(v[i]) AS a FROM e, pos GROUP BY label, i)
  GROUP BY label),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT label FROM cent, q
  ORDER BY {cos.format(a="c", b="qv")} DESC LIMIT 3),
s AS (
  SELECT vec_id, e.label, round({cos.format(a="v", b="qv")}, 6) AS cosine
  FROM e JOIN probe USING (label) CROSS JOIN q WHERE vec_id <> 0)
SELECT vec_id, label, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM s QUALIFY rank <= 10 ORDER BY rank
"""


def _lloyd_ctes(
    src: str,
    vec: str,
    pos: str,
    keys: tuple[str, ...],
    k: int,
    prefix: str = "",
) -> str:
    """CTE fragment for one 2-iteration (the gates' n_iter) deterministic
    Lloyd's run — the SQL twin of `quantize._pq_fit_df`, the one Spark
    loop. ``src`` (vec_id, *keys, ``vec``) holds the vectors, ``pos`` (i)
    their 1-based positions;
    ``keys`` are the columns each run is independent per: none for the
    IVF coarse quantizer over whole vectors, ("subspace",) for PQ. Seeds
    = the k smallest vec_ids per key; argmin on 9-dp-ROUNDED squared L2
    with ties to the lower cluster; means ROUNDED 6 dp before the next
    iteration (round-then-compare on BOTH engines). Emits
    {prefix}seeds, then per iteration t: {prefix}d{t} (distances),
    {prefix}a{t} (assignment), {prefix}c{t+1} (codebook), ending at
    {prefix}c2 (final codebook) and {prefix}a2 (final assignment)."""

    def cols(alias: str = "") -> str:  # "k1, k2, " — empty without keys
        return "".join(f"{alias}{key}, " for key in keys)

    def same(a: str, b: str) -> list[str]:
        return [f"{a}.{key} = {b}.{key}" for key in keys]

    def dist(cent: str) -> str:
        on = " AND ".join(same("s", "t"))
        joins = (
            f"JOIN {cent} t ON {on} CROSS JOIN {pos} p"
            if keys
            else f"CROSS JOIN {pos} p CROSS JOIN {cent} t"
        )
        return (
            f"SELECT s.vec_id, {cols('s.')}t.cluster,"
            f" round(sum((s.{vec}[p.i] - t.c[p.i]) * (s.{vec}[p.i] - t.c[p.i])), 9) AS d"
            f" FROM {src} s {joins} GROUP BY s.vec_id, {cols('s.')}t.cluster"
        )

    def argmin(d: str) -> str:
        return (
            f"SELECT vec_id, {cols()}cluster FROM ("
            f" SELECT vec_id, {cols()}cluster, row_number() OVER"
            f" (PARTITION BY {cols()}vec_id ORDER BY d, cluster) AS rn"
            f" FROM {d}) WHERE rn = 1"
        )

    def update(a: str) -> str:
        on = " AND ".join(["s.vec_id = a.vec_id", *same("s", "a")])
        return (
            f"SELECT {cols()}cluster, list(mm ORDER BY i) AS c FROM ("
            f" SELECT {cols('a.')}a.cluster, p.i, round(avg(s.{vec}[p.i]), 6) AS mm"
            f" FROM {src} s JOIN {a} a ON {on} CROSS JOIN {pos} p"
            f" GROUP BY {cols('a.')}a.cluster, p.i)"
            f" GROUP BY {cols()}cluster"
        )

    if keys:
        seeds = (
            f"SELECT {cols()}rn - 1 AS cluster, {vec} AS c FROM (\n"
            f"    SELECT {cols()}{vec}, row_number() OVER"
            f" (PARTITION BY {', '.join(keys)} ORDER BY vec_id) AS rn\n"
            f"    FROM {src}) WHERE rn <= {k}"
        )
    else:  # a top-N: with the window form above, the ivfpq_* oracles ran
        # ~35% slower (DuckDB 1.0, 4 threads, sf0.01)
        seeds = (
            f"SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,"
            f" {vec} AS c\n  FROM {src} ORDER BY vec_id LIMIT {k}"
        )
    ctes = [f"{prefix}seeds AS (\n  {seeds})"]
    cent = f"{prefix}seeds"
    for t in range(3):  # 2 updates, plus the final assignment
        ctes.append(f"{prefix}d{t} AS ({dist(cent)})")
        ctes.append(f"{prefix}a{t} AS ({argmin(f'{prefix}d{t}')})")
        if t < 2:
            cent = f"{prefix}c{t + 1}"
            ctes.append(f"{cent} AS ({update(f'{prefix}a{t}')})")
    return ",\n".join(ctes)


def _ivf_train_oracle_sql(k: int = 4) -> str:
    """ivf_train oracle: the ENTIRE 2-iteration deterministic Lloyd's
    program in SQL (`_lloyd_ctes` with no key columns — IVF training is PQ
    with m = 1), then final sizes + codebook unpivot."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pos AS (SELECT unnest(range(1, 65))::INT AS i),
{_lloyd_ctes("e", "v", "pos", (), k)},
sizes AS (SELECT cluster, count(*) AS n FROM a2 GROUP BY cluster),
cent AS (SELECT cluster, p.i - 1 AS pos, c[p.i] AS val FROM c2 CROSS JOIN pos p)
SELECT cent.cluster AS cluster, sizes.n AS n, cent.pos AS pos, cent.val AS val
FROM cent JOIN sizes USING (cluster) ORDER BY cluster, pos
"""


def _pq_ctes(m: int = 4, ksub: int = 4, dsub: int = 16) -> str:
    """Shared CTE prefix for the flat-PQ oracles: the ENTIRE 2-iteration
    per-subspace deterministic Lloyd's program in SQL (`_lloyd_ctes` keyed
    by subspace) over the raw embedding subvectors, ending at c2 (final
    codebooks) and a2 (final per-(vec, subspace) code assignment)."""
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
js AS (SELECT unnest(range(0, {m}))::INT AS j),
sub AS (SELECT vec_id, j AS subspace, v[j*{dsub}+1 : j*{dsub}+{dsub}] AS sv
        FROM e, js),
pos AS (SELECT unnest(range(1, {dsub + 1}))::INT AS i),
{_lloyd_ctes("sub", "sv", "pos", ("subspace",), ksub)}"""


def _ivfpq_ctes(
    kc: int = 4, m: int = 4, ksub: int = 4, dsub: int = 16, dim: int = 64
) -> str:
    """Shared CTE prefix for the IVF-PQ oracles: the coarse 2-iteration
    Lloyd's over FULL vectors (`_lloyd_ctes` with no key columns, prefix
    c: cseeds..ca2), residual computation r = x - centroid[cell] (exact
    IEEE subtraction of identical doubles — no extra rounding, matching
    `quantize._residuals`), then the per-subspace Lloyd's (keyed by
    subspace) over the residual subvectors. Ends at: cc2/ca2 (coarse
    codebook + assignment), res (vec_id, label, cell, rv), c2/a2 (residual
    PQ codebook + codes)."""
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
fpos AS (SELECT unnest(range(1, {dim + 1}))::INT AS i),
{_lloyd_ctes("e", "v", "fpos", (), kc, prefix="c")},
res AS (
  SELECT e.vec_id, e.label, ca2.cluster AS cell,
         list(e.v[p.i] - cc.c[p.i] ORDER BY p.i) AS rv
  FROM e JOIN ca2 USING (vec_id) JOIN cc2 cc ON ca2.cluster = cc.cluster
  CROSS JOIN fpos p GROUP BY e.vec_id, e.label, ca2.cluster),
js AS (SELECT unnest(range(0, {m}))::INT AS j),
sub AS (SELECT vec_id, j AS subspace, rv[j*{dsub}+1 : j*{dsub}+{dsub}] AS sv
        FROM res, js),
pos AS (SELECT unnest(range(1, {dsub + 1}))::INT AS i),
{_lloyd_ctes("sub", "sv", "pos", ("subspace",), ksub)}"""


def _pq_train_oracle_sql() -> str:
    """pq_train oracle: the shared Lloyd's prefix + final sizes + codebook
    unpivot — (subspace, cluster, n, pos, val), same empty-cell-free shape
    the Spark side guards for (it RAISES on an empty cell; the oracle would
    simply emit fewer rows, turning the gate red — fail-loud parity)."""
    return f"""{_pq_ctes()},
sizes AS (SELECT subspace, cluster, count(*) AS n FROM a2
          GROUP BY subspace, cluster),
cent AS (SELECT subspace, cluster, p.i - 1 AS pos, c[p.i] AS val
         FROM c2 CROSS JOIN pos p)
SELECT cent.subspace AS subspace, cent.cluster AS cluster, sizes.n AS n,
       cent.pos AS pos, cent.val AS val
FROM cent JOIN sizes USING (subspace, cluster)
ORDER BY subspace, cluster, pos
"""


def _pq_topk_oracle_sql(k: int = 10) -> str:
    """pq_topk oracle: the shared Lloyd's prefix + the ADC program — the
    query's per-(subspace, cluster) 9-dp-rounded distance table joined to
    the final code assignment, summed per vector, 6-dp rounded, top-k by
    (adc asc, vec_id asc). Quantization ties are expected (256 code
    combinations) and resolved identically on both engines."""
    return f"""{_pq_ctes()},
q AS (SELECT subspace, sv AS qsv FROM sub WHERE vec_id = 0),
dtab AS (
  SELECT t.subspace, t.cluster,
         round(sum((q.qsv[p.i] - t.c[p.i]) * (q.qsv[p.i] - t.c[p.i])), 9) AS d
  FROM c2 t JOIN q ON t.subspace = q.subspace CROSS JOIN pos p
  GROUP BY t.subspace, t.cluster),
adcs AS (
  SELECT a.vec_id, round(sum(dt.d), 6) AS adc
  FROM a2 a JOIN dtab dt
    ON a.subspace = dt.subspace AND a.cluster = dt.cluster
  WHERE a.vec_id <> 0 GROUP BY a.vec_id)
SELECT e.vec_id AS vec_id, e.label AS label, adcs.adc AS adc,
       row_number() OVER (ORDER BY adcs.adc ASC, e.vec_id ASC) AS rank
FROM adcs JOIN e USING (vec_id)
QUALIFY rank <= {k} ORDER BY rank
"""


def _pq_rerank_oracle_sql(k: int = 10, shortlist: int = 50, dim: int = 64) -> str:
    """pq_rerank oracle: the shared Lloyd's prefix + ADC shortlist (top-C
    by (adc asc, vec_id asc) — the tie cut is deterministic on both
    engines) + exact squared-L2 re-rank over ONLY the shortlisted rows."""
    return f"""{_pq_ctes()},
q AS (SELECT subspace, sv AS qsv FROM sub WHERE vec_id = 0),
dtab AS (
  SELECT t.subspace, t.cluster,
         round(sum((q.qsv[p.i] - t.c[p.i]) * (q.qsv[p.i] - t.c[p.i])), 9) AS d
  FROM c2 t JOIN q ON t.subspace = q.subspace CROSS JOIN pos p
  GROUP BY t.subspace, t.cluster),
adcs AS (
  SELECT a.vec_id, round(sum(dt.d), 6) AS adc
  FROM a2 a JOIN dtab dt
    ON a.subspace = dt.subspace AND a.cluster = dt.cluster
  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
short AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rn
    FROM adcs) WHERE rn <= {shortlist}),
qf AS (SELECT v AS qv FROM e WHERE vec_id = 0),
posf AS (SELECT unnest(range(1, {dim + 1}))::INT AS i),
rr AS (
  SELECT e.vec_id, e.label,
         round(sum((e.v[p.i] - qf.qv[p.i]) * (e.v[p.i] - qf.qv[p.i])), 6) AS d2
  FROM e JOIN short USING (vec_id) CROSS JOIN qf CROSS JOIN posf p
  GROUP BY e.vec_id, e.label)
SELECT vec_id, label, d2,
       row_number() OVER (ORDER BY d2 ASC, vec_id ASC) AS rank
FROM rr QUALIFY rank <= {k} ORDER BY rank
"""


def _ivfpq_probe_ctes(nprobe: int = 2, dsub: int = 16) -> str:
    """Query-side CTE fragment shared by the IVF-PQ serving oracles (needs
    `_ivfpq_ctes` before it): probe the nprobe nearest coarse cells
    (9-dp-rounded squared L2, ties to the lower cell — `_probe_cells`'s
    contract), build the query's per-cell RESIDUAL, and the per-(cell,
    subspace, cluster) ADC distance table. Ends at adcs: per-vector ADC
    over rows whose cell was probed (the dtab join restricts to probed
    cells, mirroring Spark's isin filter)."""
    return f"""qv AS (SELECT v FROM e WHERE vec_id = 0),
cpd AS (
  SELECT cc.cluster,
         round(sum((q.v[p.i] - cc.c[p.i]) * (q.v[p.i] - cc.c[p.i])), 9) AS d
  FROM cc2 cc CROSS JOIN qv q CROSS JOIN fpos p GROUP BY cc.cluster),
cprobe AS (SELECT cluster FROM cpd ORDER BY d, cluster LIMIT {nprobe}),
qres AS (
  SELECT cc.cluster AS cell, list(q.v[p.i] - cc.c[p.i] ORDER BY p.i) AS qrv
  FROM cc2 cc JOIN cprobe USING (cluster) CROSS JOIN qv q CROSS JOIN fpos p
  GROUP BY cc.cluster),
qsub AS (SELECT cell, j AS subspace, qrv[j*{dsub}+1 : j*{dsub}+{dsub}] AS qsv
         FROM qres, js),
dtab AS (
  SELECT qs.cell, t.subspace, t.cluster,
         round(sum((qs.qsv[p.i] - t.c[p.i]) * (qs.qsv[p.i] - t.c[p.i])), 9) AS d
  FROM c2 t JOIN qsub qs ON t.subspace = qs.subspace CROSS JOIN pos p
  GROUP BY qs.cell, t.subspace, t.cluster),
adcs AS (
  SELECT a.vec_id, round(sum(dt.d), 6) AS adc
  FROM a2 a JOIN res r ON a.vec_id = r.vec_id
  JOIN dtab dt ON r.cell = dt.cell
    AND a.subspace = dt.subspace AND a.cluster = dt.cluster
  WHERE a.vec_id <> 0 GROUP BY a.vec_id)"""


def _ivfpq_topk_oracle_sql(k: int = 10) -> str:
    """ivfpq_topk oracle: the ENTIRE IVF-PQ program in SQL — coarse
    Lloyd's, residuals, residual-PQ Lloyd's (`_ivfpq_ctes`), probe + ADC
    over probed cells only (`_ivfpq_probe_ctes`), top-k by (adc asc,
    vec_id asc)."""
    return f"""{_ivfpq_ctes()},
{_ivfpq_probe_ctes()}
SELECT adcs.vec_id AS vec_id, e.label AS label, adcs.adc AS adc,
       row_number() OVER (ORDER BY adcs.adc ASC, adcs.vec_id ASC) AS rank
FROM adcs JOIN e USING (vec_id)
QUALIFY rank <= {k} ORDER BY rank
"""


def _ivfpq_rerank_oracle_sql(k: int = 10, shortlist: int = 50) -> str:
    """ivfpq_rerank oracle: the probed-ADC shortlist (deterministic
    (adc, vec_id) cut) + exact squared-L2 re-rank over ONLY the
    shortlisted rows' float vectors."""
    return f"""{_ivfpq_ctes()},
{_ivfpq_probe_ctes()},
short AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rn
    FROM adcs) WHERE rn <= {shortlist}),
rr AS (
  SELECT e.vec_id, e.label,
         round(sum((e.v[p.i] - q.v[p.i]) * (e.v[p.i] - q.v[p.i])), 6) AS d2
  FROM e JOIN short USING (vec_id) CROSS JOIN qv q CROSS JOIN fpos p
  GROUP BY e.vec_id, e.label)
SELECT vec_id, label, d2,
       row_number() OVER (ORDER BY d2 ASC, vec_id ASC) AS rank
FROM rr QUALIFY rank <= {k} ORDER BY rank
"""


def _ivfpq_remove_oracle_sql(removed: tuple = (388, 415), k: int = 10) -> str:
    """ivfpq_remove_serve oracle: the ivfpq_topk program with the
    tombstoned ids excluded BEFORE ranking (WHERE runs before the window,
    so ranks are re-assigned over the survivors — exactly what the
    broadcast anti-join does on the Spark side). The removed ids are the
    two rows that head ivfpq_topk's result at sf0.01, so the gate result
    provably differs from the unremoved program's."""
    ids = ", ".join(str(i) for i in sorted(removed))
    return f"""{_ivfpq_ctes()},
{_ivfpq_probe_ctes()}
SELECT adcs.vec_id AS vec_id, e.label AS label, adcs.adc AS adc,
       row_number() OVER (ORDER BY adcs.adc ASC, adcs.vec_id ASC) AS rank
FROM adcs JOIN e USING (vec_id)
WHERE adcs.vec_id NOT IN ({ids})
QUALIFY rank <= {k} ORDER BY rank
"""


def _pq_recall_oracle_sql(
    query_ids: tuple = tuple(range(8)),
    k: int = 10,
    shortlists: tuple = (10, 25, 50),
    dim: int = 64,
) -> str:
    """pq_recall oracle: the ENTIRE measurement in SQL — shared Lloyd's
    prefix, per-QUERY ADC distance tables (dtab keyed by qid), ADC ranking
    per query, exact squared-L2 ground truth (top-k per query by
    (d2, vec_id)), then recall_ppm per served form: raw ADC top-k
    ('adc', shortlist=0 sentinel) and shortlist->re-rank at each C.
    Integer-ppm floor division on both engines — float-free value hash."""
    nq = len(query_ids)
    ids = ", ".join(str(i) for i in sorted(query_ids))
    cs = ", ".join(str(c) for c in sorted(shortlists))
    return f"""{_pq_ctes()},
qids AS (SELECT unnest([{ids}])::BIGINT AS qid),
qs AS (SELECT s.vec_id AS qid, s.subspace, s.sv AS qsv
       FROM sub s JOIN qids ON s.vec_id = qids.qid),
dtab AS (
  SELECT qs.qid, t.subspace, t.cluster,
         round(sum((qs.qsv[p.i] - t.c[p.i]) * (qs.qsv[p.i] - t.c[p.i])), 9) AS d
  FROM c2 t JOIN qs ON t.subspace = qs.subspace CROSS JOIN pos p
  GROUP BY qs.qid, t.subspace, t.cluster),
adcs AS (
  SELECT dt.qid, a.vec_id, round(sum(dt.d), 6) AS adc
  FROM a2 a JOIN dtab dt
    ON a.subspace = dt.subspace AND a.cluster = dt.cluster
  WHERE a.vec_id <> dt.qid GROUP BY dt.qid, a.vec_id),
sl AS (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
       FROM adcs),
qf AS (SELECT e.vec_id AS qid, e.v AS qv FROM e JOIN qids ON e.vec_id = qids.qid),
posf AS (SELECT unnest(range(1, {dim + 1}))::INT AS i),
ex AS (
  SELECT qf.qid, e.vec_id,
         round(sum((e.v[p.i] - qf.qv[p.i]) * (e.v[p.i] - qf.qv[p.i])), 6) AS d2
  FROM e CROSS JOIN qf CROSS JOIN posf p
  WHERE e.vec_id <> qf.qid GROUP BY qf.qid, e.vec_id),
truth AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
  FROM ex) WHERE rn <= {k}),
cs AS (SELECT unnest([{cs}])::INT AS c),
rr AS (
  SELECT cs.c, s.qid, s.vec_id,
         row_number() OVER (PARTITION BY cs.c, s.qid ORDER BY ex.d2, s.vec_id) AS rk
  FROM sl s JOIN cs ON s.rn <= cs.c
  JOIN ex ON ex.qid = s.qid AND ex.vec_id = s.vec_id),
rhits AS (
  SELECT cs.c AS c, count(truth.qid) AS nh
  FROM cs LEFT JOIN rr ON rr.c = cs.c AND rr.rk <= {k}
  LEFT JOIN truth ON truth.qid = rr.qid AND truth.vec_id = rr.vec_id
  GROUP BY cs.c),
ahits AS (
  SELECT count(truth.qid) AS nh
  FROM sl LEFT JOIN truth ON truth.qid = sl.qid AND truth.vec_id = sl.vec_id
  WHERE sl.rn <= {k})
SELECT 'adc' AS variant, 0 AS shortlist, {nq}::BIGINT AS n_queries,
       {k} AS k, nh AS n_hits, (nh * 1000000) // {k * nq} AS recall_ppm
FROM ahits
UNION ALL
SELECT 'rerank', c, {nq}::BIGINT, {k}, nh, (nh * 1000000) // {k * nq}
FROM rhits
ORDER BY variant, shortlist
"""


def _ivfpq_recall_oracle_sql(
    query_ids: tuple = tuple(range(8)),
    k: int = 10,
    nprobes: tuple = (1, 2, 4),
    shortlist: int = 50,
) -> str:
    """ivfpq_recall oracle: the full IVF-PQ recall measurement in SQL —
    coarse + residual Lloyd's (`_ivfpq_ctes`), per-query probe ORDER over
    all kc cells (crk), per-(query, cell) residual ADC tables, per-vector
    ADC restricted to cells probed at each nprobe level, shortlist cut,
    exact ground truth, and recall_ppm per (variant, nprobe)."""
    nq = len(query_ids)
    ids = ", ".join(str(i) for i in sorted(query_ids))
    nps = ", ".join(str(n) for n in sorted(nprobes))
    dsub = 16
    return f"""{_ivfpq_ctes()},
qids AS (SELECT unnest([{ids}])::BIGINT AS qid),
qf AS (SELECT e.vec_id AS qid, e.v AS qv FROM e JOIN qids ON e.vec_id = qids.qid),
cpd AS (
  SELECT qf.qid, cc.cluster,
         round(sum((qf.qv[p.i] - cc.c[p.i]) * (qf.qv[p.i] - cc.c[p.i])), 9) AS d
  FROM cc2 cc CROSS JOIN qf CROSS JOIN fpos p GROUP BY qf.qid, cc.cluster),
crk AS (SELECT qid, cluster AS cell,
               row_number() OVER (PARTITION BY qid ORDER BY d, cluster) AS cr
        FROM cpd),
qres AS (
  SELECT qf.qid, cc.cluster AS cell, list(qf.qv[p.i] - cc.c[p.i] ORDER BY p.i) AS qrv
  FROM cc2 cc CROSS JOIN qf CROSS JOIN fpos p GROUP BY qf.qid, cc.cluster),
qsub AS (SELECT qid, cell, j AS subspace,
                qrv[j*{dsub}+1 : j*{dsub}+{dsub}] AS qsv
         FROM qres, js),
dtab AS (
  SELECT qs.qid, qs.cell, t.subspace, t.cluster,
         round(sum((qs.qsv[p.i] - t.c[p.i]) * (qs.qsv[p.i] - t.c[p.i])), 9) AS d
  FROM c2 t JOIN qsub qs ON t.subspace = qs.subspace CROSS JOIN pos p
  GROUP BY qs.qid, qs.cell, t.subspace, t.cluster),
adcs AS (
  SELECT dt.qid, a.vec_id, r.cell, round(sum(dt.d), 6) AS adc
  FROM a2 a JOIN res r ON a.vec_id = r.vec_id
  JOIN dtab dt ON r.cell = dt.cell
    AND a.subspace = dt.subspace AND a.cluster = dt.cluster
  WHERE a.vec_id <> dt.qid GROUP BY dt.qid, a.vec_id, r.cell),
nps AS (SELECT unnest([{nps}])::INT AS np),
sl AS (
  SELECT np, qid, vec_id,
         row_number() OVER (PARTITION BY np, qid ORDER BY adc, vec_id) AS rn
  FROM (SELECT nps.np, adcs.qid, adcs.vec_id, adcs.adc
        FROM adcs JOIN crk ON adcs.qid = crk.qid AND adcs.cell = crk.cell
        JOIN nps ON crk.cr <= nps.np)
  QUALIFY rn <= {shortlist}),
ex AS (
  SELECT qf.qid, e.vec_id,
         round(sum((e.v[p.i] - qf.qv[p.i]) * (e.v[p.i] - qf.qv[p.i])), 6) AS d2
  FROM e CROSS JOIN qf CROSS JOIN fpos p
  WHERE e.vec_id <> qf.qid GROUP BY qf.qid, e.vec_id),
truth AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
  FROM ex) WHERE rn <= {k}),
rr AS (
  SELECT s.np, s.qid, s.vec_id,
         row_number() OVER (PARTITION BY s.np, s.qid ORDER BY ex.d2, s.vec_id) AS rk
  FROM sl s JOIN ex ON ex.qid = s.qid AND ex.vec_id = s.vec_id),
rhits AS (
  SELECT nps.np AS np, count(truth.qid) AS nh
  FROM nps LEFT JOIN rr ON rr.np = nps.np AND rr.rk <= {k}
  LEFT JOIN truth ON truth.qid = rr.qid AND truth.vec_id = rr.vec_id
  GROUP BY nps.np),
ahits AS (
  SELECT nps.np AS np, count(truth.qid) AS nh
  FROM nps LEFT JOIN sl ON sl.np = nps.np AND sl.rn <= {k}
  LEFT JOIN truth ON truth.qid = sl.qid AND truth.vec_id = sl.vec_id
  GROUP BY nps.np),
ccount AS (
  SELECT nps.np AS np, count(adcs.vec_id) AS nc
  FROM nps LEFT JOIN crk ON crk.cr <= nps.np
  LEFT JOIN adcs ON adcs.qid = crk.qid AND adcs.cell = crk.cell
  GROUP BY nps.np)
SELECT 'adc' AS variant, a.np AS nprobe, {nq}::BIGINT AS n_queries,
       {k} AS k, coalesce(c.nc, 0) AS n_candidates, a.nh AS n_hits,
       (a.nh * 1000000) // {k * nq} AS recall_ppm
FROM ahits a LEFT JOIN ccount c ON a.np = c.np
UNION ALL
SELECT 'rerank', r.np, {nq}::BIGINT, {k}, coalesce(c.nc, 0), r.nh,
       (r.nh * 1000000) // {k * nq}
FROM rhits r LEFT JOIN ccount c ON r.np = c.np
ORDER BY variant, nprobe
"""


# shingle CTE shared by ngram/minhash oracles (3-token shingles, distinct)
_SHINGLE_CTE = f"""
tokarr AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
        FROM tokarr))
"""


def _media_features_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind feature stats from the Arrow-batched extractor. Squares are
    computed in float64 (explicit cast) so the DuckDB oracle's arithmetic
    matches bit-for-bit — the float32 rounding happens exactly once, at
    feature storage, on both sides."""
    from pyspark.sql import functions as F

    media = multimodal.synthesize_media(spark, n=120, partitions=4)
    feats = multimodal.extract_features(media)
    fd = F.transform("features", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(fd, F.lit(0.0), lambda a, x: a + x * x))
    return (
        feats.select("kind", norm.alias("norm"))
        .groupBy("kind")
        .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 6).alias("avg_norm"))
        .orderBy("kind")
    )


def _media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate dims of the REAL byte-level resize (decode → nearest-
    neighbor → re-encode): the output dimensions are pure arithmetic over
    the synthesized sizes, so the oracle recomputes them in SQL; the
    pixel-level mapping is pinned by tests/test_multimodal.py."""
    from pyspark.sql import functions as F

    media = multimodal.synthesize_media(spark, n=120, partitions=4)
    return multimodal.resize_images(media, max_side=16).agg(
        F.count("*").alias("n"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.max("width").alias("max_w"),
        F.max("height").alias("max_h"),
    )


def _media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: sampled-frame counts per video."""
    from pyspark.sql import functions as F

    media = multimodal.synthesize_media(spark, n=120, partitions=4)
    return (
        multimodal.sample_frames(media, every_nth=2)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_frames_sampled"))
        .orderBy("media_id")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a REAL inverted index over sf0.001 documents and answer
    a BM25 conjunction through the distributed query path."""
    return ft.ft_engine_bm25(spark, "/root/testdata/sf0.001")


def _gate_index_path(prefix: str) -> str:
    """A fresh index path inside a UNIQUE temp dir, removed at interpreter
    exit. Unique per invocation: a fixed shared path would let a concurrent
    session's rmtree delete this one's half-built index, and would
    invalidate the lazy DataFrame a prior invocation returned (it still
    reads the path at collect time) — so the dir lives until the process
    ends, and no longer."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return os.path.join(d, "idx")


def _ivfpq_lifecycle_serve(
    spark: SparkSession, sf_dir: str, n_batches: int = 1, removed: tuple = ()
) -> DataFrame:
    """Gate form of the stored IVF-PQ lifecycle: train the codebooks once
    on the corpus (gate defaults kc = m = ksub = 4, n_iter = 2), build the
    STORED index from ``n_batches`` `ivfpq_append` batches (vec_id mod
    n_batches — deterministic at any partitioning), tombstone ``removed``
    with `ivfpq_remove`, then serve the standard probed-ADC top-k for
    query vec_id 0 (k = 10, nprobe = 2) from the stored table. The index
    is rebuilt from scratch every invocation on purpose: the lifecycle IS
    the thing under test (like catwalk_saved_model)."""
    from pyspark.sql import functions as F

    emb, cents, books, _res, _dsub = quantize._ivfpq_fit(spark, sf_dir, 4, 4, 4, 2)
    q = quantize._query_vec(emb, 0)
    path = _gate_index_path("miru_ivfpq_gate_")
    for b in range(n_batches):
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        quantize.ivfpq_append(spark, path, batch, cents, books)
    for s in ("ivfpq_emb", "ivfpq_res"):
        release_scope(s)
    if removed:
        quantize.ivfpq_remove(spark, path, removed)
    return quantize.ivfpq_topk_from_codes(spark, path, cents, books, q)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # training-data pipeline: dedup
        "dedup_exact": dedup.dedup_exact,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
        "dedup_clusters": dedup.dedup_clusters,  # connected components
        "dedup_survivors": dedup.dedup_survivors,  # corpus after removal
        "decontaminate": dedup.decontaminate,  # benchmark n-gram hygiene
        "span_dedup_stats": dedup.span_dedup_stats,  # cross-doc repeated spans (Lee et al.)
        "simhash_fingerprints": dedup.simhash_fingerprints,
        "simhash_neardup_pairs": dedup.simhash_neardup_pairs,
        # cross-snapshot refresh: admit a new crawl batch vs the standing
        # corpus digests+fingerprints (never re-dedups the corpus)
        "dedup_incremental": dedup.dedup_incremental,
        # similarity search
        "cosine_topk": similarity.cosine_topk_bruteforce,
        "ivf_topk": similarity.ivf_topk,  # full-SQL IVF oracle (_ivf_oracle_sql)
        # deterministic distributed Lloyd's k-means — IVF codebook training
        "ivf_train": similarity.ivf_train,
        # product quantization: per-subspace codebooks (train) + asymmetric-
        # distance top-k over map-only codes (serve) — the bytes-per-vector
        # scale path (64x compression at production params); both carry
        # full unrolled-SQL value-hash oracles (_pq_ctes)
        "pq_train": quantize.pq_train,
        "pq_topk": quantize.pq_topk,
        # ADC shortlist -> exact re-rank (the standard PQ serving
        # composition — repairs raw ADC's tie degeneracy)
        "pq_rerank": quantize.pq_rerank_topk,
        # IVF-PQ: coarse cells + residual codes; serving scans only the
        # nprobe probed cells (PartitionFilters in the stored form)
        "ivfpq_topk": quantize.ivfpq_topk,
        "ivfpq_rerank": quantize.ivfpq_rerank_topk,
        # measured recall@k of the quantized tiers vs exact ground truth —
        # the ann_recall contract extended to PQ/IVF-PQ serving (raw ADC
        # is expected LOW at the gate codebook: tie degeneracy; rerank >=
        # adc is the provable invariant, pinned in tests)
        "pq_recall": quantize.pq_recall,
        "ivfpq_recall": quantize.ivfpq_recall,
        # incremental index maintenance: the stored IVF-PQ index built by
        # TWO ivfpq_append batches (vec_id parity halves; frozen codebooks,
        # no retrain) must serve identically to the encode-all program —
        # appends that drop, duplicate, or mis-encode a row flip
        # ivfpq_topk's full value-hash oracle, which this gate shares
        "ivfpq_append_serve": lambda spark, sf: _ivfpq_lifecycle_serve(
            spark, sf, n_batches=2
        ),
        # removal lifecycle: tombstone the two rows that head ivfpq_topk's
        # result at sf0.01 (388, 415 — a removal whose ids never ranked
        # would be vacuous), serve honoring the mask — ranks re-assign over
        # survivors; oracle = ivfpq_topk with those ids excluded first
        "ivfpq_remove_serve": lambda spark, sf: _ivfpq_lifecycle_serve(
            spark, sf, removed=(388, 415)
        ),
        # threshold 0.4: the synthetic embeddings have no true near-dups
        # (max within-label cosine ≈ 0.47), so the gate runs at a threshold
        # that yields a NON-EMPTY result — proving the join + math, not a
        # vacuous 0 == 0
        "embedding_neardup": lambda spark, sf: similarity.embedding_neardup_pairs(
            spark, sf, threshold=0.4
        ),
        "lsh_bucket_stats": similarity.lsh_bucket_stats,
        "lsh_ann_topk": similarity.lsh_ann_topk,  # the bucketed scale path
        "lsh_ann_batch": similarity.lsh_ann_batch,  # batched-query ANN serving
        # unbounded-N form: bucket-PARTITIONED corpus (hive dirs), probes
        # shuffle-hash-joined (never broadcast), scan pruned to probed
        # bucket partitions — same results as lsh_ann_batch at any N
        "lsh_ann_partitioned": similarity.lsh_ann_partitioned,
        # near-dup with the LSH bucket as the blocking key (multiprobe) —
        # the label-free form that holds at corpus scale
        "embedding_neardup_lsh": similarity.embedding_neardup_lsh,
        # recall@k of the LSH tier vs exact ground truth across n_planes —
        # the recall/cost curve as a gate so bucket changes can't silently
        # regress recall (floors pinned in tests/test_similarity.py)
        "lsh_ann_recall": similarity.ann_recall,
        # multimodal: deterministic synthetic media in REAL standard formats
        # (PPM/WAV/Y4M, decoded pure-stdlib); oracles re-derive the id-based
        # generation in pure SQL
        "media_features_stats": _media_features_stats,
        "media_frame_sample": _media_frame_sample,
        "media_resize_stats": _media_resize_stats,
        # text analysis
        "token_counts": text.token_counts,
        "quality_scores": text.quality_scores,
        "training_shards": text.training_shards,  # quality filter → token-budget shards
        "lang_id": text.lang_id,
        "stratified_split": text.stratified_split,  # deterministic hash train/val/test
        "ngram_repetition": text.ngram_repetition,  # within-doc dup-shingle quality signal
        "pack_sequences": text.pack_sequences,  # concat-and-chunk packing audit
        "mixture_resample": text.mixture_resample,  # deterministic mixture up/down-sampling
        "epoch_build": text.epoch_build,  # composition: dedup -> resample -> pack
        # the MATERIALIZED epoch: sharded placement artifact written with the
        # index-segment resume contract; audit answered from manifests alone
        "epoch_write_audit": epoch.epoch_write_audit,
        # per-source quota capping (corpus balancing) — deterministic hash sample
        "domain_quota_sample": text.domain_quota_sample,
        "doc_fingerprints": text.doc_fingerprints,
        "winnow_fingerprints": text.winnow_fingerprints,  # MOSS rolling hash
        # fulltext (SURVEY.md §2.3/2.6: Q1/F3/T1/T3 as DataFrame programs)
        "ft_bm25_and": ft.ft_bm25_and,
        "ft_bm25_or": ft.ft_bm25_or,
        "ft_engine_bm25": ft.ft_engine_bm25,  # the real index engine e2e
        "ft_bm25_stopworded_en": ft.ft_bm25_stopworded_en,  # Q2 locale analyzer e2e
        "ft_bm25_stopworded_de": ft.ft_bm25_stopworded_de,  # Q2 de set via de_at walk
        "ft_bm25_stemmed_en": ft.ft_bm25_stemmed_en,  # Q2 S-stemmer e2e (both sides)
        # Q2 Porter e2e — ROWS-ONLY by design: Porter has no DuckDB form in
        # this sandbox (analyzers.duckdb_tokens_sql raises with the reason);
        # value parity pinned by tests/test_porter.py instead
        "ft_bm25_porter_en": ft.ft_bm25_porter_en,
        "ft_highlights": ft.ft_highlights,  # Q3 best-4-fragment highlighter
        "ft_serve_bm25": ft.ft_serve_bm25,  # serving path: WAND + roaring filters
        "ft_bm25_batch": ft.ft_bm25_batch,  # N queries, ONE posting scan (search_batch)
        "ft_bm25_batch_cnf": ft.ft_bm25_batch_cnf,  # boolean shapes in one batch
        "ft_bm25_after_delete": ft.ft_bm25_after_delete,  # F5 removal mask
        "ft_bm25_time_range": ft.ft_bm25_time_range,  # S4 doc-time mask
        # OR-reachable Range clause → termless matches at score 0.0 on the
        # distributed path (MiruAggregateUtil.java:1098-1241 uniformity)
        "ft_bm25_or_timerange": ft.ft_bm25_or_timerange,
        # mustNots-only query → pButNotQ(all, q) inclusiveFilter=true
        # (LuceneBackedQueryParser.java:139-141), served via search_local
        "ft_not_only": ft.ft_not_only,
        "ft_snippets": ft.ft_snippets,
        "ft_tfidf_miru": ft.ft_tfidf_miru,
        "ft_term_stats": ft.ft_term_stats,
        "ft_conjunctive_count": ft.ft_conjunctive_count,
        "ft_xor_count": ft.ft_xor_count,
        "ft_prefix_count": ft.ft_prefix_count,
        "numeric_lex_range": ft.numeric_lex_range,  # MiruTermComposer analog
        # miru plugin analogs (§2.4 A-series, §2.2 F-series, §2.5 J, §2.6 T)
        "distincts_gather": rel.distincts_gather,
        "distinct_count": rel.distinct_count,
        "aggregate_counts": rel.aggregate_counts,
        "paired_latest": rel.paired_latest,
        "analytics_waveform": rel.analytics_waveform,
        "anomaly_metrics": rel.anomaly_metrics,
        "stumptown_tail": rel.stumptown_tail,
        "trending_peaks": rel.trending_peaks,
        "reco_collaborative": rel.reco_collaborative,
        "bloom_prune_join": rel.bloom_prune_join,  # J6 real bloom pre-join pruning
        "catwalk_model": rel.catwalk_model,  # J4 model gather (flat)
        "catwalk_features": rel.catwalk_features,  # J4 full FeatureScore shape
        # cross-partition model merge + min-score/max-per-feature pruning
        # (CatwalkModelService.java:100-237) — oracle trains on the union,
        # hash-equality proves the per-range merge is exact
        "catwalk_merged": rel.catwalk_merged,
        "strut_scores": rel.strut_scores,  # J5 scoring over catwalk_features
        # CatwalkModelService persistence lifecycle (saveModel/getModel/repair):
        # staged per-range persisted folds, reloaded from disk, merged — must
        # hash-match union-training / full-retrain scoring
        "catwalk_saved_model": cstore.catwalk_saved_model,
        "strut_scores_saved": cstore.strut_scores_saved,
        "filter_boolean": rel.filter_boolean,
        "filter_xor": rel.filter_xor,
        "time_range_count": rel.time_range_count,
        "topk_time": rel.topk_time,
        "topn_per_group": rel.topn_per_group,
        "gather_features": rel.gather_features,
        # A3 full fidelity: lastScoredId incremental cache — split ingestion
        # through the persisted cache must hash-match the one-shot SQL oracle
        "gather_features_cached": feature_cache.gather_features_cached,
        "semi_join_orders": rel.semi_join_orders,
        "anti_join_orders": rel.anti_join_orders,
        "bloom_containment": rel.bloom_containment,
        "pricing_summary": rel.pricing_summary,
        "shipping_priority": rel.shipping_priority,
    }


def oracle_sql() -> dict[str, str]:
    sigs = ", ".join(
        "min(" + _H12.format(x="shingle || '#%d'" % i) + ") AS sig_%d" % i
        for i in range(dedup.N_MINHASH)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, sig_{2*b}::VARCHAR || ':' || sig_{2*b+1}::VARCHAR AS bucket FROM sig"
        for b in range(dedup.N_BANDS)
    )
    est = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(dedup.N_MINHASH)
    )
    # 64-bit simhash: bits 0-47 from md5 hex chars 1-12, bits 48-63 from
    # chars 13-16; bit 63 contributes -2^63 so the value is the same signed
    # BIGINT as Spark's long (see dedup.simhash_fingerprints)
    simhash_bits = ", ".join(
        f"sum(CASE WHEN ({'h_lo' if i < 48 else 'h_hi'} >> {i if i < 48 else i - 48}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    simhash_fp = (
        " + ".join(f"(CASE WHEN b{i} > 0 THEN {2**i}::BIGINT ELSE 0 END)" for i in range(63))
        + " + (CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0 END)"
    )
    simhash_cte = f"""
WITH {_TOK_CTE},
tokh AS (SELECT doc_id, {_H12.format(x='term')} AS h_lo,
         ('0x' || substr(md5(term), 13, 4))::BIGINT AS h_hi FROM tok),
bits AS (SELECT doc_id, {simhash_bits} FROM tokh GROUP BY doc_id),
fp AS (SELECT doc_id, ({simhash_fp})::BIGINT AS simhash FROM bits)
"""
    cos_expr = (
        "list_dot_product(embedding::DOUBLE[], qv) / "
        "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv)))"
    )
    quality_expr = f"""
  least(len(toks) / 100.0, 1.0) * 0.4
  + (1.0 - len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) / greatest(len(toks), 1)) * 0.2
  + least((CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, t -> length(t))) / len(toks) ELSE 0.0 END) / 8.0, 1.0) * 0.2
  + (CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) ELSE 0.0 END) * 0.2
"""
    out = {
        "ft_bm25_and": _bm25_sql(ft.QUERY_TERMS, conjunctive=True),
        "ft_bm25_or": _bm25_sql(ft.QUERY_TERMS_OR, conjunctive=False),
        "ft_engine_bm25": _bm25_sql(ft.QUERY_TERMS, conjunctive=True),
        "ft_bm25_stopworded_en": _bm25_sql(ft.QUERY_TERMS, conjunctive=True, tok_cte=_TOK_SW_CTE),
        "ft_bm25_stopworded_de": _bm25_sql(
            ft.QUERY_TERMS, conjunctive=True, tok_cte=_TOK_SW_DE_CTE
        ),
        # query "the merges sorts": 'the' stop-pruned, merges/sorts stem to
        # merge/sort — the oracle's tok CTE applies the SAME rules in SQL
        "ft_bm25_stemmed_en": _bm25_sql(
            ["merge", "sort"], conjunctive=True, tok_cte=_TOK_STEM_CTE
        ),
        "ft_highlights": _highlights_sql(),
        "ft_serve_bm25": _bm25_sql(ft.QUERY_TERMS, conjunctive=True, langs=["en", "de"]),
        "ft_bm25_batch": _bm25_batch_sql(),
        "ft_bm25_batch_cnf": _bm25_batch_cnf_sql(),
        "ft_bm25_after_delete": _bm25_sql(
            ft.QUERY_TERMS, conjunctive=True, cand_where="doc_id % 7 <> 0"
        ),
        "ft_bm25_time_range": _bm25_sql(
            ft.QUERY_TERMS, conjunctive=True, cand_where="doc_id % 100 BETWEEN 0 AND 49"
        ),
        "ft_bm25_or_timerange": _or_timerange_sql(),
        "ft_not_only": f"""
WITH {_TOK_CTE}
SELECT doc_id, 0.0::DOUBLE AS score,
       row_number() OVER (ORDER BY doc_id DESC) AS rank
FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = '{ft.RARE_TERM}')
QUALIFY rank <= 10 ORDER BY rank
""",
        "ft_snippets": f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT d.doc_id, count(t.term)::DOUBLE AS dl
       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, (SELECT avg(dl) FROM dl) AS avgdl),
hits AS (SELECT * FROM tf WHERE term IN ('merge', 'sort')),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
scored AS (
  SELECT h.doc_id,
         sum(ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
             * (h.tf * 2.2) / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl))) AS s,
         count(*) AS nt
  FROM hits h JOIN dfs f USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY h.doc_id),
top AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id DESC) AS rank
  FROM scored WHERE nt = 2 QUALIFY rank <= 10)
SELECT t.doc_id, t.rank,
       substr(d.text, greatest(1, strpos(lower(d.text), 'merge') - 20), 60) AS snippet
FROM top t JOIN documents d USING (doc_id) ORDER BY t.rank
""",
        "ft_tfidf_miru": f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
hits AS (SELECT * FROM tf WHERE term IN ('vector', 'window', 'stream')),
cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM hits GROUP BY 1),
scored AS (SELECT doc_id, sum(h.tf / c.cf) AS s FROM hits h JOIN cf c USING (term) GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score,
       row_number() OVER (ORDER BY round(s, 6) DESC, doc_id DESC) AS rank
FROM scored QUALIFY rank <= 10 ORDER BY rank
""",
        "ft_term_stats": f"""
WITH {_TOK_CTE}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM tok GROUP BY term ORDER BY cf DESC, term LIMIT 20
""",
        "ft_conjunctive_count": f"""
SELECT lang, count(*)::BIGINT AS n FROM documents
WHERE lang IN ('en', 'de')
  AND list_contains({_TOKS}, 'merge') AND list_contains({_TOKS}, 'sort')
GROUP BY lang ORDER BY lang
""",
        "ft_xor_count": f"""
SELECT lang, count(*)::BIGINT AS n FROM documents
WHERE ((CASE WHEN list_contains({_TOKS}, 'merge') THEN 1 ELSE 0 END)
     + (CASE WHEN list_contains({_TOKS}, 'sort') THEN 1 ELSE 0 END)) % 2 = 1
GROUP BY lang ORDER BY lang
""",
        "ft_prefix_count": f"""
SELECT lang, count(*)::BIGINT AS n FROM documents
WHERE len(list_filter({_TOKS}, t -> t LIKE 'sc%')) > 0
GROUP BY lang ORDER BY lang
""",
        "numeric_lex_range": f"""
WITH enc AS (
  SELECT lang, n_chars,
         lower(lpad(to_hex(xor(n_chars::BIGINT,
               (-9223372036854775807 - 1)::BIGINT)), 16, '0')) AS lex
  FROM documents)
SELECT lang, count(*)::BIGINT AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM enc
WHERE lex >= '{long_to_lex(200)}' AND lex <= '{long_to_lex(800)}'
GROUP BY lang ORDER BY lang
""",
        "distincts_gather": """
SELECT DISTINCT event_type FROM events
WHERE value > 50.0 AND event_type LIKE 'c%' ORDER BY event_type
""",
        "distinct_count": """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users, count(*)::BIGINT AS n_events
FROM events GROUP BY event_type ORDER BY event_type
""",
        "aggregate_counts": """
WITH r AS (
  SELECT event_type, event_id, ts,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn_l,
         row_number() OVER (PARTITION BY event_type ORDER BY ts ASC, event_id ASC) AS rn_o
  FROM events),
c AS (SELECT event_type, count(*)::BIGINT AS n,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
      FROM events GROUP BY 1)
SELECT c.event_type, c.n, l.event_id AS latest_event_id, o.event_id AS oldest_event_id, c.latest_ts
FROM c JOIN r l ON l.event_type = c.event_type AND l.rn_l = 1
       JOIN r o ON o.event_type = c.event_type AND o.rn_o = 1
ORDER BY c.event_type
""",
        "paired_latest": """
SELECT event_type, user_id, event_id AS latest_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
FROM events WHERE user_id < 20
QUALIFY row_number() OVER (
  PARTITION BY event_type, user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY 1, 2
""",
        "analytics_waveform": """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS bucket, count(*)::BIGINT AS n
FROM events WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "anomaly_metrics": """
SELECT strftime(ts, '%Y-%m-%d') AS bucket,
       round(sum(value), 6) AS sum_value, round(avg(value), 6) AS avg_value,
       count(*)::BIGINT AS n
FROM events GROUP BY 1 ORDER BY 1
""",
        "stumptown_tail": """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, user_id,
       round(value, 6) AS value
FROM events WHERE event_type = 'error'
ORDER BY ts DESC, event_id DESC LIMIT 20
""",
        "trending_peaks": """
WITH wave AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS bucket, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
x AS (
  SELECT event_type, bucket, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY bucket) AS prev,
         lead(n) OVER (PARTITION BY event_type ORDER BY bucket) AS next
  FROM wave)
SELECT event_type, bucket, n FROM x WHERE n > prev AND n > next ORDER BY 1, 2
""",
        "reco_collaborative": """
WITH bought AS (
  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
mine AS (SELECT partkey FROM bought WHERE custkey = 1),
others AS (
  SELECT DISTINCT custkey FROM bought
  WHERE partkey IN (SELECT partkey FROM mine) AND custkey <> 1)
SELECT partkey, count(DISTINCT custkey)::BIGINT AS score
FROM bought
WHERE custkey IN (SELECT custkey FROM others)
  AND partkey NOT IN (SELECT partkey FROM mine)
GROUP BY partkey ORDER BY score DESC, partkey LIMIT 10
""",
        "bloom_prune_join": """
SELECT c_mktsegment, count(*)::BIGINT AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 495000.0)
GROUP BY 1 ORDER BY 1
""",
        "catwalk_model": """
SELECT event_type,
       sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)::BIGINT AS num_hi,
       sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS num_even,
       count(*)::BIGINT AS denom
FROM events GROUP BY 1 ORDER BY 1
""",
        "catwalk_features": """
WITH docs AS (
  SELECT user_id,
         value > 50.0 AS is_hi,
         EXTRACT(hour FROM ts) < 12 AS is_am,
         event_type AS fkey0,
         event_type || '|' || CAST(CAST(FLOOR(value / 25) AS INT) AS VARCHAR) AS fkey1
  FROM events),
set_hi AS (SELECT user_id FROM docs WHERE is_hi GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
set_am AS (SELECT user_id FROM docs WHERE is_am GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
feat AS (
  SELECT CAST(0 AS INT) AS feature_id, fkey0 AS feature_key, user_id FROM docs
  UNION ALL
  SELECT CAST(1 AS INT) AS feature_id, fkey1 AS feature_key, user_id FROM docs)
SELECT feature_id, feature_key,
       sum(CASE WHEN user_id IN (SELECT user_id FROM set_hi) THEN 1 ELSE 0 END)::BIGINT AS num_hi,
       sum(CASE WHEN user_id IN (SELECT user_id FROM set_am) THEN 1 ELSE 0 END)::BIGINT AS num_am,
       count(*)::BIGINT AS denom
FROM feat GROUP BY 1, 2 ORDER BY 1, 2
""",
        "catwalk_merged": f"""
WITH docs AS (
  SELECT user_id,
         value > 50.0 AS is_hi,
         EXTRACT(hour FROM ts) < 12 AS is_am,
         event_type AS fkey0,
         event_type || '|' || CAST(CAST(FLOOR(value / 25) AS INT) AS VARCHAR) AS fkey1,
         dayofyear(ts) % {rel._CATWALK_N_RANGES} AS range_id
  FROM events),
set_hi AS (SELECT user_id FROM docs WHERE is_hi GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
set_am AS (SELECT user_id FROM docs WHERE is_am GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
feat AS (
  SELECT CAST(0 AS INT) AS feature_id, fkey0 AS feature_key, user_id, range_id FROM docs
  UNION ALL
  SELECT CAST(1 AS INT) AS feature_id, fkey1 AS feature_key, user_id, range_id FROM docs),
model AS (
  SELECT feature_id, feature_key,
         sum(CASE WHEN user_id IN (SELECT user_id FROM set_hi) THEN 1 ELSE 0 END)::BIGINT AS num_hi,
         sum(CASE WHEN user_id IN (SELECT user_id FROM set_am) THEN 1 ELSE 0 END)::BIGINT AS num_am,
         count(*)::BIGINT AS denom,
         count(DISTINCT range_id)::BIGINT AS n_models
  FROM feat GROUP BY 1, 2),
scored AS (
  SELECT *,
         round(num_hi / denom, 6) AS s_hi,
         round(num_am / denom, 6) AS s_am,
         greatest(round(num_hi / denom, 6), round(num_am / denom, 6)) AS max_score
  FROM model),
pruned AS (
  SELECT *,
         row_number() OVER (PARTITION BY feature_id
                            ORDER BY max_score DESC, denom DESC, feature_key ASC) AS rn
  FROM scored
  WHERE (num_hi > 0 AND s_hi > {rel._CATWALK_MIN_SCORE})
     OR (num_am > 0 AND s_am > {rel._CATWALK_MIN_SCORE}))
SELECT feature_id, feature_key, num_hi, num_am, denom, n_models, max_score
FROM pruned WHERE rn <= {rel._CATWALK_MAX_PER_FEATURE}
ORDER BY feature_id, feature_key
""",
        "strut_scores": """
WITH docs AS (
  SELECT user_id,
         value > 50.0 AS is_hi,
         EXTRACT(hour FROM ts) < 12 AS is_am,
         event_type AS fkey0,
         event_type || '|' || CAST(CAST(FLOOR(value / 25) AS INT) AS VARCHAR) AS fkey1
  FROM events),
set_hi AS (SELECT user_id FROM docs WHERE is_hi GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
set_am AS (SELECT user_id FROM docs WHERE is_am GROUP BY user_id
           ORDER BY count(*) DESC, user_id ASC LIMIT 40),
feat AS (
  SELECT 0 AS feature_id, fkey0 AS feature_key, user_id FROM docs
  UNION ALL
  SELECT 1 AS feature_id, fkey1 AS feature_key, user_id FROM docs),
model AS (
  SELECT feature_id, feature_key,
         sum(CASE WHEN user_id IN (SELECT user_id FROM set_hi) THEN 1 ELSE 0 END)::BIGINT AS num_hi,
         sum(CASE WHEN user_id IN (SELECT user_id FROM set_am) THEN 1 ELSE 0 END)::BIGINT AS num_am,
         count(*)::BIGINT AS denom
  FROM feat GROUP BY 1, 2),
cand AS (SELECT DISTINCT user_id, feature_id, feature_key FROM feat),
per_feat AS (
  SELECT c.user_id, c.feature_id,
         max(least(m.num_hi / m.denom, 1.0)) AS s_hi,
         max(least(m.num_am / m.denom, 1.0)) AS s_am
  FROM cand c JOIN model m USING (feature_id, feature_key)
  GROUP BY 1, 2),
per_user AS (
  SELECT user_id,
         sum(CASE WHEN s_hi > 0 THEN s_hi ELSE 0 END) / 2.0 AS t_hi,
         sum(CASE WHEN s_am > 0 THEN s_am ELSE 0 END) / 2.0 AS t_am
  FROM per_feat GROUP BY 1)
SELECT user_id, round(t_hi, 6) AS score_hi, round(t_am, 6) AS score_am,
       round(((CASE WHEN t_hi > 0 THEN t_hi ELSE 0 END)
            + (CASE WHEN t_am > 0 THEN t_am ELSE 0 END)) / 2.0, 6) AS score
FROM per_user
ORDER BY round(((CASE WHEN t_hi > 0 THEN t_hi ELSE 0 END)
              + (CASE WHEN t_am > 0 THEN t_am ELSE 0 END)) / 2.0, 6) DESC,
         user_id ASC
LIMIT 20
""",
        "filter_boolean": """
SELECT event_type, count(*)::BIGINT AS n FROM events
WHERE (event_type IN ('click', 'view') OR value > 90.0) AND NOT (user_id % 10 = 0)
GROUP BY event_type ORDER BY event_type
""",
        "filter_xor": """
SELECT event_type, count(*)::BIGINT AS n FROM events
WHERE ((CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
     + (CASE WHEN value > 50.0 THEN 1 ELSE 0 END)) % 2 = 1
GROUP BY event_type ORDER BY event_type
""",
        "time_range_count": """
SELECT event_type, count(*)::BIGINT AS n FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
GROUP BY event_type ORDER BY event_type
""",
        "topk_time": """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, user_id
FROM events WHERE event_type = 'purchase'
ORDER BY ts DESC, event_id DESC LIMIT 10
""",
        "topn_per_group": """
WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS n FROM events GROUP BY 1, 2)
SELECT event_type, user_id, n,
       row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id DESC) AS rank
FROM c QUALIFY rank <= 3 ORDER BY event_type, rank
""",
        "gather_features": """
SELECT event_type, user_id % 10 AS user_bucket, count(*)::BIGINT AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        # the incremental cache must converge to exactly the one-shot aggregate
        "gather_features_cached": """
SELECT event_type, user_id % 10 AS user_bucket, count(*)::BIGINT AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "semi_join_orders": """
SELECT o_orderpriority, count(*)::BIGINT AS n FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0)
GROUP BY 1 ORDER BY 1
""",
        "anti_join_orders": """
SELECT o_orderstatus, count(*)::BIGINT AS n FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48.0)
GROUP BY 1 ORDER BY 1
""",
        "bloom_containment": """
SELECT p_brand, p_type, count(*)::BIGINT AS n, round(avg(p_retailprice), 6) AS avg_price
FROM part WHERE p_brand IN ('Brand#1', 'Brand#3')
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-06-01'
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "shipping_priority": """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1, 2 ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash, count(*)::BIGINT AS n, min(doc_id) AS keeper
FROM documents GROUP BY 1 ORDER BY n DESC, content_hash LIMIT 20
""",
        "ngram_jaccard_pairs": f"""
WITH {_SHINGLE_CTE},
shc AS (
  SELECT * FROM sh WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {dedup.DF_CAP})),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.5
ORDER BY id_a, id_b
""",
        "minhash_lsh_pairs": f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT id_a, id_b, round(({est}) / 8.0, 6) AS est_jaccard
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
ORDER BY id_a, id_b
""",
        "dedup_clusters": f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
closure(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT c.id, e.b FROM closure c JOIN edges e ON c.r = e.a),
comp AS (SELECT id, min(r) AS cluster FROM closure GROUP BY id)
SELECT cluster, count(*)::BIGINT AS n_members FROM comp
GROUP BY cluster HAVING count(*) >= 2 ORDER BY cluster
""",
        "decontaminate": f"""
WITH tokarr AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, lang, array_to_string(toks[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, lang, toks,
               unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i
        FROM tokarr)),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, lang FROM tokarr WHERE doc_id % 50 <> 0),
cont AS (
  SELECT DISTINCT g.doc_id, g.lang
  FROM g JOIN bg USING (gram) WHERE g.doc_id % 50 <> 0)
SELECT t.lang, t.n_train_docs, coalesce(c.n_contaminated, 0)::BIGINT AS n_contaminated
FROM (SELECT lang, count(*)::BIGINT AS n_train_docs FROM train GROUP BY lang) t
LEFT JOIN (SELECT lang, count(*)::BIGINT AS n_contaminated FROM cont GROUP BY lang) c
  USING (lang)
ORDER BY lang
""",
        "dedup_survivors": f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
closure(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT c.id, e.b FROM closure c JOIN edges e ON c.r = e.a),
comp AS (SELECT id, min(r) AS cluster FROM closure GROUP BY id),
nonkeep AS (SELECT id FROM comp WHERE id <> cluster)
SELECT lang, count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM nonkeep))::BIGINT AS n_survivors,
       count(*) FILTER (WHERE doc_id IN (SELECT id FROM nonkeep))::BIGINT AS n_dropped
FROM documents GROUP BY lang ORDER BY lang
""",
        "simhash_fingerprints": simhash_cte + "SELECT doc_id, simhash FROM fp ORDER BY doc_id",
        "simhash_neardup_pairs": simhash_cte
        + """,
chunks AS (
  SELECT doc_id, simhash, c.c AS chunk, (simhash >> (c.c * 16)) & 65535 AS ckey
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS c) c),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::INT AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b
""",
        # Full cross-check (no pigeonhole) on purpose: 4x16-bit chunking is
        # COMPLETE for hamming<=3, so Spark's bucketed candidate join must
        # equal this exhaustive form exactly.
        "dedup_incremental": simhash_cte
        + """,
batch AS (SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
baseh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
flags AS (
  SELECT b.doc_id, b.source,
         b.h IN (SELECT h FROM baseh) AS is_exact,
         EXISTS (
           SELECT 1 FROM fp fa, fp fb
           WHERE fb.doc_id = b.doc_id AND fa.doc_id % 10 <> 0
             AND bit_count(xor(fa.simhash, fb.simhash)) <= 3
         ) AS is_near
  FROM batch b)
SELECT source,
       count(*)::BIGINT AS n_batch,
       coalesce(sum(CASE WHEN is_exact THEN 1 ELSE 0 END), 0)::BIGINT AS n_exact_dup,
       coalesce(sum(CASE WHEN NOT is_exact AND is_near THEN 1 ELSE 0 END), 0)::BIGINT AS n_near_dup,
       coalesce(sum(CASE WHEN NOT is_exact AND NOT is_near THEN 1 ELSE 0 END), 0)::BIGINT AS n_admitted
FROM flags GROUP BY source ORDER BY source
""",
        "cosine_topk": f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id, label, round({cos_expr}, 6) AS cosine
  FROM embeddings, q WHERE vec_id <> 0)
SELECT vec_id, label, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM s QUALIFY rank <= 10 ORDER BY rank
""",
        "embedding_neardup": f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
ORDER BY id_a, id_b
""",
        "token_counts": f"""
WITH {_TOKARR_CTE},
flat AS (SELECT lang, unnest(toks) AS term FROM tokarr),
a AS (SELECT lang, count(DISTINCT term)::BIGINT AS n_distinct_terms FROM flat GROUP BY 1),
b AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS n_tokens,
             sum(list_sum(list_transform(toks, t -> (length(t) + 3) // 4)))::BIGINT AS n_subwords
      FROM tokarr GROUP BY 1)
SELECT lang, n_docs, n_tokens, n_distinct_terms, n_subwords
FROM a JOIN b USING (lang) ORDER BY lang
""",
        "quality_scores": f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
SELECT doc_id, lang, len(toks)::INT AS n_tokens, round({quality_expr}, 6) AS quality
FROM t ORDER BY round({quality_expr}, 6) ASC, doc_id ASC LIMIT 20
""",
        "training_shards": f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
k AS (
  SELECT doc_id, lang, len(toks)::BIGINT AS n_tokens
  FROM t WHERE round({quality_expr}, 6) >= 0.5),
s AS (
  SELECT lang, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM k)
SELECT lang, (cum // 20000)::BIGINT AS shard, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens
FROM s GROUP BY lang, shard ORDER BY lang, shard
""",
        "lang_id": _lang_id_sql(),
        # packing is a pure function of token offsets: the oracle computes
        # the same per-lang prefix sum with one window (fine at sf0.01; the
        # Spark side uses the two-level bucketed form for scale)
        "pack_sequences": f"""
WITH t AS (SELECT doc_id, lang, len({_TOKS})::BIGINT AS n FROM documents),
s AS (
  SELECT lang, doc_id, n,
         coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
       ((sum(n) + 2047) // 2048)::BIGINT AS n_seqs,
       sum(CASE WHEN n > 0 AND (cum // 2048) <> ((cum + n - 1) // 2048)
                THEN 1 ELSE 0 END)::BIGINT AS n_straddle_docs,
       sum(CASE WHEN n > 0 THEN ((cum + n - 1) // 2048) - (cum // 2048)
                ELSE 0 END)::BIGINT AS n_crossings,
       (((sum(n) + 2047) // 2048) * 2048 - sum(n))::BIGINT AS pad_tokens
FROM s GROUP BY lang ORDER BY lang
""",
        # the oracle computes sum(reps) arithmetically; the Spark side
        # aggregates the REAL posexplode'd emit relation — equality proves
        # the emitted copies are exactly the arithmetic's copies
        "mixture_resample": f"""
WITH w AS (
  SELECT source, doc_id, n_chars,
         {text.MIX_BASE_PPM} + (('0x' || substr(md5('mixw#' || source), 1, 12))::BIGINT % {text.MIX_N_WEIGHTS})
                  * {text.MIX_STEP_PPM} AS w_ppm,
         ('0x' || substr(md5('mixf#' || doc_id::VARCHAR), 1, 12))::BIGINT
           % 1000000 AS f
  FROM documents),
r AS (
  SELECT source, w_ppm, doc_id, n_chars,
         (w_ppm // 1000000)
           + CASE WHEN f < (w_ppm % 1000000) THEN 1 ELSE 0 END AS reps
  FROM w)
SELECT source, any_value(w_ppm)::BIGINT AS w_ppm, count(*)::BIGINT AS n_total,
       sum(reps)::BIGINT AS n_emitted,
       sum(doc_id * reps)::BIGINT AS emitted_id_sum,
       sum(n_chars * reps)::BIGINT AS emitted_chars
FROM r GROUP BY source ORDER BY source
""",
        # composition oracle: survivors (min doc_id per identical text) ->
        # the mixture arithmetic -> emitted copies as a flattened stream
        # (stream_id = doc_id*4 + rep) -> the packing prefix sum
        "epoch_build": f"""
WITH t AS (SELECT doc_id, lang, source, md5(text) AS digest,
                  len({_TOKS})::BIGINT AS n FROM documents),
k AS (SELECT doc_id, lang, source, n FROM
        (SELECT t.*, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
         FROM t) WHERE rn = 1),
wgt AS (SELECT doc_id, lang, n,
        {text.MIX_BASE_PPM} + (('0x' || substr(md5('mixw#' || source), 1, 12))::BIGINT % {text.MIX_N_WEIGHTS})
                 * {text.MIX_STEP_PPM} AS w_ppm,
        ('0x' || substr(md5('mixf#' || doc_id::VARCHAR), 1, 12))::BIGINT
          % 1000000 AS f
        FROM k),
r AS (SELECT lang, doc_id, n,
             (w_ppm // 1000000)
               + CASE WHEN f < (w_ppm % 1000000) THEN 1 ELSE 0 END AS reps
      FROM wgt),
e AS (SELECT lang, doc_id * {text.EPOCH_STREAM_STRIDE} + unnest(range(reps)) AS stream_id, n
      FROM r WHERE reps > 0),
s AS (SELECT lang, stream_id, n,
      coalesce(sum(n) OVER (PARTITION BY lang ORDER BY stream_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM e)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
       ((sum(n) + 2047) // 2048)::BIGINT AS n_seqs,
       sum(CASE WHEN n > 0 AND (cum // 2048) <> ((cum + n - 1) // 2048)
                THEN 1 ELSE 0 END)::BIGINT AS n_straddle_docs,
       sum(CASE WHEN n > 0 THEN ((cum + n - 1) // 2048) - (cum // 2048)
                ELSE 0 END)::BIGINT AS n_crossings,
       (((sum(n) + 2047) // 2048) * 2048 - sum(n))::BIGINT AS pad_tokens
FROM s GROUP BY lang ORDER BY lang
""",
        "stratified_split": f"""
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5('split#' || doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS bkt,
         len({_TOKS}) AS nt
  FROM documents)
SELECT lang,
       CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
FROM b GROUP BY 1, 2 ORDER BY 1, 2
""",
        # span width/stride interpolated from the operator's own constants
        # (dedup.SPAN_W/SPAN_STRIDE) so changing them cannot silently
        # desynchronize the oracle
        "span_dedup_stats": f"""
WITH tokarr AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
spans AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(0, len(toks) - {dedup.SPAN_W - 1}, {dedup.SPAN_STRIDE}),
                               o -> md5(array_to_string(toks[o+1:o+{dedup.SPAN_W}], ' ')))) AS h
  FROM tokarr WHERE len(toks) >= {dedup.SPAN_W}),
counted AS (SELECT doc_id, lang, count(*) OVER (PARTITION BY h) AS c FROM spans),
perdoc AS (SELECT doc_id, any_value(lang) AS lang, count(*) AS n_spans,
                  sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS n_dup
           FROM counted GROUP BY doc_id),
r AS (SELECT lang, n_spans, n_dup,
             round(n_dup * 1000000.0 / n_spans)::BIGINT AS dup_ppm FROM perdoc)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_spans)::BIGINT AS total_spans,
       sum(n_dup)::BIGINT AS total_dup_spans, sum(dup_ppm)::BIGINT AS sum_dup_ppm,
       sum(CASE WHEN dup_ppm >= 100000 THEN 1 ELSE 0 END)::BIGINT AS n_flagged
FROM r GROUP BY 1 ORDER BY 1
""",
        "ngram_repetition": f"""
WITH tokarr AS (SELECT lang, {_TOKS} AS toks FROM documents),
g AS (
  SELECT lang,
         greatest(len(toks) - 2, 0) AS n3,
         CASE WHEN len(toks) >= 3 THEN
           len(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                            i -> array_to_string(toks[i:i+2], ' '))))
         ELSE 0 END AS nd
  FROM tokarr),
r AS (SELECT lang, round((n3 - nd) * 1000000.0 / greatest(n3, 1))::BIGINT AS rep_ppm FROM g)
SELECT lang, count(*)::BIGINT AS n_docs, sum(rep_ppm)::BIGINT AS sum_rep_ppm,
       sum(CASE WHEN rep_ppm >= 200000 THEN 1 ELSE 0 END)::BIGINT AS n_repetitive
FROM r GROUP BY 1 ORDER BY 1
""",
        "domain_quota_sample": """
WITH d AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('quota#' || doc_id::VARCHAR), 1, 12))::BIGINT AS h
  FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM d),
k AS (SELECT * FROM r WHERE rk <= 10),
t AS (SELECT source, count(*)::BIGINT AS n_total FROM d GROUP BY source)
SELECT t.source AS source, t.n_total AS n_total, count(*)::BIGINT AS n_kept,
       sum(k.doc_id)::BIGINT AS kept_id_sum, sum(k.n_chars)::BIGINT AS kept_chars
FROM t JOIN k ON t.source = k.source
GROUP BY t.source, t.n_total ORDER BY source
""",
        "winnow_fingerprints": f"""
WITH tokarr AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
hs AS (
  SELECT doc_id, lang,
         list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> {_H12.format(x="array_to_string(toks[i:i+2], ' ')")}) AS h
  FROM tokarr),
wins AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, greatest(len(h) - 3, 0) + 1),
                                      i -> list_min(h[i:i+3]))) AS fps
  FROM hs),
flat AS (SELECT lang, doc_id, unnest(fps) AS fp FROM wins)
SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs_with_fps,
       count(*)::BIGINT AS n_fps, count(DISTINCT fp)::BIGINT AS n_distinct_fps
FROM flat GROUP BY lang ORDER BY lang
""",
        "lsh_bucket_stats": _lsh_oracle_sql(),
        "lsh_ann_topk": _lsh_ann_oracle_sql(),
        "lsh_ann_batch": _lsh_ann_batch_oracle_sql(),
        # same oracle SQL shape at larger N — the physical strategy
        # (partitioned scan + shuffle join) must not change any result
        "lsh_ann_partitioned": _lsh_ann_batch_oracle_sql(
            query_ids=similarity.PARTITIONED_QUERY_IDS
        ),
        "embedding_neardup_lsh": _lsh_neardup_oracle_sql(),
        "lsh_ann_recall": _ann_recall_oracle_sql(),
        "ivf_topk": _ivf_oracle_sql(),
        "ivf_train": _ivf_train_oracle_sql(),
        "pq_train": _pq_train_oracle_sql(),
        "pq_topk": _pq_topk_oracle_sql(),
        "pq_rerank": _pq_rerank_oracle_sql(),
        "ivfpq_topk": _ivfpq_topk_oracle_sql(),
        "ivfpq_rerank": _ivfpq_rerank_oracle_sql(),
        "pq_recall": _pq_recall_oracle_sql(),
        "ivfpq_recall": _ivfpq_recall_oracle_sql(),
        # append-built index serves rank-identically to encode-all:
        # same program, same oracle
        "ivfpq_append_serve": _ivfpq_topk_oracle_sql(),
        "ivfpq_remove_serve": _ivfpq_remove_oracle_sql(),
        "media_features_stats": _media_oracle_sqls()[0],
        "media_frame_sample": _media_oracle_sqls()[1],
        # resize dims are pure arithmetic over the synthesized sizes:
        # w=32+i%32, h=32+i%16 for images (i%3=0), scale=min(16/w,16/h,1),
        # target = ceil(dim*scale) — same ceil the planner and executor use
        "media_resize_stats": """
WITH img AS (
  SELECT 32 + i % 32 AS w, 32 + i % 16 AS h
  FROM (SELECT unnest(range(0, 120)) AS i) WHERE i % 3 = 0),
t AS (
  SELECT ceil(w * least(16.0 / w, 16.0 / h, 1.0))::INT AS tw,
         ceil(h * least(16.0 / w, 16.0 / h, 1.0))::INT AS th
  FROM img)
SELECT count(*)::BIGINT AS n, sum(tw)::BIGINT AS sum_w, sum(th)::BIGINT AS sum_h,
       max(tw)::INT AS max_w, max(th)::INT AS max_h
FROM t
""",
        "doc_fingerprints": f"""
WITH {_TOKARR_CTE}
SELECT lang, count(*)::BIGINT AS n_docs,
       count(DISTINCT md5(array_to_string(toks, ' ')))::BIGINT AS n_distinct
FROM tokarr GROUP BY lang ORDER BY lang
""",
    }
    # persisted-store gates serve the SAME values as their retrain
    # counterparts by construction (catwalk_store.py) — identical oracles:
    # the persist -> reload -> merge round-trip must hash-match
    # union-training (catwalk_features) / full-retrain scoring (strut_scores)
    out["catwalk_saved_model"] = out["catwalk_features"]
    out["strut_scores_saved"] = out["strut_scores"]
    # the materialized epoch's manifest-aggregated audit must equal the
    # audited composition exactly (pipeline/epoch.py)
    out["epoch_write_audit"] = out["epoch_build"]
    return out
