"""Brute-force BM25 oracle: pure DataFrame program over the raw corpus.

The executable replacement for miru's absent golden corpus (SURVEY.md §5):
no index, no codec, no pruning — just explode/groupBy/join/window with the
same analyzer, same BM25 constants, same tie order. The engine must be
rank-identical to this at every scale we test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.analyzer import tokens_col
from miru_spark.query import parser as qp
from miru_spark.query.scorer import B, K1


def _doc_terms(corpus_with_ids: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len) — the exploded term-frequency relation."""
    toks = corpus_with_ids.select(
        "doc_id", F.explode(tokens_col("content")).alias("term")
    )
    dl = corpus_with_ids.select("doc_id", F.size(tokens_col("content")).alias("doc_len"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf.join(dl, "doc_id")


def _ast_condition(node, matched_terms_col, expansions):
    if isinstance(node, qp.Term):
        return F.array_contains(matched_terms_col, node.term)
    if isinstance(node, qp.Prefix):
        terms = expansions.get(node.prefix, [])
        if not terms:
            return F.lit(False)
        return F.arrays_overlap(matched_terms_col, F.array(*[F.lit(t) for t in terms]))
    if isinstance(node, qp.All):
        return F.lit(True)
    if isinstance(node, qp.Field):
        # evaluated after the meta join (lang/repo columns present)
        return F.col(node.field) == node.value
    if isinstance(node, qp.Range):
        # ts:[lo TO hi] — requires a ts column on the corpus relation
        return F.col(node.field).between(node.lo, node.hi)
    if isinstance(node, qp.And):
        c = F.lit(True)
        for ch in node.children:
            c = c & _ast_condition(ch, matched_terms_col, expansions)
        return c
    if isinstance(node, qp.Or):
        c = F.lit(False)
        for ch in node.children:
            c = c | _ast_condition(ch, matched_terms_col, expansions)
        return c
    if isinstance(node, qp.Not):
        return _ast_condition(node.positive, matched_terms_col, expansions) & ~_ast_condition(
            node.negative, matched_terms_col, expansions
        )
    if isinstance(node, qp.Xor):
        total = sum(
            F.when(_ast_condition(c, matched_terms_col, expansions), 1).otherwise(0)
            for c in node.children
        )
        return total % 2 == 1
    raise TypeError(type(node))


def oracle_topk(
    corpus_with_ids: DataFrame,
    query: str,
    k: int = 10,
    lang_filter: list[str] | None = None,
    repo_filter: list[str] | None = None,
) -> DataFrame:
    """Exact BM25 top-k via DataFrame ops only. Returns
    (doc_id, score, repo, path, commit, lang), tie order (score desc, doc_id desc)."""
    spark = corpus_with_ids.sparkSession
    ast = qp.parse_query(query)

    dt = _doc_terms(corpus_with_ids).cache()
    n_docs = corpus_with_ids.count()
    avgdl = dt.select("doc_id", "doc_len").distinct().agg(F.avg("doc_len")).first()[0]

    # prefix expansion against the corpus dictionary (deterministic, capped)
    expansions: dict[str, list[str]] = {}
    for p in qp.prefixes(ast):
        terms = [
            r["term"]
            for r in dt.select("term").distinct().filter(F.col("term").startswith(p)).orderBy("term").limit(1000).collect()
        ]
        expansions[p] = terms

    needed = sorted(qp.all_terms(ast) | {t for ts in expansions.values() for t in ts})
    scoring = qp.positive_terms(ast) | {
        t for p in qp.positive_prefixes(ast) for t in expansions.get(p, [])
    }
    termless = qp.can_match_termless(ast)
    if not needed and not termless:
        return spark.createDataFrame(
            [], "doc_id long, score double, repo string, path string, commit string, lang string"
        )

    df_stats = (
        dt.filter(F.col("term").isin(needed))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("idf", F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0))
    )
    hits = (
        dt.filter(F.col("term").isin(needed))
        .join(F.broadcast(df_stats), "term")
        .withColumn(
            "contrib",
            F.when(
                F.col("term").isin(sorted(scoring)),
                F.col("idf") * (F.col("tf") * (K1 + 1.0)) / (F.col("tf") + K1 * (1.0 - B + B * F.col("doc_len") / avgdl)),
            ).otherwise(F.lit(0.0)),
        )
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.collect_set("term").alias("mts"), F.sum("contrib").alias("score")
    )
    meta_cols = ["doc_id", "repo", "path", "commit", "lang"] + (
        ["ts"] if "ts" in corpus_with_ids.columns else []
    )
    out = per_doc.join(corpus_with_ids.select(*meta_cols), "doc_id")
    out = out.filter(_ast_condition(ast, F.col("mts"), expansions))
    if termless:
        # forward-table candidate branch (same semantics as the engine's
        # termless matches): docs matching the AST with zero term hits, at
        # score 0.0; docs with any hit were decided above with their true mts
        extra = (
            corpus_with_ids.select(*meta_cols)
            .withColumn("mts", F.array().cast("array<string>"))
            .filter(_ast_condition(ast, F.col("mts"), expansions))
            .withColumn("score", F.lit(0.0))
            .join(per_doc.select("doc_id"), "doc_id", "left_anti")
        )
        cols = ["doc_id", "score"] + meta_cols[1:]
        out = out.select(*cols).unionByName(extra.select(*cols))
    if lang_filter:
        out = out.filter(F.col("lang").isin(lang_filter))
    if repo_filter:
        out = out.filter(F.col("repo").isin(repo_filter))
    # orderBy+limit → TakeOrderedAndProject (per-partition heaps); no
    # single-partition WindowExec even in the brute-force oracle
    return (
        out.select("doc_id", "score", "repo", "path", "commit", "lang")
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(k)
    )
