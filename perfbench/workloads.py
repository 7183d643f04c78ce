"""The two workloads: ``index_build`` and ``serve``. Both are closed loop
with one client.

Each workload function receives a ``Run`` (session, tracer, seed, time
budget, op ledger) and returns its named metrics. The program is reached
only through module attributes (``build.build_index``, ``scorer.search_local``
...) so the traced run can wrap them.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from miru_spark.index import build, removal
from miru_spark.query import oracle, scorer
from miru_spark.streaming import ingest

K = 10
N_DOCS = 10_000  # corpus rows for both workloads
BATCH_DOCS = 1_000  # rows added per micro-batch
REMOVES_PER_BATCH = 3
# index_build runs at least MIN_BATCHES micro-batches (fresh_s_p50 is their
# median), then more while the --seconds budget, counted from the end of the
# bulk build, lasts, up to MAX_BATCHES
MIN_BATCHES = 3
MAX_BATCHES = 8
REMOVE_FRACTION = 0.01  # serve: share of docs removed in setup
LOG_LENGTH = 200  # serve: Zipf log entries; one warm-up pass in setup, then timed passes
LOCAL_SECONDS = 3  # serve: timed local passes run while LOCAL_SECONDS x --seconds lasts
WARMUP_BATCH = 8  # serve: queries in the untimed search_batch of the setup

# index_build probes, answered by search_local right after the bulk build;
# in a traced run one of them (by seed) is checked against query.oracle
PROBES = [
    {"query": "merge AND sort", "lang_filter": None},
    {"query": "def", "lang_filter": None},
    {"query": "index AND NOT license", "lang_filter": None},
    {"query": "int64 OR utf8 OR 2024", "lang_filter": None},  # block-max WAND
    {"query": "merge AND sort", "lang_filter": ["python"]},
]


def canon(doc_ids, scores) -> list[tuple[int, float]]:
    """Answer in the engine's tie order on 6-dp scores: (score desc, doc_id
    desc). Both engine paths must produce exactly this list."""
    pairs = [(int(d), round(float(s), 6)) for d, s in zip(doc_ids, scores)]
    return sorted(pairs, key=lambda p: (-p[1], -p[0]))


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def content_bytes(parquet_path: str) -> int:
    col = pq.read_table(parquet_path, columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col)).as_py())


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ----------------------------------------------------------------- index_build
def index_build(run) -> dict:
    n_parts = 2 * run.nproc
    corpus_path = gen.corpus_parquet(run.work, run.seed, N_DOCS)
    batches = gen.micro_batches(run.seed, N_DOCS, MAX_BATCHES, BATCH_DOCS, REMOVES_PER_BATCH)
    batch_paths = []
    for b, mb in enumerate(batches):
        p = os.path.join(run.work, "inputs", f"batch-s{run.seed}-n{N_DOCS}-{b}.parquet")
        if not os.path.exists(p):
            mb["rows"].to_parquet(p, index=False)
        batch_paths.append(p)
    input_bytes = content_bytes(corpus_path)
    run.reset_peak_rss()

    # -- setup: the session. The bulk build below is the process's first
    # build, so it pays JIT and Python-worker start-up, as a fresh build job
    # does; one warm-up build would cost as much wall time as the build.
    run.start_setup()
    spark = run.start_session()
    with run.tracer.span("bench.input"):
        corpus = spark.read.parquet(corpus_path)
    setup_s = run.end_setup()

    # -- timed phase: bulk build, then micro-batches (see MIN_BATCHES)
    idx = _fresh_dir(run.path("idx"))
    op = run.op("bulk_build")
    t0 = time.perf_counter()
    summary = build.build_index(spark, corpus, idx, num_partitions=n_parts, resume=False)
    build_s = time.perf_counter() - t0
    run.expect(op, summary["n_docs"] == N_DOCS, f"bulk build n_docs {summary['n_docs']} != {N_DOCS}")
    index_bytes = dir_bytes(idx)
    run.index_dir = idx

    probe_ops, probe_answers = [], []
    for p in PROBES:
        op = run.op("probe")
        out = run.local_query(idx, p["query"], op, lang_filter=p["lang_filter"])
        probe_ops.append(op)
        probe_answers.append(None if out is None else canon(out["doc_id"], out["score"]))
        if out is not None:
            in_order = [(int(d), round(float(s), 6)) for d, s in zip(out["doc_id"], out["score"])]
            run.expect(op, len(out) == K and probe_answers[-1] == in_order,
                       f"probe {p['query']!r}: not a full top-{K} in tie order")
            run.expect(op, not p["lang_filter"] or set(out["lang"]) <= set(p["lang_filter"]),
                       f"probe {p['query']!r}: lang filter leaked")

    fresh_s, first_query_ms = [], []
    removed_terms: list[str] = []
    n_expected = N_DOCS
    t_batches = time.perf_counter()
    for b, path in enumerate(batch_paths):
        if b >= MIN_BATCHES and time.perf_counter() - t_batches >= run.seconds:
            break
        mb = batches[b]
        with run.tracer.span("bench.input"):
            df = spark.read.parquet(path)
        op = run.op("fresh")
        t0 = time.perf_counter()
        ingest.append_batch(df, b, idx)
        ingest.refresh(spark, idx)
        tq = time.perf_counter()
        out = scorer.search_local(idx, mb["probe_term"], k=K)
        t1 = time.perf_counter()
        fresh_s.append(t1 - t0)
        first_query_ms.append((t1 - tq) * 1000.0)
        n_expected += BATCH_DOCS
        run.expect(op, list(out["path"]) == [mb["probe_path"]],
                   f"micro-batch {b}: probe {mb['probe_term']} -> {list(out['path'])}")
        run.expect(op, scorer.IndexHandle.open(idx).n_docs == n_expected,
                   f"micro-batch {b}: corpus_stats n_docs != {n_expected}")
        removed_terms += [r[3] for r in mb["removed"]]

    # -- checks after the timed phase (not timed)
    with run.tracer.span("bench.check"):
        for term in removed_terms:  # removed keys are never served
            op = run.op("removed_probe")
            out = run.local_query(idx, term, op)
            run.expect(op, out is not None and len(out) == 0, f"removed doc served for {term}")
        if run.traced:
            i = run.seed % len(PROBES)
            expected = _oracle_answer(spark, corpus_path, n_parts, PROBES[i]["query"],
                                      PROBES[i]["lang_filter"], K, removed=set())
            run.expect(probe_ops[i], probe_answers[i] == expected,
                       f"oracle mismatch on probe {PROBES[i]['query']!r}")

    return {
        "setup_s": setup_s,
        "build_files_per_s": N_DOCS / build_s,
        "index_bytes_per_input_byte": index_bytes / input_bytes,
        "fresh_s_p50": float(np.median(fresh_s)),
        "ingest.first_query_ms": float(np.median(first_query_ms)),
        "micro_batches": len(fresh_s),
    }


def _oracle_answer(spark, corpus_path, n_parts, query, lang_filter, k, removed) -> list:
    """query.oracle top-k over the raw corpus, minus ``removed`` keys (the
    oracle has no removal mask; statistics stay corpus-global either way)."""
    corpus = spark.read.parquet(corpus_path)
    with_ids, _ = build.assign_doc_ids(corpus, n_parts)
    rows = oracle.oracle_topk(with_ids, query, k=k + len(removed), lang_filter=lang_filter).collect()
    spark.catalog.clearCache()
    rows = [r for r in rows if (r["repo"], r["path"], r["commit"]) not in removed][:k]
    return canon([r["doc_id"] for r in rows], [r["score"] for r in rows])


# ----------------------------------------------------------------------- serve
def as_syntax(q: dict) -> str:
    """The query with its masks written as Field/Range clauses."""
    parts = [f"({q['query']})"]
    for field, values in (("lang", q["lang_filter"]), ("repo", q["repo_filter"])):
        if values:
            parts.append("(" + " OR ".join(f"{field}:{v}" for v in values) + ")")
    if q["time_range"]:
        parts.append(f"ts:[{q['time_range'][0]} TO {q['time_range'][1]}]")
    return " AND ".join(parts)


def check_local(run, op, q, out, want, removed_keys) -> None:
    """A search_local answer must equal the Spark path's answer and hold no
    removed key."""
    run.expect(op, canon(out["doc_id"], out["score"]) == want,
               f"local answer differs from the expected answer for {q['query']!r}")
    run.expect(op, not any(k in removed_keys for k in zip(out["repo"], out["path"], out["commit"])),
               f"local served a removed doc for {q['query']!r}")


def serve(run) -> dict:
    n_parts = 2 * run.nproc
    corpus_path = gen.corpus_parquet(run.work, run.seed, N_DOCS)
    input_bytes = content_bytes(corpus_path)
    log = gen.query_log(run.seed, N_DOCS, LOG_LENGTH)
    rng = np.random.default_rng([run.seed, 4])
    victims = sorted(int(i) for i in rng.choice(N_DOCS, size=int(N_DOCS * REMOVE_FRACTION), replace=False))
    vrows = pq.read_table(corpus_path, columns=["repo", "path", "commit"]).to_pandas().iloc[victims]
    removed_keys = set(zip(vrows["repo"], vrows["path"], vrows["commit"]))
    distinct = list({gen.query_key(q): q for q in log}.values())
    plain = [q for q in distinct if not (q["lang_filter"] or q["repo_filter"] or q["time_range"])]
    masked = [q for q in distinct if q not in plain]
    run.reset_peak_rss()

    # -- setup: session, index build, ~1% removals, one warm-up pass over the
    # log's distinct queries (every posting list the log touches is then
    # resident: 10k docs hold far fewer terms than the posting cache) and one
    # small search_batch, so the timed batch runs in a warm session
    run.start_setup()
    spark = run.start_session()
    idx = _fresh_dir(run.path("idx"))
    with run.tracer.span("bench.input"):
        corpus = spark.read.parquet(corpus_path)
    summary = build.build_index(spark, corpus, idx, num_partitions=n_parts, resume=False)
    ids = removal.resolve_keys(spark, idx, sorted(removed_keys))
    n_removed = removal.remove_docs(idx, ids, version=1)
    for q in distinct:
        scorer.search_local(idx, q["query"], k=K, lang_filter=q["lang_filter"],
                            repo_filter=q["repo_filter"], time_range=q["time_range"])
    run.spark_query("batch", lambda: scorer.search_batch(
        spark, idx, [q["query"] for q in plain[:WARMUP_BATCH]], k=K))
    setup_s = run.end_setup()
    run.index_dir = idx
    if summary["n_docs"] != N_DOCS or n_removed != len(removed_keys):
        raise RuntimeError(f"serve setup: n_docs {summary['n_docs']}, removed {n_removed}")

    # -- timed phase 1: local serving, whole passes over the Zipf log while
    # LOCAL_SECONDS budgets last. Every pass has the same query mix, so a slow
    # host gives fewer passes, not a different mix; serve_p50_ms is the median
    # of the pass p50s. No Spark job is in flight; answers are checked after
    # phase 2 has produced the expected ones.
    lat_ms: list[float] = []
    pass_p50: list[float] = []
    answers = []
    by_cls: dict[str, list[float]] = {}
    t_start = time.perf_counter()
    while not pass_p50 or time.perf_counter() - t_start < LOCAL_SECONDS * run.seconds:
        one_pass: list[float] = []
        for q in log:
            op = run.op("local")
            t0 = time.perf_counter()
            out = run.local_query(idx, q["query"], op, lang_filter=q["lang_filter"],
                                  repo_filter=q["repo_filter"], time_range=q["time_range"])
            dt = (time.perf_counter() - t0) * 1000.0
            if out is None:
                continue
            one_pass.append(dt)
            by_cls.setdefault(q["cls"], []).append(dt)
            answers.append((op, q, out))
        lat_ms += one_pass
        pass_p50.append(percentile(one_pass, 50))
    # -- timed phase 2: one search_batch over every distinct term-only query
    # in the log (masks mode). Its answers are the expected answers below.
    expected: dict[tuple, list] = {}
    batch_op = op = run.op("batch")
    t0 = time.perf_counter()
    rows = run.spark_query("batch", lambda: scorer.search_batch(spark, idx, [q["query"] for q in plain], k=K))
    batch_s = time.perf_counter() - t0
    by_qid: dict[int, list] = {i: [] for i in range(len(plain))}
    for r in rows:
        by_qid[r["query_id"]].append(r)
    for i, q in enumerate(plain):
        expected[gen.query_key(q)] = canon([r["doc_id"] for r in by_qid[i]], [r["score"] for r in by_qid[i]])
        run.expect(op, not any((r["repo"], r["path"], r["commit"]) in removed_keys for r in by_qid[i]),
                   f"batch served a removed doc for {q['query']!r}")
    # masked queries (lang/repo/time masks): one search_distributed each;
    # the query-syntax form of the masks (Field/Range clauses, a separate
    # local mask path) must agree with it
    dist_ms = []
    for q in masked:
        op = run.op("dist")
        t0 = time.perf_counter()
        rows = run.spark_query("dist", lambda q=q: scorer.search_distributed(
            spark, idx, q["query"], k=K, lang_filter=q["lang_filter"],
            repo_filter=q["repo_filter"], time_range=q["time_range"]))
        dist_ms.append((time.perf_counter() - t0) * 1000.0)
        expected[gen.query_key(q)] = canon([r["doc_id"] for r in rows], [r["score"] for r in rows])
        with run.tracer.span("bench.check"):
            out = scorer.search_local(idx, as_syntax(q), k=K)
        run.expect(op, canon(out["doc_id"], out["score"]) == expected[gen.query_key(q)],
                   f"Field/Range form differs from search_distributed for {q['query']!r}")

    for op, q, out in answers:
        check_local(run, op, q, out, expected[gen.query_key(q)], removed_keys)
    local_s = sum(lat_ms) / 1000.0

    # -- check (traced runs): a seeded sample answer against the oracle
    if run.traced:
        with run.tracer.span("bench.check"):
            nonempty = [q for q in plain if expected[gen.query_key(q)]]
            q = nonempty[int(rng.integers(len(nonempty)))]
            want = _oracle_answer(spark, corpus_path, n_parts, q["query"], None, K, removed_keys)
            run.expect(batch_op, expected[gen.query_key(q)] == want,
                       f"oracle mismatch on {q['query']!r}")

    # the highest percentile with at least 10 samples beyond it
    tail_q = min(99.0, max(50.0, float(np.floor(100.0 * (1.0 - 10.0 / len(lat_ms))))))
    out = {
        "setup_s": setup_s,
        "index_bytes_per_input_byte": dir_bytes(idx) / input_bytes,
        "serve_p50_ms": float(np.median(pass_p50)),
        "serve_passes": len(pass_p50),
        "serve_tail_ms": percentile(lat_ms, tail_q),
        "serve_tail_pct": tail_q,
        "serve_queries": len(lat_ms),
        "serve_qps": len(lat_ms) / local_s,
        "batch_qps": len(plain) / batch_s,
        "batch_queries": len(plain),
        "dist_p50_ms": float(np.median(dist_ms)),
    }
    out.update({f"local.class.{c}.p50_ms": percentile(v, 50) for c, v in sorted(by_cls.items())})
    return out
