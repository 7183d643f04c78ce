"""Seeded input generators: corpus (+ ts), micro-batches with remove ops, and
a Zipf-popular query log over named shape classes.

Every function takes the seed as an argument and is a pure function of its
arguments, so the same seed gives the same inputs in any process. Only the
generated inputs reach the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from miru_spark.corpus import COMMON_TERMS, HEAD_TERMS, LANGS, _gen_rows

TS_SPAN = 1_000_000  # ts values lie in [0, TS_SPAN)
RARE_EVERY = 97  # _gen_rows gives row i the df=1 term rareterm{i} iff i % 97 == 0


def _ts(ids: np.ndarray, seed: int) -> np.ndarray:
    """Event time of row i: a fixed scramble of (seed, i), so time masks
    cut across key order."""
    return ((ids * 7_919 + seed * 104_729) * 2_654_435_761 % TS_SPAN).astype(np.int64)


def corpus_rows(seed: int, start: int, end: int) -> pd.DataFrame:
    """Rows [start, end) of the corpus for ``seed``: corpus._gen_rows plus a
    derived ``ts`` column."""
    pdf = _gen_rows(start, end, seed)
    pdf["ts"] = _ts(np.arange(start, end, dtype=np.int64), seed)
    return pdf


def corpus_parquet(work: str, seed: int, n: int) -> str:
    """Write (or reuse) the seeded corpus of ``n`` rows as one parquet file.
    Input preparation: cached per (seed, n) under ``work``."""
    path = os.path.join(work, "inputs", f"corpus-s{seed}-n{n}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        corpus_rows(seed, 0, n).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


def rare_term(i: int) -> str:
    return f"rareterm{i}"


def rare_ids(start: int, end: int) -> list[int]:
    """Row ids in [start, end) that carry a df=1 rare term."""
    first = -(-start // RARE_EVERY) * RARE_EVERY
    return list(range(first, end, RARE_EVERY))


def micro_batches(seed: int, n_base: int, n_batches: int, batch_docs: int,
                  removes_per_batch: int) -> list[dict]:
    """Micro-batches appended after a bulk build of rows [0, n_base).

    Batch b adds rows [n_base + b*batch_docs, ...) and carries op='remove'
    rows for ``removes_per_batch`` earlier keys. Removed keys are rows with a
    rare term, so "removed keys are never served" is checkable by querying
    that term. Returns [{"rows": DataFrame, "probe_term", "probe_path",
    "removed": [(repo, path, commit, rare_term)]}]."""
    rng = np.random.default_rng([seed, 1])
    candidates = rng.permutation(rare_ids(0, n_base))
    out = []
    for b in range(n_batches):
        lo = n_base + b * batch_docs
        adds = corpus_rows(seed, lo, lo + batch_docs).drop(columns=["sha256"])
        adds["op"] = "add"
        victims = [int(i) for i in candidates[b * removes_per_batch:(b + 1) * removes_per_batch]]
        rm = corpus_rows(seed, 0, 0).drop(columns=["sha256"])
        if victims:
            rm = pd.concat(
                [corpus_rows(seed, i, i + 1).drop(columns=["sha256"]) for i in victims],
                ignore_index=True,
            )
        rm["op"] = "remove"
        probe = rare_ids(lo, lo + batch_docs)[0]
        out.append({
            "rows": pd.concat([adds, rm], ignore_index=True),
            "probe_term": rare_term(probe),
            "probe_path": adds["path"].iloc[probe - lo],
            "removed": [(r.repo, r.path, r.commit, rare_term(i)) for r, i in zip(rm.itertuples(), victims)],
        })
    return out


# --------------------------------------------------------------- query log
CLASS_WEIGHTS = {
    "head": 0.20,
    "and2_4": 0.18,
    "and10": 0.05,
    "or2_3": 0.12,
    "rare": 0.10,
    "rare_and_common": 0.08,
    "and_not": 0.08,
    "prefix": 0.07,
    "masked": 0.09,
    "absent": 0.03,
}
ZIPF_S = 1.1  # popularity skew of queries within a class


def _q(query: str, cls: str, lang=None, repo=None, time_range=None) -> dict:
    return {"cls": cls, "query": query, "lang_filter": lang, "repo_filter": repo,
            "time_range": time_range}


def query_pools(seed: int, n_docs: int) -> dict[str, list[dict]]:
    """Distinct queries per shape class, in popularity order (index 0 is the
    most popular). The masked pool (lang, repo and time masks together) holds
    one query: its expected answer costs a search_distributed call."""
    rng = np.random.default_rng([seed, 2])
    common = list(COMMON_TERMS)

    def pick(n):
        return [str(t) for t in rng.choice(common, size=n, replace=False)]

    rares = [int(i) for i in rng.permutation(rare_ids(0, n_docs))]
    pools: dict[str, list[dict]] = {
        "head": [_q(t, "head") for t in HEAD_TERMS],
        "and2_4": [_q(" AND ".join(pick(int(rng.integers(2, 5)))), "and2_4") for _ in range(16)],
        "and10": [_q(" AND ".join(pick(10)), "and10") for _ in range(4)],
        "or2_3": [_q(" OR ".join(pick(int(rng.integers(2, 4)))), "or2_3") for _ in range(12)],
        "rare": [_q(rare_term(i), "rare") for i in rares],
        "rare_and_common": [
            _q(f"{rare_term(i)} AND {pick(1)[0]}", "rare_and_common") for i in rares[:60]
        ],
        "and_not": [
            _q(f"{pick(1)[0]} AND NOT {HEAD_TERMS[int(rng.integers(len(HEAD_TERMS)))]}", "and_not")
            for _ in range(8)
        ],
        # two-digit rare prefixes keep every expansion under the 63-term
        # bitmask limit, so the whole log stays in search_batch masks mode
        "prefix": [_q(f"rareterm{a}{b}*", "prefix") for a in range(1, 10) for b in range(10)]
        + [_q(p, "prefix") for p in ("seg*", "sc*", "par*", "po*", "to*")],
        "masked": [_q(" OR ".join(pick(2)), "masked",
                      lang=sorted(str(x) for x in rng.choice(LANGS, size=3, replace=False)),
                      repo=[f"org{a}/repo{b}" for a, b in ((1, 1), (2, 9), (3, 17), (4, 4), (5, 12))],
                      time_range=(int(rng.integers(0, TS_SPAN // 4)),
                                  int(rng.integers(TS_SPAN // 2, TS_SPAN))))],
        "absent": [_q(f"absentterm{j} AND {pick(1)[0]}", "absent") for j in range(20)],
    }
    for qs in pools.values():
        rng.shuffle(qs)
    return pools


def query_log(seed: int, n_docs: int, length: int) -> list[dict]:
    """Zipf-popular query log: each class fills its CLASS_WEIGHTS share of
    the log (largest remainders round), in seeded order; within a class a
    query is drawn by Zipf rank. Head classes have small pools; rare and
    prefix pools are large, so the log's tail is many distinct queries."""
    pools = query_pools(seed, n_docs)
    rng = np.random.default_rng([seed, 3])
    names = list(CLASS_WEIGHTS)
    share = np.array([CLASS_WEIGHTS[c] for c in names]) * length / sum(CLASS_WEIGHTS.values())
    counts = np.floor(share).astype(int)
    counts[np.argsort(counts - share, kind="stable")[: length - counts.sum()]] += 1
    classes = rng.permutation(np.repeat(np.arange(len(names)), counts))
    out = []
    for c in classes:
        pool = pools[names[c]]
        p = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
        out.append(pool[int(rng.choice(len(pool), p=p / p.sum()))])
    return out


def query_key(q: dict) -> tuple:
    """Hashable identity of a query (text plus masks)."""
    return (q["query"], tuple(q["lang_filter"] or ()), tuple(q["repo_filter"] or ()),
            tuple(q["time_range"] or ()))
