"""Ingest-time near-dup filtering: only novel documents survive a batch.

A 100 TB training-data pipeline dedups AT INGEST, not as a batch
afterthought — every micro-batch is simhashed and matched against the
accumulated fingerprint store before anything downstream (index build,
training shard write) sees it. The reference has no analog (its WAL ships
every activity); this is part of the beyond-reference training-data axis.

Scale shape:
- fingerprints: one tokenize pass per batch, `pipeline/dedup.simhash_of`
  (per-occurrence md5, map-side-combined 64-sum groupBy — one exchange of
  batch-size rows).
- store match: 16-bit pigeonhole chunk equi-join (`pipeline/dedup.chunked`)
  against the store — 65,536 buckets per chunk, uniform keys, never a cross
  product. The store is a parquet table partitioned by nothing but append
  order; at deployment scale it would be bucketed BY ckey so the match join
  co-locates without a shuffle of the store side.
- intra-batch: same chunk join of the batch against itself.

Drop rule (deterministic, one pass): a batch doc is dropped iff it is
within ``max_hamming`` of (a) any STORED fingerprint, or (b) a batch doc
with a strictly smaller key. (b) is transitive-conservative: in a chain
a~b~c where a!~c, both b and c test against a smaller near-dup (b→a, c→b)
and only `a` survives — slightly stricter than keep-one-per-component, by
contract; a chain never yields two survivors within hamming of each other
through a dropped middle doc only if the ends were already close to the
same survivor, which the store match catches on the NEXT batch.

Idempotency: the store parquet for a batch is durable BEFORE the journal
names it; a replayed ``done`` batch re-reads its own store file as the
survivor set without re-matching or re-appending (sip-cursor semantics,
like streaming/ingest.py) — so survivor sets are stable across crashes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.storage import load_json, save_json_atomic
from miru_spark.pipeline.dedup import chunked, simhash_of

_JOURNAL = "dedup_batches.json"
_STORE = "fingerprints"
KEY = ["repo", "path", "commit"]


def _load_journal(store_dir: str) -> dict:
    return load_json(os.path.join(store_dir, _JOURNAL), {})


def _save_journal(store_dir: str, journal: dict) -> None:
    save_json_atomic(os.path.join(store_dir, _JOURNAL), journal)


def _store_df(spark: SparkSession, store_dir: str, journal: dict) -> DataFrame | None:
    """Fingerprints of all COMMITTED batches (journaled files only — a
    crashed append's orphan parquet is invisible until its journal record
    lands, so replays never match a doc against its own crashed attempt)."""
    files = [
        os.path.join(store_dir, _STORE, rec["file"])
        for rec in journal.values()
        if rec.get("done")
    ]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        return None
    return spark.read.parquet(*files)


def filter_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    batch_id: int,
    max_hamming: int = 3,
    text_col: str = "content",
) -> DataFrame:
    """Return the NOVEL rows of ``batch_df`` (full original columns) and
    commit their fingerprints to the store. Replay-safe: a completed
    batch_id returns its journaled survivors without re-appending."""
    os.makedirs(os.path.join(store_dir, _STORE), exist_ok=True)
    journal = _load_journal(store_dir)
    rec = journal.get(str(batch_id))
    if rec is not None and rec.get("done"):
        # replay: the batch's OWN store file is the survivor set — no
        # driver-side key list to journal, no size limit
        keys = spark.read.parquet(os.path.join(store_dir, _STORE, rec["file"]))
        return batch_df.join(keys.select(*KEY), KEY, "left_semi")

    fps = simhash_of(batch_df, KEY, text_col=text_col).cache()
    bchunks = chunked(fps, KEY, n_chunks=max_hamming + 1)

    # (a) near-dup of any committed stored fingerprint
    store = _store_df(spark, store_dir, journal)
    hits_store = None
    if store is not None:
        schunks = chunked(store, [], n_chunks=max_hamming + 1).select(
            F.col("simhash").alias("s_simhash"), "chunk", "ckey"
        )
        ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("s_simhash")))
        hits_store = (
            bchunks.join(schunks, ["chunk", "ckey"])
            .filter(ham <= max_hamming)
            .select(*KEY)
            .distinct()
        )

    # (b) near-dup of a smaller-keyed doc in the SAME batch
    a = bchunks.alias("a")
    b = bchunks.alias("b")
    smaller = F.struct(*[F.col(f"b.{c}") for c in KEY]) < F.struct(
        *[F.col(f"a.{c}") for c in KEY]
    )
    ham_ab = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    hits_batch = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & smaller,
        )
        .filter(ham_ab <= max_hamming)
        .select(*[F.col(f"a.{c}") for c in KEY])
        .distinct()
    )
    dropped = hits_batch if hits_store is None else hits_store.unionAll(hits_batch).distinct()
    # zero-token docs produce NO fingerprint row (explode of an empty token
    # array) — they cannot be simhash near-dups, so they are survivors; a
    # left join keeps their keys with a NULL simhash. NULL fingerprints in
    # the store never match anything later (chunk keys become NULL, and
    # NULL never equi-joins), and the replay path reads the store file as
    # the survivor set, so they must be IN it or a replay would drop them.
    all_keys = batch_df.select(*KEY).distinct()
    novel_fps = (
        all_keys.join(fps, KEY, "left")
        .join(dropped, KEY, "left_anti")
    )

    # store append: parquet data durable BEFORE the journal names it (a
    # crash in between leaves an orphan file no journal record points at —
    # the replay overwrites it)
    fname = f"batch_{batch_id}.parquet"
    novel_fps.select(*KEY, "simhash").write.mode("overwrite").parquet(
        os.path.join(store_dir, _STORE, fname)
    )
    fps.unpersist()
    journal[str(batch_id)] = {"done": True, "file": fname}
    _save_journal(store_dir, journal)
    keys = spark.read.parquet(os.path.join(store_dir, _STORE, fname))
    return batch_df.join(keys.select(*KEY), KEY, "left_semi")
