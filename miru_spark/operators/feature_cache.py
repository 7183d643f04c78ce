"""Incremental gatherFeatures cache — the lastScoredId protocol, Spark-native.

Reference semantics (miru-plugin/.../solution/MiruAggregateUtil.java:136-249):
per-term feature counts live in a timestamped cache whose sentinel row
carries ``lastScoredId``; a query gathers only activity ids in
``(lastScoredId, answerScoredLastId]``, merges the fresh counts with the
cached ones, and — if the cache turns out to be inconsistent (timestamps
newer than the sentinel, missing sentinel) — discards it and regathers from
id 0. The merged counts are then written back with the new lastScoredId.

Spark-native analog: the cache is a parquet table of feature-combo counts
plus a JSON manifest recording the high-water ``last_scored_id`` and the
generation directory the counts live in. ``FeatureCache.update(events)``
aggregates ONLY rows above the high-water mark (the filter rides into the
parquet scan as a pushed predicate), merges map-side-combined partial counts
with the cached table in one small groupBy, and persists the new generation
with the same write-data-then-manifest ordering every other artifact in this
engine uses (a crash leaves the previous generation intact; orphan staged
generations are swept on the next update, mirroring index/compact.py's
reconcile). The discard path (MiruAggregateUtil.java:204-219) triggers when
the manifest's generation directory is missing or its recorded row count
disagrees with the parquet — update() then recomputes from id 0.

At 100 TB this is the materialized-aggregate pattern: the delta scan touches
only new partitions (events tables are time/id-partitioned in deployment),
the merge shuffles |feature vocabulary| rows, never the fact table.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.storage import load_json, save_json_atomic

_MANIFEST = "manifest.json"
_GEN_PREFIX = "counts_gen_"


class FeatureCache:
    """Persisted incremental feature-count aggregate over an append-only table.

    ``prepare`` maps the raw events DataFrame to (key columns..., weight-free)
    rows — the feature-combo projection (MiruAggregateUtil's Feature pack).
    ``id_col`` is the monotone activity id (the docID/lastScoredId axis).
    """

    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        key_cols: list[str],
        prepare: Callable[[DataFrame], DataFrame],
        id_col: str = "event_id",
    ) -> None:
        self.spark = spark
        self.cache_dir = cache_dir
        self.key_cols = list(key_cols)
        self.prepare = prepare
        self.id_col = id_col
        os.makedirs(cache_dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.cache_dir, _MANIFEST)

    def _load_state(self) -> dict | None:
        """Return a consistent manifest, or None (→ full regather).

        The None path is the reference's discardFeatures: a manifest whose
        generation directory is gone, or whose recorded row count disagrees
        with the parquet, cannot be trusted to merge against.
        """
        m = load_json(self._manifest_path(), None)
        if m is None:
            return None
        gen_dir = os.path.join(self.cache_dir, m["generation"])
        if not os.path.isdir(gen_dir):
            return None
        try:
            rows = self.spark.read.parquet(gen_dir).count()
        except Exception:
            return None
        if rows != m["rows"]:
            return None
        return m

    def _sweep_orphans(self, keep: str | None) -> None:
        """Delete generation dirs the manifest no longer references."""
        for name in os.listdir(self.cache_dir):
            if name.startswith(_GEN_PREFIX) and name != keep:
                shutil.rmtree(os.path.join(self.cache_dir, name), ignore_errors=True)

    # -- protocol ----------------------------------------------------------
    def update(self, events: DataFrame) -> dict:
        """Fold rows with id > lastScoredId into the cache; return stats.

        Stats: ``from_id`` (exclusive low bound actually used), ``delta_rows``
        (fact rows aggregated this call), ``full_recompute`` (discard path
        taken), ``last_scored_id`` (new high water).
        """
        state = self._load_state()
        full_recompute = state is None
        from_id = -1 if full_recompute else int(state["last_scored_id"])

        delta = events.filter(F.col(self.id_col) > F.lit(from_id))
        # One column-pruned pass for the delta's count and new high water.
        head = delta.agg(
            F.count("*").alias("n"), F.max(self.id_col).alias("hi")
        ).first()
        delta_rows = int(head["n"])
        if delta_rows == 0:
            if full_recompute:
                # Nothing to gather and nothing trustworthy cached: persist
                # an empty generation so reads are well-defined.
                empty = self.prepare(events).groupBy(*self.key_cols).agg(
                    F.count("*").alias("n")
                )
                self._persist(empty.filter(F.lit(False)), from_id)
            return {
                "from_id": from_id,
                "delta_rows": 0,
                "full_recompute": full_recompute,
                "last_scored_id": from_id,
            }
        new_hi = int(head["hi"])

        delta_counts = (
            self.prepare(delta).groupBy(*self.key_cols).agg(F.count("*").alias("n"))
        )
        if full_recompute:
            merged = delta_counts
        else:
            cached = self.spark.read.parquet(
                os.path.join(self.cache_dir, state["generation"])
            )
            merged = (
                cached.unionByName(delta_counts)
                .groupBy(*self.key_cols)
                .agg(F.sum("n").alias("n"))
            )
        self._persist(merged, new_hi)
        return {
            "from_id": from_id,
            "delta_rows": delta_rows,
            "full_recompute": full_recompute,
            "last_scored_id": new_hi,
        }

    def _persist(self, counts: DataFrame, last_scored_id: int) -> None:
        gen = f"{_GEN_PREFIX}{uuid.uuid4().hex}"
        gen_dir = os.path.join(self.cache_dir, gen)
        counts.write.mode("overwrite").parquet(gen_dir)
        rows = self.spark.read.parquet(gen_dir).count()
        # Data first, manifest second: a crash here leaves the old manifest
        # pointing at the old (intact) generation; the new dir is an orphan
        # the next update sweeps.
        save_json_atomic(
            self._manifest_path(),
            {"generation": gen, "rows": rows, "last_scored_id": last_scored_id},
        )
        self._sweep_orphans(keep=gen)

    def counts(self) -> DataFrame:
        state = self._load_state()
        if state is None:
            raise FileNotFoundError(
                f"feature cache at {self.cache_dir} is absent or inconsistent; "
                "run update() first"
            )
        return self.spark.read.parquet(os.path.join(self.cache_dir, state["generation"]))

    def last_scored_id(self) -> int:
        state = self._load_state()
        return -1 if state is None else int(state["last_scored_id"])


# --- gate wiring ----------------------------------------------------------
def _events_features(df: DataFrame) -> DataFrame:
    """The gate's feature-combo projection — same combo as gather_features
    (A3): (event_type, user_id % 10)."""
    return df.select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket")
    )


def gather_features_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: split ingestion through the incremental cache must equal
    the one-shot aggregate (the oracle aggregates the full table in SQL).

    Exercises the real protocol: first update sees ids <= median (full
    gather), second update sees the whole table but aggregates ONLY the ids
    above the recorded lastScoredId, then merges with the cached counts.
    """
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    mid = events.agg(
        F.percentile_approx("event_id", 0.5).alias("m")
    ).first()["m"]
    cache_dir = os.path.join(
        "/tmp/miru_spark_feature_cache", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(cache_dir, ignore_errors=True)
    cache = FeatureCache(
        spark,
        cache_dir,
        key_cols=["event_type", "user_bucket"],
        prepare=_events_features,
    )
    first = cache.update(events.filter(F.col("event_id") <= F.lit(int(mid))))
    assert first["full_recompute"]
    second = cache.update(events)
    assert not second["full_recompute"] and second["from_id"] == int(mid)
    return cache.counts().orderBy("event_type", "user_bucket")
