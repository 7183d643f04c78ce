"""Persisted per-range Catwalk model store — the CatwalkModelService
lifecycle (miru-catwalk-deployable/.../CatwalkModelService.java:100-237):
``saveModel`` persists ModelFeatureScores per partition range, ``getModel``
merges the persisted ranges, and stale/damaged ranges are REPAIRED
incrementally instead of retraining the world.

Spark-native composition: each partition range is ONE FeatureCache
(operators/feature_cache.py — the lastScoredId delta-gather protocol with
write-data-then-manifest crash safety), keyed by (feature_id, feature_key,
kind). The numerator gather sets are computed once at model REGISTRATION
and persisted in ``catwalk_query.json`` (the CatwalkQuery modelFilters are
part of the model definition, CatwalkQuery.java) — every later fold and
every repair counts against the SAME sets, which is exactly what makes
per-range sums merge losslessly (catwalk_merged's proven-exact merge) and
incremental folds equal a full retrain.

Scale shape: ``save_model`` folds only rows above each range's high-water
mark (pushed-predicate delta scan); ``merged_model`` reads |feature
vocabulary| × n_ranges count rows — never the fact table; ``repair``
touches one range. At 100 TB the fact scan happens once per
range-increment, never at query time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.storage import load_json, save_json_atomic
from miru_spark.operators.feature_cache import FeatureCache
from miru_spark.operators.relational import (
    _CATWALK_N_RANGES,
    _catwalk_numerator_sets,
    catwalk_kind_rows,
    model_from_kind_counts,
)

_QUERY_JSON = "catwalk_query.json"


class CatwalkModelStore:
    """saveModel / getModel / repair over per-range persisted FeatureScores."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        sf_dir: str,
        n_ranges: int = _CATWALK_N_RANGES,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.n_ranges = n_ranges
        os.makedirs(store_dir, exist_ok=True)
        q = load_json(os.path.join(store_dir, _QUERY_JSON), None)
        if q is None:
            # model registration: fix the CatwalkQuery definition (numerator
            # gather sets + range count) ONCE and persist it — reopening the
            # store never recomputes the sets, so a grown corpus can only
            # change counts, never what is being counted.
            hi_ids, am_ids = _catwalk_numerator_sets(spark, sf_dir)
            q = {"hi_ids": hi_ids, "am_ids": am_ids, "n_ranges": n_ranges}
            save_json_atomic(os.path.join(store_dir, _QUERY_JSON), q)
        if q["n_ranges"] != n_ranges:
            raise ValueError(
                f"store at {store_dir} was registered with n_ranges="
                f"{q['n_ranges']}, reopened with {n_ranges}"
            )
        self.hi_ids = list(q["hi_ids"])
        self.am_ids = list(q["am_ids"])

    # -- internals -----------------------------------------------------------
    def _range_cache(self, range_id: int) -> FeatureCache:
        hi, am = self.hi_ids, self.am_ids

        def prepare(ev: DataFrame) -> DataFrame:
            return catwalk_kind_rows(
                ev, hi, am, range_id=range_id, n_ranges=self.n_ranges
            )

        return FeatureCache(
            self.spark,
            os.path.join(self.store_dir, f"range_{range_id}"),
            key_cols=["feature_id", "feature_key", "kind"],
            prepare=prepare,
            id_col="event_id",
        )

    # -- saveModel ------------------------------------------------------------
    def save_model(self, events: DataFrame) -> dict[int, dict]:
        """Fold events above each range's high-water mark into that range's
        persisted model (CatwalkModelService.saveModel). Returns per-range
        update stats (FeatureCache.update's dict). Every range's high water
        advances to the global max id even when the range gained no rows, so
        repeated saves never rescan old data."""
        return {r: self._range_cache(r).update(events) for r in range(self.n_ranges)}

    # -- getModel -------------------------------------------------------------
    def merged_model(self) -> DataFrame:
        """The merged FeatureScore model from the PERSISTED ranges (getModel,
        CatwalkModelService.java:100-237 merge()): union the per-range kind
        counts and sum — provably equal to union-trained counts because every
        range counted against the registered gather sets. Raises if any range
        is absent/inconsistent: serving from a silently-partial model would
        return wrong scores (use stale_ranges()/repair() first)."""
        parts = []
        for r in range(self.n_ranges):
            cache = self._range_cache(r)
            try:
                parts.append(cache.counts())
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"range {r} of the catwalk store at {self.store_dir} is "
                    "absent or inconsistent — repair(events, range_id) it "
                    "before serving"
                ) from e
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        return model_from_kind_counts(union)

    # -- repair ---------------------------------------------------------------
    def stale_ranges(self, events: DataFrame) -> list[int]:
        """Ranges that cannot serve: manifest missing/inconsistent (the
        FeatureCache discard contract) or behind the events high water."""
        hi = events.agg(F.max("event_id")).first()[0]
        hi = -1 if hi is None else int(hi)
        out = []
        for r in range(self.n_ranges):
            cache = self._range_cache(r)
            if cache._load_state() is None or cache.last_scored_id() < hi:
                out.append(r)
        return out

    def repair(self, events: DataFrame, range_id: int) -> dict:
        """Repair ONE range (CatwalkModelService's repairable-range path):
        a damaged range regathers from id 0 via FeatureCache's discard
        contract; a merely-stale range folds only the delta. Other ranges'
        generations are untouched — pinned by test_catwalk_store.py."""
        return self._range_cache(range_id).update(events)


# --- gate wiring -------------------------------------------------------------
_GATE_STORE_MEMO: dict[str, str] = {}  # sf_dir -> completed store_dir


def _store_for_gate(spark: SparkSession, sf_dir: str) -> CatwalkModelStore:
    """Fresh store exercising the REAL lifecycle: register, then persist via
    TWO staged saves split at the median event_id — the second fold must be
    incremental (from the recorded high water), proving the gate reads a
    model that was genuinely assembled from persisted partial ranges, not a
    one-shot retrain wearing a costume. Memoized per (process, sf_dir): both
    gates (catwalk_saved_model, strut_scores_saved) read the SAME persisted
    store — each still reloads it from disk through a fresh instance, so the
    round-trip claim is untouched while the fact scan happens once."""
    import shutil

    if sf_dir in _GATE_STORE_MEMO:
        return CatwalkModelStore(spark, _GATE_STORE_MEMO[sf_dir], sf_dir)

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    store_dir = os.path.join(
        "/tmp/miru_spark_catwalk_store", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(store_dir, ignore_errors=True)
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    mid = int(ev.agg(F.percentile_approx("event_id", 0.5)).first()[0])
    first = store.save_model(ev.filter(F.col("event_id") <= F.lit(mid)))
    second = store.save_model(ev)
    assert all(s["full_recompute"] for s in first.values())
    assert all(not s["full_recompute"] and s["from_id"] == mid for s in second.values())
    _GATE_STORE_MEMO[sf_dir] = store.store_dir
    return store


def catwalk_saved_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the merged model served from the PERSISTED per-range store must
    hash-match training on the union (the oracle is catwalk_features' exact
    SQL) — the round-trip persist → reload → merge with zero value drift."""
    store = _store_for_gate(spark, sf_dir)
    # reload through a fresh instance: the gate reads DISK, not driver state
    reloaded = CatwalkModelStore(spark, store.store_dir, sf_dir)
    return reloaded.merged_model().orderBy("feature_id", "feature_key")


def strut_scores_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: Strut top-k served from the persisted+merged store model —
    score-identical to strut_scores' retrain (same oracle SQL), through the
    shared _strut_rank tail so the score contract cannot drift."""
    from miru_spark.operators.relational import _strut_rank

    store = _store_for_gate(spark, sf_dir)
    reloaded = CatwalkModelStore(spark, store.store_dir, sf_dir)
    return _strut_rank(spark, sf_dir, reloaded.merged_model(), k=20)
