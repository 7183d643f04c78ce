"""Incremental gatherFeatures cache (MiruAggregateUtil.java:136-249 analog).

Pins the lastScoredId protocol: split ingestion merges to exactly the
one-shot aggregate, re-updates with no new ids are no-ops, and an
inconsistent cache takes the discard-and-regather path instead of merging
against garbage.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from miru_spark.storage import load_json, save_json_atomic
from miru_spark.operators.feature_cache import FeatureCache, _events_features

SF_DIR = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)


@pytest.fixture()
def events(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))


def _cache(spark, tmp_path):
    return FeatureCache(
        spark,
        str(tmp_path / "fc"),
        key_cols=["event_type", "user_bucket"],
        prepare=_events_features,
    )


def _as_sorted_tuples(df):
    return sorted(tuple(r) for r in df.collect())


def test_split_ingestion_matches_one_shot(spark, events, tmp_path):
    expected = _as_sorted_tuples(
        events.groupBy("event_type", (F.col("user_id") % 10).alias("user_bucket"))
        .agg(F.count("*").alias("n"))
    )
    mid = events.agg(F.percentile_approx("event_id", 0.5)).first()[0]
    cache = _cache(spark, tmp_path)

    first = cache.update(events.filter(F.col("event_id") <= int(mid)))
    assert first["full_recompute"] and first["from_id"] == -1
    assert cache.last_scored_id() == int(
        events.filter(F.col("event_id") <= int(mid)).agg(F.max("event_id")).first()[0]
    )

    first_hi = int(
        events.filter(F.col("event_id") <= int(mid)).agg(F.max("event_id")).first()[0]
    )
    second = cache.update(events)
    # The merge pass aggregated ONLY the delta, not the whole table.
    assert not second["full_recompute"]
    assert second["from_id"] == first_hi
    assert second["delta_rows"] == events.filter(
        F.col("event_id") > first_hi
    ).count()

    assert _as_sorted_tuples(cache.counts()) == expected


def test_no_new_ids_is_a_noop(spark, events, tmp_path):
    cache = _cache(spark, tmp_path)
    cache.update(events)
    gen_before = load_json(os.path.join(cache.cache_dir, "manifest.json"), None)
    stats = cache.update(events)
    assert stats["delta_rows"] == 0 and not stats["full_recompute"]
    gen_after = load_json(os.path.join(cache.cache_dir, "manifest.json"), None)
    assert gen_before == gen_after  # no generation churn on empty delta


def test_inconsistent_cache_discards_and_regathers(spark, events, tmp_path):
    expected = _as_sorted_tuples(
        events.groupBy("event_type", (F.col("user_id") % 10).alias("user_bucket"))
        .agg(F.count("*").alias("n"))
    )
    cache = _cache(spark, tmp_path)
    cache.update(events)
    # Tamper: manifest points at a missing generation (crash-orphan analog of
    # MiruAggregateUtil's discardFeatures inconsistency, :204-219).
    manifest_path = os.path.join(cache.cache_dir, "manifest.json")
    m = load_json(manifest_path, None)
    m["generation"] = "counts_gen_deadbeef"
    save_json_atomic(manifest_path, m)

    stats = cache.update(events)
    assert stats["full_recompute"] and stats["from_id"] == -1
    assert _as_sorted_tuples(cache.counts()) == expected


def test_orphan_generations_are_swept(spark, events, tmp_path):
    cache = _cache(spark, tmp_path)
    cache.update(events.filter(F.col("event_id") % 2 == 0))
    orphan = os.path.join(cache.cache_dir, "counts_gen_orphan")
    os.makedirs(orphan, exist_ok=True)
    cache.update(events)
    assert not os.path.exists(orphan)
    gens = [n for n in os.listdir(cache.cache_dir) if n.startswith("counts_gen_")]
    assert len(gens) == 1  # exactly the live generation remains
