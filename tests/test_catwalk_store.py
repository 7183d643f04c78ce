"""CatwalkModelStore — the persisted saveModel/getModel/repair lifecycle
(CatwalkModelService.java:100-237 analog, operators/catwalk_store.py).

Pins the round-trip the r4 verdict asked for: persist (staged, per-range)
→ reload from disk → merge → values identical to training on the union;
plus the repair path: a damaged range is detected, repaired from id 0 via
the FeatureCache discard contract WITHOUT touching the other ranges'
persisted generations, and the merged model is value-identical again.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from miru_spark.storage import load_json
from miru_spark.operators import relational as rel
from miru_spark.operators.catwalk_store import CatwalkModelStore


@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


@pytest.fixture()
def store_dir(tmp_path):
    return str(tmp_path / "catwalk_store")


def _model_rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "feature_id", "feature_key", "num_hi", "num_am", "denom"
        ).collect()
    )


def test_roundtrip_staged_persist_equals_union_train(spark, sf_dir, events, store_dir):
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    mid = int(events.agg(F.percentile_approx("event_id", 0.5)).first()[0])
    first = store.save_model(events.filter(F.col("event_id") <= F.lit(mid)))
    assert all(s["full_recompute"] for s in first.values())
    second = store.save_model(events)
    # the second fold is INCREMENTAL in every range: from the recorded high
    # water, never a retrain
    assert all(not s["full_recompute"] for s in second.values())
    assert all(s["from_id"] == mid for s in second.values())
    # reload through a fresh instance — disk is the source of truth
    reloaded = CatwalkModelStore(spark, store_dir, sf_dir)
    got = _model_rows(reloaded.merged_model())
    want = _model_rows(rel.catwalk_features(spark, sf_dir))
    assert got == want


def test_registration_fixes_gather_sets(spark, sf_dir, events, store_dir):
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    q = load_json(os.path.join(store_dir, "catwalk_query.json"), None)
    assert q is not None and q["hi_ids"] == store.hi_ids
    # reopening NEVER recomputes the definition; a mismatched range count is
    # a loud error, not a silent re-registration
    again = CatwalkModelStore(spark, store_dir, sf_dir)
    assert again.hi_ids == store.hi_ids and again.am_ids == store.am_ids
    with pytest.raises(ValueError, match="n_ranges"):
        CatwalkModelStore(spark, store_dir, sf_dir, n_ranges=7)


def test_merged_model_refuses_partial_store(spark, sf_dir, events, store_dir):
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    store.save_model(events)
    shutil.rmtree(os.path.join(store_dir, "range_1"))
    with pytest.raises(FileNotFoundError, match="range 1"):
        store.merged_model()


def test_repair_damaged_range_without_touching_others(spark, sf_dir, events, store_dir):
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    store.save_model(events)
    want = _model_rows(store.merged_model())
    gen_before = {
        r: load_json(os.path.join(store_dir, f"range_{r}", "manifest.json"), None)["generation"]
        for r in range(store.n_ranges)
    }

    # damage range 2: delete its generation directory (manifest now points at
    # nothing — the FeatureCache inconsistency the discard contract covers)
    man = load_json(os.path.join(store_dir, "range_2", "manifest.json"), None)
    shutil.rmtree(os.path.join(store_dir, "range_2", man["generation"]))

    assert store.stale_ranges(events) == [2]
    stats = store.repair(events, 2)
    assert stats["full_recompute"]  # regathered from id 0

    assert store.stale_ranges(events) == []
    assert _model_rows(store.merged_model()) == want
    # the OTHER ranges' persisted generations were not rewritten
    for r in (0, 1, 3):
        man_r = load_json(os.path.join(store_dir, f"range_{r}", "manifest.json"), None)
        assert man_r["generation"] == gen_before[r], r


def test_stale_range_folds_delta_only(spark, sf_dir, events, store_dir):
    """A range behind the high water repairs by folding ONLY the delta."""
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    mid = int(events.agg(F.percentile_approx("event_id", 0.5)).first()[0])
    store.save_model(events.filter(F.col("event_id") <= F.lit(mid)))
    # all ranges are stale vs the full table's high water
    assert store.stale_ranges(events) == list(range(store.n_ranges))
    for r in range(store.n_ranges):
        stats = store.repair(events, r)
        assert not stats["full_recompute"] and stats["from_id"] == mid
    assert store.stale_ranges(events) == []
    assert _model_rows(store.merged_model()) == _model_rows(
        rel.catwalk_features(spark, sf_dir)
    )


def test_strut_scores_from_saved_store_rank_identical(spark, sf_dir, events, store_dir):
    rel.strut_model_cache_clear()
    store = CatwalkModelStore(spark, store_dir, sf_dir)
    store.save_model(events)
    got = rel._strut_rank(spark, sf_dir, store.merged_model(), k=20).collect()
    want = rel.strut_scores(spark, sf_dir, k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    rel.strut_model_cache_clear()


def test_custom_n_ranges_counts_every_event(spark, sf_dir, events, tmp_path):
    """Regression (r5 review): the range hash must use the STORE's n_ranges,
    not the module constant — with n_ranges=2 every event still lands in
    exactly one range, so the merged model equals union training. Under the
    old code, events with pmod(dayofyear, 4) in {2, 3} were silently dropped
    from both ranges."""
    store = CatwalkModelStore(spark, str(tmp_path / "s2"), sf_dir, n_ranges=2)
    store.save_model(events)
    assert _model_rows(store.merged_model()) == _model_rows(
        rel.catwalk_features(spark, sf_dir)
    )
