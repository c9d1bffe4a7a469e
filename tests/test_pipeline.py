"""End-to-end pipeline test: bronze JSON fixtures → silver → gold
(SURVEY.md §5.2.2 golden end-to-end)."""

import pytest
import datetime

from rustcheatersdatapipeline_spark.pipeline import run_batch

from .fixtures import write_fixtures

INTERVAL_END = datetime.datetime(2022, 1, 15, 12, 0, 0)


def test_full_batch_end_to_end(spark, tmp_path):
    write_fixtures(tmp_path)
    res = run_batch(spark, str(tmp_path), INTERVAL_END)
    assert res.succeeded, (res.skipped, res.failed)
    assert len(res.gold) == 17  # 8 dims + date_dim + 8 facts
    # spot checks across the layers
    assert res.gold["player_dim"].count() == 2
    assert res.gold["achievement_fact"].count() == 2
    assert res.gold["bans_fact"].count() == 2
    # second identical batch is a no-op (idempotent warehouse)
    res2 = run_batch(spark, str(tmp_path), INTERVAL_END, existing=res.gold)
    for name in res.gold:
        assert sorted(map(tuple, res.gold[name].collect())) == sorted(
            map(tuple, res2.gold[name].collect())
        ), name


@pytest.mark.slow
def test_transactional_batches_through_gold_store(spark, tmp_path):
    """Full intervals publishing through GoldStore: interval 2 reads
    interval 1's committed state from the manifest (cross-batch upsert
    accumulation), replays are no-ops, versions advance, and the final
    tables equal the plain existing= chaining."""
    from rustcheatersdatapipeline_spark import plan_cache
    from rustcheatersdatapipeline_spark.backfill import run_interval_range
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    (tmp_path / "bronze").mkdir()
    write_fixtures(tmp_path / "bronze")
    bronze = str(tmp_path / "bronze")
    store = GoldStore(spark, str(tmp_path / "gold"))
    step = datetime.timedelta(hours=1)
    start = INTERVAL_END - step

    ((_, res1, v1),) = run_interval_range(spark, store, lambda _: bronze, start, start + step)
    assert res1.succeeded and v1 == 1
    assert store.read("player_dim").count() == 2

    # identical second interval: key-idempotent upserts → same tables
    ((ie2, res2, v2),) = run_interval_range(
        spark, store, lambda _: bronze, start, start + 2 * step
    )
    assert res2.succeeded and v2 == 2
    plain = run_batch(spark, bronze, ie2, existing=res1.gold)
    try:
        for name in plain.gold:
            cols = sorted(plain.gold[name].columns)  # partitionBy reorders cols
            assert sorted(map(tuple, store.read(name).select(*cols).collect())) == sorted(
                map(tuple, plain.gold[name].select(*cols).collect())
            ), name
    finally:
        plan_cache.release(spark, bronze)


def test_missing_endpoint_is_skipped_not_fatal(spark, tmp_path):
    """S15 sensor-skip + none_failed_min_one_success: a skipped branch
    holds back only its own loads; everything else still reaches gold."""
    paths = write_fixtures(tmp_path)
    import os

    os.remove(paths["player_stats"])
    res = run_batch(spark, str(tmp_path), INTERVAL_END)
    assert "stats_dim" in res.skipped and "stats_fact" in res.skipped
    assert not res.failed
    # gold builds from the successful branches; only the stats pair is out
    assert res.not_loaded == ["stats_dim", "stats_fact"]
    assert len(res.gold) == 15  # 17 minus the stats pair
    assert res.gold["player_dim"].count() == 2
    assert res.gold["bans_fact"].count() == 2


def test_failed_branch_retries_once_then_succeeds(spark, tmp_path, monkeypatch):
    """Reference retries: 1 (rust_twitter_steam_pipeline.py:40-41) — a
    transiently-failing transform succeeds on the bounded re-attempt."""
    from rustcheatersdatapipeline_spark.transforms import builders

    write_fixtures(tmp_path)
    orig_fn, src = builders.DIM_TRANSFORMS["group_dim"]
    calls = {"n": 0}

    def flaky(df, interval_end):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return orig_fn(df, interval_end)

    monkeypatch.setitem(builders.DIM_TRANSFORMS, "group_dim", (flaky, src))
    res = run_batch(spark, str(tmp_path), INTERVAL_END)
    assert res.succeeded, (res.skipped, res.failed)
    assert "group_dim" in res.retried
    assert "group_dim" not in res.failed
    assert len(res.gold) == 17
