"""The hourly batch's independent branches run on one core-bounded pool
(``session.concurrently``): bronze reads, silver branches and the gold
stage writes. These tests pin what must not depend on the pool: the
order of results and errors, the batch's outcome, cache ownership on a
failure, the caller's job group and tags, and a rejected publish that
leaves no half-written table and no live thread behind."""

import copy
import datetime
import glob
import json
import os
import sys
import threading
import time
import warnings

import pytest
from pyspark import StorageLevel

from rustcheatersdatapipeline_spark import pipeline, plan_cache
from rustcheatersdatapipeline_spark.pipeline import read_bronze, run_batch
from rustcheatersdatapipeline_spark.session import concurrently
from rustcheatersdatapipeline_spark.warehouse.persist import ExpectationError, GoldStore

from .fixtures import FIXTURES, write_fixtures

INTERVAL_END = datetime.datetime(2022, 1, 15, 12, 0, 0)


def test_concurrently_bounds_the_pool_and_keeps_item_order(spark):
    """More items than cores, with a short switch interval: results and
    the raised error follow item order, at most ``defaultParallelism``
    calls overlap, and no pool thread outlives the call."""
    cap = spark.sparkContext.defaultParallelism
    lock = threading.Lock()
    live = {"now": 0, "peak": 0}

    def square(x):
        with lock:
            live["now"] += 1
            live["peak"] = max(live["peak"], live["now"])
        time.sleep(0.001 * (x % 3))
        with lock:
            live["now"] -= 1
        return x * x

    def fail_late_first(x):
        # item 1 fails after item 5 has already failed
        time.sleep(0.2 if x == 1 else 0.0)
        if x in (1, 5):
            raise ValueError(f"item {x}")
        return x

    threads = threading.active_count()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert concurrently(spark, square, list(range(64))) == [x * x for x in range(64)]
        with pytest.raises(ValueError, match="item 1"):
            concurrently(spark, fail_late_first, list(range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert 1 < live["peak"] <= cap
    assert threading.active_count() == threads


def test_failed_bronze_read_releases_every_cache(spark, tmp_path, monkeypatch):
    """An endpoint read that raises something other than a missing file
    (here the file vanishes between listing and the corrupt-record
    count) fails the call, and every cache the call made is released:
    nothing is left in the CacheManager or among the persistent RDDs."""
    paths = write_fixtures(tmp_path)
    real = pipeline._read_endpoint
    reads = []

    def read_then_lose(spark, bronze_dir, name):
        df = real(spark, bronze_dir, name)
        reads.append(df)
        if name == "player_steam_badges":
            os.remove(paths[name])
        return df

    monkeypatch.setattr(pipeline, "_read_endpoint", read_then_lose)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(Exception, match="player_steam_badges"):
        read_bronze(spark, str(tmp_path))
    assert len(reads) == 8
    assert all(df.storageLevel == StorageLevel(False, False, False, False) for df in reads)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_batch_result_is_deterministic_under_the_pool(spark, tmp_path, monkeypatch):
    """One corrupt endpoint, one missing endpoint, one fact with a
    duplicate row and one branch that fails once: every field of the
    result reads in registry order, exactly as a serial run reports it."""
    from rustcheatersdatapipeline_spark.transforms import builders

    paths = write_fixtures(tmp_path)
    with open(paths["player_stats"], "w") as fh:
        fh.write("{this is not json")
    os.remove(paths["player_bans"])
    doc = copy.deepcopy(FIXTURES["player_friendlists"])
    friends = doc["responses"][0]["friendslist"]["friends"]
    friends.append(dict(friends[0]))
    with open(paths["player_friendlists"], "w") as fh:
        fh.write(json.dumps(doc))
    orig_fn, src = builders.DIM_TRANSFORMS["group_dim"]
    calls = {"n": 0}

    def flaky(df, interval_end):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return orig_fn(df, interval_end)

    monkeypatch.setitem(builders.DIM_TRANSFORMS, "group_dim", (flaky, src))
    res = run_batch(spark, str(tmp_path), INTERVAL_END)
    try:
        assert list(res.failed.items()) == [
            ("stats_dim", "1 corrupt bronze record(s)"),
            ("friends_fact", "Data Contains Duplicate Rows: 1 duplicates"),
            ("stats_fact", "1 corrupt bronze record(s)"),
        ]
        assert res.skipped == ["bans_fact"]
        assert res.retried == ["group_dim"]
        assert res.not_loaded == ["bans_fact", "friends_fact", "stats_dim", "stats_fact"]
        assert list(res.gold) == [
            "date_dim", "achievement_dim", "badges_dim", "relationship_dim",
            "game_dim", "group_dim", "player_dim", "friend_dim",
            "achievement_fact", "badges_fact", "game_playing_banned_fact",
            "game_playtime_fact", "groups_fact",
        ]
    finally:
        plan_cache.release(spark, str(tmp_path))


def _job_tags(sc, job_id: int) -> list[str]:
    return sc._jsc.sc().statusStore().job(job_id).jobTags().mkString("\n").split("\n")


def test_pool_jobs_keep_the_callers_group_and_tags(spark, tmp_path):
    """Every job the batch and its publish launch, pool threads included,
    runs in the caller's job group and carries the caller's session tag,
    so per-group job counts stay valid; and the pool never falls back to
    the tag-dropping form of ``inheritable_thread_target``."""
    (tmp_path / "bronze").mkdir()
    write_fixtures(tmp_path / "bronze")
    sc = spark.sparkContext
    group, tag = "pool-observability", "pool-tag"
    store = GoldStore(spark, str(tmp_path / "gold"))

    def last_job() -> int:
        spark.range(1).collect()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "pool observability")
    spark.addTag(tag)
    try:
        first = last_job()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            res = run_batch(spark, str(tmp_path / "bronze"), INTERVAL_END)
            try:
                store.publish(res.gold, 0)
            finally:
                plan_cache.release(spark, str(tmp_path / "bronze"))
        last = last_job()
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    launched = set(range(first + 1, last))
    assert len(launched) > 50  # the bronze counts, the D2/D3 checks, the writes
    assert launched <= set(sc.statusTracker().getJobIdsForGroup(group))
    # a session tag reaches a job as spark-session-<id>[-thread-<id>]-<tag>
    untagged = [
        j for j in launched if not any(t.endswith(f"-{tag}") for t in _job_tags(sc, j))
    ]
    assert not untagged, [_job_tags(sc, j) for j in untagged[:3]]


def test_staging_failure_waits_for_in_flight_writes(spark, tmp_path):
    """The second of three tables violates an expectation while the
    others are being written: the error names it, every write finished
    (no ``_temporary`` dir), no pool thread is left, and the store is
    unchanged."""
    store = GoldStore(spark, str(tmp_path / "gold"))

    def df(rows):
        return spark.createDataFrame(rows, "steam_id string, level int")

    v1 = store.publish({"first_dim": df([("a", 1)])}, 0)
    threads = threading.active_count()
    tables = {
        "first_dim": df([("a", 2), ("b", 3)]),
        "second_dim": df([("c", 4), ("d", -1)]),
        "third_dim": df([("e", 5), ("f", 6)]),
    }
    with pytest.raises(ExpectationError, match="'second_dim'"):
        store.publish(tables, v1, expectations={"second_dim": ["level >= 0"]})
    assert threading.active_count() == threads
    txns = glob.glob(os.path.join(store.path, "_data", "*", ""))
    assert len(txns) == 2
    assert not glob.glob(os.path.join(store.path, "_data", "**", "_temporary"), recursive=True)
    assert store.current_version() == v1
    assert [tuple(r) for r in store.read("first_dim").collect()] == [("a", 1)]
