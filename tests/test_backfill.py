"""Backfill driver: resumable catchup over an interval range
(reference: dags/rust_twitter_steam_pipeline.py:44-51 hourly schedule,
max_active_runs=1, Airflow catchup semantics)."""

import copy
import datetime as dt
import json
import os

import pytest

from rustcheatersdatapipeline_spark import plan_cache
from rustcheatersdatapipeline_spark.backfill import (
    PROGRESS_TABLE,
    completed_intervals,
    interval_ends,
    run_interval_range,
)
from rustcheatersdatapipeline_spark.warehouse.persist import ConcurrentWriteError, GoldStore
from tests.fixtures import FIXTURES, write_fixtures

START = dt.datetime(2021, 10, 2, 0, 0, 0)
STEP = dt.timedelta(hours=1)


@pytest.fixture()
def bronze(tmp_path):
    (tmp_path / "bronze").mkdir()
    write_fixtures(tmp_path / "bronze")
    return str(tmp_path / "bronze")


def _assert_same_gold(store, clean):
    """Every gold table of ``store`` holds ``clean``'s rows."""
    for name in store.current_manifest()["tables"]:
        if name == PROGRESS_TABLE:
            continue
        cols = sorted(store.read(name).columns)
        assert sorted(map(tuple, store.read(name).select(*cols).collect())) == sorted(
            map(tuple, clean.read(name).select(*cols).collect())
        ), name


def test_interval_schedule_is_airflow_shaped():
    ends = interval_ends(START, START + 3 * STEP, STEP)
    assert ends == [START + STEP, START + 2 * STEP, START + 3 * STEP]
    assert interval_ends(START, START, STEP) == []
    with pytest.raises(ValueError):
        interval_ends(START, START + STEP, dt.timedelta(0))


@pytest.mark.slow
def test_backfill_runs_every_interval_once(spark, tmp_path, bronze):
    store = GoldStore(spark, str(tmp_path / "gold"))
    ran = run_interval_range(
        spark, store, lambda _: bronze, START, START + 3 * STEP
    )
    assert [ie for ie, _, _ in ran] == interval_ends(START, START + 3 * STEP, STEP)
    assert all(res.succeeded for _, res, _ in ran)
    assert len(completed_intervals(store)) == 3
    # key-idempotent upserts: three identical intervals, still 2 players
    assert store.read("player_dim").count() == 2
    # a full rerun of the same range is a pure no-op
    assert run_interval_range(
        spark, store, lambda _: bronze, START, START + 3 * STEP
    ) == []


@pytest.mark.slow
def test_backfill_crash_midrange_resumes_without_duplicates(
    spark, tmp_path, bronze, monkeypatch
):
    """Crash while interval 2 is uncommitted: rerun must redo ONLY
    intervals 2 and 3, and the converged store must equal the
    uninterrupted run's (no duplicate rows, no duplicate progress)."""
    import rustcheatersdatapipeline_spark.backfill as bf

    store = GoldStore(spark, str(tmp_path / "gold"))
    calls = {"n": 0}
    real_run_batch = bf.run_batch

    def crashing_run_batch(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-range")
        return real_run_batch(*a, **k)

    monkeypatch.setattr(bf, "run_batch", crashing_run_batch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_interval_range(spark, store, lambda _: bronze, START, START + 3 * STEP)
    assert len(completed_intervals(store)) == 1  # interval 1 committed

    ran = run_interval_range(
        spark, store, lambda _: bronze, START, START + 3 * STEP
    )
    # resumed exactly at interval 2 — interval 1 never re-ran
    assert [ie for ie, _, _ in ran] == [START + 2 * STEP, START + 3 * STEP]
    assert calls["n"] == 4  # 1 ok + 1 crash + 2 resumed
    assert len(completed_intervals(store)) == 3

    # converged state == an uninterrupted serial run on a fresh store
    clean = GoldStore(spark, str(tmp_path / "gold_clean"))
    run_interval_range(spark, clean, lambda _: bronze, START, START + 3 * STEP)
    _assert_same_gold(store, clean)


def test_progress_commits_atomically_with_gold(spark, tmp_path, bronze):
    """The progress row and the interval's tables land in ONE manifest
    version — completion can never be recorded without visibility."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    ran = run_interval_range(
        spark, store, lambda _: bronze, START, START + STEP
    )
    (_, res, version) = ran[0]
    m = store.manifest_at(version)
    assert PROGRESS_TABLE in m["tables"]
    assert "player_dim" in m["tables"]
    row = store.read(PROGRESS_TABLE).collect()[0]
    assert row["interval_end"] == (START + STEP).isoformat()
    assert "player_dim" in row["loaded"] and row["failed"] == []


def test_racing_driver_skips_interval_committed_after_resume_check(
    spark, tmp_path, bronze, monkeypatch
):
    """Two racing drivers: B reads the resume set, then A commits the
    interval. B's build attempt re-checks the progress table it was
    handed (which now holds A's row) and must SKIP — no second run, no
    duplicate progress row (ADVICE r9: the re-check lives inside
    build(), so it also covers the lost-CAS rebuild path)."""
    import rustcheatersdatapipeline_spark.backfill as bf

    store = GoldStore(spark, str(tmp_path / "gold"))
    # driver A commits interval 1
    run_interval_range(spark, store, lambda _: bronze, START, START + STEP)
    # driver B raced: its upfront resume check saw an EMPTY progress set
    monkeypatch.setattr(bf, "completed_intervals", lambda s: set())
    calls = {"n": 0}
    real_run_batch = bf.run_batch

    def counting_run_batch(*a, **k):
        calls["n"] += 1
        return real_run_batch(*a, **k)

    monkeypatch.setattr(bf, "run_batch", counting_run_batch)
    ran = bf.run_interval_range(spark, store, lambda _: bronze, START, START + STEP)
    assert ran == []  # the loser skipped instead of re-running
    assert calls["n"] == 0  # the batch itself never executed
    rows = store.read(PROGRESS_TABLE).collect()
    assert len(rows) == 1  # exactly one progress row for the interval


def test_first_publish_commits_an_empty_partitioned_fact(spark, tmp_path):
    """With no profile in game, game_playing_banned_fact is empty: its
    partitioned write lands no file. A fresh store's first publish still
    commits it, with ``rows: 0`` and the fact's schema, and reads it back
    as an empty frame."""
    doc = copy.deepcopy(FIXTURES["player_summaries"])
    for r in doc["responses"]:
        for p in r["response"]["players"]:
            p.pop("gameid", None)
    paths = write_fixtures(tmp_path)
    with open(paths["player_summaries"], "w") as fh:
        fh.write(json.dumps(doc))
    store = GoldStore(spark, str(tmp_path / "gold"))
    ((_, res, version),) = run_interval_range(
        spark, store, lambda _: str(tmp_path), START, START + STEP
    )
    assert res.succeeded and not res.not_loaded
    entry = store.manifest_at(version)["tables"]["game_playing_banned_fact"]
    assert (entry["rows"], entry["files"]) == (0, [])
    empty = store.read("game_playing_banned_fact")
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame(
        [], "player_sk int, game_sk int, date_sk int"
    ).schema


def test_backfill_releases_its_bronze_caches(spark, tmp_path, bronze, monkeypatch):
    """Every interval's bronze caches are unpersisted once its publish
    resolves. A build that lost the CAS race releases its caches before
    the rebuild, so the rebuild reads the bronze as it is now: here a
    profile renamed while the lost attempt was in flight."""
    real_publish = GoldStore.publish
    lost = []

    def publish_losing_once(self, *a, **k):
        if not lost:
            lost.append(1)
            doc = copy.deepcopy(FIXTURES["player_summaries"])
            doc["responses"][0]["response"]["players"][0]["personaname"] = "renamed"
            with open(os.path.join(bronze, "player_summaries.json"), "w") as fh:
                fh.write(json.dumps(doc))
            raise ConcurrentWriteError("simulated lost race")
        return real_publish(self, *a, **k)

    monkeypatch.setattr(GoldStore, "publish", publish_losing_once)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    store = GoldStore(spark, str(tmp_path / "gold"))
    ran = run_interval_range(spark, store, lambda _: bronze, START, START + 2 * STEP)
    assert lost and len(ran) == 2 and all(res.succeeded for _, res, _ in ran)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before
    # the rebuild of interval 1 itself saw the rename, not a stale cache
    first = store.read_at("player_dim", ran[0][2])
    names = {r["persona_name"] for r in first.collect()}
    assert "renamed" in names and "cheater_one" not in names


def test_backfill_bronze_reads_are_registry_owned_per_interval(
    spark, tmp_path, bronze, monkeypatch
):
    """Over a 3-interval backfill the registry holds the 8 bronze reads
    while an interval publishes and none once it has resolved; after the
    call no persistent RDD it added is left."""
    import rustcheatersdatapipeline_spark.backfill as bf

    seen = {"publish": [], "batch": []}
    real_publish = GoldStore.publish
    real_run_batch = bf.run_batch

    def publish(self, *a, **k):
        seen["publish"].append(len(plan_cache.registered(spark, bronze)))
        return real_publish(self, *a, **k)

    def run_batch(*a, **k):
        seen["batch"].append(len(plan_cache.registered(spark, bronze)))
        return real_run_batch(*a, **k)

    monkeypatch.setattr(GoldStore, "publish", publish)
    monkeypatch.setattr(bf, "run_batch", run_batch)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    store = GoldStore(spark, str(tmp_path / "gold"))
    ran = bf.run_interval_range(spark, store, lambda _: bronze, START, START + 3 * STEP)
    assert len(ran) == 3 and all(res.succeeded for _, res, _ in ran)
    assert seen == {"publish": [8, 8, 8], "batch": [0, 0, 0]}
    assert plan_cache.registered(spark, bronze) == []
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_lost_race_rebuild_reuses_unchanged_bronze_reads(
    spark, tmp_path, bronze, monkeypatch
):
    """A build that loses the CAS race over unchanged bronze is rebuilt
    on the registry's reads: 8 endpoint reads across both attempts, not
    16, and the committed gold equals a run without a race."""
    from rustcheatersdatapipeline_spark import pipeline

    real_publish = GoldStore.publish
    lost = []

    def publish_losing_once(self, *a, **k):
        if not lost:
            lost.append(1)
            raise ConcurrentWriteError("simulated lost race")
        return real_publish(self, *a, **k)

    real_read = pipeline._read_endpoint
    reads = []

    def counting_read(*a):
        reads.append(a[-1])
        return real_read(*a)

    monkeypatch.setattr(pipeline, "_read_endpoint", counting_read)
    clean = GoldStore(spark, str(tmp_path / "gold_clean"))
    run_interval_range(spark, clean, lambda _: bronze, START, START + STEP)
    reads.clear()
    monkeypatch.setattr(GoldStore, "publish", publish_losing_once)
    store = GoldStore(spark, str(tmp_path / "gold"))
    ((_, res, _),) = run_interval_range(spark, store, lambda _: bronze, START, START + STEP)
    assert lost and res.succeeded
    assert len(reads) == 8 and len(set(reads)) == 8
    assert plan_cache.registered(spark, bronze) == []
    _assert_same_gold(store, clean)


@pytest.mark.slow
def test_run_scheduled_ticks_advance_ledger_and_sleep_to_boundaries(
    spark, tmp_path, bronze
):
    """The recurring-trigger driver (reference schedule_interval shape):
    a fake clock advanced by sleep() shows each tick committing exactly
    the newly-due interval and sleeping exactly to the next boundary."""
    from rustcheatersdatapipeline_spark.backfill import run_scheduled

    store = GoldStore(spark, str(tmp_path / "gold"))
    t = {"now": START}
    sleeps = []

    def clock():
        return t["now"]

    def sleep(sec):
        sleeps.append(sec)
        t["now"] += dt.timedelta(seconds=sec)

    ran = run_scheduled(
        spark, store, lambda _: bronze, START, until=START + 3 * STEP,
        step=STEP, clock=clock, sleep=sleep,
    )
    assert [ie for ie, _, _ in ran] == interval_ends(START, START + 3 * STEP, STEP)
    assert len(completed_intervals(store)) == 3
    # slept exactly one step per tick, on the start-anchored grid
    assert sleeps == [STEP.total_seconds()] * 3


@pytest.mark.slow
def test_run_scheduled_cold_start_catches_up_then_crash_resumes(
    spark, tmp_path, bronze, monkeypatch
):
    """A driver started LATE first drains the backlog; killed mid-drain
    and restarted, it resumes at exactly the interrupted interval."""
    import rustcheatersdatapipeline_spark.backfill as bf

    store = GoldStore(spark, str(tmp_path / "gold"))
    frozen = lambda: START + 3 * STEP  # noqa: E731 — clock already past `until`
    calls = {"n": 0}
    real_run_batch = bf.run_batch

    def crashing(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed mid-drain")
        return real_run_batch(*a, **k)

    monkeypatch.setattr(bf, "run_batch", crashing)
    with pytest.raises(RuntimeError, match="killed"):
        bf.run_scheduled(
            spark, store, lambda _: bronze, START, until=START + 3 * STEP,
            step=STEP, clock=frozen, sleep=lambda s: None,
        )
    assert len(completed_intervals(store)) == 1
    ran = bf.run_scheduled(
        spark, store, lambda _: bronze, START, until=START + 3 * STEP,
        step=STEP, clock=frozen, sleep=lambda s: None,
    )
    assert [ie for ie, _, _ in ran] == [START + 2 * STEP, START + 3 * STEP]
    assert len(completed_intervals(store)) == 3
