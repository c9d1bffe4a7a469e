"""Tests of the benchmark itself: the generators, their expected answers,
and the event-log parser.

    python3 -m pytest perfbench -q -p no:cacheprovider

The run_batch comparison starts a local Spark session (about two minutes on
four cores).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import bronze  # noqa: E402
import tpch  # noqa: E402
from tracing import parse_event_log  # noqa: E402


def _payload_bytes(seed: int) -> list[str]:
    plan = bronze.plan_intervals(seed, 60, 2)
    return [json.dumps(bronze.interval_payloads(seed, ps), sort_keys=True) for ps in plan]


def test_generator_is_deterministic_per_seed():
    assert _payload_bytes(7) == _payload_bytes(7)
    assert _payload_bytes(7) != _payload_bytes(8)
    end = dt.datetime(2021, 10, 2, 2)
    assert bronze.expected(7, bronze.plan_intervals(7, 60, 2), end) == bronze.expected(
        7, bronze.plan_intervals(7, 60, 2), end
    )


def test_generator_keeps_shape_and_drift_cases():
    plan = bronze.plan_intervals(3, 400, 2)
    first, second = ({p.steam_id for p in ps} for ps in plan)
    assert len(first & second) == round(400 * bronze.RECUR_SHARE)
    # reference dashboard split: 2,565 / 824 / 133 → about 27% non-public
    non_public = sum(p.vis != 3 for p in plan[0]) / len(plan[0])
    assert abs(non_public - 957 / 3522) < 0.01
    docs = bronze.interval_payloads(3, plan[0])
    players = [p for r in docs["player_summaries"]["responses"] for p in r["response"]["players"]]
    ids = [p["steamid"] for p in players]
    assert len(ids) == len(set(ids)) + 1  # the one duplicate summaries row
    ach = [a for r in docs["player_achievements"]["responses"]
           for a in (r.get("playerstats") or {}).get("achievements", [])]
    assert any(a["unlocktime"] == 0 for a in ach)
    assert any(a["description"] == "" for a in ach)
    assert any("playerstats" not in r for r in docs["player_achievements"]["responses"])
    games = [g for r in docs["player_owned_games"]["responses"]
             for g in r["response"].get("games", [])]
    assert any("playtime_2weeks" not in g for g in games)
    for r in docs["player_owned_games"]["responses"]:
        owned = {g["appid"] for g in r["response"].get("games", [])}
        assert not owned or bronze.RUST_APPID in owned
    # no seed leaves game_playing_banned_fact empty (seed 16 would)
    assert all(any(bronze._in_game(s, p) for p in bronze.plan_intervals(s, 20, 1)[0])
               for s in range(100))
    # activity runs from account creation to the ban: years of dates
    days = {bronze._day(a["unlocktime"]) for a in ach if a["unlocktime"]}
    assert (max(days) - min(days)).days > 5 * 365
    assert len(days) > 1000


def test_tpch_tables_are_deterministic_and_shaped_like_the_test_tables():
    a, b = tpch.build(11), tpch.build(11)
    assert all(a[n].equals(b[n]) for n in tpch.TABLES)
    assert not a["lineitem"].equals(tpch.build(12)["lineitem"])
    assert {n: a[n].num_rows for n in ("region", "nation", "customer", "orders")} == {
        "region": 5, "nation": 25, "customer": 150, "orders": 1500}
    assert 5000 < a["lineitem"].num_rows < 7000
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) == len(texts)
    assert 10 < sum(t.endswith(" dup") for t in texts) < 50
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"


CANNED_LOG = [
    '{"Event":"SparkListenerApplicationStart","App Name":"x"}',
    '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0,1],'
    '"Properties":{"spark.jobGroup.id":"perfbench:pipeline.read_bronze:1"}}',
    '{"Event":"SparkListenerJobStart","Job ID":1,"Stage IDs":[2],"Properties":{}}',
    '{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task Metrics":{'
    '"Executor Run Time":1500,"Memory Bytes Spilled":10,"Disk Bytes Spilled":5,'
    '"Shuffle Write Metrics":{"Shuffle Bytes Written":100},'
    '"Output Metrics":{"Bytes Written":0}}}',
    '{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task Metrics":{'
    '"Executor Run Time":500,"Memory Bytes Spilled":0,"Disk Bytes Spilled":0,'
    '"Shuffle Write Metrics":{"Shuffle Bytes Written":0},'
    '"Output Metrics":{"Bytes Written":2048}}}',
    '{"Event":"SparkListenerTaskEnd","Stage ID":2,"Task Metrics":{"Executor Run Time":9}}',
    '{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task Metrics":null}',
]


def test_event_log_parser_on_canned_fragment():
    got = parse_event_log(CANNED_LOG)
    assert got == {
        "perfbench:pipeline.read_bronze:1": {
            "tasks": 2,
            "executor_s": 2.0,
            "shuffle_write_bytes": 100,
            "spill_bytes": 15,
            "bytes_written": 2048,
        }
    }


def test_expected_answers_match_the_pipeline(tmp_path):
    """Two hourly intervals (the second upserts recurring ids) through
    ``run_interval_range``: the gold store must hold exactly what the
    generator predicts, A1/A8 included."""
    import run

    run.configure_env(str(tmp_path), trace=False)
    from rustcheatersdatapipeline_spark.backfill import run_interval_range
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    seed, n = 5, 40
    plan = bronze.plan_intervals(seed, n, 2)
    dirs = {}
    for i, ps in enumerate(plan):
        dirs[run.START + (i + 1) * run.STEP] = str(tmp_path / f"b{i}")
        bronze.write_interval(seed, ps, dirs[run.START + (i + 1) * run.STEP])
    exp = bronze.expected(seed, plan, run.START + 2 * run.STEP)

    spark = run.start_session()
    try:
        tracer = run.Tracer(spark, enabled=False)
        store = GoldStore(spark, str(tmp_path / "gold"))
        ran = run_interval_range(spark, store, dirs.__getitem__, run.START,
                                 run.START + 2 * run.STEP, run.STEP)
        _, errors = run.dashboard_pass(store, tracer)
        assert errors == {}
        assert run.check(store, ran, exp, 2) == []
        counted = {name: df.count() for name, df in store.read_all().items()}
        assert counted == exp["counts"]
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
