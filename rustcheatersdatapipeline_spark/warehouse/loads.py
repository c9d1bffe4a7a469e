"""The 8 fact-load joins (SURVEY.md §2.4 J1-J10) and the gold builder.

Each load swaps natural keys for surrogate keys via inner equi-joins
against the dims, exactly as the reference's SQL templates do
(dags/scripts/sql_queries.py:20-29 and siblings), then applies the
upsert semantics from SURVEY.md §2.5 (D11 DO NOTHING / D12 DO UPDATE).

Physical strategy: BOUNDED dims (relationship, game, achievement,
badges, stats, date) carry an explicit broadcast hint — they are
key-dictionary sized by construction, so the fact scan streams through
broadcast-hash joins with zero fact-side shuffles at any scale. Dims
that grow with the user population (player, friend, group) are NOT
hinted: a forced broadcast of the player dictionary is a driver OOM at
100 TB. AQE broadcasts them while they fit (the local-test case) and
degrades to a shuffle hash join once they don't — the correct trade at
scale, chosen at runtime from real sizes. The J9 expression key
(to_date(ts)) is computed inline, no pre-materialization.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cleaning import time_of_day
from .writers import date_dim, keyed_merge, upsert_latest_wins, with_surrogate_key

#: dim → (natural-key ordering for D14 surrogate assignment, sk name)
DIM_KEYS: dict[str, tuple[list[str], str]] = {
    "achievement_dim": (["name", "description"], "achievement_sk"),
    "badges_dim": (["badge_id", "app_id", "community_item_id", "xp", "level"], "badge_sk"),
    "relationship_dim": (["relationship"], "relationship_sk"),
    "game_dim": (["game_id", "name"], "game_sk"),
    "stats_dim": (["name"], "stats_sk"),
    "group_dim": (["group_id"], "group_sk"),
    "player_dim": (["steam_id"], "player_sk"),
    "friend_dim": (["steam_id"], "player_friend_sk"),
}


def _b(df: DataFrame) -> DataFrame:
    """Broadcast hint — apply ONLY to bounded (catalog-sized) dims."""
    return F.broadcast(df)


def _u(df: DataFrame) -> DataFrame:
    """Population-scaled dim (player/friend/group): no hint; AQE picks
    broadcast vs shuffle from runtime sizes."""
    return df


def _date_join(fact: DataFrame, dates: DataFrame, ts_col: str) -> DataFrame:
    """J9 expression-key date join (reference sql_queries.py:28-29)."""
    return fact.join(
        _b(dates), F.to_date(F.col(ts_col)) == F.col("full_date"), "inner"
    )


def load_achievement_fact(staged, dims, dates):
    """J1 (reference sql_queries.py:20-29): 4-way join + J10 time-of-day."""
    ach = dims["achievement_dim"]
    ply = dims["player_dim"]
    gm = dims["game_dim"].withColumnRenamed("name", "g_name")
    out = (
        staged.join(_b(ach.select("achievement_sk", "name")), "name")
        .join(_u(ply.select("player_sk", "steam_id")), "steam_id")
        .join(_b(gm.select("game_sk", "g_name")), staged.game_name == F.col("g_name"))
    )
    out = _date_join(out, dates, "unlock_ts")
    return out.select(
        "achievement_sk",
        "player_sk",
        "game_sk",
        "date_sk",
        time_of_day("unlock_ts").alias("time"),  # J10, sql_queries.py:21
    )


def load_badges_fact(staged, dims, dates):
    """J2 (reference sql_queries.py:57-64): 5-column composite-key join."""
    bd = dims["badges_dim"]
    ply = dims["player_dim"]
    out = (
        staged.join(
            _b(bd),
            on=["badge_id", "app_id", "community_item_id", "xp", "level"],  # :59-60
        )
        .join(_u(ply.select("player_sk", "steam_id")), "steam_id")
    )
    out = _date_join(out, dates, "completion_time")
    return out.select(
        "badge_sk",
        "player_sk",
        "date_sk",
        time_of_day("completion_time").alias("time"),
        "scarcity",
        "steam_level",
    )


def load_bans_fact(staged, dims, dates):
    """J3 (reference sql_queries.py:89-94)."""
    ply = dims["player_dim"]
    out = staged.join(_u(ply.select("player_sk", "steam_id")), "steam_id")
    out = _date_join(out, dates, "last_ban_date")
    return out.select(
        "player_sk",
        "date_sk",
        "community_banned",
        "vac_banned",
        "num_vac_bans",
        "num_game_bans",
        "economy_ban",
    )


def load_friends_fact(staged, dims, dates):
    """J4 (reference sql_queries.py:121-130): different-name equi-join on
    Friend_Dim + relationship swap."""
    ply = dims["player_dim"]
    fr = dims["friend_dim"].withColumnRenamed("steam_id", "friend_steam_id")
    rel = dims["relationship_dim"]
    out = (
        staged.join(_u(ply.select("player_sk", "steam_id")), "steam_id")
        .join(_u(fr), "friend_steam_id")
        .join(_b(rel), "relationship")
    )
    out = _date_join(out, dates, "friend_since")
    return out.select(
        "player_sk",
        "player_friend_sk",
        "relationship_sk",
        "date_sk",
        time_of_day("friend_since").alias("time"),
    )


def _simple_game_fact(staged, dims, dates, extra: list[str]):
    ply = dims["player_dim"]
    gm = dims["game_dim"]
    out = (
        staged.join(_u(ply.select("player_sk", "steam_id")), "steam_id")
        .join(_b(gm.select("game_sk", "game_id")), "game_id")
    )
    out = _date_join(out, dates, "date")
    return out.select("player_sk", "game_sk", "date_sk", *extra)


def load_game_playing_banned_fact(staged, dims, dates):
    """J5 (reference sql_queries.py:151-158)."""
    return _simple_game_fact(staged, dims, dates, [])


def load_game_playtime_fact(staged, dims, dates):
    """J6 (reference sql_queries.py:183-190)."""
    return _simple_game_fact(
        staged,
        dims,
        dates,
        [
            "playtime_windows_mins",
            "playtime_mac_mins",
            "playtime_linux_mins",
            "playtime_two_weeks_mins",
        ],
    )


def load_groups_fact(staged, dims, dates):
    """J7 (reference sql_queries.py:215-222)."""
    ply = dims["player_dim"]
    gr = dims["group_dim"]
    out = (
        staged.join(_u(ply.select("player_sk", "steam_id")), "steam_id")
        .join(_u(gr), "group_id")
    )
    out = _date_join(out, dates, "date")
    return out.select("player_sk", "group_sk", "date_sk")


def load_stats_fact(staged, dims, dates):
    """J8 (reference sql_queries.py:245-254): game joined on game=name."""
    ply = dims["player_dim"]
    gm = dims["game_dim"].withColumnRenamed("name", "g_name")
    st = dims["stats_dim"]
    out = (
        staged.join(_b(st), "name")
        .join(_u(ply.select("player_sk", "steam_id")), "steam_id")
        .join(_b(gm.select("game_sk", "g_name")), staged.game == F.col("g_name"))
    )
    out = _date_join(out, dates, "date")
    return out.select("stats_sk", "player_sk", "game_sk", "date_sk", "value")


#: fact → dims its load joins against (used to decide whether a fact
#: can load in a partial batch: every dep dim must be present in gold).
FACT_DIM_DEPS: dict[str, list[str]] = {
    "achievement_fact": ["achievement_dim", "player_dim", "game_dim"],
    "badges_fact": ["badges_dim", "player_dim"],
    "bans_fact": ["player_dim"],
    "friends_fact": ["player_dim", "friend_dim", "relationship_dim"],
    "game_playing_banned_fact": ["player_dim", "game_dim"],
    "game_playtime_fact": ["player_dim", "game_dim"],
    "groups_fact": ["player_dim", "group_dim"],
    "stats_fact": ["stats_dim", "player_dim", "game_dim"],
}

#: fact → (loader, upsert keys, mode) per the reference's ON CONFLICT
#: wiring (D11 sites at rust_twitter_steam_pipeline.py:588-698,
#: D12 at sql_queries.py:95-101,191-196,255-258; PKs FIXTURES.md §B3).
FACT_LOADS = {
    "achievement_fact": (
        load_achievement_fact,
        ["player_sk", "achievement_sk", "game_sk", "date_sk"],
        "nothing",
    ),
    "badges_fact": (load_badges_fact, ["player_sk", "badge_sk", "date_sk"], "nothing"),
    "bans_fact": (load_bans_fact, ["player_sk"], "update"),
    "friends_fact": (
        load_friends_fact,
        ["player_sk", "player_friend_sk", "date_sk", "relationship_sk"],
        "nothing",
    ),
    "game_playing_banned_fact": (
        load_game_playing_banned_fact,
        ["player_sk", "game_sk"],
        "nothing",
    ),
    "game_playtime_fact": (load_game_playtime_fact, ["player_sk", "game_sk"], "update"),
    "groups_fact": (load_groups_fact, ["player_sk", "group_sk"], "nothing"),
    "stats_fact": (load_stats_fact, ["stats_sk", "player_sk", "game_sk"], "update"),
}


def build_warehouse(
    spark,
    silver: dict[str, DataFrame],
    date_start: _dt.date,
    date_end: _dt.date,
    existing: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """One batch of the gold build (SURVEY.md §3.3 as one driver program).

    ``silver`` maps staged table names to DataFrames; ``existing``
    is the prior warehouse state (for cross-batch upsert accumulation,
    D13). Returns the gold tables. Dim loads are D11 insert-if-absent
    except player_dim's D12 profile refresh
    (reference rust_twitter_steam_pipeline.py:659-670).

    Partial batches (the none_failed_min_one_success rule,
    rust_twitter_steam_pipeline.py:877): a silver table may be absent
    when its branch was skipped or failed. An absent dim carries the
    prior state forward (or is omitted on the first batch); a fact loads
    only when its staged input AND every dim it joins (FACT_DIM_DEPS)
    are present, otherwise it carries prior state / is omitted. Loaded
    branches never wait on failed ones — per-branch isolation exactly
    like the reference's per-task loads.
    """
    existing = existing or {}
    gold: dict[str, DataFrame] = {}

    dates = date_dim(spark, date_start, date_end)
    gold["date_dim"] = dates

    for dim, (nat_keys, sk) in DIM_KEYS.items():
        if dim not in silver:
            prior = existing.get(dim)
            if prior is not None:
                gold[dim] = prior
            continue
        incoming = silver[dim]
        prior = existing.get(dim)
        if prior is not None:
            offset = prior.agg(F.max(sk)).collect()[0][0] or 0
            fresh = incoming.join(
                prior.select(*nat_keys).distinct(), on=nat_keys, how="left_anti"
            )
            keyed = with_surrogate_key(fresh, nat_keys, sk, offset=offset)
            if dim == "player_dim":
                # D12 refresh: non-key profile columns take incoming values
                refreshed = upsert_latest_wins(
                    prior,
                    incoming.join(prior.select("player_sk", "steam_id"), "steam_id")
                    .select(*prior.columns),
                    ["steam_id"],
                )
                gold[dim] = refreshed.unionByName(keyed.select(*prior.columns))
            else:
                gold[dim] = prior.unionByName(keyed.select(*prior.columns))
        else:
            gold[dim] = with_surrogate_key(incoming, nat_keys, sk)

    for fact, (loader, keys, mode) in FACT_LOADS.items():
        deps_ok = fact in silver and all(d in gold for d in FACT_DIM_DEPS[fact])
        if not deps_ok:
            prior = existing.get(fact)
            if prior is not None:
                gold[fact] = prior
            continue
        batch = loader(silver[fact], gold, dates)
        gold[fact] = keyed_merge(existing.get(fact), batch, keys, mode)

    return gold
