"""Seeded Steam bronze generator and its plain-Python expected answers.

Scales the shapes of ``tests/fixtures.py`` (the reference's raw zone) to
any number of banned profiles by drawing steam ids from a seeded
permutation. Every drift case of the fixtures is kept at scale:

- non-public profiles carry absent inner arrays (``playerstats`` missing,
  ``response: {}``) and a minimal summary without the optional fields;
- public profiles drop optional fields at random (badge ``appid`` /
  ``communityitemid``, game ``has_community_visible_stats`` /
  ``playtime_2weeks``, summary ``realname`` / ``loc*``);
- some achievement descriptions are empty strings;
- locked achievements carry the ``unlocktime=0`` sentinel and some badges
  ``completion_time=0``;
- every interval repeats one non-public summaries row (a D1 duplicate).

Public profiles own Rust (252490). Visibility follows the reference
dashboard's split of 2,565 public / 824 private / 133 friends-only.
Ids recurring from earlier intervals come back with a new persona, new
ban fields, and possibly a new country or visibility (latest wins in
gold).

``expected`` recomputes, without Spark, what the gold store must hold
after the intervals ran in order: row counts per table and the A1/A8
dashboard answers.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import Counter
from dataclasses import dataclass

STEAM_BASE = 76561198000000000
RUST_APPID = 252490
#: reference dashboard visibility split (README "profile visibility")
VISIBILITY_SPLIT = ((3, 2565), (1, 824), (2, 133))
#: share of an interval's profiles that recur from earlier intervals
RECUR_SHARE = 0.3
#: first day of ``date_dim`` (``pipeline.run_batch``'s default)
DATE_START = dt.date(2003, 9, 12)
ENDPOINTS = (
    "player_achievements",
    "player_steam_badges",
    "player_friendlists",
    "player_bans",
    "player_subscribed_groups",
    "player_stats",
    "player_owned_games",
    "player_summaries",
)
#: profiles per response element of the batched endpoints (the Steam
#: Web API takes at most 100 ids per GetPlayerBans/GetPlayerSummaries)
API_BATCH = 100

#: accounts are created between 2013-01-01 and a day before the bans are
#: announced (2021-10-02, the workloads' first interval); unlocks, badge
#: completions and friendships fall uniformly between the two, so a
#: profile's history spans up to nine years of date_sk partitions
CREATED_MIN = 1356998400
BAN_EPOCH = 1633132800


def _ts(r: random.Random, created: int) -> int:
    return r.randrange(created, BAN_EPOCH)


def _catalogs():
    r = random.Random("perfbench-catalogs")
    achievements = [
        (f"ACH_{i:03d}", f"Achievement {i}", "" if i % 7 == 0 else f"Do thing {i}")
        for i in range(92)
    ]
    badges = []
    for i in range(60):
        app = None if i % 5 == 0 else r.choice([RUST_APPID, 730, 440, 570])
        cid = None if i % 4 == 0 else str(170000000000000 + i)
        badges.append((i + 1, app, cid, 25 * (1 + i % 8), 1 + i % 5, r.randint(10, 900000)))
    games = [(RUST_APPID, "Rust"), (730, "Counter-Strike 2")] + [
        (1000 + 10 * i, f"Game {i}") for i in range(150)
    ]
    groups = [103582791429521412 + i for i in range(400)] + [42]
    stats = [f"stat_{i}" for i in range(50)]
    countries = ["US", "RU", "CN", "DE", "BR", "GB", "FR", "PL", "CA", "UA", "AU", "TR"]
    return achievements, badges, games, groups, stats, countries


ACHIEVEMENTS, BADGES, GAMES, GROUPS, STATS, COUNTRIES = _catalogs()


def _zipf_cum(n: int, s: float) -> list[float]:
    """Cumulative Zipf weights: low indices are popular."""
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


_GROUP_CUM = _zipf_cum(len(GROUPS), 0.8)
_COUNTRY_CUM = _zipf_cum(len(COUNTRIES), 1.1)


def _group(r: random.Random) -> int:
    return r.choices(GROUPS, cum_weights=_GROUP_CUM)[0]


@dataclass(frozen=True)
class Profile:
    steam_id: int
    version: int  #: 0 on first sight, +1 on each recurrence
    vis: int  #: communityvisibilitystate: 3 public, 1 private, 2 friends-only
    country: str | None


def _visibilities(r: random.Random, n: int) -> list[int]:
    total = sum(c for _, c in VISIBILITY_SPLIT)
    out: list[int] = []
    for state, c in VISIBILITY_SPLIT[1:]:
        out += [state] * round(n * c / total)
    out += [3] * (n - len(out))
    r.shuffle(out)
    return out


def _in_game(seed: int, p: Profile) -> bool:
    return p.vis == 3 and _content(seed, p.steam_id)["in_game"]


def plan_intervals(seed: int, n_profiles: int, n_intervals: int) -> list[list[Profile]]:
    """Which profiles land in which interval. Interval 0 is all fresh;
    later intervals draw ``RECUR_SHARE`` of their ids from earlier ones.

    Every interval holds at least one public profile banned while in
    game. At 20 profiles about 1% of seeds would otherwise leave
    ``game_playing_banned_fact`` empty in a fresh store's first batch,
    which ``GoldStore.publish`` cannot write (README, "Findings"); at
    the reference's hundreds of profiles an hour that never happens.
    Such an interval trades its first fresh public profiles for new ids
    until one is in game, which keeps the visibility split."""
    r = random.Random(f"plan:{seed}")
    space = max(10 * n_profiles * n_intervals, 1000)
    fresh_ids = iter(r.sample(range(space), 2 * n_profiles * n_intervals))
    latest: dict[int, Profile] = {}
    out = []
    for i in range(n_intervals):
        n_recur = round(n_profiles * RECUR_SHARE) if i else 0
        recur = r.sample(sorted(latest), n_recur)
        batch = []
        for sid in recur:
            p = latest[sid]
            vis = _visibilities(r, 1)[0] if r.random() < 0.2 else p.vis
            country = r.choice(COUNTRIES) if r.random() < 0.5 else p.country
            batch.append(Profile(sid, p.version + 1, vis, country))
        for vis in _visibilities(r, n_profiles - n_recur):
            sid = STEAM_BASE + next(fresh_ids)
            batch.append(Profile(sid, 0, vis, r.choices(COUNTRIES, cum_weights=_COUNTRY_CUM)[0]))
        r.shuffle(batch)
        while not any(_in_game(seed, p) for p in batch):
            k = next(k for k, p in enumerate(batch) if p.vis == 3 and p.version == 0)
            batch[k] = Profile(STEAM_BASE + next(fresh_ids), 0, 3, batch[k].country)
        for p in batch:
            latest[p.steam_id] = p
        out.append(batch)
    return out


def _content(seed: int, sid: int) -> dict:
    """A public profile's library, fixed per steam id (recurrences change
    the persona and ban fields, never the fact keys)."""
    r = random.Random(f"content:{seed}:{sid}")
    created = r.randrange(CREATED_MIN, BAN_EPOCH - 86400)
    ach = []
    for api, name, desc in r.sample(ACHIEVEMENTS, r.randint(5, 40)):
        done = r.random() < 0.8
        ach.append({
            "apiname": api,
            "achieved": int(done),
            "unlocktime": _ts(r, created) if done else 0,
            "name": name,
            "description": desc,
        })
    badges = []
    for bid, app, cid, xp, level, scarcity in r.sample(BADGES, r.randint(0, 12)):
        b = {"badgeid": bid, "xp": xp, "level": level, "scarcity": scarcity,
             "completion_time": 0 if r.random() < 0.1 else _ts(r, created)}
        if app is not None:
            b["appid"] = app
        if cid is not None:
            b["communityitemid"] = cid
        badges.append(b)
    friends = [
        {"steamid": str(STEAM_BASE + f), "relationship": "friend",
         "friend_since": _ts(r, created)}
        for f in r.sample(range(10**8), r.randint(0, 15))
    ]
    groups = sorted({_group(r) for _ in range(r.randint(0, 8))})
    stats = [{"name": s, "value": round(r.uniform(0, 5000), 1)}
             for s in r.sample(STATS, r.randint(0, 30))]
    games = []
    for appid, name in [GAMES[0]] + r.sample(GAMES[1:], r.randint(0, 25)):
        g = {"appid": appid, "name": name,
             "playtime_windows_forever": r.randint(0, 20000),
             "playtime_mac_forever": 0, "playtime_linux_forever": r.randint(0, 50),
             "playtime_forever": r.randint(0, 20000)}
        if r.random() < 0.8:
            g["has_community_visible_stats"] = r.random() < 0.5
        if r.random() < 0.6:
            g["playtime_2weeks"] = r.randint(0, 900)
        games.append(g)
    return {
        "achievements": ach, "badges": badges, "player_level": r.randint(0, 120),
        "friends": friends, "groups": groups, "stats": stats, "games": games,
        "full_profile": r.random() < 0.8, "in_game": r.random() < 0.3,
        "created": created, "clan": _group(r),
    }


def _persona(seed: int, p: Profile) -> dict:
    r = random.Random(f"persona:{seed}:{p.steam_id}:{p.version}")
    return {
        "personaname": f"{r.choice(['xX', '', 'the', 'pro'])}{r.randint(0, 300)}",
        "avatarhash": f"{r.randint(0, 40):040x}",
        "personastate": r.randint(0, 6),
        "bans": {
            "CommunityBanned": r.random() < 0.1,
            "VACBanned": r.random() < 0.7,
            "NumberOfVACBans": r.randint(0, 4),
            # announced bans are fresh: most profiles were banned today
            "DaysSinceLastBan": r.randint(0, 1) if r.random() < 0.8 else r.randint(2, 365),
            "NumberOfGameBans": r.randint(0, 3),
            "EconomyBan": r.choice(["none", "none", "none", "probation", "banned"]),
        },
    }


def interval_payloads(seed: int, profiles: list[Profile]) -> dict[str, dict]:
    """One interval's bronze documents, keyed by endpoint name."""
    per = {name: [] for name in ENDPOINTS}
    summaries, bans = [], []
    dup = None
    for p in profiles:
        sid = str(p.steam_id)
        persona = _persona(seed, p)
        bans.append({"SteamId": sid, **persona["bans"]})
        summary = {
            "steamid": sid, "communityvisibilitystate": p.vis, "profilestate": 1,
            "personaname": persona["personaname"], "avatarhash": persona["avatarhash"],
            "personastate": persona["personastate"],
        }
        if p.vis != 3:
            summary["timecreated"] = 1410000000
            summaries.append(summary)
            dup = dup or {**summary, "personaname": summary["personaname"] + "_dup"}
            per["player_achievements"].append({"queried_steam_id": sid})
            per["player_steam_badges"].append({"queried_steam_id": sid, "response": {}})
            per["player_friendlists"].append({"queried_steam_id": sid})
            per["player_subscribed_groups"].append({"queried_steam_id": sid, "response": {}})
            per["player_stats"].append({"queried_steam_id": sid, "playerstats": {}})
            per["player_owned_games"].append({"queried_steam_id": sid, "response": {}})
            continue
        c = _content(seed, p.steam_id)
        summary["timecreated"] = c["created"]
        if c["full_profile"]:
            summary.update({
                "commentpermission": 1, "realname": f"Name {p.steam_id % 9973}",
                "primaryclanid": str(c["clan"]), "loccountrycode": p.country,
                "locstatecode": "XX", "loccityid": p.steam_id % 5000,
            })
        if c["in_game"]:
            summary["gameid"] = str(RUST_APPID)
        summaries.append(summary)
        per["player_achievements"].append({
            "queried_steam_id": sid,
            "playerstats": {"gameName": "Rust", "achievements": c["achievements"]},
        })
        resp = {"player_level": c["player_level"]}
        if c["badges"]:
            resp["badges"] = c["badges"]
        per["player_steam_badges"].append({"queried_steam_id": sid, "response": resp})
        per["player_friendlists"].append(
            {"queried_steam_id": sid, "friendslist": {"friends": c["friends"]}}
            if c["friends"] else {"queried_steam_id": sid}
        )
        per["player_subscribed_groups"].append({
            "queried_steam_id": sid,
            "response": {"groups": [{"gid": str(g)} for g in c["groups"]]} if c["groups"] else {},
        })
        per["player_stats"].append({
            "queried_steam_id": sid,
            "playerstats": {"stats": c["stats"]} if c["stats"] else {},
        })
        per["player_owned_games"].append(
            {"queried_steam_id": sid, "response": {"games": c["games"]}}
        )
    if dup is not None:
        summaries.append(dup)
    docs = {name: {"responses": rows} for name, rows in per.items() if name not in
            ("player_bans", "player_summaries")}
    docs["player_bans"] = {"responses": [
        {"players": bans[i:i + API_BATCH]} for i in range(0, len(bans), API_BATCH)
    ]}
    docs["player_summaries"] = {"responses": [
        {"response": {"players": summaries[i:i + API_BATCH]}}
        for i in range(0, len(summaries), API_BATCH)
    ]}
    return docs


def write_interval(seed: int, profiles: list[Profile], dirpath: str) -> int:
    """Write one interval's endpoints as single-line JSON documents, as
    the reference lands them. Returns the bytes written."""
    os.makedirs(dirpath, exist_ok=True)
    total = 0
    for name, doc in interval_payloads(seed, profiles).items():
        text = json.dumps(doc, separators=(",", ":"))
        with open(os.path.join(dirpath, f"{name}.json"), "w", encoding="utf-8") as f:
            f.write(text)
        total += len(text)
    return total


def _day(epoch: int) -> dt.date:
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).date()


def expected(seed: int, intervals: list[list[Profile]], last_end: dt.datetime) -> dict:
    """Gold row counts per table and the A1/A8 answers after every
    interval ran in order. Dims and facts are key sets (insert-if-absent
    and latest-wins both keep one row per key); player attributes take
    the latest interval's values."""
    keys: dict[str, set] = {name: set() for name in (
        "achievement_dim", "badges_dim", "relationship_dim", "game_dim", "stats_dim",
        "group_dim", "player_dim", "friend_dim", "achievement_fact", "badges_fact",
        "bans_fact", "friends_fact", "game_playing_banned_fact", "game_playtime_fact",
        "groups_fact", "stats_fact",
    )}
    latest: dict[int, Profile] = {}
    for profiles in intervals:
        for p in profiles:
            sid = p.steam_id
            latest[sid] = p
            keys["player_dim"].add(sid)
            keys["bans_fact"].add(sid)
            if p.vis != 3:
                continue
            c = _content(seed, sid)
            for a in c["achievements"]:
                desc = a["description"] or a["name"]
                keys["achievement_dim"].add((a["name"], desc))
                if a["achieved"] == 1 and a["unlocktime"] > 0:
                    keys["achievement_fact"].add((sid, a["name"], _day(a["unlocktime"])))
            for b in c["badges"]:
                nat = (b["badgeid"], b.get("appid", -1), int(b.get("communityitemid", -1)),
                       b["xp"], b["level"])
                keys["badges_dim"].add(nat)
                if b["completion_time"] > 0:
                    keys["badges_fact"].add((sid, nat, _day(b["completion_time"])))
            for f in c["friends"]:
                keys["relationship_dim"].add(f["relationship"])
                keys["friend_dim"].add(int(f["steamid"]))
                keys["friends_fact"].add((sid, int(f["steamid"]), _day(f["friend_since"])))
            for g in c["groups"]:
                keys["group_dim"].add(g)
                keys["groups_fact"].add((sid, g))
            for s in c["stats"]:
                keys["stats_dim"].add(s["name"])
                keys["stats_fact"].add((s["name"], sid))
            for g in c["games"]:
                keys["game_dim"].add((g["appid"], g["name"]))
                keys["game_playtime_fact"].add((sid, g["appid"]))
            if c["in_game"]:
                keys["game_playing_banned_fact"].add((sid, RUST_APPID))
    counts = {name: len(v) for name, v in keys.items()}
    date_end = last_end.date() + dt.timedelta(days=365)
    counts["date_dim"] = (date_end - DATE_START).days + 1
    counts["backfill_progress"] = len(intervals)
    a1 = Counter(p.country if p.vis == 3 and _content(seed, sid)["full_profile"] else None
                 for sid, p in latest.items())
    a8 = Counter(p.vis for p in latest.values())
    return {"counts": counts, "a1": dict(a1), "a8": dict(a8)}
