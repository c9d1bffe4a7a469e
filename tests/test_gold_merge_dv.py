"""Merge-on-read deletion vectors (VERDICT r8 #1).

Copy-on-write rewrites every file containing a matched key — at 100 TB
a 1-row upsert through a high-frequency MergeUpsertSink rewrites whole
files per trigger. strategy="mor" writes a (file, row-position)
deletion vector plus the new rows instead: these tests pin (a) exact
semantic equivalence with copy-on-write / naive recompute, (b) the
bytes-written contract (touched files stay byte-identical on disk; new
bytes ∝ rows touched), and (c) the maintenance story (optimize folds DV
debt; vacuum keeps DV txns live; time travel and exports stay correct).

Reference semantics matched: Postgres ON CONFLICT DO UPDATE
(dags/scripts/sql_queries.py:95-101).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def _rows(store, name):
    return {tuple(r) for r in store.read(name).collect()}


def _store_with_batches(spark, tmp_path, batches):
    store = GoldStore(spark, str(tmp_path / "gold"))
    v = 0
    for rows in batches:
        v = store.publish_append({"t": _df(spark, rows).coalesce(1)}, base_version=v)
    return store, v


BATCHES = [
    [(1, "a1"), (2, "a2"), (3, "a3")],
    [(10, "b1"), (11, "b2")],
    [(20, "c1"), (21, "c2"), (22, "c3")],
]
FULL = {(1, "a1"), (2, "a2"), (3, "a3"), (10, "b1"), (11, "b2"),
        (20, "c1"), (21, "c2"), (22, "c3")}


def _data_files(store):
    return {
        os.path.relpath(p, store.path): os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(store.path, "_data", "**", "*.parquet"),
                           recursive=True)
        if "__dv__" not in p
    }


def test_mor_upsert_semantics_match_naive_recompute(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    v = store.merge("t", _df(spark, [(2, "A2"), (21, "C2"), (99, "new")]), ["k"],
                    strategy="mor")
    assert v == 4
    expect = (FULL - {(2, "a2"), (21, "c2")}) | {(2, "A2"), (21, "C2"), (99, "new")}
    assert _rows(store, "t") == expect
    assert store.current_manifest()["tables"]["t"]["rows"] == len(expect)


def test_mor_touched_files_stay_byte_identical(spark, tmp_path):
    """The whole point: a 1-row upsert must not rewrite ANY existing
    data file — only a DV and the 1-row insert land."""
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    before = _data_files(store)
    store.merge("t", _df(spark, [(2, "A2")]).coalesce(1), ["k"], strategy="mor")
    after = _data_files(store)
    # every pre-merge file survives byte-identical (same mtime_ns)
    for p, m in before.items():
        assert after[p] == m, p
    # exactly one new data file: the 1-row insert
    new = set(after) - set(before)
    assert len(new) == 1
    # and the touched file record carries the DV
    entry = store.current_manifest()["tables"]["t"]
    dvd = [f for f in entry["files"] if f.get("dv")]
    assert len(dvd) == 1 and dvd[0]["dv"][0]["rows"] == 1
    assert _rows(store, "t") == (FULL - {(2, "a2")}) | {(2, "A2")}


def test_mor_delete_and_repeated_merges(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(1, None)]).select("k"), ["k"],
                mode="delete", strategy="mor")
    assert _rows(store, "t") == FULL - {(1, "a1")}
    # second MOR merge on the SAME file: DVs accumulate, reads stay exact
    store.merge("t", _df(spark, [(3, "A3"), (10, "B1")]), ["k"], strategy="mor")
    expect = (FULL - {(1, "a1"), (3, "a3"), (10, "b1")}) | {(3, "A3"), (10, "B1")}
    assert _rows(store, "t") == expect
    assert store.current_manifest()["tables"]["t"]["rows"] == len(expect)
    # deleted key re-inserts through insert_if_absent (DV-aware freshness)
    store.merge("t", _df(spark, [(1, "back")]), ["k"], mode="insert_if_absent")
    assert (1, "back") in _rows(store, "t")


def test_mor_then_cow_merge_does_not_resurrect(spark, tmp_path):
    """A CoW rewrite of a file with outstanding DVs must fold the DVs,
    never resurrect masked rows."""
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    # CoW-touch the same file via another key in batch 1
    store.merge("t", _df(spark, [(3, "A3")]), ["k"], strategy="cow")
    expect = (FULL - {(2, "a2"), (3, "a3")}) | {(2, "A2"), (3, "A3")}
    assert _rows(store, "t") == expect
    # the dead (2, 'a2') row is gone even though its DV's file was rewritten
    assert store.current_manifest()["tables"]["t"]["rows"] == len(expect)


def test_mor_equivalent_to_cow_on_same_history(spark, tmp_path):
    src = [(2, "X"), (11, "Y"), (21, "Z"), (50, "new")]
    s_mor, _ = _store_with_batches(spark, tmp_path / "m", BATCHES)
    s_cow, _ = _store_with_batches(spark, tmp_path / "c", BATCHES)
    s_mor.merge("t", _df(spark, src), ["k"], strategy="mor")
    s_cow.merge("t", _df(spark, src), ["k"], strategy="cow")
    assert _rows(s_mor, "t") == _rows(s_cow, "t")
    s_mor.merge("t", _df(spark, [(2, None)]).select("k"), ["k"],
                mode="delete", strategy="mor")
    s_cow.merge("t", _df(spark, [(2, None)]).select("k"), ["k"],
                mode="delete", strategy="cow")
    assert _rows(s_mor, "t") == _rows(s_cow, "t")


def test_time_travel_and_pruned_reads_respect_dvs(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    # snapshot BEFORE the merge still shows the old row
    assert {tuple(r) for r in store.read_at("t", v0).collect()} == FULL
    # manifest-pruned read of the touched range masks the dead row
    got = {tuple(r) for r in store.read_pruned("t", {"k": (1, 3)}).collect()}
    assert got == {(1, "a1"), (2, "A2"), (3, "a3")} - (
        set() if True else set())


def test_optimize_folds_dv_debt(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    # kill 2 of 3 rows of batch 1 via MOR: row_frac = 1/3 < 0.5
    store.merge("t", _df(spark, [(1, "n1"), (2, "n2")]), ["k"], strategy="mor")
    v = store.optimize("t")
    assert v is not None
    entry = store.current_manifest()["tables"]["t"]
    assert entry.get("rewrite_kind") == "row_preserving"
    # no file carries a DV anymore — the fold consumed them
    assert not any(f.get("dv") for f in entry["files"])
    expect = (FULL - {(1, "a1"), (2, "a2")}) | {(1, "n1"), (2, "n2")}
    assert _rows(store, "t") == expect
    assert entry["rows"] == len(expect)


def test_vacuum_keeps_live_dv_txns(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    removed = store.vacuum(min_age_seconds=0.0)
    assert removed == []  # the DV txn is entry-referenced, never reclaimed
    assert _rows(store, "t") == (FULL - {(2, "a2")}) | {(2, "A2")}


def test_changes_since_raises_on_dv_merge(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    with pytest.raises(ValueError, match="deletion vectors|not append-only"):
        store.changes_since("t", v0)


def test_export_with_dvs(spark, tmp_path):
    from rustcheatersdatapipeline_spark.warehouse.export import (
        export_file_list,
        export_snapshot,
    )

    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    with pytest.raises(ValueError, match="deletion vectors"):
        export_file_list(store, "t")
    doc = export_snapshot(store, str(tmp_path / "out"), tables=["t"])
    assert doc["tables"]["t"]["rows"] == len(FULL) + 0
    import duckdb

    got = set(map(tuple, duckdb.sql(
        f"SELECT k, v FROM read_parquet('{tmp_path}/out/t/*.parquet')"
    ).fetchall()))
    assert got == (FULL - {(2, "a2")}) | {(2, "A2")}


def test_merge_upsert_sink_mor_strategy(spark, tmp_path):
    from rustcheatersdatapipeline_spark.streaming.ingest import MergeUpsertSink

    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = MergeUpsertSink(store, "dim", ["k"])  # default strategy: mor
    sink(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), batch_id=0)
    before = _data_files(store)
    sink(_df(spark, [(2, "B"), (3, "c")]), batch_id=1)
    after = _data_files(store)
    for p, m in before.items():
        assert after[p] == m, f"streaming trigger rewrote {p}"
    assert _rows(store, "dim") == {(1, "a"), (2, "B"), (3, "c")}


# -- row-level CDC (changes_cdc) --------------------------------------------


def _cdc_multiset(store, name, from_v):
    out = {}
    for r in store.changes_cdc(name, from_v).collect():
        key = (r["k"], r["v"], r["_change_type"])
        out[key] = out.get(key, 0) + 1
    return out


def _apply_cdc(base_rows, cdc):
    """base multiset + inserts - deletes must equal the current rows."""
    from collections import Counter

    cur = Counter(base_rows)
    for (k, v, ct), n in cdc.items():
        if ct == "insert":
            cur[(k, v)] += n
        else:
            cur[(k, v)] -= n
    return {kv for kv, n in cur.items() if n} | {
        kv for kv, n in cur.items() if n < 0 and (_ for _ in ()).throw(
            AssertionError(f"negative multiplicity for {kv}"))
    }


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_changes_cdc_reconstructs_current_state(spark, tmp_path, strategy):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2"), (99, "new")]), ["k"],
                strategy=strategy)
    store.merge("t", _df(spark, [(10, None)]).select("k"), ["k"],
                mode="delete", strategy=strategy)
    store.publish_append({"t": _df(spark, [(70, "x")])}, store.current_version())
    cdc = _cdc_multiset(store, "t", v0)
    assert _apply_cdc(FULL, cdc) == _rows(store, "t")
    # O(delta): the untouched batch-3 rows never appear in the diff
    assert not any(k in (20, 21, 22) for k, _, _ in cdc)


def test_changes_cdc_skips_row_preserving_rewrites(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(1, "n1"), (2, "n2")]), ["k"], strategy="mor")
    v_merge = store.current_version()
    assert store.optimize("t") is not None  # folds the DVs
    store.compact("t")
    # from BEFORE the merge: diff is exactly the merge's rows
    cdc = _cdc_multiset(store, "t", v0)
    assert _apply_cdc(FULL, cdc) == _rows(store, "t")
    assert set(cdc) == {
        (1, "a1", "delete"), (2, "a2", "delete"),
        (1, "n1", "insert"), (2, "n2", "insert"),
    }
    # from AFTER the merge: optimize+compact contribute NOTHING
    assert _cdc_multiset(store, "t", v_merge) == {}


def test_changes_cdc_replace_publish_is_delete_all_insert_all(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES[:1])
    store.publish({"t": _df(spark, [(7, "z")])}, v0)
    cdc = _cdc_multiset(store, "t", v0)
    assert _apply_cdc(set(BATCHES[0]), cdc) == {(7, "z")}
    assert (7, "z", "insert") in cdc and (1, "a1", "delete") in cdc


def test_changes_cdc_across_restore(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES[:2])
    store.merge("t", _df(spark, [(2, "A2")]), ["k"], strategy="mor")
    v_bad = store.current_version()
    store.restore(v0)  # roll the bad merge back, as a forward commit
    cdc = _cdc_multiset(store, "t", v_bad)
    base = (set(BATCHES[0]) | set(BATCHES[1]) | {(2, "A2")}) - {(2, "a2")}
    assert _apply_cdc(base, cdc) == _rows(store, "t")


def test_changes_cdc_pruned_history_raises(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    os.unlink(os.path.join(store.path, "_manifests", "v2.json"))
    with pytest.raises(ValueError, match="pruned"):
        store.changes_cdc("t", 1)


@pytest.mark.slow
def test_merge_upsert_sink_auto_folds_dv_debt_long_run(spark, tmp_path):
    """DV maintenance policy (r10): under SUSTAINED streaming upserts the
    sink's manifest-only pre-check triggers per-dir folds, so read-side
    DV debt stays bounded forever — and every intermediate read result
    is exactly the converged latest-wins state."""
    from rustcheatersdatapipeline_spark.streaming.ingest import MergeUpsertSink

    store = GoldStore(spark, str(tmp_path / "gold"))
    base = [(k, "base") for k in range(10)]
    store.publish({"dim": _df(spark, base).coalesce(1)}, base_version=0)
    sink = MergeUpsertSink(store, "dim", ["k"])  # mor + auto_optimize

    for i in range(10):  # many micro-batches hammering the same 3 keys
        sink(_df(spark, [(k, f"v{i}") for k in range(3)]).coalesce(1), i)
        expect = {(k, f"v{i}") for k in range(3)} | {
            (k, "base") for k in range(3, 10)
        }
        assert _rows(store, "dim") == expect, f"wrong rows after batch {i}"
        entry = store.current_manifest()["tables"]["dim"]
        # bounded debt: no dir may sit below the live-fraction floor
        per_dir = {}
        for f in entry["files"]:
            d = os.sep.join(f["path"].split(os.sep)[:3])
            tot, dv = per_dir.get(d, (0, 0))
            per_dir[d] = (
                tot + int(f["rows"]),
                dv + sum(int(x["rows"]) for x in f.get("dv") or []),
            )
        for d, (tot, dv) in per_dir.items():
            assert tot == 0 or (1.0 - dv / tot) >= 0.5, (
                f"batch {i}: dir {d} exceeded DV debt bound ({dv}/{tot})"
            )
    entry = store.current_manifest()["tables"]["dim"]
    # the live file set stays small — debt was folded, not accumulated
    assert len(entry["files"]) <= 4, [f["path"] for f in entry["files"]]
    # and at least one auto-fold actually committed (row-preserving)
    folds = [
        v for v in store.versions()
        if store.manifest_at(v)["tables"].get("dim", {}).get("rewrite_kind")
        == "row_preserving"
    ]
    assert folds, "auto-optimize never fired"

    # control: with the hook off, the same run accumulates fully-masked
    # dirs past the bound (proves the hook is what bounded the debt)
    store2 = GoldStore(spark, str(tmp_path / "gold2"))
    store2.publish({"dim": _df(spark, base).coalesce(1)}, base_version=0)
    sink2 = MergeUpsertSink(store2, "dim", ["k"], auto_optimize=False)
    for i in range(10):
        sink2(_df(spark, [(k, f"v{i}") for k in range(3)]).coalesce(1), i)
    entry2 = store2.current_manifest()["tables"]["dim"]
    dead_dirs = 0
    per_dir2 = {}
    for f in entry2["files"]:
        d = os.sep.join(f["path"].split(os.sep)[:3])
        tot, dv = per_dir2.get(d, (0, 0))
        per_dir2[d] = (
            tot + int(f["rows"]),
            dv + sum(int(x["rows"]) for x in f.get("dv") or []),
        )
    dead_dirs = sum(
        1 for tot, dv in per_dir2.values() if tot and (1.0 - dv / tot) < 0.5
    )
    assert dead_dirs >= 1


def test_optimize_fully_masked_table_folds_once_then_stabilizes(spark, tmp_path):
    """MOR-deleting EVERY row leaves a fully-masked table: optimize
    folds it to a single 0-row record (readable, empty) and then
    becomes a stable no-op — never an infinite fold loop, never an
    unreadable entry."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"t": _df(spark, [(1, "a"), (2, "b")]).coalesce(1)}, 0)
    store.merge("t", _df(spark, [(1, "x"), (2, "x")]).select("k"),
                ["k"], mode="delete", strategy="mor")
    assert _rows(store, "t") == set()
    v = store.optimize("t")
    assert v is not None  # the dead dir was folded
    assert _rows(store, "t") == set()  # still readable, still empty
    entry = store.current_manifest()["tables"]["t"]
    assert not any(f.get("dv") for f in entry["files"])  # DV debt gone
    assert store.optimize("t") is None  # converged: stable no-op
    assert _rows(store, "t") == set()


def test_optimize_cow_emptied_table_is_stable_noop(spark, tmp_path):
    """A CoW delete of every row stages one 0-row file: a sole empty
    dir with no dv debt is NOT pure-debt (it IS the table) — optimize
    must leave it alone."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"t": _df(spark, [(1, "a")]).coalesce(1)}, 0)
    store.merge("t", _df(spark, [(1, "x")]).select("k"), ["k"],
                mode="delete", strategy="cow")
    assert _rows(store, "t") == set()
    assert store.optimize("t") is None
    assert _rows(store, "t") == set()
