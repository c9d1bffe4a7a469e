"""GoldStore.merge: file-level copy-on-write MERGE INTO.

The reference's closest analogue is the Postgres ON CONFLICT upsert
(LoadDimsOperator.py:25-28) — whole-table semantics through the DB. At
100 TB the engine must do the same row-level upsert while opening ONLY
the files that can contain a matched key; these tests pin both the
semantics (vs a naive recompute) and the cost contract (untouched files
carry forward by reference, byte-identical on disk).
"""

import os

import pytest
from pyspark.sql import functions as F

from rustcheatersdatapipeline_spark.warehouse.persist import (
    ConcurrentWriteError,
    GoldStore,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def _rows(store, name):
    return {tuple(r) for r in store.read(name).collect()}


def _store_with_batches(spark, tmp_path, batches):
    """An append-published table: one immutable dir per batch, disjoint
    key ranges — the manifest stats make them individually prunable."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    v = 0
    for rows in batches:
        # coalesce(1): one file per batch so "touched files" == "touched
        # batches" and the pruning assertions are exact
        v = store.publish_append({"t": _df(spark, rows).coalesce(1)}, base_version=v)
    return store, v


BATCHES = [
    [(1, "a1"), (2, "a2"), (3, "a3")],
    [(10, "b1"), (11, "b2")],
    [(20, "c1"), (21, "c2"), (22, "c3")],
]


def test_upsert_semantics_match_naive_recompute(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    src = _df(spark, [(2, "A2"), (21, "C2"), (99, "new")])
    v = store.merge("t", src, ["k"])
    assert v == 4
    expect = {(1, "a1"), (2, "A2"), (3, "a3"), (10, "b1"), (11, "b2"),
              (20, "c1"), (21, "C2"), (22, "c3"), (99, "new")}
    assert _rows(store, "t") == expect
    assert store.current_manifest()["tables"]["t"]["rows"] == len(expect)


def test_untouched_files_carry_forward_by_reference(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    before = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    mtimes = {
        p: os.stat(os.path.join(store.path, p)).st_mtime_ns for p in before
    }
    # keys hit batch 1 and batch 3 only — batch 2's file must survive
    # with the same path and bytes (copy-on-write never rewrites it)
    store.merge("t", _df(spark, [(2, "A2"), (21, "C2")]), ["k"])
    entry = store.current_manifest()["tables"]["t"]
    assert entry["file_level"] is True
    after = {f["path"] for f in entry["files"]}
    carried = before & after
    # exactly one original file carried (the middle batch)
    assert len(carried) == 1
    p = next(iter(carried))
    assert os.stat(os.path.join(store.path, p)).st_mtime_ns == mtimes[p]
    # the carried file is the one whose key range the source misses
    assert {tuple(r) for r in store.read("t").collect()} >= {(10, "b1"), (11, "b2")}


def test_stats_prune_limits_the_exact_probe(spark, tmp_path):
    """Files whose [min,max] key range cannot contain a source key are
    never even candidates — checked through the manifest alone."""
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    entry = store.current_manifest()["tables"]["t"]
    ranges = {f["path"]: f["stats"]["k"] for f in entry["files"]}
    # source bounded inside batch 2's range: batches 1 and 3 prune on
    # bounds; merge must carry BOTH forward untouched
    before = set(ranges)
    store.merge("t", _df(spark, [(11, "B2")]), ["k"])
    after = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    assert len(before & after) == 2
    assert _rows(store, "t") >= {(1, "a1"), (11, "B2"), (22, "c3")}


def test_all_null_source_key_column_prunes_nothing(spark, tmp_path):
    """A source key column that is all NULL has no [min, max] bounds:
    it must keep every file a candidate (not crash comparing stats to
    None, not prune everything), and the NULL-keyed row lands."""
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    before = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    store.merge("t", _df(spark, [(None, "n")]), ["k"])
    after = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    assert before <= after
    assert _rows(store, "t") == {r for b in BATCHES for r in b} | {(None, "n")}


def test_insert_only_merge_and_cdc_file_diff(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    before = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    store.merge("t", _df(spark, [(50, "x"), (51, "y")]), ["k"])
    # no key matched: every original file carried, merge == append
    entry = store.current_manifest()["tables"]["t"]
    assert before <= {f["path"] for f in entry["files"]}
    # and CDC across an insert-only merge is exact at file level
    delta = {tuple(r) for r in store.changes_since("t", v0).collect()}
    assert delta == {(50, "x"), (51, "y")}


def test_cdc_raises_across_an_update_merge(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"])
    with pytest.raises(ValueError, match="rewrote files"):
        store.changes_since("t", v0)


def test_delete_mode(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    v = store.merge("t", spark.createDataFrame([(10,), (22,)], "k bigint"),
                    ["k"], mode="delete")
    assert v == 4
    assert _rows(store, "t") == {(1, "a1"), (2, "a2"), (3, "a3"), (11, "b2"),
                                 (20, "c1"), (21, "c2")}
    # deleting keys that do not exist is a no-op and commits NO version
    assert store.merge("t", spark.createDataFrame([(777,)], "k bigint"),
                       ["k"], mode="delete") == v
    assert store.current_version() == v
    # deleting EVERY remaining row of a file stages an empty rewrite —
    # the entry must stay readable
    store.merge("t", spark.createDataFrame([(11,)], "k bigint"), ["k"], mode="delete")
    assert _rows(store, "t") == {(1, "a1"), (2, "a2"), (3, "a3"),
                                 (20, "c1"), (21, "c2")}


def test_duplicate_source_keys_rejected(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge("t", _df(spark, [(2, "x"), (2, "y")]), ["k"])


def test_additive_schema_evolution_through_merge(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    src = spark.createDataFrame([(2, "A2", 7)], "k bigint, v string, extra int")
    store.merge("t", src, ["k"])
    got = {tuple(r) for r in store.read("t").collect()}
    assert (2, "A2", 7) in got
    assert (10, "b1", None) in got  # pre-evolution file yields NULL


def test_merge_then_append_then_read_and_compact(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    v = store.merge("t", _df(spark, [(2, "A2")]), ["k"])
    v = store.publish_append({"t": _df(spark, [(60, "z")])}, base_version=v)
    assert store.current_manifest()["tables"]["t"]["file_level"] is True
    assert (60, "z") in _rows(store, "t") and (2, "A2") in _rows(store, "t")
    rows_before = _rows(store, "t")
    store.compact("t")
    assert _rows(store, "t") == rows_before
    assert "file_level" not in store.current_manifest()["tables"]["t"]


def test_vacuum_keeps_partially_referenced_dirs(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    store.merge("t", _df(spark, [(2, "A2")]), ["k"])
    rows = _rows(store, "t")
    removed = store.vacuum(min_age_seconds=0.0)
    # every dir still contributes at least one referenced file (the
    # rewritten batch dir was fully superseded — allowed to go)
    assert _rows(store, "t") == rows
    live = {d for d in store.current_manifest()["tables"]["t"]["dirs"]}
    for d in live:
        assert os.path.isdir(os.path.join(store.path, d))
    assert all(f"_data{os.sep}{t}" not in live for t in removed)


def test_merge_cas_race_rejected(spark, tmp_path):
    store, v = _store_with_batches(spark, tmp_path, BATCHES)
    # another writer lands between read and merge commit: merge reads
    # base_version itself, so simulate by a racing publish through a
    # second handle after merge captured its base — easiest determinism:
    # monkeypatch current_version to return a stale base
    stale = v - 1
    orig = store.current_version
    store.current_version = lambda: stale  # type: ignore[method-assign]
    try:
        with pytest.raises(ConcurrentWriteError):
            store.merge("t", _df(spark, [(2, "A2")]), ["k"])
    finally:
        store.current_version = orig  # type: ignore[method-assign]


def test_merge_on_partitioned_replace_published_table(spark, tmp_path):
    """A replace-published partitioned fact (date_sk layout) merges with
    the partition column reconstructed for carried files."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    df = spark.createDataFrame(
        [(1, 100, "x"), (2, 100, "y"), (3, 200, "z")], "k bigint, date_sk int, v string"
    ).repartition(1)
    # PARTITIONED_FACTS gates on name; use plain publish (partitioned
    # layout only applies to known facts) — emulate by two appends per
    # date instead
    v = store.publish_append({"fact": df.filter("date_sk = 100").coalesce(1)}, 0)
    v = store.publish_append({"fact": df.filter("date_sk = 200").coalesce(1)}, v)
    store.merge("fact", spark.createDataFrame([(2, 100, "Y")], "k bigint, date_sk int, v string"), ["k"])
    assert _rows(store, "fact") == {(1, 100, "x"), (2, 100, "Y"), (3, 200, "z")}
    # pruning on the untouched partition still works from the manifest
    files = store.pruned_files("fact", {"date_sk": (200, 200)})
    assert files is not None and len(files) == 1


def test_read_at_time_travel_survives_merge(spark, tmp_path):
    store, v0 = _store_with_batches(spark, tmp_path, BATCHES)
    pre = {tuple(r) for r in store.read("t").collect()}
    store.merge("t", _df(spark, [(2, "A2")]), ["k"])
    assert {tuple(r) for r in store.read_at("t", v0).collect()} == pre


def test_optimize_reclaims_merge_debt(spark, tmp_path):
    """After merges hollow out a dir, optimize rewrites ONLY that dir's
    live rows; healthy dirs carry forward byte-identical."""
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    # write batch 1's file half-dead: rewrite 2 of its 3 keys
    store.merge("t", _df(spark, [(1, "A1"), (2, "A2")]), ["k"])
    rows_before = _rows(store, "t")
    entry = store.current_manifest()["tables"]["t"]
    healthy = {
        f["path"] for f in entry["files"]
        if f["path"].split(os.sep)[1] != entry["dirs"][-1].split(os.sep)[1]
    }
    # the merge rewrote batch-1's whole file (copy-on-write), so every
    # dir is fully live — force debt by deleting from the NEW dir too
    v = store.merge("t", _df(spark, [(3, "B3")]), ["k"])
    # now the first merge's staged dir contains a dead file
    got = store.optimize("t", min_live_fraction=1.0)
    assert got == v + 1
    assert _rows(store, "t") == (rows_before - {(3, "a3")}) | {(3, "B3")}
    new_entry = store.current_manifest()["tables"]["t"]
    assert new_entry["rows"] == len(_rows(store, "t"))
    # untouched original batch dirs still referenced by the same paths
    kept = {f["path"] for f in new_entry["files"]}
    assert healthy & kept == healthy
    # and a second optimize is a no-op
    assert store.optimize("t", min_live_fraction=1.0) is None


def test_optimize_noop_on_dir_level_entry(spark, tmp_path):
    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    assert store.optimize("t") is None


def test_insert_if_absent_mode(spark, tmp_path):
    """D11 ON CONFLICT DO NOTHING at file-level cost: present keys keep
    the TARGET row, fresh keys append, nothing is rewritten."""
    store, v = _store_with_batches(spark, tmp_path, BATCHES)
    before = {f["path"] for f in store.current_manifest()["tables"]["t"]["files"]}
    got = store.merge(
        "t", _df(spark, [(2, "SHOULD-LOSE"), (99, "fresh")]), ["k"],
        mode="insert_if_absent",
    )
    assert got == v + 1
    rows = _rows(store, "t")
    assert (2, "a2") in rows and (2, "SHOULD-LOSE") not in rows
    assert (99, "fresh") in rows
    # pure append: every original file still referenced, entry stays
    # dir-level (no file_level flag — nothing was rewritten)
    entry = store.current_manifest()["tables"]["t"]
    assert before <= {f["path"] for f in entry["files"]}
    assert "file_level" not in entry
    # full replay commits NO new version
    assert store.merge(
        "t", _df(spark, [(2, "SHOULD-LOSE"), (99, "fresh")]), ["k"],
        mode="insert_if_absent",
    ) == got
    assert store.current_version() == got
    # and CDC sees exactly the fresh rows (append-only history)
    assert {tuple(r) for r in store.changes_since("t", v).collect()} == {(99, "fresh")}


def test_multi_predicate_pruning_multiplies_the_cut(spark, tmp_path):
    """Quadrant-clustered files: a 2-column bound must open exactly the
    one file both predicates intersect; either single column alone
    keeps two."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    v = 0
    quads = {
        (0, 0): [(1, 1, "a"), (2, 2, "b")],
        (0, 1): [(1, 11, "c"), (2, 12, "d")],
        (1, 0): [(11, 1, "e"), (12, 2, "f")],
        (1, 1): [(11, 11, "g"), (12, 12, "h")],
    }
    for rows in quads.values():
        df = spark.createDataFrame(rows, "x bigint, y bigint, v string").coalesce(1)
        v = store.publish_append({"z": df}, base_version=v)
    both = store.pruned_files("z", {"x": (0, 5), "y": (0, 5)})
    assert len(both) == 1
    only_x = store.pruned_files("z", {"x": (0, 5)})
    assert len(only_x) == 2
    got = {tuple(r) for r in store.read_pruned(
        "z", {"x": (0, 5), "y": (0, 5)}).collect()}
    assert got == {(1, 1, "a"), (2, 2, "b")}
    # residual filtering still applies inside the kept file
    got = {tuple(r) for r in store.read_pruned(
        "z", {"x": (2, 5), "y": (0, 5)}).collect()}
    assert got == {(2, 2, "b")}


def test_merge_with_retry_rebuilds_on_lost_race(spark, tmp_path):
    from rustcheatersdatapipeline_spark.warehouse.persist import merge_with_retry

    store, _ = _store_with_batches(spark, tmp_path, BATCHES)
    real = store._commit
    fails = {"n": 0}

    def flaky(update_tables, base_version, txn, lock_timeout):
        if fails["n"] < 2:
            fails["n"] += 1
            raise ConcurrentWriteError("simulated racing writer")
        return real(update_tables, base_version, txn, lock_timeout)

    store._commit = flaky  # type: ignore[method-assign]
    try:
        v = merge_with_retry(store, "t", _df(spark, [(2, "A2")]), ["k"])
    finally:
        store._commit = real  # type: ignore[method-assign]
    assert fails["n"] == 2 and v == store.current_version()
    assert (2, "A2") in _rows(store, "t")
    # exhausted retries surface the last error
    store._commit = lambda *a, **k: (_ for _ in ()).throw(  # type: ignore[method-assign]
        ConcurrentWriteError("always busy")
    )
    try:
        with pytest.raises(ConcurrentWriteError):
            merge_with_retry(store, "t", _df(spark, [(3, "x")]), ["k"], max_attempts=2)
    finally:
        store._commit = real  # type: ignore[method-assign]


def test_merge_upsert_sink_streaming_cdc(spark, tmp_path):
    """Drop-folder CDC stream through MergeUpsertSink: latest-wins per
    key within and across batches, copy-on-write cost, replay-stable
    state."""
    import json

    from rustcheatersdatapipeline_spark.streaming.ingest import MergeUpsertSink

    drop = tmp_path / "cdc"
    drop.mkdir()
    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = MergeUpsertSink(store, "dim", ["k"], order_col="seq")

    def run(ck):
        q = (
            spark.readStream.schema("k bigint, v string, seq bigint")
            .json(str(drop))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def drop_file(name, rows):
        (drop / name).write_text(
            "\n".join(json.dumps(dict(zip(("k", "v", "seq"), r))) for r in rows)
        )

    # batch 1: initial states, including an in-batch update (seq wins)
    drop_file("b1.jsonl", [(1, "a1", 10), (2, "b1", 10), (1, "a1-NEW", 11)])
    run("ck1")
    assert {tuple(r) for r in store.read("dim").collect()} == {
        (1, "a1-NEW", 11), (2, "b1", 10), }
    # batch 2: update one key, insert another
    drop_file("b2.jsonl", [(2, "b2", 20), (3, "c1", 20)])
    run("ck1")
    state = {tuple(r) for r in store.read("dim").collect()}
    assert state == {(1, "a1-NEW", 11), (2, "b2", 20), (3, "c1", 20)}
    # replay both files through a fresh checkpoint: state unchanged
    run("ck2")
    assert {tuple(r) for r in store.read("dim").collect()} == state


# -- ADVICE r8 regressions --------------------------------------------------


def test_merge_through_symlinked_relative_store_path(spark, tmp_path, monkeypatch):
    """Touched-file detection must survive a store path that the
    filesystem reports differently than the caller spelled it (symlinked
    temp dirs, relative paths): a miss here silently keeps stale target
    rows beside the inserted ones. Matching on the _data/<txn>/ suffix
    makes the spelling irrelevant."""
    real = tmp_path / "real_gold"
    real.mkdir()
    link = tmp_path / "link_gold"
    os.symlink(real, link)
    monkeypatch.chdir(tmp_path)
    # relative spelling THROUGH the symlink — worst case for prefix match
    store = GoldStore(spark, "link_gold")
    v = store.publish_append({"t": _df(spark, BATCHES[0]).coalesce(1)}, 0)
    store.publish_append({"t": _df(spark, BATCHES[1]).coalesce(1)}, v)
    store.merge("t", _df(spark, [(2, "A2"), (99, "new")]), ["k"])
    assert _rows(store, "t") == {
        (1, "a1"), (2, "A2"), (3, "a3"), (10, "b1"), (11, "b2"), (99, "new")
    }
    # delete must actually remove, not silently no-op
    store.merge("t", _df(spark, [(1, None)]).select("k"), ["k"], mode="delete")
    assert 1 not in {k for k, _ in _rows(store, "t")}


def _strip_file_stats(store, name):
    """Emulate a legacy manifest entry written before per-file stats
    existed: files -> None in both the live manifest and the history."""
    import json

    for p in [store._manifest_file()] + [
        os.path.join(store.path, "_manifests", f"v{v}.json")
        for v in store.versions()
    ]:
        with open(p, encoding="utf-8") as f:
            m = json.load(f)
        if name in m["tables"]:
            m["tables"][name]["files"] = None
        with open(p, "w", encoding="utf-8") as f:
            json.dump(m, f)


def test_merge_partial_file_stats_takes_full_rewrite_path(spark, tmp_path):
    """A legacy (files=None) entry later extended by publish_append has
    a PARTIAL file list. Treating it as complete would make merge drop
    the legacy dir's rows (data loss) and pruned reads skip them; both
    must fall back to whole-dir semantics instead."""
    store, v = _store_with_batches(spark, tmp_path, BATCHES[:1])
    _strip_file_stats(store, "t")
    store.publish_append({"t": _df(spark, BATCHES[1]).coalesce(1)}, v)
    entry = store.current_manifest()["tables"]["t"]
    # the emulated hazard is real: a partial list covering only batch 2
    assert entry["files"] is not None and len(entry["files"]) == 1
    assert store.pruned_files("t", {"k": (1, 1)}) is None  # no silent skip
    store.merge("t", _df(spark, [(2, "A2"), (99, "new")]), ["k"])
    assert _rows(store, "t") == {
        (1, "a1"), (2, "A2"), (3, "a3"), (10, "b1"), (11, "b2"), (99, "new")
    }
    assert store.current_manifest()["tables"]["t"]["rows"] == 6


def test_merge_upsert_sink_bootstrap_race_converges(spark, tmp_path):
    """Two sinks racing the first-ever batch: the loser's bootstrap
    append is CAS-rejected, and it must fall through to merge on the
    winner's table — not double-append under a distinct base."""
    from rustcheatersdatapipeline_spark.streaming.ingest import MergeUpsertSink

    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = MergeUpsertSink(store, "dim", ["k"])
    original = store.publish_append
    raced = {"done": False}

    def racing_publish_append(frames, base, **kw):
        if not raced["done"] and "dim" in frames:
            raced["done"] = True
            # the other sink wins the bootstrap with ITS batch first
            original({"dim": _df(spark, [(1, "other"), (5, "theirs")])}, base)
            return original(frames, base, **kw)  # -> ConcurrentWriteError
        return original(frames, base, **kw)

    store.publish_append = racing_publish_append
    assert sink(_df(spark, [(1, "mine"), (2, "mine")]), batch_id=0) == 2
    # loser merged over the winner's rows: k=1 latest-wins to the loser's
    # replay, k=5 survives, k=2 inserted — and no duplicate keys exist
    rows = _rows(store, "dim")
    assert rows == {(1, "mine"), (2, "mine"), (5, "theirs")}
