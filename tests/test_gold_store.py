"""GoldStore write-audit-publish: concurrent batches must serialize like
the reference's Postgres ON CONFLICT upserts (LoadDimsOperator.py:25-28)
— a lost race is rejected and rebuilt on the winner's state, never
last-writer-wins dropped."""

import pytest

from rustcheatersdatapipeline_spark.warehouse.persist import (
    ConcurrentWriteError,
    GoldStore,
    publish_with_retry,
)
from rustcheatersdatapipeline_spark.warehouse.writers import (
    insert_if_absent,
    upsert_latest_wins,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "steam_id string, level int")


def _rows(store, name):
    if name not in store.current_manifest()["tables"]:
        return set()
    return {tuple(r) for r in store.read(name).collect()}


def test_publish_read_roundtrip_and_carry_forward(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    v1 = store.publish({"player_dim": _df(spark, [("a", 1)])}, base_version=0)
    assert v1 == 1 and _rows(store, "player_dim") == {("a", 1)}

    # second publish names only another table: player_dim carries forward
    v2 = store.publish({"other_dim": _df(spark, [("z", 9)])}, base_version=1)
    assert v2 == 2
    assert _rows(store, "player_dim") == {("a", 1)}
    assert _rows(store, "other_dim") == {("z", 9)}
    assert store.current_manifest()["tables"]["player_dim"]["rows"] == 1


def test_stale_base_is_rejected_and_leaves_gold_untouched(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"player_dim": _df(spark, [("a", 1)])}, base_version=0)

    # writers A and B both observe version 1; B commits first
    base = store.current_version()
    store.publish({"player_dim": _df(spark, [("a", 1), ("b", 2)])}, base_version=base)
    with pytest.raises(ConcurrentWriteError):
        store.publish({"player_dim": _df(spark, [("a", 1), ("c", 3)])}, base_version=base)
    # loser's rows are invisible; winner's state intact
    assert _rows(store, "player_dim") == {("a", 1), ("b", 2)}

    # orphans: the rejected txn AND the superseded v1 directory
    assert len(store.vacuum(min_age_seconds=0)) == 2
    assert _rows(store, "player_dim") == {("a", 1), ("b", 2)}


@pytest.mark.parametrize("first", ["b1", "b2"])
def test_interleaved_batches_converge_either_order(spark, tmp_path, first):
    """The ON CONFLICT property: two read-modify-write batches with
    overlapping keys, fully interleaved (both read the same base), must
    converge to the serial result in either commit order."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"player_dim": _df(spark, [("a", 1), ("b", 1)])}, base_version=0)

    batches = {
        "b1": _df(spark, [("b", 10), ("c", 10)]),  # updates b, inserts c
        "b2": _df(spark, [("b", 20), ("d", 20)]),  # updates b, inserts d
    }
    order = [first, "b2" if first == "b1" else "b1"]

    def apply_batch(tables, batch):
        return {
            "player_dim": upsert_latest_wins(
                tables["player_dim"], batch, keys=["steam_id"]
            )
        }

    # both writers snapshot the SAME base (full interleave)...
    snapshots = {
        name: (store.current_manifest()["version"], store.read_all())
        for name in order
    }
    # ...the first commits; the second's direct publish must fail, and
    # publish_with_retry rebuilds it on the winner's state
    v_base, tables = snapshots[order[0]]
    store.publish(apply_batch(tables, batches[order[0]]), base_version=v_base)
    v_base, tables = snapshots[order[1]]
    with pytest.raises(ConcurrentWriteError):
        store.publish(apply_batch(tables, batches[order[1]]), base_version=v_base)
    publish_with_retry(store, lambda t: apply_batch(t, batches[order[1]]))

    got = _rows(store, "player_dim")
    # 'b' ends at the LAST committer's value; a/c/d all survive
    last = order[1]
    want = {("a", 1), ("c", 10), ("d", 20), ("b", 10 if last == "b1" else 20)}
    assert got == want


def test_goldstore_streaming_sink_replay_and_external_writer(spark, tmp_path):
    """Streaming foreachBatch through the store: replaying the same
    input converges (key-idempotent merge), and an EXTERNAL publish
    landing between runs survives — the overwrite sink would clobber it."""
    import shutil

    from rustcheatersdatapipeline_spark.streaming import open_events_stream
    from rustcheatersdatapipeline_spark.streaming.sink import GoldStoreMergeSink

    events_dir = tmp_path / "in"
    events_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", events_dir / "p0.parquet")

    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = GoldStoreMergeSink(
        store, "events_latest", keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )

    def run(ckpt):
        q = (
            open_events_stream(spark, str(events_dir))
            .select("user_id", "event_type", "ts", "value", "event_id")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ckpt1")
    out1 = sorted(map(tuple, store.read("events_latest").collect()))
    keys = store.read("events_latest").select("user_id", "event_type").distinct().count()
    assert len(out1) == keys > 0

    # an unrelated table published by a concurrent batch writer...
    store.publish(
        {"other": _df(spark, [("x", 1)])}, base_version=store.current_version()
    )
    # ...survives a full stream replay through a fresh checkpoint
    run("ckpt2")
    assert sorted(map(tuple, store.read("events_latest").collect())) == out1
    assert _rows(store, "other") == {("x", 1)}


def test_insert_if_absent_batches_idempotent_under_replay(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"player_dim": _df(spark, [("a", 1)])}, base_version=0)
    batch = _df(spark, [("a", 99), ("e", 5)])

    def build(tables):
        return {
            "player_dim": insert_if_absent(tables["player_dim"], batch, keys=["steam_id"])
        }

    publish_with_retry(store, build)
    publish_with_retry(store, build)  # replay: no-op
    assert _rows(store, "player_dim") == {("a", 1), ("e", 5)}
    assert store.current_version() == 3


def test_changes_since_incremental_consumption(spark, tmp_path):
    """CDC over the append-only history: the dir-level diff IS the
    row-level delta — and survives compaction via the recorded
    ``compacted_from`` lineage (round-6 directive #5)."""
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, str(tmp_path / "g"))
    df = lambda lo, hi: spark.range(lo, hi).selectExpr("id", "id * 2 as v")
    v1 = store.publish({"t": df(0, 10)}, 0)
    v2 = store.publish_append({"t": df(10, 15)}, v1)
    v3 = store.publish_append({"t": df(15, 18)}, v2)

    since_v1 = {r["id"] for r in store.changes_since("t", v1).collect()}
    assert since_v1 == set(range(10, 18))
    since_v2 = {r["id"] for r in store.changes_since("t", v2).collect()}
    assert since_v2 == set(range(15, 18))
    assert store.changes_since("t", v3).count() == 0

    # a table absent at from_version diffs as everything
    v4 = store.publish_append({"u": df(0, 4)}, v3)
    assert store.changes_since("u", v1).count() == 4

    # append → compact → append: the history walk proves the compaction
    # row-preserving and recovers the ORIGINAL append dirs, so a
    # pre-compaction baseline still yields exactly the appended rows
    store.compact("t")
    assert {r["id"] for r in store.changes_since("t", v2).collect()} == set(
        range(15, 18)
    )
    v6 = store.current_version()
    store.publish_append({"t": df(18, 20)}, v6)
    assert {r["id"] for r in store.changes_since("t", v6).collect()} == {18, 19}
    # across the compaction AND the later append in one diff
    assert {r["id"] for r in store.changes_since("t", v2).collect()} == set(
        range(15, 20)
    )

    # a rewrite that is NOT a recorded compaction (replace publish with
    # different rows) still refuses the dir-level diff
    store.publish({"t": df(0, 5)}, store.current_version())
    with pytest.raises(ValueError, match="not a recorded row-preserving"):
        store.changes_since("t", v2)


def test_changes_since_refuses_pruned_history(spark, tmp_path):
    """When vacuum pruned the manifest window the walk needs, the diff
    must refuse (clear error) rather than guess."""
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, str(tmp_path / "g"))
    df = lambda lo, hi: spark.range(lo, hi).selectExpr("id", "id * 2 as v")
    v1 = store.publish({"t": df(0, 10)}, 0)
    v2 = store.publish_append({"t": df(10, 15)}, v1)
    store.compact("t")
    store.publish_append({"t": df(15, 18)}, store.current_version())
    store.vacuum(min_age_seconds=0.0, keep_versions=1)  # prunes v2/v3 manifests
    with pytest.raises(ValueError, match="pruned"):
        store.changes_since("t", v1)


def test_changes_since_v0_diffs_as_everything(spark, tmp_path):
    """v0 is the empty store (no manifest file is ever written for it):
    a diff from v0 is every row, exactly what changes_cdc reports."""
    store = GoldStore(spark, str(tmp_path / "g"))
    v1 = store.publish({"t": _df(spark, [("a", 1), ("b", 2)])}, 0)
    store.publish_append({"t": _df(spark, [("c", 3)])}, v1)
    want = {("a", 1), ("b", 2), ("c", 3)}
    assert {tuple(r) for r in store.changes_since("t", 0).collect()} == want
    cdc = store.changes_cdc("t", 0).collect()
    assert {r["_change_type"] for r in cdc} == {"insert"}
    assert {(r["steam_id"], r["level"]) for r in cdc} == want


def test_publish_reads_the_manifest_once_plus_the_cas(spark, tmp_path):
    """A publish onto a store that already holds its tables takes the
    constraints, the live names and the FK edges from ONE manifest
    read; the only other read is the commit's compare-and-swap."""
    store = GoldStore(spark, str(tmp_path / "g"))
    gold = {n: _df(spark, [(n, 1)]) for n in ("d1", "d2", "d3")}
    v = store.publish(gold, 0)
    v = store.declare_constraints({"d1": {"not_null": ["steam_id"]}}, v)
    reads = []
    real = store.current_manifest

    def counting():
        reads.append(1)
        return real()

    store.current_manifest = counting  # type: ignore[method-assign]
    try:
        store.publish(gold, v)
    finally:
        store.current_manifest = real  # type: ignore[method-assign]
    assert len(reads) == 2
