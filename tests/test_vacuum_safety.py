"""Vacuum concurrency safety + retention (VERDICT r5 #1, ADVICE r5 #1):

- a staged-but-uncommitted publish must survive a concurrent vacuum —
  in every interleaving of (stage, vacuum, commit) — via the _STAGED
  marker, even when the vacuum runs with a zero age window;
- vacuum(keep_versions=N) retains every dir the newest N history
  manifests reference, so read_at time travel works across routine
  maintenance (and the auto-compacting ingest sink uses it);
- the default retention age protects fresh orphans from a bare vacuum.
"""

import os

import pytest

from rustcheatersdatapipeline_spark.catalog import table
from rustcheatersdatapipeline_spark.streaming.ingest import CorpusIngestSink
from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore


def _df(spark, rows):
    return spark.createDataFrame(rows, "steam_id string, level int")


def _txn_dirs(store):
    root = os.path.join(store.path, "_data")
    return set(os.listdir(root)) if os.path.isdir(root) else set()


def test_staged_uncommitted_publish_survives_concurrent_vacuum(spark, tmp_path):
    """Writer A finishes staging but has not committed; a concurrent
    vacuum (even with min_age_seconds=0) must not reclaim A's dir —
    A's commit must then succeed and the table must be readable."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"dim": _df(spark, [("a", 1)])}, base_version=0)

    # simulate writer A paused between stage and commit
    txn = "aaaaaaaaaaaa"
    staged = store._stage_tables({"dim": _df(spark, [("b", 2)])}, txn, partitioned=True)
    assert os.path.exists(
        os.path.join(store.path, "_data", txn, GoldStore.STAGED_MARKER)
    )

    removed = store.vacuum(min_age_seconds=0)  # concurrent aggressive vacuum
    assert txn not in removed
    assert txn in _txn_dirs(store)

    # A now commits; the manifest references an intact dir
    v = store._commit(lambda t: t.update(staged), store.current_version(), txn, 30.0)
    store._unmark_staged(txn)
    assert v == 2
    assert {tuple(r) for r in store.read("dim").collect()} == {("b", 2)}


@pytest.mark.parametrize("vacuum_before_commit", [True, False])
def test_stage_vacuum_commit_interleavings_converge(
    spark, tmp_path, vacuum_before_commit
):
    """Both orderings of (vacuum, commit) around a staged txn end with
    the same committed, readable state."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"dim": _df(spark, [("a", 1)])}, base_version=0)
    txn = "bbbbbbbbbbbb"
    staged = store._stage_tables({"dim": _df(spark, [("c", 3)])}, txn, partitioned=True)

    def commit():
        v = store._commit(lambda t: t.update(staged), store.current_version(), txn, 30.0)
        store._unmark_staged(txn)
        return v

    if vacuum_before_commit:
        store.vacuum(min_age_seconds=0)
        commit()
    else:
        commit()
        store.vacuum(min_age_seconds=0)
    assert {tuple(r) for r in store.read("dim").collect()} == {("c", 3)}


def test_rejected_publish_dir_is_reclaimable_after_resolution(spark, tmp_path):
    """A publish that loses the CAS, or that its own audit rejects (a
    failed expectation, a staged constraint violation), removes its
    marker on the way out — its orphan dir IS reclaimable (with age=0),
    while the winner's data survives."""
    from rustcheatersdatapipeline_spark.warehouse.persist import (
        ConcurrentWriteError,
        ConstraintError,
        ExpectationError,
    )

    for rejection in ("cas", "expectation", "constraint"):
        store = GoldStore(spark, str(tmp_path / rejection))
        store.publish({"dim": _df(spark, [("a", 1)])}, base_version=0)
        base = store.current_version()
        store.publish({"dim": _df(spark, [("b", 2)])}, base_version=base)
        if rejection == "cas":
            with pytest.raises(ConcurrentWriteError):
                store.publish({"dim": _df(spark, [("c", 3)])}, base_version=base)
        elif rejection == "expectation":
            with pytest.raises(ExpectationError):
                store.publish(
                    {"dim": _df(spark, [("c", 3)])}, store.current_version(),
                    expectations={"dim": ["level < 3"]},
                )
        else:
            v = store.declare_constraints(
                {"dim": {"primary_key": ["steam_id"]}}, store.current_version()
            )
            with pytest.raises(ConstraintError):
                store.publish({"dim": _df(spark, [("c", 3), ("c", 4)])}, v)

        removed = store.vacuum(min_age_seconds=0)
        # reclaimed: the loser's dir AND v1's superseded dir
        assert len(removed) == 2
        assert {tuple(r) for r in store.read("dim").collect()} == {("b", 2)}


def test_default_age_window_protects_fresh_orphans(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"dim": _df(spark, [("a", 1)])}, base_version=0)
    store.publish({"dim": _df(spark, [("b", 2)])}, base_version=1)  # v1 orphaned
    assert store.vacuum() == []  # default DEFAULT_VACUUM_AGE → nothing reclaimed
    assert len(_txn_dirs(store)) == 2


def test_keep_versions_preserves_time_travel_window(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    store.publish({"dim": _df(spark, [("a", 1)])}, base_version=0)  # v1
    store.publish({"dim": _df(spark, [("b", 2)])}, base_version=1)  # v2
    store.publish({"dim": _df(spark, [("c", 3)])}, base_version=2)  # v3

    removed = store.vacuum(min_age_seconds=0, keep_versions=2)
    assert len(removed) == 1  # only v1's dir falls outside the window

    # versions inside the window stay readable; v1 is no longer advertised
    assert store.versions() == [2, 3]
    assert {tuple(r) for r in store.read_at("dim", 2).collect()} == {("b", 2)}
    assert {tuple(r) for r in store.read_at("dim", 3).collect()} == {("c", 3)}


def test_auto_compaction_keeps_read_at_inside_window(spark, sf_dir, tmp_path):
    """VERDICT r5 #1 done-criterion: after the ingest sink's
    auto-compaction (which now vacuums with keep_versions), read_at
    still serves versions inside the retention window."""
    docs = [
        (r["doc_id"], r["text"])
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(9)
        .collect()
    ]
    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = CorpusIngestSink(store, k=9, max_dirs=2, keep_versions=4)

    schema = "doc_id long, text string"
    for i in range(4):  # 3 docs per batch → dir list exceeds 2 → compaction
        batch = spark.createDataFrame(docs[3 * i : 3 * (i + 1)] or [(10_000 + i, f"tail doc {i} unique")], schema)
        sink(batch, i)

    versions = store.versions()
    assert versions, "history manifests must survive auto-compaction"
    for v in versions[-sink.keep_versions :]:
        n = store.read_at("corpus", v).count()
        assert n > 0
    assert store.read("corpus").count() == store.read_at("corpus", versions[-1]).count()
