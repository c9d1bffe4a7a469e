"""Incremental materialized aggregates (warehouse/views.py): every
refresh must equal the from-scratch aggregation of the full source,
while provably reading only the CDC delta on the incremental path."""

import pytest

from pyspark.sql import functions as F

from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore
from rustcheatersdatapipeline_spark.warehouse.views import IncrementalAggregateView


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, n_chars long")


def _expected(rows):
    out = {}
    for _id, src, n in rows:
        cur = out.setdefault(src, [0, 0])
        cur[0] += 1
        cur[1] += n
    return {s: (c, t) for s, (c, t) in out.items()}


def _view_dict(view):
    return {
        r["source"]: (r["n_rows"], r["total_chars"])
        for r in view.store.read(view.view_table).collect()
    }


def test_incremental_refresh_equals_full_aggregation(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10), (2, "a", 20), (3, "b", 5)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    assert view.refresh() == 3
    assert _view_dict(view) == _expected(b1)

    b2 = [(4, "b", 7), (5, "c", 100)]
    store.publish_append({"docs": _batch(spark, b2)}, store.current_version())

    # the incremental path must consult the CDC delta, not rescan docs
    calls = []
    orig = store.changes_since
    store.changes_since = lambda name, v: calls.append((name, v)) or orig(name, v)
    reads = []
    orig_read = store.read
    store.read = lambda name: reads.append(name) or orig_read(name)
    assert view.refresh() == 2
    store.changes_since, store.read = orig, orig_read
    assert calls and calls[0][0] == "docs"
    assert "docs" not in reads  # only the view table re-read, never the corpus
    assert _view_dict(view) == _expected(b1 + b2)


def test_noop_refresh_publishes_nothing(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    store.publish_append(
        {"docs": _batch(spark, [(1, "a", 10)])}, store.current_version()
    )
    view.refresh()
    v = store.current_version()
    assert view.refresh() == 0
    assert store.current_version() == v  # no version churn when fresh


def test_unprovable_delta_falls_back_to_rebuild(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10), (2, "b", 20)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    view.refresh()
    b2 = [(3, "b", 30)]
    store.publish_append({"docs": _batch(spark, b2)}, store.current_version())

    def boom(name, v):
        raise ValueError("history pruned")

    # a pruned history breaks BOTH incremental paths (changes_cdc walks
    # the same retained manifests) — only then does the view rebuild
    orig, orig_cdc = store.changes_since, store.changes_cdc
    store.changes_since = store.changes_cdc = boom
    try:
        assert view.refresh() == 3  # full rebuild folds everything
    finally:
        store.changes_since, store.changes_cdc = orig, orig_cdc
    assert _view_dict(view) == _expected(b1 + b2)
    # and the watermark recovered: the next refresh is incremental again
    b3 = [(4, "c", 1)]
    store.publish_append({"docs": _batch(spark, b3)}, store.current_version())
    assert view.refresh() == 1
    assert _view_dict(view) == _expected(b1 + b2 + b3)


def test_survives_compaction_between_refreshes(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    view.refresh()
    b2 = [(2, "a", 20), (3, "b", 5)]
    store.publish_append({"docs": _batch(spark, b2)}, store.current_version())
    store.compact("docs")  # recorded row-preserving rewrite
    b3 = [(4, "b", 50)]
    store.publish_append({"docs": _batch(spark, b3)}, store.current_version())
    folded = view.refresh()
    assert folded == 3  # b2 + b3, proven through the compaction lineage
    assert _view_dict(view) == _expected(b1 + b2 + b3)


def test_corpus_stats_instance(spark, tmp_path):
    from rustcheatersdatapipeline_spark.warehouse.views import corpus_stats_view

    store = GoldStore(spark, str(tmp_path / "gold"))
    docs = spark.createDataFrame(
        [(1, "t", None, "src0", 5), (2, "u", None, "src0", 7), (3, "v", None, "src1", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    store.publish_append({"corpus": docs}, store.current_version())
    view = corpus_stats_view(store)
    assert view.refresh() == 3
    got = {
        r["source"]: (r["n_rows"], r["total_chars"])
        for r in store.read("corpus_stats_by_source").collect()
    }
    assert got == {"src0": (2, 12), "src1": (1, 3)}


def test_refresh_retries_past_racing_writer(spark, tmp_path):
    """A writer advancing the store between the view's read and publish
    fails the CAS; the retry recomputes against the new truth and folds
    the racer's rows too."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    view.refresh()
    b2 = [(2, "a", 5)]
    store.publish_append({"docs": _batch(spark, b2)}, store.current_version())

    b3 = [(3, "b", 7)]
    raced = {"fired": False}
    orig_publish = store.publish

    def racing_publish(gold, base, **kw):
        if not raced["fired"]:
            raced["fired"] = True
            # a concurrent writer lands first, invalidating our base
            store.publish_append({"docs": _batch(spark, b3)}, store.current_version())
        return orig_publish(gold, base, **kw)

    store.publish = racing_publish
    try:
        folded = view.refresh()
    finally:
        store.publish = orig_publish
    assert raced["fired"]
    assert folded in (2, 3)  # first attempt CAS-fails; retry folds b2(+b3)
    view.refresh()  # converge whatever the retry timing left over
    assert _view_dict(view) == _expected(b1 + b2 + b3)


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_update_merge_stays_o_delta_via_cdc(spark, tmp_path, strategy):
    """VERDICT r8 #2: an update MERGE (either strategy) must NOT force
    the view into an O(table) rebuild — refresh folds the row-level CDC
    (old-rows-minus / new-rows-plus over the touched set) and lands on
    the recomputed truth. Interception proves the source table is never
    fully read; an INSERT-ONLY merge keeps the cheaper append path."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10), (2, "a", 20), (3, "b", 5)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    view.refresh()

    # update merge: doc 2 shrinks from 20 to 2 chars
    store.merge("docs", _batch(spark, [(2, "a", 2)]), ["doc_id"], strategy=strategy)
    cdc_calls, read_calls = [], []
    orig_cdc, orig_read = store.changes_cdc, store.read

    def spy_cdc(name, v):
        cdc_calls.append((name, v))
        return orig_cdc(name, v)

    def spy_read(name):
        read_calls.append(name)
        return orig_read(name)

    store.changes_cdc, store.read = spy_cdc, spy_read
    try:
        view.refresh()
    finally:
        store.changes_cdc, store.read = orig_cdc, orig_read
    assert cdc_calls  # the O(delta) path ran...
    assert "docs" not in read_calls  # ...and the source was never full-read
    assert _view_dict(view) == _expected([(1, "a", 10), (2, "a", 2), (3, "b", 5)])

    # a delete that empties a group: retraction must drop the group row
    store.merge(
        "docs",
        _batch(spark, [(3, "b", 0)]).select("doc_id"),
        ["doc_id"],
        mode="delete",
        strategy=strategy,
    )
    view.refresh()
    assert _view_dict(view) == _expected([(1, "a", 10), (2, "a", 2)])

    # insert-only merge: exact file-level CDC keeps the delta path
    store.merge(
        "docs", _batch(spark, [(9, "c", 50)]), ["doc_id"], mode="insert_if_absent"
    )
    calls = []
    orig = store.changes_since
    store.changes_since = lambda name, v: calls.append(v) or orig(name, v)
    view.refresh()
    store.changes_since = orig
    assert calls  # append path consulted and did not raise
    assert _view_dict(view) == _expected(
        [(1, "a", 10), (2, "a", 2), (9, "c", 50)]
    )


def test_max_view_still_rebuilds_on_update_merge(spark, tmp_path):
    """MAX cannot retract: a view with a max measure must take the full
    rebuild on an update merge — and stay correct."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"],
        sums={"total_chars": "n_chars"}, maxes={"max_chars": "n_chars"},
    )
    store.publish_append(
        {"docs": _batch(spark, [(1, "a", 10), (2, "a", 20)])},
        store.current_version(),
    )
    view.refresh()
    # the current max row shrinks: only a rebuild can lower a max
    store.merge("docs", _batch(spark, [(2, "a", 2)]), ["doc_id"], strategy="mor")
    view.refresh()
    got = {
        r["source"]: (r["n_rows"], r["total_chars"], r["max_chars"])
        for r in store.read("stats").collect()
    }
    assert got == {"a": (2, 12, 10)}


def _persistent_rdd_ids(spark) -> set:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_refresh_leaves_no_checkpoint_behind(spark, tmp_path):
    """The append path and the CDC path each checkpoint the merged view
    before publishing it; the checkpoint is dropped once the publish
    resolves, so a refresh adds no persistent RDD."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    view = IncrementalAggregateView(
        store, "docs", "stats", keys=["source"], sums={"total_chars": "n_chars"}
    )
    b1 = [(1, "a", 10), (2, "a", 20), (3, "b", 5)]
    store.publish_append({"docs": _batch(spark, b1)}, store.current_version())
    view.refresh()

    b2 = [(4, "b", 7)]
    store.publish_append({"docs": _batch(spark, b2)}, store.current_version())
    before = _persistent_rdd_ids(spark)
    assert view.refresh() == 1  # append path
    assert _persistent_rdd_ids(spark) - before == set()

    store.merge("docs", _batch(spark, [(2, "a", 2)]), ["doc_id"])
    before = _persistent_rdd_ids(spark)
    calls = []
    orig = store.changes_cdc
    store.changes_cdc = lambda name, v: calls.append(v) or orig(name, v)
    try:
        view.refresh()  # CDC path
    finally:
        store.changes_cdc = orig
    assert calls
    assert _persistent_rdd_ids(spark) - before == set()
    assert _view_dict(view) == _expected([(1, "a", 10), (2, "a", 2), (3, "b", 5), (4, "b", 7)])
