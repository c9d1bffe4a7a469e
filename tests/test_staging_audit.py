"""GoldStore's staging audit works from parquet footers: the manifest's
``rows`` and ``schema`` must be exactly what a Spark read-back of the
staged dir reports, a torn file must still stop the publish, and an
expectation must still see the rows that landed."""

import datetime as dt
import glob
import os

import pyarrow
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from rustcheatersdatapipeline_spark.backfill import PROGRESS_TABLE, run_interval_range
from rustcheatersdatapipeline_spark.warehouse.persist import ExpectationError, GoldStore
from tests.fixtures import write_fixtures

START = dt.datetime(2021, 10, 2, 0, 0, 0)
STEP = dt.timedelta(hours=1)


@pytest.fixture(scope="module")
def batch_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("staging_audit")
    write_fixtures(root)
    store = GoldStore(spark, str(root / "gold"))
    ((_, res, _),) = run_interval_range(spark, store, lambda _: str(root), START, START + STEP)
    assert not res.failed and not res.not_loaded
    return store


def test_manifest_rows_and_schema_equal_spark_read_back(spark, batch_store):
    tables = batch_store.current_manifest()["tables"]
    # a partitioned fact, a dim and the progress table are all covered
    assert {"achievement_fact", "player_dim", PROGRESS_TABLE} <= set(tables)
    assert all("partition" in f for f in tables["achievement_fact"]["files"])
    for name, entry in tables.items():
        back = spark.read.parquet(os.path.join(batch_store.path, entry["dir"]))
        assert entry["rows"] == back.count(), name
        assert entry["schema"] == back.schema.jsonValue(), name


def _bans(spark, rows):
    return spark.createDataFrame(rows, "player_sk int, days int, date_sk int")


def test_truncated_staged_file_rejects_the_publish(spark, tmp_path, monkeypatch):
    store = GoldStore(spark, str(tmp_path / "gold"))
    v1 = store.publish({"bans_fact": _bans(spark, [(1, 3, 20210101), (2, 4, 20210102)])}, 0)
    write = DataFrameWriter.parquet

    def torn_write(self, path, *a, **k):
        write(self, path, *a, **k)
        victim = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))[0]
        with open(victim, "r+b") as f:
            f.truncate(os.path.getsize(victim) // 2)

    monkeypatch.setattr(DataFrameWriter, "parquet", torn_write)
    with pytest.raises(pyarrow.ArrowInvalid):
        store.publish({"bans_fact": _bans(spark, [(3, 5, 20210103)])}, v1)
    monkeypatch.undo()
    assert store.current_version() == v1
    assert store.read("bans_fact").count() == 2


def test_expectation_on_a_partitioned_fact_rejects_a_violating_row(spark, tmp_path):
    store = GoldStore(spark, str(tmp_path / "gold"))
    bad = _bans(spark, [(1, 3, 20210101), (2, -1, 20210102)])
    with pytest.raises(ExpectationError, match="1 row"):
        store.publish({"bans_fact": bad}, 0, expectations={"bans_fact": ["days >= 0"]})
    assert store.current_version() == 0
    good = _bans(spark, [(1, 3, 20210101)])
    v = store.publish({"bans_fact": good}, 0, expectations={"bans_fact": ["days >= 0"]})
    assert store.manifest_at(v)["tables"]["bans_fact"]["rows"] == 1


def test_empty_partitioned_write_records_the_frame_schema(spark, tmp_path):
    """A zero-row partitioned write lands no file; the audit still
    commits it, with the frame's schema and ``rows: 0``."""
    store = GoldStore(spark, str(tmp_path / "gold"))
    v = store.publish({"bans_fact": _bans(spark, [])}, 0)
    entry = store.manifest_at(v)["tables"]["bans_fact"]
    assert (entry["rows"], entry["files"]) == (0, [])
    assert [f["name"] for f in entry["schema"]["fields"]] == ["player_sk", "days", "date_sk"]
    assert store.read("bans_fact").count() == 0


@pytest.mark.parametrize(
    "values, want",
    [
        (["20210101", "20210102"], "integer"),
        (["20210101", str(2**40)], "long"),
        (["20210101", "__HIVE_DEFAULT_PARTITION__"], "integer"),
        (["__HIVE_DEFAULT_PARTITION__"], "string"),
        (["20210101", "2021-01-01"], "string"),
    ],
)
def test_partition_type_follows_spark_inference(values, want):
    assert GoldStore._partition_type(values) == want
