"""D2/D3 contract enforcement in the pipeline: a duplicate row in bronze
must fail that branch (reference 'Data Contains Duplicate Rows'); each
verdict of ``validate_silver``; and the one-action cost of a fact's
D2/D3 check."""

import copy
import datetime
import json

import pytest

from rustcheatersdatapipeline_spark import plan_cache
from rustcheatersdatapipeline_spark.operators.dedup import ValidationError, quality_counts
from rustcheatersdatapipeline_spark.pipeline import read_bronze, run_batch, validate_silver
from rustcheatersdatapipeline_spark.transforms.builders import FACT_TRANSFORMS

from .fixtures import FIXTURES, write_fixtures

INTERVAL_END = datetime.datetime(2022, 1, 15, 12, 0, 0)


def test_duplicate_bronze_rows_fail_fact_branch(spark, tmp_path):
    paths = write_fixtures(tmp_path)
    # duplicate one friend entry → friends_fact emits a full duplicate row
    doc = copy.deepcopy(FIXTURES["player_friendlists"])
    friends = doc["responses"][0]["friendslist"]["friends"]
    friends.append(dict(friends[0]))
    with open(paths["player_friendlists"], "w") as fh:
        fh.write(json.dumps(doc))

    res = run_batch(spark, str(tmp_path), INTERVAL_END)
    assert "friends_fact" in res.failed
    assert "Duplicate" in res.failed["friends_fact"]
    # dims dedup away the duplicate, so they survive
    assert "friend_dim" not in res.failed and "relationship_dim" not in res.failed
    assert not res.succeeded


D2 = "Data Contains Duplicate Rows: 1 duplicates"
D3 = "Data Contains Missing Data NaN/Null: 1 rows"
# achievement_fact exempts unlock_ts from D3 (NULL_CHECK_EXEMPT)
FACT_DDL = "player_sk int, achievement_sk int, unlock_ts timestamp"
TS = datetime.datetime(2021, 10, 2, 1, 0, 0)


def _verdict(spark, name, rows):
    try:
        validate_silver(name, spark.createDataFrame(rows, FACT_DDL))
    except ValidationError as e:
        return str(e)
    return None


@pytest.mark.parametrize(
    "name, rows, want",
    [
        ("achievement_fact", [(1, 1, TS), (1, 2, TS)], None),
        ("achievement_fact", [(1, 1, TS), (1, 1, TS), (1, 2, TS)], D2),
        ("achievement_fact", [(1, 1, TS), (None, 2, TS)], D3),
        ("achievement_fact", [(1, 1, TS), (1, 2, None)], None),
        ("achievement_fact", [(None, 1, TS), (1, 2, TS), (1, 2, TS)], D2),
        ("achievement_dim", [(None, None, None), (1, 2, TS)], None),
        ("achievement_dim", [(None, 1, TS), (None, 1, TS)], D2),
    ],
    ids=[
        "clean", "duplicates-only", "null-in-checked-column",
        "null-in-exempt-column", "duplicates-and-null-d2-wins",
        "dim-has-no-d3", "dim-duplicates",
    ],
)
def test_validation_verdicts(spark, name, rows, want):
    assert _verdict(spark, name, rows) == want


def test_null_rows_count_every_duplicate_of_a_null_row(spark):
    """D3 counts rows, not distinct rows: with duplicates allowed
    (``assert_no_nulls`` alone) two copies of a null row are two rows."""
    df = spark.createDataFrame([(None, 1), (None, 1), (2, None)], "a int, b int")
    assert quality_counts(df, null_cols=["a"]) == (3, 2, 2)
    assert quality_counts(df, keys=["b"], null_cols=["a", "b"]) == (3, 2, 3)
    assert quality_counts(df.limit(0), null_cols=["a"]) == (0, 0, 0)


def _sql_executions(spark, group):
    """SQL executions that ran a job of ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = [execs.apply(i) for i in range(execs.size())]
    return {e.executionId() for e in execs if any(e.jobs().contains(j) for j in jobs)}, jobs


def test_fact_validation_is_one_sql_execution(spark, tmp_path):
    """D2 and D3 of one fact table come from ONE action: three separate
    counts would run three SQL executions over the transform chain."""
    write_fixtures(tmp_path)
    bronze, failed = read_bronze(spark, str(tmp_path))
    assert not failed
    fn, src = FACT_TRANSFORMS["achievement_fact"]
    df = fn(bronze[src], INTERVAL_END)
    sc = spark.sparkContext
    group = f"validate-one-fact-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        validate_silver("achievement_fact", df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        plan_cache.release(spark, str(tmp_path))
    execs, jobs = _sql_executions(spark, group)
    assert jobs and len(execs) == 1
