"""Batch pipeline orchestration (SURVEY.md §3.1).

One driver program per hourly interval replaces the reference's Airflow
DAG of 40+ tasks (rust_twitter_steam_pipeline.py:879-888):

    bronze JSON (schema-pinned reads)
      → 16 silver transforms (lazy chains, §3.2)
      → gold warehouse build (broadcast fact loads + upserts, §3.3)

XCom key-passing becomes DataFrame lineage; S3KeySensor branch-skips
(S15) become empty/missing-input guards; the "end" trigger rule
(none_failed_min_one_success, :877) becomes per-branch try/except with
a batch summary.

Scale notes: bronze is partitioned by ingest date (the reference's
YYYY/MM/DD S3 layout → partitionBy('year','month','day'), giving
partition pruning); silver/gold persist as Parquet. Every transform is
one lazy plan. A batch materializes in three places: the cached bronze
reads (one corrupt-record count each), one D2/D3 aggregate per silver
table, and the gold publish.

``plan_cache`` owns the bronze caches: each endpoint's read is
registered under the ``bronze_dir`` scope, keyed on its ``.json``
file's identity, and ``backfill.run_interval_range`` releases that
scope once the interval's publish resolves. A caller of plain
``run_batch`` releases it with ``plan_cache.release(spark, bronze_dir)``.

Like the reference's parallel task branches, the independent work in
each of those places runs concurrently, bounded by the core count
(``session.concurrently``): the bronze endpoint reads, the 16 silver
branches, and the publish's per-table writes. Each is a chain of small
single-task jobs, so one at a time would leave most cores idle. Results
are applied in registry order, so a batch's outcome does not depend on
which branch finished first.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import plan_cache
from .operators.dedup import assert_quality
from .schemas import BRONZE_SCHEMAS
from .session import concurrently
from .transforms.builders import DIM_TRANSFORMS, FACT_TRANSFORMS
from .warehouse.loads import build_warehouse

#: D2/D3 contracts per silver table, mirroring the reference's per-
#: transform assertion wiring (SURVEY.md §2.3): full-row duplicate check
#: everywhere; null check on all columns EXCEPT the documented
#: exemptions (unlock_ts at facts.py:53; steam_id-only checks for
#: badges/game_playing at facts.py:631,516; dims check duplicates only).
NULL_CHECK_EXEMPT: dict[str, list[str]] = {
    "achievement_fact": ["unlock_ts"],
    "badges_fact": [
        "badge_id", "app_id", "community_item_id", "xp", "level",
        "completion_time", "scarcity", "steam_level",
    ],
    "game_playing_banned_fact": ["game_id", "date"],
    # player_dim optional profile fields are nullable by contract
    "player_dim": [
        "created_at", "comment_permission", "real_name", "primary_clan_id",
        "loc_country_code", "loc_state_code", "loc_city_id",
    ],
}


def validate_silver(name: str, df: DataFrame) -> None:
    """Apply the reference's runtime contracts to one silver table: D2
    on all 16 transforms, D3 on facts and player_dim, both from one
    aggregate job."""
    null_cols: list[str] = []
    if name.endswith("_fact") or name == "player_dim":
        exempt = set(NULL_CHECK_EXEMPT.get(name, []))
        null_cols = [c for c in df.columns if c not in exempt]
    assert_quality(df, null_cols=null_cols)


@dataclass
class BatchResult:
    gold: dict[str, DataFrame]
    skipped: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)
    #: gold tables that could not load this batch (their silver branch
    #: or a dim dependency was absent) and had no prior state to carry
    not_loaded: list[str] = field(default_factory=list)
    #: branches that failed once and succeeded on the bounded re-attempt
    #: (reference retries: 1, rust_twitter_steam_pipeline.py:40-41)
    retried: list[str] = field(default_factory=list)

    @property
    def succeeded(self) -> bool:
        """The reference's end trigger rule none_failed_min_one_success
        (rust_twitter_steam_pipeline.py:877)."""
        return len(self.gold) > 0 and not self.failed


def _read_endpoint(spark: SparkSession, bronze_dir: str, name: str) -> DataFrame:
    """One endpoint's schema-pinned, permissive JSON read, with the
    ``_corrupt_record`` column; raises ``AnalysisException`` when the
    file is missing."""
    probed = StructType(
        [*BRONZE_SCHEMAS[name].fields, StructField("_corrupt_record", StringType(), True)]
    )
    return (
        spark.read.schema(probed)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{bronze_dir}/{name}.json")
    )


def read_bronze(
    spark: SparkSession, bronze_dir: str
) -> tuple[dict[str, DataFrame], dict[str, str]]:
    """Schema-pinned bronze reads, the corrupt-record counts run
    concurrently.

    - Missing endpoint file → skipped branch (S15 soft-fail semantics).
    - Malformed JSON → FAILED branch, detected via permissive-mode
      ``_corrupt_record`` (SURVEY.md §1.4). Without this check a corrupt
      document parses as one all-null row, explode_outer drops it, and
      the batch reports success with silently-empty tables — worse than
      the reference's hard json.loads failure.
    - Each read is cached (required to filter on the corrupt column
      alone) and registered with ``plan_cache`` under ``bronze_dir``,
      keyed on its file's identity, so a repeat call reuses an
      unchanged endpoint's read and re-reads a rewritten one. The reads
      are registered here, on the calling thread; only the counts run
      on the pool. The caller releases the scope once the gold is
      written.
    - Any error releases the scope, then raises.
    """
    names = [n for n in BRONZE_SCHEMAS if n != "twitter_timeline"]
    try:
        reads: dict[str, DataFrame] = {}
        for name in names:
            try:
                reads[name] = plan_cache.cached(
                    spark, bronze_dir, ("bronze", name),
                    lambda: _read_endpoint(spark, bronze_dir, name),
                    tables=(f"{name}.json",),
                )
            except AnalysisException:
                pass  # sensor-skip semantics
        counts = concurrently(
            spark,
            lambda name: reads[name].filter(F.col("_corrupt_record").isNotNull()).count(),
            list(reads),
        )
    except BaseException:
        plan_cache.release(spark, bronze_dir, blocking=False)
        raise
    out: dict[str, DataFrame] = {}
    failed: dict[str, str] = {}
    for (name, df), n_corrupt in zip(reads.items(), counts):
        if n_corrupt:
            failed[name] = f"{n_corrupt} corrupt bronze record(s)"
        else:
            out[name] = df.drop("_corrupt_record")
    return out, failed


def run_batch(
    spark: SparkSession,
    bronze_dir: str,
    interval_end: _dt.datetime,
    existing: dict[str, DataFrame] | None = None,
    date_start: _dt.date = _dt.date(2003, 9, 12),  # Steam launch
    date_end: _dt.date | None = None,
) -> BatchResult:
    """Run one full interval: bronze → silver → gold.

    Every silver table is checked against the reference's D2/D3 runtime
    contracts (``validate_silver``); a violation fails that branch
    (reference task failure semantics), not the whole batch. A failed
    branch gets ONE bounded
    re-attempt (reference ``retries: 1``,
    rust_twitter_steam_pipeline.py:40-41) before it is reported.

    The silver branches are independent, so they run concurrently, at
    most one per core (``session.concurrently``); their outcomes are
    applied in registry order, so ``failed``, ``skipped``, ``retried``
    and ``gold`` read exactly as a serial run's.

    Gold builds from the SUCCESSFUL branches (the reference's
    none_failed_min_one_success end rule + per-task loads): a failed or
    skipped branch holds back only the loads that depend on it —
    build_warehouse carries prior state for those and loads the rest.

    The bronze reads stay cached until the caller, once it has written
    the gold, calls ``plan_cache.release(spark, bronze_dir)``.
    """
    date_end = date_end or (interval_end.date() + _dt.timedelta(days=365))
    bronze, bad_bronze = read_bronze(spark, bronze_dir)
    result = BatchResult(gold={})
    branches = {**DIM_TRANSFORMS, **FACT_TRANSFORMS}

    def branch(name: str) -> tuple[DataFrame | None, str | None]:
        """(silver frame or None, the last attempt's error or None)."""
        fn, src = branches[name]
        error = None
        for _ in (1, 2):  # reference retries: 1
            try:
                df = fn(bronze[src], interval_end)
                validate_silver(name, df)
                return df, error
            except Exception as e:  # per-branch isolation (§3.1)
                error = str(e)
        return None, error

    runnable = [
        name for name, (_, src) in branches.items()
        if src in bronze and src not in bad_bronze
    ]
    outcomes = dict(zip(runnable, concurrently(spark, branch, runnable)))
    silver: dict[str, DataFrame] = {}
    for name, (_, src) in branches.items():
        if src in bad_bronze:
            result.failed[name] = bad_bronze[src]
        elif src not in bronze:
            result.skipped.append(name)
        else:
            df, error = outcomes[name]
            if df is None:
                result.failed[name] = error
            else:
                silver[name] = df
                if error is not None:
                    result.retried.append(name)

    if silver:
        result.gold = build_warehouse(
            spark, silver, date_start, date_end, existing=existing
        )
        expected = set(DIM_TRANSFORMS) | set(FACT_TRANSFORMS) | {"date_dim"}
        result.not_loaded = sorted(expected - set(result.gold))
    return result
