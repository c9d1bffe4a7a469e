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
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .operators.dedup import ValidationError, assert_quality
from .schemas import BRONZE_SCHEMAS
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
    #: the cached bronze reads behind ``gold``; the caller releases them
    #: (``release``) once the gold is written
    cached: list[DataFrame] = field(default_factory=list)

    @property
    def succeeded(self) -> bool:
        """The reference's end trigger rule none_failed_min_one_success
        (rust_twitter_steam_pipeline.py:877)."""
        return len(self.gold) > 0 and not self.failed

    def release(self) -> None:
        """Unpersist the batch's bronze caches. ``gold`` stays readable:
        its frames recompute from the bronze files."""
        for df in self.cached:
            df.unpersist()
        self.cached = []


class BronzeFrames(dict):
    """Bronze frames by endpoint name. ``cached`` holds the cached reads
    behind them, which the batch hands to its caller to release; a dict,
    so ``read_bronze`` keeps its ``(tables, failed)`` return shape."""

    def __init__(self) -> None:
        super().__init__()
        self.cached: list[DataFrame] = []


def read_bronze(
    spark: SparkSession, bronze_dir: str
) -> tuple[BronzeFrames, dict[str, str]]:
    """Schema-pinned bronze reads.

    - Missing endpoint file → skipped branch (S15 soft-fail semantics).
    - Malformed JSON → FAILED branch, detected via permissive-mode
      ``_corrupt_record`` (SURVEY.md §1.4). Without this check a corrupt
      document parses as one all-null row, explode_outer drops it, and
      the batch reports success with silently-empty tables — worse than
      the reference's hard json.loads failure. A corrupt read's cache is
      released at once; the others ride on ``out.cached``.
    """
    out = BronzeFrames()
    failed: dict[str, str] = {}
    for name, schema in BRONZE_SCHEMAS.items():
        if name == "twitter_timeline":
            continue
        probed = StructType(
            [*schema.fields, StructField("_corrupt_record", StringType(), True)]
        )
        try:
            df = (
                spark.read.schema(probed)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .json(f"{bronze_dir}/{name}.json")
                .cache()  # required to filter on the corrupt column alone
            )
            n_corrupt = df.filter(F.col("_corrupt_record").isNotNull()).count()
            if n_corrupt:
                failed[name] = f"{n_corrupt} corrupt bronze record(s)"
                df.unpersist()
            else:
                out[name] = df.drop("_corrupt_record")
                out.cached.append(df)
        except AnalysisException:
            pass  # sensor-skip semantics
    return out, failed


def run_batch(
    spark: SparkSession,
    bronze_dir: str,
    interval_end: _dt.datetime,
    existing: dict[str, DataFrame] | None = None,
    date_start: _dt.date = _dt.date(2003, 9, 12),  # Steam launch
    date_end: _dt.date | None = None,
    validate: bool = True,
) -> BatchResult:
    """Run one full interval: bronze → silver → gold.

    ``validate`` applies the reference's D2/D3 runtime contracts to each
    silver table; a violation fails that branch (reference task failure
    semantics), not the whole batch. A failed branch gets ONE bounded
    re-attempt (reference ``retries: 1``,
    rust_twitter_steam_pipeline.py:40-41) before it is reported.

    Gold builds from the SUCCESSFUL branches (the reference's
    none_failed_min_one_success end rule + per-task loads): a failed or
    skipped branch holds back only the loads that depend on it —
    build_warehouse carries prior state for those and loads the rest.

    The bronze reads stay cached on ``result.cached`` until the caller
    calls ``result.release()``, once it has written the gold.
    """
    date_end = date_end or (interval_end.date() + _dt.timedelta(days=365))
    bronze, bad_bronze = read_bronze(spark, bronze_dir)
    result = BatchResult(gold={}, cached=bronze.cached)

    silver: dict[str, DataFrame] = {}
    for name, (fn, src) in {**DIM_TRANSFORMS, **FACT_TRANSFORMS}.items():
        if src in bad_bronze:
            result.failed[name] = bad_bronze[src]
            continue
        if src not in bronze:
            result.skipped.append(name)
            continue
        for attempt in (1, 2):  # reference retries: 1
            try:
                df = fn(bronze[src], interval_end)
                if validate:
                    validate_silver(name, df)
                silver[name] = df
                result.failed.pop(name, None)
                if attempt == 2:
                    result.retried.append(name)
                break
            except (ValidationError, Exception) as e:  # per-branch isolation (§3.1)
                result.failed[name] = str(e)

    if silver:
        result.gold = build_warehouse(
            spark, silver, date_start, date_end, existing=existing
        )
        expected = set(DIM_TRANSFORMS) | set(FACT_TRANSFORMS) | {"date_dim"}
        result.not_loaded = sorted(expected - set(result.gold))
    return result


def run_batch_transactional(
    spark: SparkSession,
    bronze_dir: str,
    interval_end: _dt.datetime,
    store,
    **kwargs,
) -> tuple[BatchResult, int]:
    """``run_batch`` with the reference's ON CONFLICT durability: prior
    gold state is read from the ``GoldStore``'s current manifest, the
    batch's gold publishes under compare-and-swap, and a lost race
    (another interval or a backfill published first) REBUILDS this
    batch on the winner's state instead of clobbering it — the upserts
    inside ``build_warehouse`` are key-idempotent, so any interleaving
    converges to the serial result. Returns (batch result, committed
    store version)."""
    from .warehouse.persist import publish_with_retry

    holder: dict[str, BatchResult] = {}

    def build(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
        if "res" in holder:
            holder["res"].release()  # the attempt that lost the CAS race
        res = run_batch(
            spark, bronze_dir, interval_end, existing=tables or None, **kwargs
        )
        holder["res"] = res
        return res.gold

    try:
        version = publish_with_retry(store, build)
    finally:
        if "res" in holder:
            holder["res"].release()
    return holder["res"], version
