"""Warehouse write primitives (SURVEY.md §2.5 D11-D15).

The reference gets these from Postgres: sequences for surrogate keys
(data_warehouse.sql:25), ``ON CONFLICT DO NOTHING`` (LoadDimsOperator.py:25-28)
and ``ON CONFLICT DO UPDATE`` (sql_queries.py:95-101). Spark has no
transactional sequences, so the engine's contracts are:

- D14 surrogate keys: deterministic ``row_number() over (order by
  natural key)`` + current max offset — NOT monotonically_increasing_id,
  whose values depend on partition layout (SURVEY.md §7.3.1). The global
  window sort is acceptable because it runs over DIMENSION deltas (new
  keys per batch), never over fact volumes.
- D11 insert-if-absent: left-anti join + union (Q18 form).
- D12 upsert latest-wins: union + row_number over (key, priority desc)
  (Q19 form) — incoming rows outrank existing rows.

At 100 TB these run per-batch on batch-sized deltas against key-bucketed
gold tables; the anti-join broadcasts the delta, not the target.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import keyed_dedup


def with_surrogate_key(
    df: DataFrame, order_cols: list[str], sk_col: str, offset: int = 0
) -> DataFrame:
    """D14: assign ``sk_col`` = row_number over the natural-key ordering,
    offset by the target's current max (pass offset=max_existing_sk)."""
    w = Window.orderBy(*order_cols)
    return df.withColumn(sk_col, (F.row_number().over(w) + F.lit(offset)).cast("int"))


def insert_if_absent(target: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """D11 ``ON CONFLICT DO NOTHING``: append only rows whose key is not
    already present (left-anti + union)."""
    fresh = incoming.join(target.select(*keys).distinct(), on=keys, how="left_anti")
    return target.unionByName(fresh)


def upsert_latest_wins(
    target: DataFrame, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """D12 ``ON CONFLICT DO UPDATE``: incoming overwrites matching keys
    (SCD-1). Survivor pinned by explicit priority, so re-running the same
    batch is a no-op (idempotent sink, §2.7)."""
    tagged = target.withColumn("__prio", F.lit(0)).unionByName(
        incoming.withColumn("__prio", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.col("__prio").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__prio", "__rn")
    )


def keyed_merge(
    prior: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    mode: str,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Merge one batch into a keyed table — the D11/D12 decision of
    every fact load and merge sink. The batch first collapses its own
    key duplicates like the target PK would (``keyed_dedup``; the
    survivor is the first in descending ``order_by`` when given). With
    no ``prior`` the collapsed batch is the table; otherwise ``mode``
    'nothing' is D11 ``insert_if_absent`` and anything else D12
    ``upsert_latest_wins``."""
    order = [F.col(c).desc() for c in order_by] if order_by else None
    collapsed = keyed_dedup(batch, keys, order_by=order)
    if prior is None:
        return collapsed
    if mode == "nothing":
        return insert_if_absent(prior, collapsed, keys)
    return upsert_latest_wins(prior, collapsed, keys)


def scd2_build(
    df: DataFrame, keys: list[str], val_col: str, ts_col: str
) -> DataFrame:
    """SCD-2 history from a change stream: one row per VALUE CHANGE of
    ``val_col`` within each key, with ``valid_from``/``valid_to``
    half-open intervals and an ``is_current`` flag.

    The reference's warehouse keeps only SCD-1 latest-wins state
    (sql_queries.py:95-101 ``ON CONFLICT DO UPDATE``); SCD-2 is the
    history-preserving extension a warehouse needs for as-of questions
    ("what was the value when the fact happened" — the J9 date join's
    temporal cousin). Two windows over one shuffle on the key columns:
    lag for change detection, lead to close each version. Scales per
    key like sessionization.

    Determinism: rows are ordered by (ts, value) inside each key, so
    equal-timestamp ties resolve identically in Spark and any SQL
    oracle without needing a synthetic tiebreaker column.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, val_col)
    changes = (
        df.select(*keys, val_col, ts_col)
        .withColumn("__prev", F.lag(val_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col(val_col) != F.col("__prev")))
        .drop("__prev")
    )
    return changes.select(
        *keys,
        val_col,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    ).withColumn(
        "is_current", F.when(F.col("valid_to").isNull(), 1).otherwise(0)
    )


def scd2_apply(
    history: DataFrame, incoming: DataFrame, keys: list[str], val_col: str, ts_col: str
) -> DataFrame:
    """Incremental SCD-2 merge: fold a new batch into an existing
    history table.

    Each history row's ``valid_from`` is the change event that opened
    it, so the union of (history version-starts ∪ incoming batch) is a
    change stream whose rebuild equals rebuilding from all raw events
    at once — change-detection is idempotent, which makes this
    associative: apply(apply(h, b1), b2) == build(b1 ∪ b2). Re-running
    a batch is a no-op (the duplicate rows collapse in change
    detection), the same at-least-once contract as D11/D12.

    At 100 TB: the history side contributes one row per VERSION (not
    per event), so each merge shuffles batch-size + version-count rows
    on the key — bounded by dictionary growth, like D14.
    """
    starts = history.select(
        *keys, val_col, F.col("valid_from").alias(ts_col)
    )
    events = starts.unionByName(incoming.select(*keys, val_col, ts_col))
    return scd2_build(events, keys, val_col, ts_col)


def date_dim(
    spark: SparkSession, start: _dt.date, end: _dt.date, offset: int = 0
) -> DataFrame:
    """D15 date-dimension derivation (reference data_warehouse.sql:65-74,
    populated out-of-band): one row per calendar day in [start, end]."""
    # single-partition seed row: the default range parallelism spawns
    # one task per core for this 1-row driver of the calendar explode
    days = spark.range(0, 1, 1, 1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
            )
        ).alias("full_date")
    )
    return days.select(
        (
            F.row_number().over(Window.orderBy("full_date")) + F.lit(offset)
        ).cast("int").alias("date_sk"),
        "full_date",
        F.dayofmonth("full_date").alias("day"),
        F.month("full_date").alias("month"),
        F.year("full_date").alias("year"),
        F.date_format("full_date", "EEEE").alias("week_day"),
    )
