"""Dedup + data-quality assertion operators (SURVEY.md §2.3 D1-D3).

The reference fails the whole task on contract violations
(rust_twitter_steam_dims.py:49-50 "Data Contains Duplicate Rows",
rust_twitter_steam_facts.py:53-54 "...Missing Data NaN/Null"); here the
assertions are testable check functions that raise ``ValidationError``.
D2 and D3 share one aggregate (``quality_counts``): the frame is grouped
on its full row once and folded to (rows, distinct rows, null rows), so
checking both costs one action — one pass over the transform chain —
not one per count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class ValidationError(Exception):
    """Batch-level data-quality contract violation (fails the batch)."""


def keyed_dedup(df: DataFrame, keys: list[str], order_by: list[str] | None = None) -> DataFrame:
    """D1 keyed dedup with a DETERMINISTIC survivor.

    pandas drop_duplicates keeps first-in-file-order (reference
    rust_twitter_steam_dims.py:533); Spark dropDuplicates keeps an
    arbitrary partition-dependent row. The engine pins the survivor with
    row_number over an explicit ordering (SURVEY.md §7.3.3, Q12 form) —
    default ordering: the remaining columns, so identical inputs give
    identical outputs on any cluster layout.
    """
    order_by = order_by or [c for c in df.columns if c not in keys] or keys
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def quality_counts(
    df: DataFrame, keys: list[str] | None = None, null_cols: list[str] | None = None
) -> tuple[int, int, int]:
    """(rows, distinct ``keys`` tuples, rows with a NULL in any of
    ``null_cols``) from one aggregate: group on ``keys`` (default: every
    column), count each group and the null rows inside it, then fold the
    groups in the same plan. One collect, so the transform chain behind
    ``df`` runs once for both contracts."""
    keys = list(keys or df.columns)
    has_null = F.lit(False)
    for c in null_cols or []:
        has_null = has_null | F.col(c).isNull()
    groups = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__rows"),
        F.sum(has_null.cast("long")).alias("__null_rows"),
    )
    r = groups.agg(
        F.sum("__rows").alias("total"),
        F.count(F.lit(1)).alias("distinct"),
        F.sum("__null_rows").alias("null_rows"),
    ).collect()[0]
    return int(r["total"] or 0), int(r["distinct"]), int(r["null_rows"] or 0)


def assert_quality(
    df: DataFrame,
    keys: list[str] | None = None,
    null_cols: list[str] | None = None,
    duplicates: bool = True,
) -> DataFrame:
    """D2 (when ``duplicates``) then D3 over ``null_cols``, from one
    ``quality_counts`` aggregate; a frame violating both raises D2."""
    total, distinct, null_rows = quality_counts(df, keys, null_cols)
    if duplicates and total != distinct:
        raise ValidationError(
            f"Data Contains Duplicate Rows: {total - distinct} duplicates"
        )
    if null_rows:
        raise ValidationError(f"Data Contains Missing Data NaN/Null: {null_rows} rows")
    return df


def assert_no_duplicates(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """D2 duplicate-row assertion (reference rust_twitter_steam_dims.py:49-50)."""
    return assert_quality(df, keys)


def assert_no_nulls(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """D3 null assertion (reference rust_twitter_steam_facts.py:53-54).

    The reference checks the whole frame by default but exempts columns
    per transform (unlock_ts at facts.py:53; steam_id-only checks at
    :516,:631) — so the column list is explicit here too.
    """
    return assert_quality(df, null_cols=cols or df.columns, duplicates=False)
