"""foreachBatch warehouse sink (SURVEY.md §2.7).

The reference tolerates replays because its loads are ON CONFLICT
upserts (sql_queries.py:30-31,95-101) — re-delivering an hourly batch
is a no-op. The streaming engine gets the same guarantee by pairing
``foreachBatch`` with the key-idempotent warehouse writers: every
micro-batch merges into the gold parquet table via latest-wins (or
insert-if-absent), so at-least-once delivery + retries are safe without
a transactional store.

State lives entirely in the gold table + the streaming checkpoint; the
merge itself is the D12 primitive, so batch and streaming ingestion
share one code path (and one semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..warehouse.writers import keyed_merge


class ParquetMergeSink:
    """Merge each micro-batch into a parquet gold table.

    ``mode``: 'update' → D12 latest-wins; 'nothing' → D11
    insert-if-absent. ``order_by`` pins the in-batch survivor per key
    (descending — e.g. ['ts','event_id'] keeps the newest), upholding
    the engine's deterministic-survivor contract (SURVEY.md §7.3.3).
    The rewrite goes through a staging directory so a crashed batch
    never leaves a half-written table; re-running converges.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        order_by: list[str] | None = None,
        mode: str = "update",
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.order_by = order_by
        self.mode = mode

    def current(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        merged = keyed_merge(
            self.current(), batch_df, self.keys, self.mode, self.order_by
        )
        tmp = f"{self.path}__staging"
        merged.write.mode("overwrite").parquet(tmp)
        final = self.spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(self.path)


class GoldStoreMergeSink:
    """``ParquetMergeSink`` semantics on a transactional ``GoldStore``.

    Each micro-batch is a read-modify-write publish: read the table at
    the current manifest version, merge the collapsed batch (D11/D12),
    publish under compare-and-swap. Visibility is atomic (a crashed
    batch leaves gold at the prior version — no ``__staging`` rewrite
    races), replays converge through the key-idempotent merge, and a
    CONCURRENT writer (another stream, a batch backfill) publishing to
    the same store between micro-batches is rebuilt-over instead of
    clobbered — the property the plain overwrite sink cannot give.
    """

    def __init__(
        self,
        store,
        table: str,
        keys: list[str],
        order_by: list[str] | None = None,
        mode: str = "update",
    ):
        self.store = store
        self.table = table
        self.keys = keys
        self.order_by = order_by
        self.mode = mode

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..warehouse.persist import publish_with_retry

        def build(tables: dict) -> dict:
            merged = keyed_merge(
                tables.get(self.table), batch_df, self.keys, self.mode, self.order_by
            )
            return {self.table: merged}

        publish_with_retry(self.store, build)
