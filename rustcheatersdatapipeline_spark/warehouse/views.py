"""Incrementally-maintained materialized aggregates over GoldStore CDC.

The consumer the ``changes_since`` machinery exists for: a summary
table (docs per source, token totals, any SUM/COUNT-mergeable shape)
kept fresh by folding ONLY the rows appended since the last refresh —
"give me today's batch" instead of re-aggregating a 100 TB corpus.

Correctness never depends on the incremental path: the refresh
watermark (the manifest version the view last folded) rides the view's
MANIFEST ENTRY (``entry_extra`` — per-publish metadata, unlike the
immutable property contracts) and publishes atomically with the rows, so a crash
can never leave the summary claiming rows it did not fold; a delta
that cannot be proven exact (pruned manifest history, an unrecorded
rewrite — the cases ``changes_since`` raises for) silently falls back
to a full rebuild; and a concurrent writer advancing the store between
read and publish fails the CAS and retries against the new truth.

Scale shape: each refresh costs O(delta bytes) + O(view rows) — the
view is bounded by the grouping key cardinality, never corpus size —
and the fold is one union + hash aggregate (all measures are
SUM-mergeable by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import plan_cache
from .persist import ConcurrentWriteError, GoldStore


class IncrementalAggregateView:
    """A SUM/COUNT-mergeable grouped summary of ``source_table``,
    materialized as ``view_table`` and refreshed from CDC deltas.

    ``keys`` are the grouping columns; ``sums`` maps output column →
    source column to SUM (a row count ``n_rows`` is always included)
    and ``maxes`` maps output column → source column to MAX.  Merging
    a delta summary into the stored view is re-aggregation of their
    union — valid exactly because SUM is additive over disjoint
    append-only deltas and MAX is commutative + idempotent.

    ``transform`` (optional) is applied to the source rows — full
    scan and CDC delta alike — BEFORE aggregation.  It must be
    row-local (no aggregation of its own), which keeps the
    delta-equals-rescan identity trivially true; it is what lets
    sketch projections (HLL reg/rank, DDSketch buckets — see
    ``functions/sketches.py``) ride this machinery unchanged."""

    def __init__(
        self,
        store: GoldStore,
        source_table: str,
        view_table: str,
        keys: list[str],
        sums: dict[str, str] | None = None,
        maxes: dict[str, str] | None = None,
        transform=None,
    ):
        self.store = store
        self.source_table = source_table
        self.view_table = view_table
        self.keys = list(keys)
        self.sums = dict(sums or {})
        self.maxes = dict(maxes or {})
        self.transform = transform
        if not self.keys:
            raise ValueError("IncrementalAggregateView: at least one key column")
        overlap = set(self.sums) & set(self.maxes)
        if overlap or "n_rows" in self.sums or "n_rows" in self.maxes:
            raise ValueError(
                f"IncrementalAggregateView: measure name collision {overlap or 'n_rows'}"
            )

    def _aggregate(self, df: DataFrame) -> DataFrame:
        if self.transform is not None:
            df = self.transform(df)
        measures = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        measures += [
            F.sum(F.col(src)).cast("long").alias(out) for out, src in self.sums.items()
        ]
        measures += [
            F.max(F.col(src)).alias(out) for out, src in self.maxes.items()
        ]
        return df.groupBy(*self.keys).agg(*measures)

    def _merge(self, view: DataFrame, delta_agg: DataFrame) -> DataFrame:
        both = view.unionByName(delta_agg)
        measures = [F.sum("n_rows").cast("long").alias("n_rows")]
        measures += [F.sum(out).cast("long").alias(out) for out in self.sums]
        measures += [F.max(out).alias(out) for out in self.maxes]
        return both.groupBy(*self.keys).agg(*measures)

    def refresh(self) -> int:
        """Fold everything appended to the source since the last
        refresh; returns the number of delta rows folded (0 for an
        up-to-date view — no version is published then)."""
        last_err: ConcurrentWriteError | None = None
        for _ in range(5):
            base = self.store.current_version()
            tables = self.store.current_manifest()["tables"]
            if self.source_table not in tables:
                raise KeyError(self.source_table)
            entry = tables.get(self.view_table) or {}
            watermark = (
                int(entry["watermark"]) if "watermark" in entry else None
            )
            delta: DataFrame | None
            cdc: DataFrame | None = None
            ckpt = None  # this attempt's checkpoint, dropped once its publish resolves
            if watermark is None:
                delta = None  # first build: full aggregation
            else:
                try:
                    delta = self.store.changes_since(self.source_table, watermark)
                except ValueError:
                    delta = None
                    # an update merge broke append-only-ness; SUM/COUNT
                    # retract exactly, so fold the row-level CDC instead
                    # of rebuilding (VERDICT r8 #2). MAX cannot retract —
                    # those views still rebuild.
                    if not self.maxes:
                        try:
                            cdc = self.store.changes_cdc(
                                self.source_table, watermark
                            )
                        except (ValueError, KeyError):
                            cdc = None  # unprovable → full rebuild
            if delta is None and cdc is not None:
                cdc = cdc.cache()
                try:
                    n_delta = cdc.count()
                    if n_delta == 0:
                        return 0
                    ins = cdc.filter(F.col("_change_type") == "insert").drop(
                        "_change_type"
                    )
                    dels = cdc.filter(F.col("_change_type") == "delete").drop(
                        "_change_type"
                    )
                    neg = self._aggregate(dels).select(
                        *self.keys,
                        (-F.col("n_rows")).cast("long").alias("n_rows"),
                        *[(-F.col(out)).cast("long").alias(out) for out in self.sums],
                    )
                    new_view = self._merge(
                        self._merge(
                            self.store.read(self.view_table), self._aggregate(ins)
                        ),
                        neg,
                    ).filter(F.col("n_rows") > 0)
                    ckpt = plan_cache.checkpoint(new_view)
                    new_view = ckpt.value
                finally:
                    cdc.unpersist()
            elif delta is None:
                folded = self.store.read(self.source_table)
                n_delta = folded.count()
                new_view = self._aggregate(folded)
            else:
                delta = delta.cache()
                try:
                    n_delta = delta.count()
                    if n_delta == 0:
                        return 0  # fresh already; keep the old watermark
                    new_view = self._merge(
                        self.store.read(self.view_table), self._aggregate(delta)
                    )
                    # materialize before unpersist: the publish stages it
                    ckpt = plan_cache.checkpoint(new_view)
                    new_view = ckpt.value
                finally:
                    delta.unpersist()
            try:
                self.store.publish(
                    {self.view_table: new_view},
                    base,
                    entry_extra={self.view_table: {"watermark": int(base)}},
                )
                return n_delta
            except ConcurrentWriteError as e:
                last_err = e  # the store moved: recompute against new truth
            finally:
                if ckpt is not None:
                    ckpt.unpersist()
        raise last_err


def corpus_stats_view(
    store: GoldStore,
    source_table: str = "corpus",
    view_table: str = "corpus_stats_by_source",
) -> IncrementalAggregateView:
    """The standard instance: per-source document and character totals
    over the curated corpus — the freshness dashboard a crawl operator
    actually watches."""
    return IncrementalAggregateView(
        store,
        source_table,
        view_table,
        keys=["source"],
        sums={"total_chars": "n_chars"},
    )
