"""Backfill driver: catchup over an interval range, resumable.

The reference runs as an hourly Airflow DAG
(dags/rust_twitter_steam_pipeline.py:44-51: ``schedule_interval=
timedelta(hours=1)``, ``max_active_runs=1``, ``retries: 1``); Airflow's
catchup machinery is what replays missed intervals after downtime. The
engine's equivalent is this driver: enumerate interval ends over
[start, end], run each as a transactional batch, and record completion
ATOMICALLY with the batch's gold publish — the progress row rides in
the same manifest commit, so "interval done" and "interval's rows
visible" are one fact, never two.

Crash/rerun semantics (the 100 TB operational contract):

- a crash AFTER an interval's commit: the rerun sees its progress row
  and skips it — no bronze re-read, no recompute;
- a crash DURING an interval (staged but uncommitted): the store is
  untouched (write-audit-publish), the rerun re-runs that interval, and
  the warehouse upserts inside ``build_warehouse`` are key-idempotent,
  so the converged tables equal the uninterrupted run;
- two backfill drivers racing: CAS publishes serialize them; the loser
  rebuilds on the winner's state (``publish_with_retry``), and an
  interval the winner already committed is skipped via its progress row
  re-read on the loser's next build attempt.

Intervals run SEQUENTIALLY (the reference's ``max_active_runs=1``):
each batch reads the prior batch's committed gold, which is what makes
latest-wins upserts deterministic across the range.
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .pipeline import BatchResult, run_batch
from .warehouse.persist import GoldStore, publish_with_retry

#: gold table recording committed interval ends; one row per interval,
#: appended atomically with that interval's publish
PROGRESS_TABLE = "backfill_progress"


class _IntervalAlreadyCommitted(Exception):
    """Raised inside a publish build when the interval's progress row is
    already present — i.e. a racing driver won and committed it between
    our upfront resume check and this build attempt. Not an error: the
    loser skips the interval and moves on."""


def interval_ends(
    start: _dt.datetime, end: _dt.datetime, step: _dt.timedelta
) -> list[_dt.datetime]:
    """Interval ends of the schedule covering [start, end): the run for
    data interval [t, t+step) executes at (and is keyed by) t+step —
    Airflow's public data-interval convention, which the reference's
    hourly DAG follows."""
    if step <= _dt.timedelta(0):
        raise ValueError("step must be positive")
    out = []
    t = start + step
    while t <= end:
        out.append(t)
        t += step
    return out


def completed_intervals(store: GoldStore) -> set[str]:
    """ISO interval-end keys already committed (empty for a fresh
    store). One bounded read of a rows-per-interval table — the resume
    check never scans data tables."""
    if PROGRESS_TABLE not in store.current_manifest()["tables"]:
        return set()
    return {
        r["interval_end"]
        for r in store.read(PROGRESS_TABLE).select("interval_end").collect()
    }


def _progress_row(spark: SparkSession, iso: str, loaded: list[str], failed: list[str]):
    """The one-row progress frame, built from literals: a local Python
    list would go through a Python RDD and start Python workers."""

    def names(xs):
        return F.array(*[F.lit(x) for x in xs]).cast("array<string>")

    return spark.range(1, numPartitions=1).select(
        F.lit(iso).alias("interval_end"),
        names(loaded).alias("loaded"),
        names(failed).alias("failed"),
    )


def run_interval_range(
    spark: SparkSession,
    store: GoldStore,
    bronze_dir_for: Callable[[_dt.datetime], str],
    start: _dt.datetime,
    end: _dt.datetime,
    step: _dt.timedelta = _dt.timedelta(hours=1),
    **run_batch_kwargs,
) -> list[tuple[_dt.datetime, BatchResult, int]]:
    """Catch up every uncommitted interval in [start, end).

    ``bronze_dir_for(interval_end)`` maps an interval to its bronze
    landing dir (the reference templates S3 prefixes by execution date
    the same way, SteamToS3Operator's YYYY/MM/DD layout). Returns one
    ``(interval_end, batch_result, committed_version)`` per interval
    actually RUN — already-committed intervals are skipped silently.

    Partial-failure semantics match ``run_batch``: a failed branch
    holds back its loads, everything else lands, and the interval is
    recorded committed (the reference's none_failed_min_one_success end
    rule). A batch that raises outright leaves no progress row and no
    gold change — the rerun picks up exactly there.

    Each interval's bronze caches are released once its publish
    resolves, and a build that lost the CAS race releases its own before
    the rebuild, so the rebuild reads the bronze as it is then.
    """
    ran: list[tuple[_dt.datetime, BatchResult, int]] = []
    done = completed_intervals(store)
    for interval_end in interval_ends(start, end, step):
        iso = interval_end.isoformat()
        if iso in done:
            continue
        holder: dict[str, BatchResult] = {}

        def build(tables, _iso=iso, _ie=interval_end):
            # re-check on EVERY build attempt: publish_with_retry rebuilds
            # on a lost CAS race, and the winner may have committed this
            # very interval — its progress row is in `tables` now, so the
            # loser must skip instead of re-running and appending a
            # duplicate progress row
            prior_progress = tables.get(PROGRESS_TABLE)
            if prior_progress is not None:
                hit = (
                    prior_progress
                    .filter(F.col("interval_end") == _iso)
                    .limit(1).collect()
                )
                if hit:
                    raise _IntervalAlreadyCommitted(_iso)
            if "res" in holder:
                holder["res"].release()  # the attempt that lost the CAS race
            existing = {k: v for k, v in tables.items() if k != PROGRESS_TABLE}
            res = run_batch(
                spark,
                bronze_dir_for(_ie),
                _ie,
                existing=existing or None,
                **run_batch_kwargs,
            )
            holder["res"] = res
            row = _progress_row(spark, _iso, sorted(res.gold), sorted(res.failed))
            prior = tables.get(PROGRESS_TABLE)
            progress = row if prior is None else prior.unionByName(row)
            # the progress row publishes IN the same commit as the gold
            # tables: completion is atomic with visibility
            return {**res.gold, PROGRESS_TABLE: progress}

        try:
            version = publish_with_retry(store, build)
        except _IntervalAlreadyCommitted:
            continue  # a racing driver committed it — skip, don't re-run
        finally:
            if "res" in holder:
                holder["res"].release()
        ran.append((interval_end, holder["res"], version))
    return ran


def run_scheduled(
    spark: SparkSession,
    store: GoldStore,
    bronze_dir_for: Callable[[_dt.datetime], str],
    start: _dt.datetime,
    until: _dt.datetime,
    step: _dt.timedelta = _dt.timedelta(hours=1),
    clock: Callable[[], _dt.datetime] | None = None,
    sleep: Callable[[float], None] | None = None,
    **run_batch_kwargs,
) -> list[tuple[_dt.datetime, BatchResult, int]]:
    """Recurring-trigger driver: run the schedule CONTINUOUSLY until
    ``until`` — the reference's ``schedule_interval=timedelta(hours=1)``
    loop (dags/rust_twitter_steam_pipeline.py:44-51) without Airflow.

    Each wake-up delegates to ``run_interval_range`` for every interval
    due at the current clock, so one driver gives all three behaviors
    the reference gets from Airflow's scheduler:

    - **catchup**: a cold start first replays the whole due backlog
      (every uncommitted interval end ≤ now);
    - **steady state**: after draining, sleep exactly to the next
      interval boundary on the grid anchored at ``start`` and tick;
    - **crash-resume**: killed mid-tick and restarted, the progress
      ledger decides what is still due — committed intervals are never
      re-run, the interrupted one re-runs from its bronze input.

    Intervals stay sequential (``max_active_runs=1``). ``clock`` /
    ``sleep`` are injectable for deterministic tests; the defaults are
    wall time. Returns every interval actually run, like
    ``run_interval_range``."""
    if clock is None:
        clock = _dt.datetime.now
    if sleep is None:
        import time as _time

        sleep = _time.sleep
    ran: list[tuple[_dt.datetime, BatchResult, int]] = []
    while True:
        now = clock()
        horizon = min(now, until)
        ran.extend(
            run_interval_range(
                spark, store, bronze_dir_for, start, horizon, step,
                **run_batch_kwargs,
            )
        )
        if now >= until:
            return ran
        # next interval end strictly after `now` on the start-anchored
        # grid (timedelta floor-division keeps this exact)
        nxt = start + ((now - start) // step + 1) * step
        sleep((min(nxt, until) - now).total_seconds())
