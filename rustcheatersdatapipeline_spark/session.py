"""SparkSession factory.

Engine-wide session invariants (SURVEY.md §7.3 hard part 5):

- ``spark.sql.session.timeZone = UTC`` — the reference normalizes every
  timestamp to UTC (pandas ``utc=True`` at
  reference ``dags/scripts/rust_twitter_steam_facts.py:31-33``); the DuckDB
  oracle is likewise UTC, so formatted-timestamp comparisons are stable.
- AQE on — runtime coalescing/skew handling stands in for hand-tuned
  shuffle partitioning at arbitrary scale factors.
- Arrow on — any Pandas-UDF path transfers columnar batches, not rows.

At 100 TB these settings matter more than locally: AQE rewrites sort-merge
joins to broadcast when a dimension turns out small, splits skewed shuffle
partitions, and coalesces tiny ones, so one static ``shuffle.partitions``
value does not have to fit every stage.

Local file I/O never starts a process. pip's pyspark ships no native
``libhadoop``, so Hadoop's ``RawLocalFileSystem.setPermission`` runs
``chmod`` as a child process, and it is called on every ``create`` and
every ``mkdirs``: about three spawns per parquet file (the file, its
``.crc`` sidecar, its partition dir), 1,295 per hourly interval. On 4
cores a warm one-task write of 226 ``date_sk`` partitions took 6.9 s
with the spawns and 1.3 s without. So ``file://`` resolves to
``jvm/NoForkLocalFileSystem`` (the source, with its one build command in
the header, sits next to the jar built from it): a ``LocalFileSystem``
whose raw filesystem sets modes up to 0777 with
``Files.setPosixFilePermissions``, inside the JVM, and leaves a sticky
bit or a non-POSIX store to the stock path. Files, bytes, ``.crc``
checksums and modes stay exactly as Hadoop writes them. It replaces
Hive's service-loaded ``ProxyLocalFileSystem``, whose one extra,
``getFileChecksum``, nothing here calls. The jar is on the driver
classpath, which under ``local[...]`` is every executor's too; a JVM
started without it fails with ``ClassNotFoundException`` instead of
falling back. Rejected: ``fs.file.impl=RawLocalFileSystem`` drops the
``.crc`` layer (weaker read verification) and still spawns once per
file; a native ``libhadoop`` needs a download.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

_NO_FORK_FS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "NoForkLocalFileSystem.jar")

T = TypeVar("T")
R = TypeVar("R")


def _driver_memory() -> str:
    """24g, or half the machine's RAM where that is less. The JVM seldom
    gives heap back once it has grown it, so a heap allowed past the
    machine's RAM can grow until the kernel's OOM killer ends the driver
    (on a 16 GB host a long test session was killed at 14 GB resident)."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "rustcheaters-spark-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract), else all
    cores. ``shuffle_partitions`` defaults to the core count — at local
    test scale a 200-partition shuffle is pure overhead; on a real cluster
    AQE coalescing makes the static value a ceiling, not a target.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # zstd over snappy for parquet at rest: ~25-35% smaller files at
        # comparable decode cost (codec ships with Spark). At 100 TB the
        # ratio IS the scan time — fewer bytes per row group beats
        # snappy's marginally faster decompress on every cold read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraClassPath", _NO_FORK_FS_JAR)
        .config("spark.hadoop.fs.file.impl", "rustcheaters.hadoop.NoForkLocalFileSystem")
        # Compile-time auto-broadcast OFF, runtime (AQE) auto-broadcast ON.
        # Catalyst's static size estimates are unreliable downstream of
        # explode/aggregate (an exploded shingle table inherits its
        # parquet leaf's size stat): at a 100x replica the planner
        # happily compile-time-broadcast ~1 GiB aggregate sides and
        # crashed the driver (scripts/bench_scale.py --replicas 100
        # caught it). AQE instead promotes a join side to broadcast from
        # the TRUE size of its materialized shuffle stage, which cannot
        # mis-estimate; explicit F.broadcast() hints on catalog-sized
        # dims are unaffected by the static threshold and keep their
        # zero-shuffle plans.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
    )
    return builder.getOrCreate()


def concurrently(spark: SparkSession, fn: Callable[[T], R], items: Sequence[T]) -> list[R]:
    """``[fn(x) for x in items]``, with the calls overlapped on at most
    ``defaultParallelism`` threads, so independent Spark jobs submitted
    from the driver keep the cores busy instead of queueing one by one.

    Each call runs under the caller's job group, description and session
    tags: ``inheritable_thread_target(spark)`` is applied once per item,
    so every call gets its own copy of the caller's local properties and
    one call's ``setJobGroup`` or SQL execution id never leaks into
    another's. Every call finishes, and the pool's threads have exited,
    before this returns; the results come back in item order, and so
    does the error: the first item that raised, not the first to fail.
    One item runs inline."""
    if len(items) <= 1:
        return [fn(x) for x in items]
    calls = [inheritable_thread_target(spark)(fn) for _ in items]
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(call, x) for call, x in zip(calls, items)]
    return [f.result() for f in futures]
