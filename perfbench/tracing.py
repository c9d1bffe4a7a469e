"""Per-layer tracing from outside the program.

``Tracer.install`` wraps the public entry points that ``run_batch`` and
``run_interval_range`` already call, so the program's source stays
untouched. Each wrapped call is one span: it runs under its own Spark
job group, and when it ends the span records its wall time and the
group's job count from ``statusTracker``. Spans stay in memory and are
written out once, at the end of the run.

Task-level counters (tasks, executor time, shuffle, spill, bytes
written) come from Spark's event log, written uncompressed and
unrolled so that ``parse_event_log`` can fold it with the stdlib alone.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench"
_JOB_GROUP = "spark.jobGroup.id"
_JOB_DESC = "spark.job.description"


@dataclass
class Span:
    layer: str
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    counts: dict[str, float] = field(default_factory=dict)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings for an event log the stdlib can read: plain JSON
    lines in one file (Spark 4 defaults to zstd and rolling)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Fold event-log lines into per-job-group task counters: ``tasks``,
    ``executor_s``, ``shuffle_write_bytes``, ``spill_bytes`` (memory plus
    disk) and ``bytes_written``. Jobs without a group are ignored."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_JOB_GROUP)
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            continue
        group = stage_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if group is None or not m:
            continue
        acc = out[group]
        acc["tasks"] += 1
        acc["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {g: dict(v) for g, v in out.items()}


class Tracer:
    """Span recorder; with ``enabled=False`` a span records nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._seq = 0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield Span(layer, "", 0.0)  # discarded
            return
        b0 = time.perf_counter()
        self._seq += 1
        group = f"{GROUP_PREFIX}:{layer}:{self._seq}"
        prev = (self.sc.getLocalProperty(_JOB_GROUP), self.sc.getLocalProperty(_JOB_DESC))
        self.sc.setJobGroup(group, layer)
        s = Span(layer, group, time.perf_counter())
        self.bookkeeping_s += s.start - b0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setLocalProperty(_JOB_GROUP, prev[0])
            self.sc.setLocalProperty(_JOB_DESC, prev[1])
            self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    def install(self) -> None:
        """Wrap the program's layer entry points for the rest of the process."""
        from rustcheatersdatapipeline_spark import pipeline
        from rustcheatersdatapipeline_spark.transforms import builders
        from rustcheatersdatapipeline_spark.warehouse.persist import (
            ConcurrentWriteError,
            GoldStore,
        )

        tracer = self

        def publish(orig):
            def wrapped(store, gold, *a, **k):
                with tracer.span("warehouse.persist.publish") as s:
                    try:
                        version = orig(store, gold, *a, **k)
                    except ConcurrentWriteError:
                        s.counts["cas_retries"] = 1
                        raise
                    tables = store.current_manifest()["tables"]
                    s.counts["files_written"] = sum(
                        len(tables[n].get("files") or []) for n in gold if n in tables
                    )
                return version
            return wrapped

        def read_all(orig):
            def wrapped(store):
                with tracer.span("warehouse.persist.read_all") as s:
                    out = orig(store)
                    s.counts["tables"] = len(out)
                return out
            return wrapped

        def read_bronze(orig):
            def wrapped(spark, bronze_dir):
                with tracer.span("pipeline.read_bronze") as s:
                    out, failed = orig(spark, bronze_dir)
                    s.counts["bronze_bytes"] = sum(
                        os.path.getsize(os.path.join(bronze_dir, f))
                        for f in os.listdir(bronze_dir) if f.endswith(".json")
                    )
                    s.counts["corrupt_records"] = sum(
                        int(m.group(1)) for msg in failed.values()
                        if (m := re.match(r"(\d+) corrupt", msg))
                    )
                return out, failed
            return wrapped

        def plain(layer):
            def wrap(orig):
                def wrapped(*a, **k):
                    with tracer.span(layer):
                        return orig(*a, **k)
                return wrapped
            return wrap

        GoldStore.publish = publish(GoldStore.publish)
        GoldStore.read_all = read_all(GoldStore.read_all)
        pipeline.read_bronze = read_bronze(pipeline.read_bronze)
        pipeline.validate_silver = plain("pipeline.validate_silver")(pipeline.validate_silver)
        pipeline.build_warehouse = plain("warehouse.loads.build_warehouse")(
            pipeline.build_warehouse
        )
        # run_batch looks the builders up in these dicts on every call
        for registry in (builders.DIM_TRANSFORMS, builders.FACT_TRANSFORMS):
            for table, (fn, src) in registry.items():
                registry[table] = (plain("transforms.builders")(fn), src)

    # -- roll-up -----------------------------------------------------------

    def layer_totals(self, task_counters: dict[str, dict[str, float]]) -> dict[str, dict]:
        """Sum every span of a layer: ``s``, ``jobs``, the span's own
        counts, and the event-log counters of its job group."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            acc = out[s.layer]
            acc["s"] += s.end - s.start
            acc["jobs"] += s.jobs
            for k, v in s.counts.items():
                acc[k] += v
            for k, v in task_counters.get(s.group, {}).items():
                acc[k] += v
        return {layer: dict(v) for layer, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.__dict__ for s in self.spans], f)
