"""Benchmark of the hourly ban-ETL batch and of the declared-query pass,
end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload hourly_batch --seed 1 --seconds 50 --trace 0

The run generates its seeded inputs (cached per workload and seed under
``.perfbench/``) and starts Spark the way a user does (``get_spark`` on
all cores). ``hourly_batch`` runs one interval of bronze Steam JSON
through ``backfill.run_interval_range`` into a fresh ``GoldStore``; a
traced run then makes one pass over the eight dashboard insights.
``declared_queries`` makes one cold pass over the 50 queries of
``__spark_entry__.queries()`` on seeded TPC-H-shaped tables. The run
checks its outputs against answers computed without Spark (the
generator's plain-Python answers, the DuckDB oracle) and prints one JSON
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. A failed check exits with code 1. ``--seconds`` does
not stretch a run: each run measures one fixed unit of work. See
README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import gc
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import bronze  # noqa: E402
import tpch  # noqa: E402
from tracing import Tracer, event_log_conf, parse_event_log  # noqa: E402

WORKLOADS = ("hourly_batch", "declared_queries")
#: banned profiles in the hourly workload's one interval
HOURLY_PROFILES = 20
START = dt.datetime(2021, 10, 2)
STEP = dt.timedelta(hours=1)
#: driver heap for the benchmark JVM (``get_spark`` reads this variable)
DRIVER_MEM = "4g"
#: declared queries by family (the rest of ``training`` is ``text``)
NEARDUP = ("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "simhash_neardup",
           "embed_neardup_cosine", "dedup_cluster", "dedup_substrings")
VECTOR = ("embed_knn_bruteforce", "ann_lsh_buckets", "ann_lsh_search_multiprobe",
          "ann_ivf_assign", "hybrid_search_rrf")
FAMILIES = ("relational", "events", "neardup", "vector", "text")
QUERY_MODULES = ("queries", "analytics", "training", "retrieval")
TASK_COUNTERS = ("jobs", "tasks", "executor_s", "shuffle_write_bytes", "spill_bytes")
UNITS = {"s": "s", "executor_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_bytes": "B", "spill_bytes": "B", "bytes_written": "B",
         "bronze_bytes": "B", "files_written": "count", "cas_retries": "count",
         "corrupt_records": "count", "tables": "count"}
PIPELINE_LAYERS = {
    "pipeline.read_bronze": ("s", "jobs", "bronze_bytes", "corrupt_records"),
    "transforms.builders": ("s",),
    "pipeline.validate_silver": ("s", "jobs", "tasks", "executor_s"),
    "warehouse.loads.build_warehouse": ("s", "jobs"),
    "warehouse.persist.publish": ("s", "jobs", "tasks", "executor_s", "shuffle_write_bytes",
                                  "spill_bytes", "bytes_written", "files_written",
                                  "cas_retries"),
    "warehouse.persist.read_all": ("s", "tables"),
}


def prepare_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """The input directory plus the expected answers (empty for the
    queries, whose answers come from DuckDB); reused when a previous run
    already wrote them for this seed."""
    base = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    marker = os.path.join(base, "expected.json")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        exp: dict = {}
        if workload == "hourly_batch":
            plan = bronze.plan_intervals(seed, HOURLY_PROFILES, 1)
            bronze.write_interval(seed, plan[0], os.path.join(base, "data"))
            exp = bronze.expected(seed, plan, START + STEP)
            exp["a1"] = [[k, v] for k, v in exp["a1"].items()]
            exp["a8"] = [[k, v] for k, v in exp["a8"].items()]
        else:
            tpch.write(seed, os.path.join(base, "data"))
        with open(marker + ".tmp", "w", encoding="utf-8") as f:
            json.dump(exp, f)
        os.replace(marker + ".tmp", marker)
    with open(marker, encoding="utf-8") as f:
        exp = json.load(f)
    for key in ("a1", "a8"):
        if key in exp:
            exp[key] = {k: v for k, v in exp[key]}
    return os.path.join(base, "data"), exp


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark writes inside the checkout, and point the
    Python workers at the program package."""
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    args = [f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UsePerfData'"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [f"--conf {k}={v}" for k, v in event_log_conf(log_dir).items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_session():
    from rustcheatersdatapipeline_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_s(jvm_pid: int) -> float:
    """User plus system CPU seconds used so far by the Spark JVM and by
    this Python driver process."""
    with open(f"/proc/{jvm_pid}/stat", encoding="utf-8") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return jvm + time.process_time()


def stolen_s() -> float:
    """CPU seconds the hypervisor has taken from this machine so far,
    summed over its CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat", encoding="utf-8") as f:
        steal = int(f.readline().split()[8])
    return steal / os.sysconf("SC_CLK_TCK")


class Timed:
    """Wall time, wall time net of CPU steal, and CPU seconds of the
    Spark JVM plus this process over a ``with`` block.

    Stolen time is time the block's threads were ready to run and were
    not. The block ran at an average parallelism of (CPU + stolen) /
    wall, so the steal delayed it by stolen / parallelism, and the net
    wall time is wall * CPU / (CPU + stolen)."""

    def __init__(self, spark):
        self.jvm = spark._jvm.java.lang.ProcessHandle.current().pid()

    def __enter__(self):
        self.cpu0, self.steal0, self.t0 = cpu_s(self.jvm), stolen_s(), time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = cpu_s(self.jvm) - self.cpu0
        self.net = self.wall * self.cpu / (self.cpu + stolen_s() - self.steal0)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def retained_heap_mb(spark) -> float:
    """Heap the JVM still holds once collection frees nothing more: what
    a long-lived driver keeps between batches (caches, status, plans).
    The first full collection after an hourly batch leaves about 131 MB;
    cleaner threads then release about 40 MB more, which the next one
    frees, and after the 50 queries' shuffles and broadcasts the cleaners
    once needed more than a second. So release this process's JVM handles
    first, then collect every 0.2 s until five collections in a row free
    nothing more, and keep the lowest reading."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    low, calm = float("inf"), 0
    for _ in range(50):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        low, calm = (used, 0) if used < low - 0.5 else (low, calm + 1)
        if calm == 5:
            break
        time.sleep(0.2)
    return low


# -- hourly_batch ------------------------------------------------------------


def dashboard_pass(store, tracer: Tracer) -> tuple[float, dict]:
    """One pass over the eight insights on ``store.read_all()``. Returns
    (seconds, name → error)."""
    from rustcheatersdatapipeline_spark.plans.insights import INSIGHTS

    errors = {}
    t = time.perf_counter()
    gold = store.read_all()
    for name, fn in INSIGHTS.items():
        with tracer.span(f"plans.insights.{name}"):
            try:
                fn(gold).collect()
            except Exception as e:  # noqa: BLE001 - an insight failure is a counted failure
                errors[name] = repr(e)
    return time.perf_counter() - t, errors


def check(store, ran, exp: dict, n_intervals: int) -> list[str]:
    """Every way the gold store disagrees with the generator's answers."""
    from rustcheatersdatapipeline_spark.plans.insights import INSIGHTS

    bad = []
    if store.current_version() != n_intervals:
        bad.append(f"store version {store.current_version()} != {n_intervals}")
    if len(ran) != n_intervals:
        bad.append(f"{len(ran)} intervals ran, expected {n_intervals}")
    bad += [f"batch {ie}: failed={res.failed} not_loaded={res.not_loaded}"
            for ie, res, _ in ran if res.failed or res.not_loaded]
    got = {name: e["rows"] for name, e in store.current_manifest()["tables"].items()}
    for name, want in exp["counts"].items():
        if got.get(name) != want:
            bad.append(f"{name}: {got.get(name)} rows, expected {want}")
    for name in sorted(set(got) - set(exp["counts"])):
        bad.append(f"unexpected gold table {name}")
    gold = {name: store.read(name) for name in ("bans_fact", "player_dim")}
    for key, insight in (("a1", "a1_bans_per_country"), ("a8", "a8_profile_visibility")):
        answer = {k: v for k, v in INSIGHTS[insight](gold).collect()}
        if answer != exp[key]:
            bad.append(f"{insight}: {answer} != {exp[key]}")
    return bad


def run_hourly(spark, run_dir: str, data: str, exp: dict, tracer: Tracer) -> dict:
    """One interval into a fresh store: the timed call, then (traced)
    the dashboard pass, then the checks."""
    from rustcheatersdatapipeline_spark.backfill import run_interval_range
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, os.path.join(run_dir, "gold"))
    raised = []
    with Timed(spark) as timed:
        try:
            ran = run_interval_range(spark, store, {START + STEP: data}.__getitem__, START,
                                     START + STEP, STEP)
        except Exception as e:  # noqa: BLE001 - a raising batch is a counted failure
            ran, raised = [], [f"batch raised {e!r}"[:2000]]
    persistent_rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
    dashboard_s, errors = dashboard_pass(store, tracer) if tracer.enabled else (0.0, {})

    def checks():
        return raised + check(store, ran, exp, 1) + [
            f"insight {k}: {v}" for k, v in errors.items()]

    return {
        "timed": timed,
        "attempted": 1 + (8 if tracer.enabled else 0),
        "failed": sum(1 for _, res, _ in ran if res.failed or res.not_loaded)
        + 1 - len(ran) + len(errors),
        "checks": checks,
        "extra": {"trace.dashboard_s": (dashboard_s, "s"),
                  "backfill.run_interval_range.interval_s.0": (timed.wall, "s"),
                  "backfill.run_interval_range.persistent_rdds.0": (persistent_rdds, "count")},
    }


# -- declared_queries --------------------------------------------------------


def query_modules() -> dict[str, str]:
    """Declared query name → the ``plans`` module that declares it."""
    import importlib

    return {name: mod for mod in QUERY_MODULES for name in importlib.import_module(
        f"rustcheatersdatapipeline_spark.plans.{mod}").SPARK_QUERIES}


def family(module: str, name: str) -> str:
    if module == "queries":
        return "relational"
    if module == "analytics":
        return "events"
    return "neardup" if name in NEARDUP else "vector" if name in VECTOR else "text"


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_cell(x) for x in v)
    return v


def _rows(df) -> tuple[list[str], list[tuple]]:
    """A pandas frame as sorted columns and sorted normalised rows, the
    way the repository's oracle tests compare them (doubles bit-exact)."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def oracle_mismatches(data: str, results: dict) -> list[str]:
    """Each collected result against ``__spark_entry__.oracle_sql()`` run
    by DuckDB on the same parquet files."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in tpch.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    bad = []
    for name, sql in entry.oracle_sql().items():
        if name not in results:
            continue
        want = _rows(con.execute(sql).df())
        if _rows(results[name]) != want:
            bad.append(f"{name}: differs from the DuckDB oracle")
    con.close()
    return bad


def run_queries(spark, run_dir: str, data: str, exp: dict, tracer: Tracer) -> dict:
    """One cold pass over the 50 declared queries, each result collected
    to the driver, then the oracle checks."""
    import __spark_entry__ as entry

    from rustcheatersdatapipeline_spark import plan_cache
    from rustcheatersdatapipeline_spark.plans import training

    modules = query_modules()
    queries = entry.queries()
    plan_cache.release(spark)
    training.clear_session_memos(spark)
    results, errors = {}, {}
    with Timed(spark) as timed:
        for name, fn in queries.items():
            with tracer.span(f"plans.{modules[name]}.{name}"):
                try:
                    results[name] = fn(spark, data).toPandas()
                except Exception as e:  # noqa: BLE001 - a query failure is a counted failure
                    errors[name] = repr(e)
    registered = len(plan_cache.registered(spark))
    released = plan_cache.release(spark)

    def checks():
        return oracle_mismatches(data, results) + [f"query {k}: {v}" for k, v in errors.items()]

    return {
        "timed": timed,
        "attempted": len(queries),
        "failed": len(errors),
        "checks": checks,
        "extra": {"plan_cache.registered": (registered, "count"),
                  "plan_cache.released": (released, "count")},
    }


def layer_metrics(tracer: Tracer, task_counters: dict, out: dict) -> dict[str, tuple]:
    """Every per-layer metric, name → (value, unit); 0 for the layers the
    workload does not reach. Counters are totals over the run."""
    from rustcheatersdatapipeline_spark.plans.insights import INSIGHTS

    tot = tracer.layer_totals(task_counters)

    def get(layer, key):
        return tot.get(layer, {}).get(key, 0.0)

    m = {f"{layer}.{k}": (get(layer, k), UNITS[k]) for layer, keys in PIPELINE_LAYERS.items()
         for k in keys}
    for name in INSIGHTS:
        m[f"plans.insights.{name}.s"] = (get(f"plans.insights.{name}", "s"), "s")
    m["plans.insights.jobs"] = (sum(get(f"plans.insights.{n}", "jobs") for n in INSIGHTS),
                                "count")
    modules = query_modules()
    fam = {f: dict.fromkeys(("s",) + TASK_COUNTERS, 0.0) for f in FAMILIES}
    for name, mod in modules.items():
        layer = f"plans.{mod}.{name}"
        m[f"{layer}.s"] = (get(layer, "s"), "s")
        for k in fam[family(mod, name)]:
            fam[family(mod, name)][k] += get(layer, k)
    for f, counters in fam.items():
        for k, v in counters.items():
            m[f"plans.family.{f}.{k}"] = (v, UNITS[k])
    for name, unit in (("backfill.run_interval_range.interval_s.0", "s"),
                       ("backfill.run_interval_range.persistent_rdds.0", "count"),
                       ("plan_cache.registered", "count"), ("plan_cache.released", "count"),
                       ("trace.dashboard_s", "s")):
        m[name] = out["extra"].get(name, (0, unit))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    data, exp = prepare_inputs(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, trace)

    # set-up: program imports, JVM launch and the first session, counted
    # in CPU seconds. Its wall time moves with CPU steal from other
    # tenants (7 s on a quiet host, 11-14 s on a busy one); its CPU time
    # far less. A session rebuilt in the same JVM costs about 0.2 s, too
    # little to show anything but scheduling noise, so it is not sampled.
    cpu0 = time.process_time()
    t = time.perf_counter()
    from pyspark import SparkContext

    if args.workload == "hourly_batch":
        import rustcheatersdatapipeline_spark.backfill  # noqa: F401
    else:
        import __spark_entry__  # noqa: F401
    spark = start_session()
    get_spark_s = time.perf_counter() - t
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    setup_cpu_s = cpu_s(jvm) - cpu0

    tracer = Tracer(spark, trace)
    if trace:
        tracer.install()
    workload = run_hourly if args.workload == "hourly_batch" else run_queries
    out = workload(spark, run_dir, data, exp, tracer)
    timed = out["timed"]
    peak_mb = jvm_peak_rss_mb(jvm)
    gc_s = jvm_gc_s(spark)
    heap_mb = retained_heap_mb(spark)
    tracer.enabled = False  # the checks below are not part of any layer
    problems = out["checks"]()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    if trace:
        with open(os.path.join(run_dir, "eventlog", app_id), encoding="utf-8") as f:
            counters = parse_event_log(f)
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(tracer, counters, out)
        metrics.update({
            "session.get_spark.s": (get_spark_s, "s"),
            "session.gc_s": (gc_s, "s"),
            "session.jvm_peak_rss_mb": (peak_mb, "MB"),
            "trace.batch_s": (timed.net, "s"),
            "trace.batch_cpu_s": (timed.cpu, "s"),
            "trace.bookkeeping_s": (tracer.bookkeeping_s, "s"),
        })
    else:
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "batch_s": (timed.net, "s"),
            "batch_cpu_s": (timed.cpu, "s"),
            "retained_heap_mb": (heap_mb, "MB"),
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(f"perfbench: set-up {get_spark_s:.2f} s wall, timed pass {timed.wall:.2f} s wall "
          f"({timed.wall - timed.net:.2f} s of it lost to steal), peak RSS {peak_mb:.0f} MB", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
