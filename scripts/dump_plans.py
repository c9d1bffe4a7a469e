"""Dump formatted physical plans.

With no arguments, regenerate PLANS.md: the plans of the headline
queries with the scale-relevant properties called out. With ``--out``,
write ``.explain("formatted")`` of every declared query (or of the
named ones) to ``<out>/<name>_<suffix>.txt`` — the per-round before/
after evidence of an optimization round (``plans/r13``, ``plans/r14``).

Usage:
    python scripts/dump_plans.py                      # writes PLANS.md
    python scripts/dump_plans.py --out plans/rNN <before|after> [sf_dir] [name ...]

A relative ``--out`` is resolved against the repo root; ``sf_dir``
defaults to the sf0.1 tables next to the PLANS.md inputs.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rustcheatersdatapipeline_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.01"

#: query → what to look for in its plan
ANNOTATED = {
    "q4": "filter pushed to the parquet scan (PushedFilters: StringContains)",
    "q15": "bounded dim broadcast via explicit hint; the population-scaled customer side compiles to SMJ and AQE promotes it to broadcast from runtime sizes (static estimates are untrusted — see session.py)",
    "q22": "map-side partial_count before the exchange",
    "q23": "TakeOrderedAndProject — top-k without a global sort",
    "dedup_minhash_lsh": (
        "banded equi-join candidates; verify join carries NO broadcast hint "
        "(AQE picks the strategy from runtime sizes)"
    ),
    "ann_lsh_search": (
        "one MapInPandas scan of the corpus splits: the vector kernel signs "
        "each vector into its buckets, masks candidates to the query's own "
        "bucket per table and keeps a local top-k — no pair join, no "
        "distinct, no interpreted zip_with/aggregate fold; one Window ranks"
    ),
    "ann_ivf_assign": (
        "one MapInPandas scan: each vector's argmax over the 16 collected "
        "seed centroids (vector kernel); the only Exchange is the ORDER BY"
    ),
    "doc_fingerprint": (
        "zero-shuffle winnowing: array expressions only, one Exchange for the "
        "final ORDER BY"
    ),
    "events_sessionize": "one shuffle on user_id shared by both window passes",
    "dedup_ngram_jaccard": (
        "df(g) as a groupBy(g) plus join-back (r12: a g-window cannot be "
        "skew-split by AQE, a join can); per-doc size and prefix rank share "
        "one doc_id exchange"
    ),
    "dsir_resample": (
        "bucket score table joined back on an equi key; the only non-equi "
        "joins are the two single-row totals grids; selection is "
        "TakeOrderedAndProject over integer Gumbel keys"
    ),
    "mixture_token_budget_sample": (
        "r11 skew-safe form: the corpus tokenizes ONCE into a checkpointed "
        "narrow projection (both ExistingRDD scans are that materialization "
        "— no parquet rescan); the admission threshold aggregates per "
        "(lang, quality-level) and rides a BROADCAST join, so the ranking "
        "window sorts only ~budget-sized survivors — a 99%-one-language "
        "corpus cannot serialize the stage (measured: skew gate 0.36x)"
    ),
    "hybrid_search_rrf": (
        "union of the two arms' top-k + one per-(query,doc) hash aggregate; "
        "the kNN arm is one MapInPandas kernel scan against the collected "
        "query block, and the one BroadcastNestedLoopJoin broadcasts bm25's "
        "1-row stats — never corpus x corpus"
    ),
}


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def dump_round(outdir: str, suffix: str, sf_dir: str, names: list[str]) -> None:
    """One ``<name>_<suffix>.txt`` per declared query in ``names`` (all
    when empty); a builder that raises leaves its error in the file."""
    outdir = os.path.join(ROOT, outdir)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in entry.queries().items():
        if names and name not in names:
            continue
        buf = io.StringIO()
        try:
            df = fn(spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        except Exception as e:  # noqa: BLE001
            buf.write(f"ERROR: {type(e).__name__}: {e}\n")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(name, "done", flush=True)


def write_plans_md() -> None:
    spark = get_spark(cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(entry.queries())
    from rustcheatersdatapipeline_spark.plans import queries as _Q
    from rustcheatersdatapipeline_spark.plans import retrieval as _R
    from rustcheatersdatapipeline_spark.plans import training as _T

    qs.update(_Q.TESTS_ONLY_QUERIES)
    qs.update(_T.TESTS_ONLY_QUERIES)
    qs.update(_R.TESTS_ONLY_QUERIES)
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Regenerate with `python scripts/dump_plans.py` (sf0.01 inputs; the",
        "plan SHAPE is scale-independent even though sizes are not).",
        "Properties pinned mechanically in `tests/test_plan_shape.py`.\n",
    ]
    for name, note in ANNOTATED.items():
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # operator tree + the scan-evidence lines from the detail section
        tree = plan.split("\n\n")[0]
        evidence = [
            ln.strip()
            for ln in plan.splitlines()
            if ln.strip().startswith(("PushedFilters:", "ReadSchema:"))
        ]
        ev = ("\n" + "\n".join(evidence)) if evidence else ""
        out.append(f"## {name}\n\n*{note}*\n\n```\n{tree}{ev}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="per-round plan directory, e.g. plans/r15")
    ap.add_argument("suffix", nargs="?", help="file suffix: before or after")
    ap.add_argument("sf_dir", nargs="?", default=os.path.join(os.path.dirname(SF), "sf0.1"))
    ap.add_argument("names", nargs="*", help="declared queries to dump (default: all)")
    args = ap.parse_args()
    if args.out is None:
        if args.suffix is not None:
            ap.error("positional arguments need --out")
        write_plans_md()
    else:
        dump_round(args.out, args.suffix or "before", args.sf_dir, args.names)


if __name__ == "__main__":
    main()
