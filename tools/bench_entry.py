#!/usr/bin/env python
"""Per-entry measurement harness for optimization rounds.

Usage:
    python tools/bench_entry.py q_name1 q_name2 ...      # time entries
    python tools/bench_entry.py --explain DIR q_name ... # also dump plans
    python tools/bench_entry.py --explain DIR --reps 0 q_name ...  # plans only
    python tools/bench_entry.py --reps 3 q_name          # timed passes

Same methodology as bench.py (noop sink, warm pass, min of N timed
passes, operator caches released between runs) so numbers are
comparable with BENCH_FULL.json, but scoped to the named entries so an
optimize-measure loop takes seconds, not the full catalog.

Each entry's line also carries perfbench's host probe
(``harness.calib_ms``, a fixed pure-Python loop) taken just before and
just after its timed passes: ``calib=<before>/<after>ms``.  The probe
moves only with the host, so a slow pass with a slow probe is weather,
not the change under test.

``build_jobs=<n>`` is the number of Spark jobs the entry's builder ran
before its action in the last timed pass, i.e. after one warm build
(counted under a job group per pass).

``--explain`` writes each entry's ``explain("formatted")`` text with
the ids that depend on what the JVM built before, not on the query,
masked (:func:`mask_plan_ids`), so two dumps of the same names from
two trees diff cleanly.  Dump the same sorted name list on both sides.
``q_agg_count_distinct`` must still be dumped in a fresh process of its
own: the Expand projection order of its distinct aggregates depends on
the entries built before it in the same process.  (For
``q_events_anomaly_mad_hist`` only its codegen and query-stage ids
varied; the masks cover them.)
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from spark_kafka_streaming_spark import get_spark  # noqa: E402
from spark_kafka_streaming_spark.functions.caching import (  # noqa: E402
    release_operator_caches,
)
from spark_kafka_streaming_spark.queries import REGISTRY  # noqa: E402
from perfbench.harness import calib_ms  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (pattern, replacement): expression ids (``l_orderkey#12L``), exchange
#: plan ids, adaptive query-stage ids (numbered in materialization
#: order, which concurrent stages race for), RDD ids, whole-stage
#: codegen stage ids, and the application id in session-scoped temp
#: paths.
_PLAN_ID_MASKS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"(QueryStage\n[^\n]*\nArguments: )\d+"), r"\g<1>_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : _]"),
    (re.compile(r"\blocal-\d+\b"), "local-_"),
)


def mask_plan_ids(plan: str) -> str:
    """``plan`` with its process-history ids replaced by ``_``."""
    for pattern, repl in _PLAN_ID_MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def run_once(spark, name: str, group: str) -> tuple[float, int]:
    """(wall seconds, jobs the builder ran before the action)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    df = REGISTRY[name].builder(spark, SF_DIR)
    build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    release_operator_caches()
    spark.catalog.clearCache()
    return elapsed, build_jobs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--explain", metavar="DIR", default=None)
    ap.add_argument("--suffix", default="", help="plan filename suffix")
    ap.add_argument(
        "--reps", type=int, default=2,
        help="timed passes; 0 with --explain writes the plans only",
    )
    args = ap.parse_args()
    if args.reps < 0 or (args.reps == 0 and not args.explain):
        ap.error("--reps must be >= 1, or 0 together with --explain")

    spark = get_spark(app_name="bench_entry")
    for name in args.names:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = REGISTRY[name].builder(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(
                args.explain, f"{name}{args.suffix}.txt"
            )
            with open(out, "w") as f:
                f.write(mask_plan_ids(plan))
            release_operator_caches()
            spark.catalog.clearCache()
            print(f"PLAN {name} -> {out}", file=sys.stderr)
            if args.reps == 0:
                continue
        warm, _ = run_once(spark, name, f"bench_entry-{name}-warm")
        calib_before = calib_ms()
        runs = [
            run_once(spark, name, f"bench_entry-{name}-{i}")
            for i in range(args.reps)
        ]
        calib_after = calib_ms()
        times = [t for t, _ in runs]
        print(
            f"{name}: warm={warm:.3f} "
            + " ".join(f"{t:.3f}" for t in times)
            + f"  min={min(times):.4f}"
            + f"  calib={calib_before:.1f}/{calib_after:.1f}ms"
            + f"  build_jobs={runs[-1][1]}"
        )


if __name__ == "__main__":
    main()
