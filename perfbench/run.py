"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wordcount_backlog --seed 1 --seconds 20 --trace 0

Phases: start the Spark session, stage the seeded inputs, warm the JVM
up, run the fixed timed work, check the outputs, stop every process.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the timed phase records spans and per-layer
counters and interleaves untraced repeats of the same work to measure
the tracing overhead, the store leg (catalog_mix) or the single-thread
drain (wordcount_backlog) follows, and the last line carries the
per-layer metrics.  A JSON sidecar with the
warm-up curve, the weather, the environment and the spans is written
under ``perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

#: Executor threads: one core stays with the Python client.
CPUS = max(1, (os.cpu_count() or 2) - 1)
#: An op slower than this counts as stalled (failed) even if it returns.
STALL_S = 60.0
#: The warm-up curve counts as flat when the median op of its last
#: iteration is within this share of the timed phase's; the timed phase
#: is flagged when its second half is slower or faster than its first
#: by more than this.
FLAT = 0.15
MODULES = {
    "wordcount_backlog": "perfbench.wordcount",
    "catalog_mix": "perfbench.catalog",
}


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def require_program() -> None:
    """Exit non-zero, printing no result, unless the engine package
    and PySpark are importable from this checkout."""
    for mod in ("pyspark", "spark_kafka_streaming_spark"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod} from {ROOT}", file=sys.stderr)
            sys.exit(2)


def result(spec: dict, metrics: dict, attempted: int, failed: int) -> dict:
    """The last stdout line: every metric ``spec`` declares, with its unit."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": spec[k][0]} for k in spec},
    }


def timed_phase(wl, tracer) -> dict:
    h0 = H.HostSample.take()
    d = wl.timed(tracer)
    h1 = H.HostSample.take()
    d["phase_wall_s"] = h1.wall - h0.wall
    d["phase_cpu_s"] = h1.cpu_s - h0.cpu_s
    stalls = sum(1 for x in d["latencies_ms"] if x > STALL_S * 1e3)
    d["failed"] += stalls
    return d


def main() -> int:
    args = parse()
    require_program()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    H.spark_env(work, CPUS)
    h_start = H.HostSample.take()

    t = time.perf_counter()
    spark = H.start_session(work, CPUS, ROOT)
    session_s = time.perf_counter() - t
    env = {
        "executor_threads": CPUS,
        "shuffle_partitions": CPUS,
        "driver_memory": H.DRIVER_MEM,
        "seed": args.seed,
        "seconds": args.seconds,
        "nproc": os.cpu_count(),
        **H.versions(spark),
    }
    try:
        wl = importlib.import_module(MODULES[args.workload]).Workload(
            spark, work, args.seed
        )
        t = time.perf_counter()
        wl.stage()
        stage_s = time.perf_counter() - t

        curve = []
        t_warm = time.perf_counter()
        for i in range(wl.warmup_iters):
            a = H.HostSample.take()
            ops = wl.warmup_iter(i, H.Tracer())
            b = H.HostSample.take()
            curve.append(
                {"wall_s": b.wall - a.wall, "cpu_s": b.cpu_s - a.cpu_s, "op_p50_ms": H.median(ops)}
            )
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_START

        tracer = H.Tracer(enabled=bool(args.trace))
        # host speed just before and after the timed work, outside both
        # setup_s and the timed phase
        calib = [H.calib_ms()]
        res = timed_phase(wl, tracer)
        calib.append(H.calib_ms())
        lat = res["latencies_ms"]
        p50, tail_v, tail_pct = H.scaled_percentiles(res.get("by_entry") or {"op": lat})
        # flat: the last warm-up iteration's ops ran within FLAT of the timed ones
        warm_flat = curve[-1]["op_p50_ms"] <= (1 + FLAT) * H.median(lat)
        drift = H.trend(res["rounds"])

        checks = wl.check()
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + sum(1 for ok in checks.values() if not ok)

        sidecar: dict = {}
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.layers(tracer))
            layers["trace.overhead_pct"] = res["overhead_pct"]
            for leg_cls in getattr(wl, "legs", ()):
                leg = leg_cls(spark, work, args.seed)
                rec = leg.run(tracer)
                leg_checks = leg.check()
                layers.update(leg.layers())
                checks.update(leg_checks)
                attempted += rec["attempted"] + len(leg_checks)
                failed += rec["failed"] + sum(1 for ok in leg_checks.values() if not ok)
                sidecar.setdefault("leg_errors", []).extend(rec.get("errors", []))
            sidecar["spans"] = tracer.dump()
            sidecar["self_ms"] = tracer.self_ms()
            if hasattr(wl, "baseline"):

                def factory(cpus: int):
                    nonlocal spark
                    spark.stop()
                    spark = H.start_session(work, cpus, ROOT)
                    return spark

                layers.update(wl.baseline(factory))
        h_end = H.HostSample.take()
        weather = H.weather(h_start, h_end)
        if args.trace:
            metrics = layers
            metrics.update(
                {
                    "session.start_s": session_s,
                    "setup.stage_s": stage_s,
                    "setup.warmup_s": warmup_s,
                    "host.steal_pct": weather["steal_pct"],
                    "host.load1": weather["load1"],
                    "host.cpu_util": weather["cpu_util"],
                    "host.calib_ms": H.median(calib),
                }
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": res["items_per_s"],
                "op_p50_ms": p50,
                "op_tail_ms": tail_v,
                "cpu_s": res["phase_cpu_s"],
                "ok_ratio": 1.0 - failed / attempted,
            }
        out = result(PER_LAYER if args.trace else END_TO_END, metrics, attempted, failed)
        sidecar.update(
            {
                "workload": args.workload,
                "env": env,
                "weather": {
                    "start": {"load1": h_start.load1},
                    "end": {"load1": h_end.load1},
                    "calib_ms": {"before": calib[0], "after": calib[1]},
                    "run": weather,
                },
                "warmup_curve": curve,
                "warmup_flat": warm_flat,
                "timed": {
                    "ops": len(lat),
                    "p50_ms": p50,
                    "tail_ms": tail_v,
                    "tail_percentile": tail_pct,
                    "beyond_tail": H.TAIL_BEYOND,
                    "trend": drift,
                    "trend_flagged": abs(drift) > FLAT,
                    "latencies_ms": lat,
                    "detail": res.get("detail"),
                },
                "checks": checks,
                "result": out,
            }
        )
    finally:
        H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    side = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(side, "w") as f:
        json.dump(sidecar, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} env {json.dumps(env)}")
    print(
        f"warm-up walls {[round(c['wall_s'], 2) for c in curve]} s, op p50 "
        f"{[round(c['op_p50_ms']) for c in curve]} ms, flat={warm_flat}; "
        f"timed ops {len(lat)}, tail = p{tail_pct:.1f} with {H.TAIL_BEYOND} beyond, "
        f"trend {drift:+.1%}{' FLAGGED' if abs(drift) > FLAT else ''}"
    )
    print(f"weather {json.dumps(weather)}, host probe {[round(c, 1) for c in calib]} ms")
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for k, v in out["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"sidecar {os.path.relpath(side, ROOT)}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
