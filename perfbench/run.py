"""Repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload catalog_ingest --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  catalog_ingest        runner.run_pipeline increments over generated granules
  search_and_analytics  STAC search request mix over a generated catalog,
                        then one checked pass of the 16 headline queries

Run from the root of a checkout. Everything the run writes stays under
``.perfbench_runs/`` (removed at exit) and ``.perfbench_out/`` (span
files of traced runs). Output: diagnostic lines, then as the LAST line
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` —
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The parts of a workload share its ``--seconds``. With
``--trace 1`` each part measures only its minimum round untraced (one
ingest scenario, one cycle of the request mix, one query pass), then
traces the same operations again, so the run also reports the tracing
overhead against the untraced round.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: workload -> the parts it runs in order in one process and session
WORKLOADS = {
    "catalog_ingest": ("wl_ingest",),
    "search_and_analytics": ("wl_search", "wl_analytics"),
}
DEADLINE_S = 175.0
#: A traced run skips the host canary past this point, so it still ends
#: inside the run time limit on a slow host.
CANARY_BEFORE_S = 120.0


class Context:
    """What a workload gets: the session, its seed and time budget, a
    scratch directory, the host reference it samples between operations,
    the tracer its timed code calls (disabled, so untraced measurement
    pays nothing) and, on traced runs only, the enabled tracer of the
    run's traced slices."""

    def __init__(self, spark, seed: int, seconds: float, run_dir: str, traced: bool):
        from perfbench.harness import HostRef, Tracer

        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.host_ref = HostRef(spark)
        self.tracer = Tracer(spark, enabled=False)
        self.traced = Tracer(spark, enabled=True) if traced else None

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


def _canary_once(spark) -> float:
    """One execution of bench.py's frozen host canary plan
    (``_calibration_sec``: range -> sha256 -> shuffle -> agg, no engine
    code), run after the workload so the JVM is warm. The frozen
    function itself runs the plan eleven times, and even one cold
    execution before the workload took 20 s at two task threads, which
    does not fit a traced run's time limit."""
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 8_000_000, 1, 32)
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
        .groupBy(F.substring("h", 1, 2).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("m"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def run(args) -> dict:
    from perfbench import harness

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    harness.prepare_environment(ROOT, run_dir)
    spark = None
    t_run = time.perf_counter()
    try:
        t0 = time.perf_counter()
        spark = harness.start_session()
        session_s = time.perf_counter() - t0
        traced = args.trace == 1
        # the parts of a workload share its seconds; a traced run
        # measures only the minimum round (see the module doc)
        seconds = 0.0 if traced else args.seconds / len(WORKLOADS[args.workload])
        ctx = Context(spark, args.seed, seconds, run_dir, traced)

        names = WORKLOADS[args.workload]
        parts = [importlib.import_module(f"perfbench.{m}").run(ctx) for m in names]
        rss = harness.peak_rss_mb()
        # host-speed factors of each part's timed operations and, for
        # the set-up, of all of them: samples taken during set-up, right
        # after heavy first-use work, read the JIT's compile threads
        # more than the host (see harness.HostRef)
        f_ops = [ctx.host_ref.factor(m) for m in names]
        f_setup = ctx.host_ref.factor()

        # ops: the timed operations of a part as (class, seconds, problems);
        # checks: problems of operations that are checked but not timed
        outcomes = [
            o for p in parts for o in [ps for _, _, ps in p["ops"]] + p.get("checks", [])
        ]
        attempted = len(outcomes)
        failed = sum(1 for p in outcomes if p)
        # every part weighs the same in a workload of several, whatever
        # its operation count
        setup_s = session_s + sum(p["setup_s"] for p in parts)
        rates = [len(p["ops"]) / sum(dt for _, dt, _ in p["ops"]) for p in parts]
        p50s = [1000 * harness.class_geomean(p["ops"]) for p in parts]
        geomean = statistics.geometric_mean
        # gated: scaled to the nominal host speed
        e2e = {
            "setup_s": (setup_s * f_setup, "s"),
            "ops_per_s": (geomean(r / f for r, f in zip(rates, f_ops)), "1/s"),
            "op_p50_geomean_ms": (geomean(t * f for t, f in zip(p50s, f_ops)), "ms"),
        }
        report = {
            "wall_setup_s": (setup_s, "s"),
            "wall_ops_per_s": (geomean(rates), "1/s"),
            "wall_op_p50_geomean_ms": (geomean(p50s), "ms"),
        }
        report.update({k: v for p in parts for k, v in p["report"].items()})
        report["failed_share"] = (failed / attempted, "ratio")
        # varies by more than a tenth run to run: a diagnostic, not gated
        report["peak_rss_mb"] = (rss, "MB")
        problems = [p for ps in outcomes for p in ps]
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            "diag": {
                **{m: p["diag"] for m, p in zip(WORKLOADS[args.workload], parts)},
                "session_start_s": session_s,
                "host_ref_ms": {ph: ctx.host_ref.median_ms(ph) for ph in ctx.host_ref.samples},
            },
            "problems": problems[:20],
        }, default=str))

        if traced:
            measured = {k: v for p in parts for k, v in p["per_layer"].items()}
            # parts that trace a repeat of untraced work report both times
            slices = [p["trace_slice"] for p in parts if "trace_slice" in p]
            traced_s = sum(t for t, _ in slices)
            untraced_s = sum(u for _, u in slices)
            measured["trace.overhead_s"] = traced_s - untraced_s
            measured["trace.overhead_share"] = (traced_s - untraced_s) / untraced_s
            if time.perf_counter() - t_run < CANARY_BEFORE_S:
                measured["host.calib_s"] = _canary_once(spark)
            measured["session.start_s"] = session_s
            measured["spark.failed_tasks"] = float(ctx.traced.failed_tasks_total())
            measured["run.failed_share"] = failed / attempted
            measured["host.ref_ms"] = ctx.host_ref.median_ms()
            measured["process.peak_rss_mb"] = rss
            out_dir = os.path.join(ROOT, ".perfbench_out")
            ctx.traced.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            spec = _load_spec()
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            if args.workload in {w["name"] for w in spec["workloads"]}:
                # every listed name, 0 where this workload leaves the layer idle
                measured = {n: float(measured.get(n, 0.0)) for n in units}
            metrics = {
                n: {"value": v, "unit": units.get(n, _unit_of(n))}
                for n, v in measured.items()
            }
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "recipes_spark")):
        print(f"perfbench: no recipes_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # A hung Spark job must not outlive the run's time limit: the JVM
    # exits on its own once this process is gone.
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
