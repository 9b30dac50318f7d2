#!/usr/bin/env python3
"""Benchmark of the Zarr source and the Spark SQL surface it plugs into.

    python3 perfbench/run.py --workload zarr_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see each module's docstring):

* ``zarr_search``  SQL over a seeded 1M-row Zarr v3 store;
* ``sql_pipeline`` the 23 headline registry queries on seeded tables;
* ``zarr_ingest``  the distributed writer, appends and ``format("zarr")``.
  ``BENCHMARK.json`` lists only the first two; traced ``zarr_search`` runs
  also run one pass of these writes to measure the sink layer.

Each run builds a ``local[N]`` session (N = usable CPUs), generates its
inputs from ``--seed``, warms up while collecting every result for the
correctness check, then runs whole passes of the workload's operations from
one closed-loop client until ``--seconds`` have passed (at least one pass;
two for ``sql_pipeline``). An operation is its plan-build plus an action
that computes every output column (a ``noop`` write or the sink's own save),
never ``count()``.

Untraced runs (``--trace 0``) report the end-to-end metrics. Traced runs
(``--trace 1``) turn on the Spark UI on localhost, trace every other pass of
at least two, and report the per-layer metrics; a metric a workload does not
exercise reads 0. The spans and counts go to
``perfbench/out/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("zarr_search", "zarr_ingest", "sql_pipeline")
#: input builds per run; ``setup_s`` takes their median
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    package = os.path.join(ROOT, "zarr_datafusion_search_spark", "__init__.py")
    oracle = os.path.join(ROOT, "tests", "oracle_utils.py")
    if not (os.path.isfile(package) and os.path.isfile(oracle)):
        print(f"perfbench: no zarr_datafusion_search_spark sources under {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers start from their own working directory, so the
    # package reaches them through PYTHONPATH, not through sys.path alone.
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file, the JVMs' included, inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, work: str) -> int:
    import numpy as np

    from harness import Bench, RssSampler, Tracer, build_session, host_stamp, quantile, traced_pass

    host_start = host_stamp()
    rss = RssSampler().start()
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = build_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        module = importlib.import_module(args.workload)
        rng = np.random.default_rng(args.seed)
        bench = Bench(spark, tracer, rss)
        wl = module.Workload(spark, work, args.seed, rng)
        builds = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.register()
        register_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup = {"session_s": session_s, "inputs_s": median(builds), "register_s": register_s,
                 "warmup_s": warmup_s}
        setup_s = sum(setup.values())

        if args.trace:
            bench.count_py4j()
        min_passes = max(wl.min_passes, 2 if args.trace else 1)
        bench.run(wl.ops, rng, args.seconds, min_passes, getattr(wl, "start_pass", None))
        rss.sample()

        bad = wl.verify()
        guard = plan_guard(spark, wl, bench.results)
        bad.update({q: f"timed plan drops {ops}" for q, ops in guard["dropped"].items()})
        results = bench.results
        failed = sum(1 for r in results if not r.ok or r.name in bad)
        attempted = len(results)
        lat = [r.latency_s for r in results if r.ok]
        wall_s = median(s for p, s in bench.pass_s.items() if not (args.trace and traced_pass(p)))
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "op_p50_s": (quantile(lat, 0.5), "s"),
            "op_p90_s": (quantile(lat, 0.9), "s"),
            "rows_per_s": (wl.rows_per_s(results, wall_s), "rows/s"),
            "bytes_per_row": (wl.bytes_per_row(), "B"),
            "peak_rss_mb": (rss.peak / (1 << 20), "MB"),
        }
        report(args, wl, bench, e2e, setup, attempted, failed, bad, guard, host_start)
        if args.trace:
            metrics = traced_metrics(args, spark, wl, bench, tracer, setup, guard)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        stop_session(spark)
        rss.close()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def plan_guard(spark, wl, results) -> dict:
    """Compare each timed plan with the plan of the collected, verified result.

    The timed action is a write, so the optimizer must keep every operator
    of the collected plan under it. The same check on ``count()`` shows what
    that action would prune.
    """
    from harness import dropped_operators, executed_optimized_plans, plan_operators

    collected = getattr(wl, "collected", {})
    if not collected:
        return {"checked": 0, "dropped": {}, "count_drops": {}}
    timed = executed_optimized_plans(spark)
    dropped, checked = {}, 0
    for r in results:
        plan = timed.get(f"{r.op_id}:exec {r.name}")
        if plan is None or r.name not in collected:
            continue
        checked += 1
        ops = dropped_operators(plan_operators(collected[r.name][0]), plan_operators(plan))
        if ops:
            dropped[r.name] = ops
    count_drops = {}
    for q, (full, counted, _) in collected.items():
        ops = dropped_operators(plan_operators(full), plan_operators(counted))
        if ops:
            count_drops[q] = ops
    return {"checked": checked, "dropped": dropped, "count_drops": count_drops}


def report(args, wl, bench, e2e, setup, attempted, failed, bad, guard, host_start) -> None:
    """Human-readable summary; the JSON result line follows it."""
    from harness import host_stamp

    passes = len(bench.pass_s)
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace}: {passes} passes, "
          f"{attempted} operations, closed loop with 1 client")
    for name, (value, unit) in e2e.items():
        print(f"  {name:<14} {value:14.6g} {unit}")
    print(f"  {'fail_frac':<14} {failed / attempted:14.6g} ({failed}/{attempted})")
    print("  setup parts: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    by_name: dict[str, list[float]] = {}
    for r in bench.results:
        by_name.setdefault(r.name, []).append(r.latency_s)
    print("  op medians: " + ", ".join(f"{k}={median(v):.3f}" for k, v in sorted(by_name.items())))
    for q, err in sorted(bad.items()):
        print(f"  FAILED {q}: {err}")
    if guard["checked"]:
        print(f"  plan guard: {guard['checked']} timed plans checked, "
              f"{len(guard['dropped'])} queries drop operators; under count() "
              f"{len(guard['count_drops'])} would: {sorted(guard['count_drops'])}")
    host_end = host_stamp()
    print(f"  host: nproc={host_start['nproc']} load1 {host_start['load1']} -> "
          f"{host_end['load1']}, steal {host_start['steal_pct']}% -> {host_end['steal_pct']}%")
    bench.host = {"start": host_start, "end": host_end}


def traced_metrics(args, spark, wl, bench, tracer, setup, guard) -> dict:
    """Per-layer metrics, and the trace file with spans and counts."""
    from harness import SparkRest, traced_pass
    from layers import LayerView, metric_names

    for op in getattr(wl, "extra_ops", list)():
        bench.run_op(op, -1, True)
    view = LayerView(bench, SparkRest(spark))
    view.add_job_spans(tracer)
    values = {"engine.build_session_s": setup["session_s"]}
    values.update(view.generic())
    values.update(wl.layer_metrics(view))
    traced = [s for p, s in bench.pass_s.items() if traced_pass(p)]
    plain = [s for p, s in bench.pass_s.items() if not traced_pass(p)]
    values["trace.overhead_s"] = median(traced) - median(plain)
    path = view.blocking_path(tracer.spans)
    names = metric_names()
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u, _ in names}
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "host": bench.host,
        "sizes": wl.sizes(),
        "setup": setup,
        "pass_s": {"traced": traced, "untraced": plain},
        "blocking_path": path,
        "plan_guard": guard,
        "py4j_calls": dict(bench.py4j_calls),
        "metrics": {n: metrics[n]["value"] for n, _, _ in names},
        "ops": [dataclasses.asdict(r) for r in bench.results],
        "spans": [dataclasses.asdict(s) for s in tracer.spans],
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"  trace: {len(tracer.spans)} spans; self time per pass by layer "
          + ", ".join(f"{k}={v:.3f}s" for k, v in path["self_s_per_pass"].items())
          + f"; max residual {path['max_residual_s']:.4f}s; overhead "
          f"{values['trace.overhead_s']:.3f}s")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
