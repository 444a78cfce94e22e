#!/usr/bin/env python3
"""geomesa_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pages_geotag --seed 1 --seconds 6 --trace 0

Run from the repository root. Starts one ``local[4]`` Spark session from
this single driver process, builds the workload's seeded inputs, computes
its reference answers and warms up (``setup_s``), then runs the workload
as a closed loop with one client for ``--seconds`` (rounded up to whole
rounds), checking every output. Prints each end-to-end metric by name
with its unit and spread, then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the run measures the same window
untraced, then again traced (spans, Spark job counts, plan metrics), runs
the workload's layer probes (pages_geotag: the fused-stage kernels in
process and the spatial query mix; overlay_udf: each overlay UDF in
process and the dedup ingest) and reports the per-layer metrics,
including the tracing overhead. The span table is written to
``.perfbench_work/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from perfbench import sparkenv, stats  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402

# per-workload names for the generic metrics, as printed
NAMED = {
    "pages_geotag": ("pages_per_s", "pass_p50_s", "cpu_ms_per_page"),
    "overlay_udf": ("pairs_per_s", "pass_p50_s", "cpu_ms_per_pair"),
}


def measure(wl, seconds: float, tracer: Tracer, rss, cpu_s=sparkenv.cpu_s) -> dict:
    """Closed loop with one client: run operations back to back until
    ``seconds`` have passed and the current round is complete."""
    counter = stats.OpCounter()
    durations: list[float] = []
    round_rates: list[float] = []
    items_total, busy = 0, 0.0
    r_items, r_busy = 0, 0.0
    start = time.perf_counter()
    cpu_start = cpu_s()
    i = 0
    while True:
        wl.prepare(i)
        tracer.new_trace()
        t = time.perf_counter()
        try:
            with tracer.span("perfbench.op", workload=wl.name, i=i):
                items, ok, reason = wl.op(i)
        except Exception as e:  # a failed operation is counted; the loop goes on
            items, ok, reason = 0, False, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t
        counter.record(ok, reason)
        durations.append(dt)
        if ok:
            r_items += items
        r_busy += dt
        rss.sample()
        i += 1
        if i % wl.round == 0:
            round_rates.append(r_items / r_busy)
            items_total += r_items
            busy += r_busy
            r_items, r_busy = 0, 0.0
            if time.perf_counter() - start >= seconds:
                break
    return {
        "counter": counter,
        "cpu_per_item": (cpu_s() - cpu_start) / max(items_total, 1),
        "durations": durations,
        "throughput": items_total / busy,
        "round_rates": round_rates,
        "op_p50": stats.median(durations),
    }


def _line(name: str, value: float, unit: str, extra: str = "") -> None:
    print(f"{name:<24} {value:>16.6g} {unit:<6} {extra}".rstrip(), flush=True)


def _spread(values) -> str:
    s = stats.summarize(values)
    return f"(median of {s['n']}; q1 {s['q1']:.6g}, q3 {s['q3']:.6g}, min {s['min']:.6g}, max {s['max']:.6g})"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(REPO_ROOT, "geomesa_spark")):
        print("geomesa_spark package not found beside perfbench/", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(REPO_ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=False)
    rss = sparkenv.RssSampler()
    import pyspark.sql  # noqa: F401  -- before the input thread imports parts of it

    t0 = time.perf_counter()
    pool = concurrent.futures.ThreadPoolExecutor(1)
    made = pool.submit(WORKLOADS[args.workload].make_inputs, args.seed, work)  # while the session starts
    spark = sparkenv.start_session(work)
    try:
        sparkenv.ship_package(spark, REPO_ROOT, work)
        ctx = Context(spark, args.seed, work, REPO_ROOT, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup(made.result())
        pool.shutdown()
        setup_s = time.perf_counter() - t0
        for name, sec in wl.setup_phases.items():
            print(f"setup phase {name}: {sec:.3f} s", file=sys.stderr)
        rss.sample()
        plain = measure(wl, args.seconds, tracer, rss)
        run = plain
        if args.trace:
            tracer.enabled = True
            ctx.probe_plans = True
            run = measure(wl, args.seconds, tracer, rss)
            window = self_times(tracer.spans)  # the traced window alone
            layer = {**wl.traced_op_metrics(), **wl.layer_probe()}
    finally:
        sparkenv.stop_session(spark)

    counter = plain["counter"]
    if args.trace:
        for more in (run["counter"], wl.probe_counter):
            counter.attempted += more.attempted
            counter.failed += more.failed
            counter.reasons += more.reasons
    thr_name, p50_name, cpu_name = NAMED[args.workload]
    _line(thr_name, plain["throughput"], "1/s", _spread(plain["round_rates"]))
    _line(p50_name, plain["op_p50"], "s", _spread(plain["durations"]))
    _line(cpu_name, 1e3 * plain["cpu_per_item"], "ms")
    _line("setup_s", setup_s, "s")
    _line("peak_rss_mb", rss.peak_mb, "MB", "(" + ", ".join(f"{k} {v / 1024:.0f}" for k, v in rss.by_process.items()) + ")")
    _line("error_rate", counter.rate, "share", f"({counter.failed} of {counter.attempted} operations)")
    if args.workload == "overlay_udf":
        _line("overlay_null_frac", wl.null_frac, "share")
    for reason in counter.reasons:
        print(f"failed: {reason}", file=sys.stderr)

    if args.trace:
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        st = self_times(tracer.spans)
        n_ops = len(run["durations"])
        harness = sum(window.get(k, {}).get("self_s", 0.0) for k in ("perfbench.op", "perfbench.check", "perfbench.plan_metrics"))
        layer["wall.throughput_per_s"] = plain["throughput"]
        layer["wall.op_p50_s"] = plain["op_p50"]
        layer["trace.overhead_s"] = run["op_p50"] - plain["op_p50"]
        layer["trace.overhead_share"] = layer["trace.overhead_s"] / plain["op_p50"]
        layer["trace.harness_s_per_op"] = harness / n_ops
        for name, row in st.items():
            if name.startswith("contract.queries."):
                layer[f"q.{name[len('contract.queries.'):]}.s"] = row["total_s"] / row["calls"]
        print(f"{'span':<44} {'calls':>6} {'total_s':>10} {'self_s':>10}", file=sys.stderr)
        for name, row in sorted(st.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{name:<44} {row['calls']:>6} {row['total_s']:>10.4f} {row['self_s']:>10.4f}", file=sys.stderr)
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]
        }
    else:
        values = {
            "cpu_ms_per_item": 1e3 * plain["cpu_per_item"],
            "peak_rss_mb": rss.peak_mb,
            "setup_s": setup_s,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": counter.failed == 0,
                "attempted": counter.attempted,
                "failed": counter.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
