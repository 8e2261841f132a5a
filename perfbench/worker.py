"""Benchmark worker: one workload, one seed, one closed-loop client.

Started by ``perfbench/run.py``, which sets its working directory and
environment. Prints a report line (environment, per-op times, errors,
tracing overhead) and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, read from spans
recorded around the calls into each engine layer.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# read before the JVM starts: its start-up alone lifts the 1-min load
LOAD_START = os.getloadavg()


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--write-golden",
        action="store_true",
        help="store the first op's outputs as the golden record",
    )
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    """Counts and times for one sequence of ops."""

    def __init__(self):
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []


def run_ops(wl, first: int, *, n=None, seconds=None, min_ops=1, tracer=None, run=None):
    """Closed loop from op index ``first``: a fixed ``n`` ops, or ops
    until their summed time reaches ``seconds`` (at least ``min_ops``,
    and only where ``wl.can_stop`` allows). Each op's output is checked
    after its timer stops."""
    from perfbench.probes import process_tree_cpu_delta, process_tree_cpu_snapshot

    run = run or Run()
    i, done = first, 0
    while (n is None or done < n) and not wl.exhausted(i):
        span = tracer.span("op", op=i, counters=True) if tracer else None
        c0 = process_tree_cpu_snapshot()
        t0 = time.perf_counter()
        try:
            if span:
                with span:
                    out = wl.op(i)
            else:
                out = wl.op(i)
            errors = None
        except Exception:  # noqa: BLE001 - an op failure is a result
            out, errors = None, [traceback.format_exc(limit=3)]
        dt = time.perf_counter() - t0
        run.cpu.append(process_tree_cpu_delta(c0, process_tree_cpu_snapshot()))
        if errors is None:
            try:
                errors = wl.check(i, out)
            except Exception:  # noqa: BLE001
                errors = [traceback.format_exc(limit=3)]
        run.times.append(dt)
        run.attempted += 1
        if errors:
            run.failed += 1
            run.errors.extend(errors[:3])
        i, done = i + 1, done + 1
        if n is None and sum(run.times) >= seconds and done >= min_ops and wl.can_stop(done):
            break
    return run, i


def environment(args, spark, sizes) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": [round(x, 2) for x in LOAD_START],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sizes": sizes,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench import workloads
    from perfbench.probes import Probe, MemoryMonitor, live_heap_mb, persistent_rdds
    from perfbench.stats import median
    from perfbench.trace import Tracer

    classes = {"assess": workloads.Assess, "ingest": workloads.Ingest}
    if args.workload not in classes:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = load_spec()
    me = os.getpid()
    monitor = MemoryMonitor(me)
    monitor.start()
    tracer = Tracer(enabled=bool(args.trace))
    wl = classes[args.workload](os.getcwd(), args.seed, tracer)
    tracer.probe = Probe(lambda: wl.spark, me)
    try:
        t0 = time.perf_counter()
        sizes = wl.generate()
        gen_s = time.perf_counter() - t0
        report: dict = {"gen_s": gen_s}

        # set-up runs from process start, minus input generation
        wl.setup()
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        env = environment(args, wl.spark, sizes)

        tracer.enabled = False
        warm, nxt = run_ops(wl, 0, n=wl.trace_warmup_ops if args.trace else wl.warmup_ops)
        if args.write_golden:
            out = wl.op(nxt)
            path = workloads.GOLDEN_ASSESS
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(wl.golden_record(out), f, indent=1, sort_keys=True)
            print(f"golden record written to {path}", file=sys.stderr)
            return 0

        report.update(env=env)
        if args.trace:
            measured, untraced_times = warm, []
            tracer.enabled = True
            wl.trace_before(tracer)
            for step in wl.trace_plan:
                tracer.enabled = step == "T"
                run_ops(wl, nxt, n=1, tracer=tracer if tracer.enabled else None, run=measured)
                nxt += 1
                if step == "U":
                    untraced_times.append(measured.times[-1])
            tracer.enabled = True
            base_p50 = median(untraced_times)
            op_spans = tracer.named("op")
            traced_p50 = median([s.seconds for s in op_spans])
            live_heap_mb(wl.spark)  # collect first: count only RDDs still referenced
            metrics = common_layer_metrics(tracer, op_spans, persistent_rdds(wl.spark))
            metrics.update(wl.trace_metrics(tracer, base_p50))
            report["trace_overhead_s"] = traced_p50 - base_p50
            report["trace_file"] = write_trace(tracer, args)
            values = {m["name"]: metrics.get(m["name"], 0.0) for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            amp0 = wl.amp_mark()
            measured, nxt = run_ops(
                wl, nxt, seconds=args.seconds, min_ops=wl.min_ops, run=None
            )
            amp1 = wl.amp_mark()
            heap_mb = live_heap_mb(wl.spark)
            window = measured.times
            values = {
                "setup_s": setup_s,
                "op_p50_s": median(window),
                "ops_per_s": len(window) / sum(window),
                "cpu_s_per_op": sum(measured.cpu) / len(window),
                "heap_live_mb": heap_mb,
                "write_amp": (amp1[0] - amp0[0]) / (amp1[1] - amp0[1]),
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            measured.attempted += warm.attempted
            measured.failed += warm.failed
            measured.errors = warm.errors + measured.errors
            report["warmup_times_s"] = warm.times
            report["op_times_s"] = window
            report["op_cpu_s"] = measured.cpu
        t0 = time.perf_counter()
        run_errors = wl.finish()
        report["finish_s"] = time.perf_counter() - t0
    finally:
        if wl.spark is not None:
            wl.spark.stop()
        monitor.stop()
    report["peak_rss_mb"] = monitor.peak_mb
    if "proc.peak_rss_mb" in values:
        values["proc.peak_rss_mb"] = monitor.peak_mb
    failed = measured.failed + (measured.attempted if run_errors else 0)
    failed = min(failed, measured.attempted)
    report["fail_frac"] = failed / measured.attempted
    report["errors"] = (measured.errors + run_errors)[:10]
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": measured.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in values.items()
                },
            }
        )
    )
    return 0


def common_layer_metrics(tracer, op_spans, live_rdds: int) -> dict[str, float]:
    """Per-op medians of the engine counters over the traced ops, and
    the set-up spans."""
    from perfbench.probes import SPARK_COUNTERS
    from perfbench.stats import median

    out: dict[str, float] = {}
    for key in (*SPARK_COUNTERS, "proc.jvm_cpu_s", "proc.pyworker_cpu_s"):
        out[key] = float(median([s.counters[key] for s in op_spans]))
    out["cache.persistent_rdds"] = float(live_rdds)
    for name in ("session.get_spark", "registry.load_all", "io.load_tables"):
        out[f"{name}_s"] = sum(s.seconds for s in tracer.named(name))
    return out


def write_trace(tracer, args) -> str:
    out_dir = os.path.join(ROOT, "perfbench", ".traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    tracer.write(path)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
