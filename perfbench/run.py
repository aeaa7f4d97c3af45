"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints a human-readable report, then,
as the last stdout line, one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones. The full record (host, input properties,
every op, both metric sets) and, when traced, the spans are written
under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package under test is the checkout's own source tree; Spark's
# Python workers inherit the path through the environment
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

# the end-to-end metrics BENCHMARK.json gates on, then the ones every
# run records and prints but does not gate on. The gated ones count CPU
# seconds of the process tree, which time stolen by a busy host does
# not inflate; the wall-clock ones move with the host's load (README.md)
E2E_UNITS = {"setup_s": "s", "docs_per_cpu_s": "docs/cpu-s"}
RECORDED_UNITS = {"docs_per_s": "docs/s", "setup_wall_s": "s", "peak_rss_mb": "MB"}
NOT_COMPARABLE = (
    "BENCH_r0*.json were measured on a 32-CPU / 125 GB host with bench.py; "
    "compare this record only with records whose host.cpus and "
    "host.mem_total_mb match"
)


def tail(values: list[float]) -> tuple[str, float | None]:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return "none (fewer than 20 samples)", None
    pct = math.floor(100 * (n - 10) / n)
    return f"p{pct}", statistics.quantiles(values, n=100)[pct - 1]


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke check uses a small one)")
    ap.add_argument("--child-level", metavar="WORKDIR", help=argparse.SUPPRESS)
    ap.add_argument("--child-cpu", type=int, default=0, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t_start = time.perf_counter()
    # fails here, before anything is printed, when the package is absent
    import curator_spark  # noqa: F401

    import host
    import layers
    from tracing import Tracer
    from workloads import PER_LAYER, WORKLOADS, unit

    if args.child_level:
        layers.child_level(args.child_level, args.child_cpu)
        return 0
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    c = types.SimpleNamespace()
    c.seed, c.scale, c.cpus = args.seed, args.scale, host.cpu_count()
    c.work = host.WorkDir(os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"))
    c.tracer = Tracer(bool(args.trace))
    c.child = None
    steal = host.StealMeter()
    rss = host.RssSampler()
    wl = WORKLOADS[args.workload](c)
    if args.trace and args.workload == "crawl_batch" and c.cpus > 1:
        # the pinned 1-CPU level starts its JVM while this one does
        c.child = layers.PinnedLevel(max(os.sched_getaffinity(0)), c.work.path("child"))
    import_s = time.perf_counter() - t_start
    try:
        t0 = host.now()
        c.spark = host.start_spark(f"perfbench-{args.workload}", c.cpus, c.work)
        c.arrow_batch = int(c.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        session_s = host.now() - t0
        t0, cpu0 = host.now(), host.tree_cpu_s()
        wl.prepare()
        gen_s, gen_cpu_s = host.now() - t0, host.tree_cpu_s() - cpu0
        t0 = host.now()
        c.tracer.enabled = False  # spans cover the operations and probes only
        wl.warmup()
        warm_s = host.now() - t0
        # everything up to here but generating the inputs
        setup_cpu_s = host.tree_cpu_s() - gen_cpu_s

        ops: list[dict] = []
        min_ops = wl.trace_min_ops if args.trace else 1
        work_cpu = host.WorkCpu()
        t_end = host.now() + args.seconds
        while len(ops) < min_ops or host.now() < t_end:
            # traced runs alternate spans on and off, starting on (ABA, so
            # steady drift cancels) to measure the tracing overhead
            c.tracer.enabled = bool(args.trace) and len(ops) % 2 == 0
            work_cpu.start()
            rec = wl.run_op()
            rec["cpu_s"] = work_cpu.stop()
            rec["traced"] = c.tracer.enabled
            ops.append(rec)
        c.tracer.enabled = bool(args.trace)

        t0 = host.now()
        check_failed = wl.check(ops)
        check_s = host.now() - t0
        if args.trace:
            t0 = host.now()
            wl.probes(ops)
            probe_s = host.now() - t0
    finally:
        if c.child is not None:
            c.child.close()
        if hasattr(c, "spark"):
            host.stop_spark(c.spark)
        peak_rss = rss.stop()
        c.work.cleanup()

    good = [o for o in ops if o["ok"]]
    op_s = [o["op_s"] for o in good]
    attempted = len(ops) * wl.calls_per_op + wl.extra_attempted
    failed = (len(ops) - len(good)) * wl.calls_per_op + check_failed

    def med(values: list[float]) -> float:
        return statistics.median(values) if values else 0.0

    summary = {
        "setup_s": setup_cpu_s,
        "docs_per_cpu_s": med([o["docs"] / o["cpu_s"] for o in good]),
        "docs_per_s": med([o["docs"] / o["op_s"] for o in good]),
        "setup_wall_s": import_s + session_s + warm_s,
        "peak_rss_mb": peak_rss,
    }
    e2e = {k: summary[k] for k in E2E_UNITS}
    tail_name, tail_value = tail(op_s)
    layer = wl.per_layer() if args.trace else {}
    if args.trace:
        traced = [o["op_s"] for o in good if o["traced"]]
        plain = [o["op_s"] for o in good if not o["traced"]]
        layer["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(plain) if traced and plain else 0.0
        )

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "loop": "closed, one client",
        "host": {
            "cpus": c.cpus,
            "mem_total_mb": host.mem_total_mb(),
            "steal_frac": steal.fraction(),
            **host.versions(),
        },
        "not_comparable_with": NOT_COMPARABLE,
        "input": wl.props,
        "phases_s": {
            "import": import_s, "session": session_s, "generate": gen_s,
            "warmup": warm_s, "check": check_s, **({"probes": probe_s} if args.trace else {}),
        },
        "warmup_runs_s": getattr(wl, "warm_s", None),
        "ops": ops,
        "op_s_tail": {"percentile": tail_name, "value": tail_value, "n": len(op_s)},
        "attempted": attempted,
        "failed": failed,
        "failed_op_frac": failed / max(1, attempted),
        "end_to_end": e2e,
        "recorded": {k: summary[k] for k in RECORDED_UNITS},
        "per_layer": layer,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        c.tracer.write(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})

    n = len(op_s)
    print(f"workload {args.workload} seed {args.seed}: {n} ops in {sum(op_s):.2f} s, "
          f"{c.cpus} CPUs, steal {record['host']['steal_frac']:.4f}, "
          f"failed {failed}/{attempted}")
    for k, v in summary.items():
        basis = f"median of n={n} ops" if k.startswith("docs_") else "one per run"
        gate = "gated" if k in E2E_UNITS else "recorded"
        print(f"  {k:<16} {v:14.4f} {(E2E_UNITS | RECORDED_UNITS)[k]:<10} ({basis}; {gate})")
    print(f"  op_s tail        {tail_name}" + (f" = {tail_value:.4f} s" if tail_value else "")
          + f" (n={n})")
    for k in PER_LAYER if args.trace else ():
        print(f"  {k:<44} {layer[k]:14.6f} {unit(k)}")

    metrics = (
        {k: {"value": layer[k], "unit": unit(k)} for k in PER_LAYER}
        if args.trace
        else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    )
    result = {
        "correct": failed == 0 and bool(good),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
