"""fusion-spark benchmark: one workload per run, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` times the workload with
tracing off and prints the end-to-end metrics; ``--trace 1`` runs the traced
pass instead and prints the per-layer metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# fail fast, before any process starts, when the program is not there
import fusion_spark  # noqa: E402,F401
import tools.audit_event_log  # noqa: E402,F401

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer, per_layer_units, rollup_by_group, span_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

JOB_FLOOR_REPS = 10


def _job_floor(ctx: Ctx) -> float:
    spark = ctx.spark
    walls = []
    for _ in range(JOB_FLOOR_REPS):
        ctx.tracer.label("session.job_floor")
        t0 = time.perf_counter()
        spark.range(1).count()
        walls.append(time.perf_counter() - t0)
    ctx.tracer.label("bench")
    walls.sort()
    return walls[len(walls) // 2]


def _print_table(title: str, rows: list[tuple[str, str, str]]) -> None:
    print(f"\n{title}")
    width = max((len(r[0]) for r in rows), default=10)
    for name, value, unit in rows:
        print(f"  {name:<{width}}  {value:>14}  {unit}")


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def run(args) -> dict:
    workload = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.remove(work)
    os.makedirs(work)
    harness.prepare_env(ROOT, work, trace=bool(args.trace))
    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = harness.start_spark(work, cores)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark=spark, seed=args.seed, seconds=float(args.seconds), work=work)
    phases = {"session": session_s}

    def lap(name: str, since: float) -> float:
        now = time.perf_counter()
        phases[name] = now - since
        return now

    try:
        with harness.RssSampler() as rss:
            t = time.perf_counter()
            setup_s = session_s + workload.setup(ctx)
            t = lap("setup", t)
            if args.trace:
                ctx.tracer = Tracer(spark)
                ctx.tracer.label("bench")
                ops = workload.traced(ctx)
                floor_s = _job_floor(ctx)
                t = lap("trace", t)
            else:
                workload.measure(ctx)
                t = lap("measure", t)
            workload.verify(ctx)
            t = lap("verify", t)
            setup_s += workload.extra_setup_s()
    finally:
        t = time.perf_counter()
        harness.stop_spark(spark)
        lap("stop", t)

    if ctx.attempted == 0:
        ctx.attempted = 1
        ctx.failed = max(ctx.failed, 1)
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  trace {args.trace}")
    print("  phase walls: " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    timed = {op: sum(s) for op, s in ctx.samples.items()}
    print("  inside: " + ", ".join(f"{k} {v:.2f} s" for k, v in {**ctx.phases, **timed}.items()))
    for line in ctx.errors:
        print(f"  ERROR {line}")
    if args.trace:
        metrics = _traced_report(ctx, ops, floor_s, work)
    else:
        metrics = _untraced_report(ctx, workload, setup_s, rss.peak_mb)
    harness.remove(work)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def _untraced_report(ctx, workload, setup_s, peak_mb) -> dict:
    own = workload.metrics(ctx)
    error_rate = ctx.failed / max(ctx.attempted, 1)
    rows = [("setup_s", _fmt(setup_s), "s")]
    rows += [(name, _fmt(v), unit) for name, (v, unit) in own.items()]
    rows += [("error_rate", _fmt(error_rate), "ratio"), ("peak_rss_mb", _fmt(peak_mb), "MB")]
    for name in _all_names():
        if name not in own and name not in ("setup_s", "error_rate", "peak_rss_mb"):
            why = "too few samples" if name in workload.report else "not run by this workload"
            rows.append((name, "-", f"({why})"))
    _print_table("end-to-end metrics (tracing off)", rows)
    counts = ", ".join(f"{op} n={len(s)}" for op, s in ctx.samples.items())
    print(f"  samples: {counts}")
    if hasattr(workload, "n_exact"):
        print(f"  lookup routes: exact {workload.n_exact}, wand {workload.n_wand}")
        print("  lookup latencies ms: " + " ".join(f"{1000 * s:.0f}" for s in ctx.samples.get("lookup", [])))
    slots = workload.end_to_end(ctx)
    out = {"setup_s": setup_s, **slots}
    units = {"setup_s": "s", "write_docs_per_s": "docs/s", "query_ms": "ms"}
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def _all_names() -> list[str]:
    names = ["setup_s"]
    for w in WORKLOADS.values():
        names += list(w.report)
    return names + ["error_rate", "peak_rss_mb"]


def _traced_report(ctx, ops, floor_s, work) -> dict:
    spans = ctx.tracer.spans
    groups = rollup_by_group([os.path.join(work, "eventlog")])
    values = span_metrics(spans, groups, floor_s)
    walls = {sp.group: sp.wall_s for sp in spans}
    print("\nper-op tracing overhead (traced chain minus untraced call)")
    print(f"  {'op':<26} {'untraced_s':>11} {'self_sum_s':>11} {'sum/untraced':>12} {'traced_s':>9} {'overhead_s':>10}")
    for op, untraced, chains in ops:
        if not chains:
            continue
        outer = sum(ch[-1].wall_s for ch in chains) / len(chains)
        total = sum(walls[sp.group] for ch in chains for sp in ch) / len(chains)
        ratio = outer / untraced if untraced else float("nan")
        print(f"  {op:<26} {untraced:>11.3f} {outer:>11.3f} {ratio:>12.3f} {total:>9.3f} {total - untraced:>10.3f}")
    units = per_layer_units()
    rows = [(name, _fmt(values[name]), unit) for name, unit in units.items()]
    _print_table("per-layer metrics (mean per call of each span; self = own minus the prefix it extends)", rows)
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
