"""Validation-engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_docs --seed 1 --seconds 1 --trace 0

Starts one ``local[cores]`` Spark session, sets the workload up several
times (reporting the median), warms it up with one op, then runs ops in a
closed loop (one client, the next op starts when the previous one ends) for
``--seconds``, checking every op's output.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

SETUP_REPEATS = 3
MIN_OPS = 1

#: (name, unit) of the end-to-end metrics every untraced run prints.  Times
#: are CPU seconds of the driver, its JVM and the Python workers: on a shared
#: host the hypervisor steals a varying share of the cores, which moves wall
#: time by up to 2x between runs and CPU time hardly at all.  Wall times go
#: to stderr and into the traced run's metrics.
END_TO_END = [
    ("setup_s", "s"), ("items_per_cpu_s", "1/s"), ("op_cpu_ms_p50", "ms"), ("peak_rss_mb", "MB"),
]
#: the end-to-end metrics of a traced run, beside the per-layer metrics; their
#: difference from the untraced run's numbers is the tracing overhead
TRACED = [
    ("traced.items_per_cpu_s", "1/s"), ("traced.op_cpu_ms_p50", "ms"),
    ("traced.items_per_s", "1/s"), ("traced.op_ms_p50", "ms"),
]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_docs", "small_batches", "updates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "simpl_schema_spark" / "__init__.py").is_file():
        print(f"perfbench: no simpl_schema_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import os

    # Python workers import the engine and the benchmark's validators
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )

    import sparkenv
    from oracle import Oracle
    from tracing import PER_LAYER_METRICS, NullTracer, Tracer
    from workloads import COUNTED_OPS, WORKLOADS

    if WORK.exists():
        shutil.rmtree(WORK)
    WORK.mkdir(parents=True)
    cores = sparkenv.machine_cores()
    t0 = time.perf_counter(), time.process_time()
    spark = sparkenv.start_session(WORK, event_log=bool(args.trace))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    session = time.perf_counter() - t0[0], sparkenv.cpu_seconds(jvm_pid) - t0[1]
    oracle = Oracle(threads=cores, work=WORK)
    tr = Tracer(spark, cores) if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](spark, WORK, args.seed, oracle, tr)
    problems: list[str] = []
    requests: list[tuple[float, float]] = []  # (wall, CPU) seconds per request
    ops: list[tuple[int, float, float]] = []  # (items, wall, CPU) per op
    failed = 0
    try:
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = wl.clocks()
            wl.setup()
            setups.append(wl.since(t0))

        if tr.enabled:
            tr.install()
        # warm-up ops: JIT, Python workers and lazy imports; not measured
        t0 = wl.clocks()
        for _ in range(wl.WARMUP_OPS):
            tr.begin_op(-1, counted=False)
            wl.prepare(-1)
            wl.run_op(tr)
            tr.end_op()
            problems += [f"warm-up: {p}" for p in wl.check()]
        warm = wl.since(t0)

        counted = COUNTED_OPS[args.workload] if tr.enabled else 0
        rss = []
        attempted = 0
        deadline = time.perf_counter() + args.seconds
        op = 0
        while op < max(MIN_OPS, counted) or time.perf_counter() < deadline:
            wl.prepare(op)
            tr.begin_op(op, counted=op < counted)
            try:
                samples = wl.run_op(tr)
                tr.end_op()
                bad = wl.check()
            except Exception:
                traceback.print_exc()
                bad = ["op raised"] * wl.REQUESTS_PER_OP
                attempted += wl.REQUESTS_PER_OP
            else:
                attempted += len(samples)
                requests += [(wall, cpu) for _, wall, cpu in samples]
                ops.append(tuple(map(sum, zip(*samples))))
            failed += len(bad)
            problems += [f"op {op}: {p}" for p in bad]
            rss.append(sparkenv.jvm_and_worker_rss_mb(jvm_pid))
            op += 1
    finally:
        if tr.enabled:
            tr.uninstall()
        oracle.close()
        sparkenv.stop_session(spark)

    for p in problems:
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    setup_med = [statistics.median(x) for x in zip(*setups)]
    for k, what in enumerate(("wall", "CPU")):
        print(
            f"perfbench: {args.workload} {what} s: session {session[k]:.3f}, median input "
            f"set-up {setup_med[k]:.3f}, warm-up {warm[k]:.3f}; ops {[round(o[k + 1], 3) for o in ops]}",
            file=sys.stderr,
        )
    if not ops:
        print("perfbench: every op failed", file=sys.stderr)
        return 1

    # every op of a workload has the same number of items
    items = statistics.median(o[0] for o in ops)
    e2e = {
        "items_per_cpu_s": items / statistics.median(o[2] for o in ops),
        "op_cpu_ms_p50": statistics.median(cpu for _, cpu in requests) * 1000.0,
    }
    if args.trace:
        metrics = tr.metrics(WORK / "eventlog")
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        metrics["traced.items_per_s"] = items / statistics.median(o[1] for o in ops)
        metrics["traced.op_ms_p50"] = statistics.median(wall for wall, _ in requests) * 1000.0
        tr.write(WORK / f"spans-{args.workload}-{args.seed}.jsonl")
        units = dict(TRACED) | {name: unit for name, unit, _ in PER_LAYER_METRICS}
    else:
        metrics = {
            "setup_s": session[1] + setup_med[1] + warm[1],
            **e2e,
            "peak_rss_mb": max(rss),
        }
        units = dict(END_TO_END)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
