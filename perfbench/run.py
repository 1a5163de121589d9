#!/usr/bin/env python3
"""Repository benchmark: one workload run, in a fresh JVM of its own.

    python3 perfbench/run.py --workload resumable_sink --seed 1 --seconds 20 --trace 0

Run it from the repository root. Workloads: resumable_sink and operator_mix
(the ones BENCHMARK.json names), typed_corpus and scaffold_compile (run by
hand; see perfbench/README.md). The run sets up a
fresh JVM, builds the seeded inputs, drives the workload in a closed loop
for ``--seconds``, checks the outputs and removes its scratch directory. It prints a readable
report, then, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from span shims installed around each module's entry
points (``--spans-out`` also writes the spans, one JSON object a line).
The exit code is 0 whenever a result was printed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNITS = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}
# The result line's end-to-end metrics. Wall times of the calls move with
# the host's CPU steal (by up to half their median across runs on a shared
# 4-vCPU host), so they are printed in the readable report but not bounded;
# CPU time leaves stolen time out.
E2E = tuple(UNITS)

# the names the readable report gives the first call and op_s per workload
REPORT_NAMES = {
    "typed_corpus": ("typed_first_pass_s", "typed_pass_s"),
    "scaffold_compile": ("scaffold_cold_s", "scaffold_warm_s"),
    "resumable_sink": ("sink_first_wall_s", "sink_wall_s"),
    "operator_mix": ("mix_first_wall_s", "mix_wall_s"),
}


def tail(values):
    """(percentile, value) for the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("sql_chars"):
        return "chars"
    if name in ("exec.core_util", "trace.coverage",
                "manifest.stage_bytes_per_input_byte"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(REPORT_NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans-out", help="write the traced run's spans here")
    args = p.parse_args(argv)
    for need in ("json_schema_spark/__init__.py", "__spark_entry__.py",
                 "tests/oracle_validator.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["JSS_COMPILE_CACHE_DIR"] = ""  # cold means cold
    # Python UDF workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        return measure(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it


def measure(args, scratch) -> int:
    from perfbench import session
    from perfbench.trace import SparkLayers, Tracer, install_shims
    from perfbench.workloads import WORKLOADS, Run

    host = session.HostState()
    t0 = time.perf_counter()
    spark = session.start(session.spark_conf(scratch))
    setup_s = time.perf_counter() - t0
    tracer = Tracer(uuid.uuid4().hex[:12])
    try:
        import __spark_entry__  # noqa: F401  (import cost stays out of the calls)

        layers = None
        if args.trace:
            install_shims(tracer)
            layers = SparkLayers(spark)
        run = Run(spark, ROOT, args.seed, args.seconds, tracer, layers, scratch)
        WORKLOADS[args.workload](run)
        layer_metrics = run.layer_metrics() if layers and run.ops else {}
        rss = session.vm_hwm_mb(session.jvm_pid(spark)) + session.vm_hwm_mb("self")
    finally:
        session.stop(spark)
    if args.spans_out:
        tracer.dump(args.spans_out)
    if not run.ops:
        print("perfbench: the workload made no timed call", file=sys.stderr)
        return 1

    ops = run.ops
    warm = [op for op in ops[1:] if not op["warmup"]] or ops
    e2e = {
        "setup_s": setup_s,
        "first_call_s": ops[0]["s"],
        "op_s": statistics.median(op["s"] for op in warm),
        "op_cpu_s": statistics.median(op["cpu_s"] for op in warm),
        "peak_rss_mb": rss,
    }
    failed = sum(1 for op in ops if not op["ok"])
    report(args, run, e2e, [op["s"] for op in warm], failed, host.report())
    metrics = layer_metrics if args.trace else {k: e2e[k] for k in E2E}
    print(json.dumps({
        "correct": failed == 0 and not run.failed_checks,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def report(args, run, e2e, warm, failed, host) -> None:
    """The readable report: each end-to-end value under the name it has
    on this workload, with sample counts and the host's state."""
    first, steady = REPORT_NAMES[args.workload]
    t = tail(warm)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print(f"  setup_s            {e2e['setup_s']:.3f} s  (fresh JVM, session, warm-up)")
    print(f"  {first:<18} {e2e['first_call_s']:.3f} s  (first call, cold)")
    print(f"  {steady:<18} {e2e['op_s']:.3f} s  (median of {len(warm)} warm calls "
          f"after {sum(op['warmup'] for op in run.ops)} warm-up calls; "
          + (f"p{t[0]} {t[1]:.3f} s" if t else
             "no percentile has ten samples beyond it") + ")")
    print(f"  op_cpu_s           {e2e['op_cpu_s']:.3f} s  (median CPU time of the warm "
          "calls, driver + JVM + workers)")
    if args.workload == "typed_corpus":
        from perfbench.inputs import TYPED_DOCS

        print(f"  typed_docs_per_s   {TYPED_DOCS / e2e['op_s']:.0f} 1/s  "
              f"({TYPED_DOCS} docs a pass)")
    print(f"  peak_rss_mb        {e2e['peak_rss_mb']:.1f} MB  (VmHWM, JVM + driver)")
    print(f"  failed_op_share    {failed / len(run.ops):.4f}  "
          f"({failed} of {len(run.ops)} calls)")
    print(f"  host               {json.dumps(host)}")
    print(f"  e2e {json.dumps(e2e)}")
    for what in run.failed_checks:
        print(f"  check failed: {what}")


if __name__ == "__main__":
    sys.exit(main())
