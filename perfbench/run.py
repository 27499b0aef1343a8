"""Benchmark entry point.

    python3 perfbench/run.py --workload score_deep --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Prints human-readable lines, then one
JSON object as the last line of standard output.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench/traces/``.  Exits non-zero when an output
check fails or the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Per-operation Spark metrics, averaged over the traced operations of
#: each class.
OP_METRICS = {
    "arrow.py_run_s": ("py_run_s", "s"),
    "arrow.py_init_s": ("py_init_s", "s"),
    "arrow.py_start_s": ("py_start_s", "s"),
    "arrow.bytes_to_py": ("bytes_to_py", "B"),
    "arrow.bytes_from_py": ("bytes_from_py", "B"),
    "tasks.skew": ("skew", "ratio"),
    "frontdoor.build_s": ("build_s", "s"),
    "catalyst.analysis_ms": ("catalyst.analysis_ms", "ms"),
    "catalyst.optimization_ms": ("catalyst.optimization_ms", "ms"),
    "catalyst.planning_ms": ("catalyst.planning_ms", "ms"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.exec_s": ("exec_s", "s"),
    "exchange.shuffle_bytes": ("shuffle_bytes", "B"),
    "agg.spill_bytes": ("spill_bytes", "B"),
    "agg.peak_mem_bytes": ("peak_mem_bytes", "B"),
}
LAYER_UNITS = {
    "lgbm_model.parse_s": "s",
    "lgbm_model.predict_rows_per_s": "rows/s",
    "inference.udf_rows_per_s": "rows/s",
    "inference.glue_share": "share",
    "corpus.build_s": "s",
    "corpus.latency_s": "s",
    "corpus.jobs": "count",
    "corpus.stages": "count",
    "corpus.catalyst_ms": "ms",
}
KINDS = ("a", "b")


def _latencies(out, kind: str, traced: bool = False) -> list[float]:
    return [s.latency_s for s in out.samples if s.traced == traced and s.kind == kind]


def _cpu(out, kind: str, side: str = "worker") -> list[float]:
    return [getattr(s, f"{side}_cpu_s") for s in out.samples if not s.traced and s.kind == kind]


def end_to_end(out, peak_rss_bytes: int) -> dict:
    from harness import median

    return {
        "setup_s": (median([s["setup_s"] for s in out.setups]), "s"),
        "a_worker_cpu_s": (median(_cpu(out, "a") or [0.0]), "s"),
        "b_worker_cpu_s": (median(_cpu(out, "b") or [0.0]), "s"),
        "peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "ops_ok_share": ((out.attempted - out.failed) / out.attempted, "share"),
    }


def per_layer(out, jvm_start_s: float, calib_s: float, steal_share: float) -> dict:
    from harness import high_percentile, median

    m = {
        "session.jvm_start_s": (jvm_start_s, "s"),
        "session.context_setup_s": (out.context_setup_s, "s"),
        "session.configure_s": (median([s["configure_s"] for s in out.setups]), "s"),
        "frontdoor.ddl_s": (median([s["ddl_s"] for s in out.setups]), "s"),
        "host.calib_s": (calib_s, "s"),
        "host.steal_share": (steal_share, "share"),
    }
    m.update({k: (v, LAYER_UNITS[k.rsplit(".", 1)[0]]) for k, v in sorted(out.layers.items())})
    for kind in KINDS:
        ops = [op for op in out.op_metrics if op["kind"] == kind]
        for name, (key, unit) in OP_METRICS.items():
            m[f"{name}.{kind}"] = (sum(op[key] for op in ops) / max(len(ops), 1), unit)
        plain = _latencies(out, kind)
        hi = high_percentile(plain)
        m[f"latency.samples.{kind}"] = (len(plain), "count")
        m[f"latency.p50_s.{kind}"] = (median(plain or [0.0]), "s")
        m[f"cpu.jvm_s.{kind}"] = (median(_cpu(out, kind, "jvm") or [0.0]), "s")
        m[f"latency.p_hi_pct.{kind}"] = (hi[0] if hi else 100, "pct")
        m[f"latency.p_hi_s.{kind}"] = (hi[1] if hi else max(plain, default=0.0), "s")
    # Traced and plain operations alternate; compare them per operation
    # class.
    ratios = []
    for kind in KINDS:
        t = _latencies(out, kind, traced=True)
        p = _latencies(out, kind)
        if t and p:
            ratios.append(median(t) / median(p))
    m["trace.overhead_ratio"] = (median(ratios) if ratios else 1.0, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "lightfusion_spark")):
        print(f"perfbench: no lightfusion_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    from harness import WORK, RssSampler, Tracer, calibrate, launch_jvm, steal_s, stop_jvm
    from workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # A terminated run still stops the JVM and its Python workers (the
    # ``finally`` below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(enabled=bool(args.trace))
    out = Outcome()
    calib_s = calibrate()
    steal0, wall0 = steal_s(), time.perf_counter()
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            launch_jvm()
            jvm_start_s = time.perf_counter() - t0
            WORKLOADS[args.workload].run(args.workload, args.seed, args.seconds, tracer, out)
        finally:
            stop_jvm()
    steal_share = (steal_s() - steal0) / (os.cpu_count() * (time.perf_counter() - wall0))
    if args.trace:
        metrics = per_layer(out, jvm_start_s, calib_s, steal_share)
    else:
        metrics = end_to_end(out, rss.peak_bytes)

    print(f"workload {args.workload} seed {args.seed}: {len(out.samples)} timed operations, "
          f"{out.attempted} attempted, {out.failed} failed; host.calib_s = {calib_s:.4f}, "
          f"host.steal_share = {steal_share:.4f}")
    for kind in KINDS:
        print(f"  {kind} latencies (s): " + " ".join(f"{dt:.3f}" for dt in _latencies(out, kind)))
        print(f"  {kind} worker CPU (s): " + " ".join(f"{c:.2f}" for c in _cpu(out, kind)))
        print(f"  {kind} JVM CPU (s): " + " ".join(f"{c:.2f}" for c in _cpu(out, kind, "jvm")))
    for line in out.notes:
        print(f"  {line}")
    for line in out.mismatches:
        print(f"  MISMATCH {line}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    if args.trace:
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"ops": out.op_metrics, "notes": out.notes, "mismatches": out.mismatches},
        )
    # An operation class without a completed sample reports 0: never a valid
    # measurement, so the run is marked incorrect.
    correct = not out.mismatches and all(_latencies(out, kind) for kind in KINDS)
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
