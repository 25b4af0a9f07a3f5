"""One benchmark run in a fresh Python+JVM process.

Started by ``run.py`` with the inputs already made. It sets up the session,
runs the first pass and a warm-up pass, then timed passes for the run's
length, checks the outputs and writes its figures as JSON for ``run.py`` to
print.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

from probes import Jvm, PeakSampler, cpu_seconds, tree_pids
from workloads import WORKLOADS

# The first pass and one warm-up pass are not timed; the timed window starts
# at the third pass in every run. Pass times keep falling for eight passes
# and more as the JVM compiles Catalyst and codegen paths, more than a run
# has room for (see README.md, "Run structure and budget"), so the window
# sits at the same point of that curve in every run rather than on a flat
# part of it.


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--in-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--t0", type=float, required=True, help="wall time the process was started")
    p.add_argument("--result", required=True)
    return p.parse_args()


def geomean(values) -> float:
    """Every op weighs the same, so a gain on a short op shows."""
    return math.exp(statistics.fmean(math.log(v) for v in values))


class Runner:
    def __init__(self, workload, jvm, tracer=None):
        self.w, self.jvm, self.tracer = workload, jvm, tracer
        self.root = os.getpid()
        self.passes: list[dict] = []
        self.digests: dict[str, str] = {}
        self.mismatch: list[str] = []

    def cpu_s(self) -> float:
        """CPU time of the whole process tree, the JIT's compiler threads
        included."""
        return cpu_seconds(tree_pids(self.root))

    def run_pass(self, kind: str) -> dict:
        rec = {"kind": kind, "ops": {}, "op_cpu": {}}
        if self.tracer:
            self.tracer.begin_pass(kind)
        jit0, gc0 = self.jvm.jit_s(), self.jvm.gc_s()
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        for op in self.w.ops:
            c0 = self.cpu_s()
            o0 = time.perf_counter()
            if self.tracer:
                out = self.tracer.op(op, lambda op=op: self.w.run_op(op))
            else:
                out = self.w.run_op(op)
            rec["ops"][op] = time.perf_counter() - o0
            rec["op_cpu"][op] = self.cpu_s() - c0
            self.w.last[op] = out
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu_s() - cpu0
        rec["jit_s"], rec["gc_s"] = self.jvm.jit_s() - jit0, self.jvm.gc_s() - gc0
        if self.tracer:
            self.tracer.end_pass(rec)
        # every pass must reproduce the first pass's outputs
        for op in self.w.ops:
            d = self.w.digest(op, self.w.last[op])
            if self.digests.setdefault(op, d) != d:
                self.mismatch.append(f"{op}: output of pass {len(self.passes)} differs from pass 0")
        # nothing cached or checkpointed by one pass survives into the next
        self.jvm.release_all(self.w.spark)
        self.passes.append(rec)
        return rec


def main() -> int:
    args = parse_args()
    # ---- set-up: session up, catalog imported, inputs registered ----
    from etl_pipeline_telecom_spark import session

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()  # imports every package module, so set-up reads longer traced
    spark = session.get_spark("graftbench")
    from etl_pipeline_telecom_spark import catalog

    catalog.queries()
    w = WORKLOADS[args.workload](spark, args.in_dir, args.out_dir)
    w.register()
    setup_s = time.time() - args.t0
    jvm = Jvm(spark)
    if tracer:
        tracer.attach(spark, jvm)

    runner = Runner(w, jvm, tracer)
    first = runner.run_pass("first")
    runner.run_pass("warm-up")
    sampler = PeakSampler(runner.root)
    sampler.active.set()
    start = time.perf_counter()
    while True:
        runner.run_pass("timed")
        if time.perf_counter() - start >= args.seconds:
            break
    sampler.active.clear()
    sampler.close()

    t_check = time.perf_counter()
    errors = runner.mismatch + w.check()
    check_s = time.perf_counter() - t_check
    timed = [p for p in runner.passes if p["kind"] == "timed"]
    op_medians = {op: statistics.median(p["ops"][op] for p in timed) for op in w.ops}
    op_cpu = {op: statistics.median(p["op_cpu"][op] for p in timed) for op in w.ops}
    result = {
        "correct": not errors,
        "errors": errors[:20],
        "attempted": len(runner.passes) * len(w.ops),
        "failed": 0,
        "metrics": {
            "setup_s": setup_s,
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "op_cpu_geomean_s": geomean(op_cpu.values()),
            "peak_rss_mb": sampler.peak,
        },
        "run": {
            # wall times follow the host too closely to be bounded (README.md,
            # "Why CPU time")
            "first_pass_s": round(first["wall_s"], 3),
            "rows_per_s": round(statistics.median(w.rows_per_pass / p["wall_s"] for p in timed), 2),
            "op_geomean_s": round(geomean(op_medians.values()), 4),
            "op_cpu_median_s": {k: round(v, 3) for k, v in op_cpu.items()},
            "timed_passes": len(timed),
            "timed_pass_s": [round(p["wall_s"], 3) for p in timed],
            "op_median_s": {k: round(v, 4) for k, v in op_medians.items()},
            "first_pass_jit_s": round(first["jit_s"], 3),
            "timed_jit_s": [round(p["jit_s"], 3) for p in timed],
            "timed_gc_s": [round(p["gc_s"], 3) for p in timed],
            "check_s": round(check_s, 3),
            "rounding_ties_left_out": getattr(w, "rounding_ties", []),
            **jvm.describe(),
        },
        "pids": [],
    }
    if tracer:
        result["per_layer"] = tracer.report(runner.passes)
    result["pids"] = [p for p in tree_pids(runner.root) if p != runner.root]
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
