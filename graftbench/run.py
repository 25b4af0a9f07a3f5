"""Benchmark command: one workload, one fresh Python+JVM process.

Usage, from the root of a checkout:

    python3 graftbench/run.py --workload churn_etl --seed 1 --seconds 1 --trace 0

It makes the inputs from the seed before any clock starts, starts
``worker.py`` in a new process with pinned Spark settings, removes the
state the program leaves for those inputs before and after, and prints one
JSON line:
``correct``, ``attempted``, ``failed`` and the metrics with their units
(the end-to-end ones untraced, the per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "etl_pipeline_telecom_spark"
#: whole-run limit from the command's start; past it the worker's process
#: tree is killed and the run fails without a result
RUN_LIMIT_S = 165

UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "op_cpu_geomean_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def task_slots() -> int:
    """Spark task slots: one below the core count and two at most, so the
    JIT's compiler threads, the GC and the driver's Python keep cores of
    their own on a 4-core machine."""
    return max(1, min(2, (os.cpu_count() or 2) - 1))


def _key(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:10]


def program_state(in_dir: str, pid: int | None) -> list[str]:
    """The state the program keeps under /tmp for these inputs, found by the
    program's own keys (it never removes it):

    - ``spark_graft_replay_documents_*``: st7's micro-batch replay, keyed by
      the input file's path and mtime (``streaming/jobs.py``
      ``replay_table_slices``, 4 slices);
    - ``spark_graft_st7_bloom_*``: st7's maintained bloom, keyed by the
      replay dir and the driver's pid (``plans/streaming.py``).
    """
    docs = os.path.join(os.path.abspath(in_dir), "documents.parquet")
    if not os.path.exists(docs):
        return []
    replay = f"/tmp/spark_graft_replay_documents_{_key(f'{docs}:{os.path.getmtime(docs)}:4')}"
    pats = [replay]
    if pid is not None:
        pats.append(f"/tmp/spark_graft_st7_bloom_{_key(f'{replay}:{pid}')}")
    # a path, its ".stage-*" work dirs and ".tmp-*" files
    return sorted(p for pat in pats for p in glob.glob(pat + "*"))


def cpu_ticks() -> list[int]:
    """The machine's CPU time split (user, nice, system, idle, ..., steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def remove(paths: list[str]) -> int:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.remove(p)
    return len(paths)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for the worker's JVM and Python workers to end; kill stragglers."""
    deadline = time.time() + timeout
    for sig in (None, signal.SIGKILL):
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if pids:
                time.sleep(0.1)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig or signal.SIGTERM)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5


def main() -> int:
    started = time.time()
    args = parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"graftbench: no {PACKAGE} package under {root}; run from a checkout's root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"graftbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import inputs

    # one fixed work dir per workload: a previous run's leftovers are found
    # and removed here
    work = os.path.join(root, ".graftbench", args.workload)
    dirs = {k: os.path.join(work, k) for k in ("in", "out", "tmp", "local", "cwd")}
    stale = remove(program_state(dirs["in"], None))
    shutil.rmtree(work, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    worker = None
    try:
        sizes = WORKLOADS[args.workload].make_inputs(dirs["in"], args.seed)
        in_files = sorted(glob.glob(os.path.join(dirs["in"], "*")))
        digest = inputs.digest(in_files)
        # inputs are a pure function of (seed, size): a second generation matches
        again = os.path.join(work, "in2")
        os.makedirs(again)
        WORKLOADS[args.workload].make_inputs(again, args.seed)
        same_inputs = inputs.digest(sorted(glob.glob(os.path.join(again, "*")))) == digest
        shutil.rmtree(again)

        slots = task_slots()
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([root, HERE]),
            SPARK_GRAFT_CPUS=str(slots),
            SPARK_GRAFT_DRIVER_MEM="1g",
            SPARK_LOCAL_DIRS=dirs["local"],
            TMPDIR=dirs["tmp"],
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}'"
                + (" --conf spark.ui.retainedJobs=100000" if args.trace else "")
                + " pyspark-shell"
            ),
            # the same str hashing (set order, partitioning of str keys) in every run
            PYTHONHASHSEED="0",
        )
        result_path = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--in-dir", dirs["in"], "--out-dir", dirs["out"], "--result", result_path,
        ]  # fmt: skip
        ticks0 = cpu_ticks()
        t0 = time.time()
        worker = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=dirs["cwd"], env=env, start_new_session=True)
        worker.wait(timeout=RUN_LIMIT_S - (time.time() - started))
        if worker.returncode != 0 or not os.path.exists(result_path):
            print(f"graftbench: worker exited with {worker.returncode}", file=sys.stderr)
            return 1
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        with open(result_path) as fh:
            res = json.load(fh)
        wait_gone(res.pop("pids"), timeout=max(1.0, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        print(f"graftbench: run exceeded {RUN_LIMIT_S}s", file=sys.stderr)
        return 1
    finally:
        if worker is not None and worker.poll() is None:
            from probes import tree_pids

            for pid in tree_pids(worker.pid):  # the Python daemon leaves the process group
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            worker.wait()
        leftover = remove(program_state(dirs["in"], worker.pid if worker else None))
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.join(root, ".graftbench")):
            os.rmdir(os.path.join(root, ".graftbench"))

    res["correct"] = bool(res["correct"] and same_inputs)
    if not same_inputs:
        res["errors"].append("two generations of the inputs differ")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "task_slots": slots,
        "inputs": sizes,
        "inputs_sha256": digest,
        "state_removed": {"before": stale, "after": leftover},
        # CPU time the hypervisor gave to other guests while this run ran
        "host_steal_share": round(ticks[7] / sum(ticks), 4),
        **res.pop("run"),
        "run_wall_s": round(time.time() - started, 1),
    }
    if res["errors"]:
        print("graftbench: check failed: " + "; ".join(res["errors"]), file=sys.stderr)
    print(json.dumps(info), file=sys.stderr)
    if args.trace:
        per_layer = res["per_layer"]
        per_layer["catalog.leftover_paths"] = {"value": leftover, "unit": "count"}
        metrics = per_layer
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["metrics"].items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
