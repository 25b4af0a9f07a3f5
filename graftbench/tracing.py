"""Per-layer tracing from outside the program, for ``--trace 1`` runs.

Spans: every public function of the layer modules (``session``,
``sources``, ``functions``, ``validation``, ``plans.*``, ``streaming``,
``catalog``) is wrapped by identity in every package module that binds it,
so ``plans.churn``'s own ``write_single_csv`` binding is traced too. Spans
nest per op and per pass; a span's self time is its duration minus that
of its child spans.

Spark counters are read after each pass: job ids from the scheduler's
counter, job and stage data from the status store, task lists per stage,
streaming progress from a ``StreamingQueryListener``, JIT and GC time from
the JVM's management beans, and Python worker CPU from /proc.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import statistics
import sys
import time

PKG = "etl_pipeline_telecom_spark"
#: the plan families the workloads run; the text and pipeline families do not
#: fit the run budget (see README.md, "Left out")
PLAN_FAMILIES = ("churn", "dedup", "similarity", "streaming")
SINKS = {"write_single_csv", "write_single_json", "write_parquet", "write_jdbc", "write_with_fallback"}


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    if parts[1] == "plans" and len(parts) > 2:
        return f"plans.{parts[2]}"
    if parts[1] in ("session", "sources", "functions", "validation", "streaming", "catalog"):
        return parts[1]
    return None


class Span:
    __slots__ = ("layer", "name", "w0", "t0", "t1", "child", "j0", "j1")

    def __init__(self, layer: str, name: str, j0: int):
        self.layer, self.name, self.j0 = layer, name, j0
        self.w0, self.t0, self.child, self.t1, self.j1 = time.time(), time.perf_counter(), 0.0, 0.0, j0


class Tracer:
    def __init__(self):
        self._wrapped: dict[int, object] = {}
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.jvm = None
        self.start_s = 0.0
        self.batches: list[tuple[str, float]] = []  # (run id, batch seconds)

    # ---- spans ----
    def _job(self) -> int:
        return self.jvm.next_job_id() if self.jvm else 0

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            span = Span(layer, fn.__name__, self._job())
            self._stack.append(span)
            try:
                return fn(*a, **kw)
            finally:
                span.t1, span.j1 = time.perf_counter(), self._job()
                self._stack.pop()
                if self._stack:
                    self._stack[-1].child += span.t1 - span.t0
                self.spans.append(span)

        traced.__graftbench_traced__ = True
        return traced

    def install(self) -> None:
        """Wrap every public layer function in every package module that binds it.

        Every submodule is imported first: some are imported only inside the
        functions that use them (``streaming.jobs`` by st7), and those calls
        would otherwise bind the unwrapped functions."""
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None]
        for m in mods:
            layer = layer_of(m.__name__)
            if layer is None:
                continue
            for name, obj in vars(m).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == m.__name__
                    and not name.startswith("_")
                    and not getattr(obj, "__graftbench_traced__", False)
                ):
                    self._wrapped.setdefault(id(obj), (obj, self._wrap(obj, layer)))
        for m in mods:
            for name, obj in list(vars(m).items()):
                hit = self._wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(m, name, hit[1])

    def attach(self, spark, jvm) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.jvm = jvm
        self.start_s = next((s.t1 - s.t0 for s in self.spans if s.name == "get_spark"), 0.0)
        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.batches.append((str(p.runId), p.batchDuration / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    def op(self, name: str, run):
        span = Span("op", name, self._job())
        self._stack.append(span)
        try:
            return run()
        finally:
            span.t1, span.j1 = time.perf_counter(), self._job()
            self._stack.pop()
            self.spans.append(span)

    # ---- passes ----
    def begin_pass(self, kind: str) -> None:
        from probes import cpu_seconds

        self.spans, self.batches = [], []
        self._py0 = cpu_seconds(self._python_workers())
        self._pass_j0 = self._job()

    def _python_workers(self) -> list[int]:
        from probes import tree_pids

        jvm_pid = self.jvm.pid()
        return [p for p in tree_pids(jvm_pid) if p != jvm_pid]

    def end_pass(self, rec: dict) -> None:
        from probes import cpu_seconds

        # workers that exited during the pass are counted in the daemon's
        # reaped-children time, which cpu_seconds includes
        rec["python_cpu_s"] = cpu_seconds(self._python_workers()) - self._py0
        rec["layer"] = self._pass_counters(rec)

    def _pass_counters(self, rec: dict) -> dict:
        j0, j1 = self._pass_j0, self._job()
        jobs = {j: self.jvm.job(j) for j in range(j0, j1)}
        stage_ids = sorted({s for jd in jobs.values() if jd for s in jd.get("stageIds", ())})
        stages = {}
        for sid in stage_ids:
            sd = self.jvm.stage(sid)
            if sd and sd.get("status") in ("COMPLETE", "FAILED"):
                stages[sid] = sd
        job_stages = {j: [s for s in (jd or {}).get("stageIds", ()) if s in stages] for j, jd in jobs.items()}

        def stage_sum(job_range, key):
            seen = {s for j in job_range for s in job_stages.get(j, ())}
            return sum(stages[s].get(key, 0) for s in seen)

        out = {}
        # per-layer self time and selected inclusive times
        self_by_layer: dict[str, float] = {}
        incl: dict[str, float] = {}
        for s in self.spans:
            dur = s.t1 - s.t0
            self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + dur - s.child
            incl[s.name] = incl.get(s.name, 0.0) + dur
        for fam in PLAN_FAMILIES:
            out[f"plans.{fam}.self_s"] = self_by_layer.get(f"plans.{fam}", 0.0)
        for layer in ("sources", "functions", "validation", "streaming", "catalog"):
            out[f"{layer}.self_s"] = self_by_layer.get(layer, 0.0)
        sink_spans = [s for s in self.spans if s.name in SINKS]
        sink_jobs = {j for s in sink_spans for j in range(s.j0, s.j1)}
        out["sources.sink_s"] = sum(s.t1 - s.t0 for s in sink_spans)
        out["sources.sink_tasks"] = stage_sum(sink_jobs, "numTasks")
        out["sources.bytes_written"] = stage_sum(sink_jobs, "outputBytes") / 2**20
        out["sources.rows_read"] = sum(sd.get("inputRecords", 0) for sd in stages.values())
        out["functions.median_fill_s"] = incl.get("median_fill", 0.0)
        val = [s for s in self.spans if s.name == "run_expectations"]
        out["validation.expectations_s"] = sum(s.t1 - s.t0 for s in val)
        out["validation.jobs"] = sum(s.j1 - s.j0 for s in val)
        out["plans.jobs"] = j1 - j0
        out["plans.stages"] = len(stages)
        out["plans.tasks"] = sum(sd.get("numTasks", 0) for sd in stages.values())
        out["plans.failed_tasks"] = sum(sd.get("numFailedTasks", 0) for sd in stages.values())
        out["plans.executor_run_s"] = sum(sd.get("executorRunTime", 0) for sd in stages.values()) / 1e3
        out["plans.executor_cpu_s"] = sum(sd.get("executorCpuTime", 0) for sd in stages.values()) / 1e9
        out["plans.shuffle_write_mb"] = sum(sd.get("shuffleWriteBytes", 0) for sd in stages.values()) / 2**20
        out["plans.shuffle_read_mb"] = sum(sd.get("shuffleReadBytes", 0) for sd in stages.values()) / 2**20
        delay, skew = 0.0, 1.0
        for sid, sd in stages.items():
            tasks = self.jvm.tasks(sid, sd.get("attemptId", 0))
            delay += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
            durs = [t.get("duration") or 0 for t in tasks]
            if len(durs) >= 2 and statistics.median(durs) > 0:
                skew = max(skew, max(durs) / statistics.median(durs))
        out["plans.scheduler_delay_s"] = delay
        out["plans.task_skew"] = skew
        out["plans.python_cpu_s"] = rec["python_cpu_s"]
        out["plans.gap_s"] = sum(self._gap(s, jobs) for s in self.spans if s.layer == "op")
        runs = {r for r, _ in self.batches}
        stream_jobs = sum(1 for jd in jobs.values() if jd and jd.get("jobGroup") in runs)
        out["streaming.batches"] = len(self.batches)
        out["streaming.batch_s"] = sum(b for _, b in self.batches)
        out["streaming.jobs_per_batch"] = stream_jobs / len(self.batches) if self.batches else 0.0
        out["catalog.persisted_rdds"], out["catalog.cached_mb"] = self.jvm.persisted()
        out["session.pass_jit_s"], out["session.pass_gc_s"] = rec["jit_s"], rec["gc_s"]
        return out

    def _gap(self, span: Span, jobs: dict) -> float:
        """Op wall time during which no Spark job of the op was running."""
        lo, hi = span.w0 * 1e3, (span.w0 + span.t1 - span.t0) * 1e3
        iv = []
        for j in range(span.j0, span.j1):
            jd = jobs.get(j)
            if jd and jd.get("submissionTime") and jd.get("completionTime"):
                iv.append((max(lo, jd["submissionTime"]), min(hi, jd["completionTime"])))
        busy, end = 0.0, lo
        for a, b in sorted(iv):
            a = max(a, end)
            if b > a:
                busy, end = busy + b - a, b
        return max(0.0, (hi - lo) - busy) / 1e3

    def report(self, passes: list[dict]) -> dict:
        timed = [p for p in passes if p["kind"] == "timed"]
        first = passes[0]
        names = sorted(timed[0]["layer"])
        out = {n: statistics.median(p["layer"][n] for p in timed) for n in names}
        out["session.start_s"] = self.start_s
        out["session.jit_s"], out["session.gc_s"] = first["jit_s"], first["gc_s"]
        return {n: {"value": v, "unit": unit_of(n)} for n, v in sorted(out.items())}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name == "sources.bytes_written":
        return "MB"
    if name == "sources.rows_read":
        return "rows"
    if name == "plans.task_skew":
        return "ratio"
    return "count"
