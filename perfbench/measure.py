"""The measured process: one engine session that sets up, then times passes.

``run.py`` starts this as ``python3 perfbench/measure.py <spec.json>``
and reads the result file it names. Untraced, it registers the
workload's inputs, runs the warm-up passes, then runs passes back to
back until ``seconds`` have elapsed (at least MIN_PASSES), recording
each pass's wall time, the CPU time of the whole process tree and the
outputs. Traced, it times untraced passes of the named workload, then
runs every workload's traced chains once (see ``workloads.py``) so that
every per-layer metric comes from one run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import procstat

# passes before timing starts: both workloads keep getting faster for
# about five passes (JIT-compiled generated code, Python workers)
WARMUP_PASSES = 3
MIN_PASSES = 3
# payloads per codec for the single-threaded kernel rates
KERNEL_SAMPLE = 200
KERNEL_MIN_S = 0.5


def start_session(app: str):
    """The engine's session, sized from the host; returns (spark, seconds)."""
    from geotiff_processor_spark.session import get_spark

    mem_gb = max(1, min(8, int(procstat.host_memory_gb() // 4)))
    t = time.perf_counter()
    spark = get_spark(app, master=f"local[{procstat.host_cores()}]",
                      driver_memory=f"{mem_gb}g")
    return spark, time.perf_counter() - t


def make_workload(spark, name: str, window: dict, work_dir: str):
    import workloads

    if name == "spatial_join":
        return workloads.SpatialJoin(spark, window)
    if name == "media_decode":
        return workloads.MediaDecode(spark, window)
    return workloads.Multistage(spark, window, work_dir)


def timed_pass(wl, pid: int) -> dict:
    """One pass: wall and tree-CPU seconds, outputs or the error."""
    c0, t0 = procstat.tree_cpu_s(pid), time.perf_counter()
    try:
        out, err = wl.run(), None
    except Exception:  # a failed pass is counted, not fatal
        out, err = None, traceback.format_exc(limit=3)
    return {"wall_s": time.perf_counter() - t0,
            "cpu_s": procstat.tree_cpu_s(pid) - c0,
            "outputs": out, "error": err}


def stage_totals(sc, group: str) -> dict:
    """Sums over the completed stages of ``group``'s jobs, read from the
    status store (the listener fills it even with the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    tot = {"stages": 0, "tasks": 0, "run_s": 0.0, "jvm_cpu_s": 0.0,
           "shuffle_bytes": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(i))
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["run_s"] += sd.executorRunTime() / 1e3
            tot["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["shuffle_bytes"] += sd.shuffleWriteBytes()
    return tot


class Tracer:
    """Spans kept in memory; each span runs its jobs in its own job group."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id, self.spans = sc, run_id, []

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = len(self.spans)
        span = {"id": sid, "name": name, "parent": parent,
                "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(span)
        self.sc.setJobGroup(f"{self.run_id}:{sid}", name)
        try:
            yield sid
        finally:
            span["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def totals(self, sid: int) -> dict:
        span = self.spans[sid]
        tot = stage_totals(self.sc, f"{self.run_id}:{sid}")
        tot["wall_s"] = span["end"] - span["start"]
        return tot


def force(df, keep) -> list | None:
    """Run ``df``: through collect for an output, else a no-op sink."""
    if keep is None:
        return [list(r) for r in df.collect()]
    df.select(*keep).write.format("noop").mode("overwrite").save()
    return None


def trace_chains(tracer: Tracer, wl, name: str, cores: int) -> tuple:
    """Run ``wl``'s chains once under spans; returns (outputs, calls,
    wall seconds of the whole traced pass)."""
    outputs, calls = {}, {}
    t0 = time.perf_counter()
    with tracer.span(f"{name}.traced_pass") as root:
        for out_name, chain in wl.chains().items():
            prev = None
            for call, make, keep in chain:
                with tracer.span(call, parent=root) as sid:
                    rows = force(make(), keep)
                tot = tracer.totals(sid)
                if rows is not None:
                    outputs[out_name] = rows
                if not call.startswith("_"):
                    d = {k: v - (prev[k] if prev else 0)
                         for k, v in tot.items()}
                    calls[call] = {
                        "self_s": d["wall_s"], "stages": d["stages"],
                        "tasks": d["tasks"],
                        "util": (d["run_s"] / (d["wall_s"] * cores)
                                 if d["wall_s"] > 0 else 0.0),
                        "python_s": d["run_s"] - d["jvm_cpu_s"],
                        "shuffle_bytes": d["shuffle_bytes"]}
                prev = tot
    return outputs, calls, time.perf_counter() - t0


def join_output_rows(df) -> int:
    """numOutputRows of the broadcast hash join in ``df``'s executed plan."""
    todo, total = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            if cls == "BroadcastHashJoinExec":
                total += node.metrics().get("numOutputRows").get().value()
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def kernel_rates(window: dict) -> dict:
    """Payloads per second of each codec's public decode function,
    single-threaded in this process on the window's first payloads."""
    import pyarrow.dataset as ds

    from geotiff_processor_spark.functions import gif, jpeg, png, tiff

    from inputs import CODECS

    decoders = {"png": ("png", lambda ps: [png.decode_png(p) for p in ps]),
                "jpeg": ("jpeg", jpeg.decode_jpeg_batch),
                "gif": ("gif", lambda ps: [gif.decode_gif(p) for p in ps]),
                "tiff": ("tiff", lambda ps: [tiff.decode_tiff(p) for p in ps])}
    rates = {}
    for codec, (module, decode) in decoders.items():
        col = CODECS[codec][0]
        payloads = ds.dataset(window[codec], format="parquet").head(
            KERNEL_SAMPLE, columns=[col]).column(col).to_pylist()
        n, t0 = 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < KERNEL_MIN_S:
            decode(payloads)
            n += len(payloads)
        rates[f"functions.{module}.payloads_per_s"] = (
            n / (time.perf_counter() - t0))
    return rates


def run_untraced(spec: dict, spark, pid: int) -> dict:
    res: dict = {}
    t = time.perf_counter()
    wl = make_workload(spark, spec["workload"], spec["windows"][spec["workload"]],
                       spec["work_dir"])
    res["register_s"] = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        wl.run()
    res["warmup_s"] = time.perf_counter() - t
    res["t_warm"] = time.time()
    steal0, passes, t0 = procstat.cpu_jiffies(), [], time.perf_counter()
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - t0 < spec["seconds"]):
        passes.append(timed_pass(wl, pid))
    res["steal_frac"] = procstat.steal_frac(steal0, procstat.cpu_jiffies())
    if spec.get("corrupt") and passes[0]["outputs"]:
        # the benchmark's own test: one wrong value in one output row
        rows = next(iter(passes[0]["outputs"].values()))
        rows[0][0] += 1
    res["passes"] = passes
    return res


def run_traced(spec: dict, spark, pid: int) -> dict:
    sc = spark.sparkContext
    cores = procstat.host_cores()
    tracer = Tracer(sc, spec["run_id"])
    res: dict = {"calls": {}, "outputs": {}, "extra": {}}
    steal0 = procstat.cpu_jiffies()
    named = spec["workload"]
    order = [named] + [w for w in spec["windows"] if w != named]
    for name in order:
        wl = make_workload(spark, name, spec["windows"][name], spec["work_dir"])
        # multistage's first pass costs as much as tracing it twice, so
        # it is traced cold, after the other workloads have warmed the
        # JVM and the Python workers
        for _ in range({named: WARMUP_PASSES, "multistage": 0}.get(name, 1)):
            wl.run()
        if name == named:
            passes = [timed_pass(wl, pid) for _ in range(2)]
            res["passes"] = passes
            untraced = statistics.median(p["wall_s"] for p in passes)
        outputs, calls, wall = trace_chains(tracer, wl, name, cores)
        res["outputs"][name] = outputs
        res["calls"].update(calls)
        if name == named:
            res["extra"]["trace.overhead_s"] = wall - untraced
        if name == "spatial_join":
            agg = wl.output()
            agg.collect()
            hits = join_output_rows(agg)
            res["extra"]["operators.pip.hit_ratio"] = (
                hits / max(1, wl.candidate_rows()))
        elif name == "media_decode":
            res["extra"]["operators.multimodal.worker_peak_rss_mb"] = (
                procstat.worker_peak_rss_mb(pid))
            res["extra"].update(kernel_rates(spec["windows"][name]))
        elif name == "multistage":
            commit_dir = wl.last_commit_dir()
            res["extra"]["plans.lineage.files_written"] = sum(
                len(files) for _, _, files in os.walk(commit_dir))
            shutil.rmtree(commit_dir, ignore_errors=True)
            cand = wl.candidates().count()
            res["extra"]["operators.dedup.lsh_precision"] = (
                wl.verified().count() / max(1, cand))
    res["steal_frac"] = procstat.steal_frac(steal0, procstat.cpu_jiffies())
    res["spans"] = tracer.spans
    return res


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    pid = os.getpid()
    spark, session_s = start_session(f"perfbench-{spec['workload']}")
    try:
        if spec["trace"]:
            res = run_traced(spec, spark, pid)
        else:
            res = run_untraced(spec, spark, pid)
        res["session_s"] = session_s
        res["peak_rss_mb"] = procstat.peak_rss_mb(pid)
        res["worker_peak_rss_mb"] = procstat.worker_peak_rss_mb(pid)
    finally:
        spark.stop()
    with open(spec["out"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
