"""Benchmark of the spark-graft engine: seeded inputs, timed passes, oracle check.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The launcher (this file) builds the
input pool once per checkout, copies the seed's window out of it, starts
one measured engine process (``measure.py``) with a host-independent
environment, checks every pass's outputs against the DuckDB oracles
(``oracle.py``), and prints one JSON line as the last line of stdout:
with ``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. The full record of the run, with
per-pass figures and host diagnostics, goes to stderr and to
``perfbench/.work/results/``.

Workloads (closed loop: one client, passes back to back, one session at
local[<cores>]):
- spatial_join: the flagship chain over a seeded pages table. All
  native codegen with one tiny-aggregate shuffle and no Python, so it
  isolates the scan, expression and join layers.
- media_decode: PNG, JPEG, GIF and GeoTIFF payloads decoded in Arrow
  mapInPandas workers; the time is almost all Python-worker time.
The multistage jobs (tile pyramid with lineage commits, outlines, dedup,
PageRank) are traced in every ``--trace 1`` run; see CHANGES.md for why
they are not an end-to-end workload.

Which end-to-end figures each layer should move:
- the spatial_join calls (sources.scan, functions.geo.geocode,
  operators.pip.pip_join, operators.tiling.tile_agg) and the PIP hit
  ratio: spatial_join rows_per_s and cpu_s;
- the operators.multimodal calls and the functions.* codec rates:
  media_decode wall_s and cpu_s, and nothing on spatial_join;
- the multistage calls (stages, util, shuffle bytes): the wall time of
  those jobs more than their CPU time; no end-to-end workload runs them;
- session.start_s: setup_s of every workload.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("spatial_join", "media_decode")
TRACED = ("spatial_join", "media_decode", "multistage")
# a run must end within this many seconds; building the pool may take
# longer, on the first run in a checkout only
RUN_LIMIT_S = 170
POOL_LIMIT_S = 700
CODEGEN_FALLBACK = "failed to compile"


def _env(cores: int) -> dict:
    """Environment for every engine process: workers import the package
    from any working directory, and scratch files stay in the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = tmp
    # the JVM writes its perf counters to /tmp unless they are off
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (Python, JVM, workers) and
    wait until every member has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + grace
        while time.monotonic() < end:
            if proc.poll() is not None and not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def _run_child(args: list[str], env: dict, log_path: str,
               limit_s: float) -> int | None:
    """Run a child in its own process group; None if it timed out."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, *args], cwd=ROOT, env=env,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    return rc


def _ensure_pool(env: dict, scale: float, deadline: float) -> tuple[str, float]:
    """The input pool for ``scale``, built if missing; returns (dir, the
    deadline for the rest of the run)."""
    pool = os.path.join(WORK, f"pool-x{scale:g}")
    with open(os.path.join(WORK, "pool.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(pool):
            rc = _run_child([os.path.join(BENCH, "inputs.py"), pool,
                             str(scale)], env,
                            os.path.join(WORK, "logs", "pool.log"),
                            POOL_LIMIT_S)
            if rc != 0 or not os.path.isdir(pool):
                raise RuntimeError(f"building the input pool failed (rc={rc})"
                                   f"; see {WORK}/logs/pool.log")
            deadline = time.monotonic() + RUN_LIMIT_S
    return pool, deadline


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs, for the benchmark's own tests
    ap.add_argument("--scale", type=float, default=1.0)
    # corrupt one output row of the first pass (the benchmark's own test)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S

    if not os.path.isdir(os.path.join(ROOT, "geotiff_processor_spark")):
        print(f"no geotiff_processor_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs
    import procstat

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        specs = json.load(f)
    cores = procstat.host_cores()
    for sub in ("logs", "results", "windows"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    env = _env(cores)
    pool, deadline = _ensure_pool(env, args.scale, deadline)
    t_windows = time.monotonic()
    names = TRACED if args.trace else (args.workload,)
    windows = {
        w: inputs.make_window(pool, os.path.join(
            WORK, "windows", f"{w}-x{args.scale:g}"), w, args.seed, args.scale)
        for w in names}

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    spec_path = os.path.join(WORK, "spec.json")
    out_path = os.path.join(WORK, "result.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(spec_path, "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "trace": args.trace, "windows": windows,
                   "work_dir": os.path.join(WORK, "commits"),
                   "out": out_path, "run_id": run_id,
                   "corrupt": args.corrupt}, f)
    log_path = os.path.join(WORK, "logs", f"{run_id}.log")
    t_spawn, t_spawn_mono = time.time(), time.monotonic()
    rc = _run_child([os.path.join(BENCH, "measure.py"), spec_path], env,
                    log_path, deadline - time.monotonic())
    if rc != 0 or not os.path.exists(out_path):
        print(f"measured process failed (rc={rc}); see {log_path}",
              file=sys.stderr)
        return 1
    with open(out_path) as f:
        res = json.load(f)
    with open(log_path, errors="replace") as f:
        fallbacks = sum(line.count(CODEGEN_FALLBACK) for line in f)

    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "scale": args.scale,
              "host": {"cores": cores,
                       "memory_gb": round(procstat.host_memory_gb(), 2)},
              "windows": windows, "session_s": res["session_s"],
              "peak_rss_mb": res["peak_rss_mb"],
              "worker_peak_rss_mb": res["worker_peak_rss_mb"],
              "steal_frac": res["steal_frac"],
              "codegen_fallbacks": fallbacks}
    passes = res["passes"]
    t_check = time.monotonic()
    from oracle import expected, mismatches

    wants: dict = {}

    def check(name: str, outputs: dict | None) -> list:
        """Oracle mismatches of one pass (None: the pass raised)."""
        if outputs is None:
            return ["raised"]
        if name not in wants:
            wants[name] = expected(name, windows[name])
        return mismatches(outputs, wants[name])

    checks = [check(args.workload, p["outputs"]) for p in passes]
    if args.trace:
        checks += [check(n, outs) for n, outs in res["outputs"].items()]
    failed = sum(1 for c in checks if c)
    record["launcher"] = {"pool_s": t_windows - t_start,
                          "window_s": t_spawn_mono - t_windows,
                          "measured_process_s": t_check - t_spawn_mono,
                          "oracle_s": time.monotonic() - t_check}
    record["passes"] = [
        {"wall_s": p["wall_s"], "cpu_s": p["cpu_s"], "error": p["error"],
         "mismatches": c} for p, c in zip(passes, checks)]
    record["traced_mismatches"] = checks[len(passes):]

    if args.trace:
        metrics = dict(res["extra"])
        for call, fields in res["calls"].items():
            metrics.update({f"{call}.{k}": v for k, v in fields.items()})
        metrics.update({"session.start_s": res["session_s"],
                        "session.codegen_fallbacks": fallbacks,
                        "host.steal_frac": res["steal_frac"],
                        "peak_rss_mb": res["peak_rss_mb"]})
        wanted = specs["per_layer"]
        spans_path = os.path.join(WORK, "results", f"{run_id}-spans.json")
        with open(spans_path, "w") as f:
            json.dump(res["spans"], f)
        record["spans"] = spans_path
    else:
        wall = statistics.median(p["wall_s"] for p in passes)
        metrics = {
            "setup_s": res["t_warm"] - t_spawn,
            "wall_s": wall,
            "rows_per_s": windows[args.workload]["rows"] / wall,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "ok_frac": (len(checks) - failed) / len(checks),
        }
        record["setup"] = {k: res[k] for k in ("register_s", "warmup_s")}
        wanted = specs["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1
    record["metrics"] = {m["name"]: metrics[m["name"]] for m in wanted}
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(checks), "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
