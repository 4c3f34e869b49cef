"""Benchmark runner: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 8 \
        --trace 0

Run from the repository root. The engine runs on ``local[<cpus>]``. The
run sets up the workload (``setup_s``), then runs passes of its operation
mix, each operation waiting for the previous one (a closed loop with one
client), for at least ``--seconds`` and the workload's least number of
passes, and stops at the end of a mix cycle. The last line of standard
output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. ``pass_s`` is the
time of one pass of the operation mix: each operation kind's median
latency times its count per pass. With ``--trace 1`` the passes run in
blocks of one whole mix cycle, traced and untraced blocks in the order
ABBA (BAAB on odd seeds), and the metrics are the per-layer ones,
including the tracing overhead (``pass_s`` over traced passes minus
``pass_s`` over untraced ones). Lines before the last one carry the
workload's own figures and, when traced, the per-function measures.

Every table, index and temporary file lives under one run directory
inside the checkout, removed on exit. Without the engine package next
to this directory the run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "ok_frac": "frac",
}

# Generic per-layer measures: present on every workload. The
# per-function breakdown is printed on its own line before the result.
ENGINE_MEASURES = {
    "wall_s": "s", "jobs": "count", "job_s": "s", "driver_gap_s": "s",
    "executor_cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
    "input_bytes": "bytes",
}
PER_LAYER = {
    "session.get_spark.wall_s": "s",
    **{f"engine.pass.{m}": u for m, u in ENGINE_MEASURES.items()},
    "bench.pass.self_s": "s",
    "bench.trace.overhead_s": "s",
}
FUNCTION_MEASURES = ("wall_s", "self_s", "jobs", "job_s", "driver_gap_s",
                     "executor_cpu_s", "gc_s", "shuffle_bytes",
                     "input_bytes", "bytes_written")


def process_start() -> float:
    """Epoch seconds at which this process started, from ``/proc``."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f
                         if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def descendants(pid: int) -> list[int]:
    """Pids of every process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    driver JVM and the Python workers)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def prepare_env(work: str) -> None:
    os.environ["BODO_SPARK_EXACT"] = "0"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # The driver heap is the engine's own setting; no perf data under /tmp.
    # The JIT stops at its first tier (C1): C2 keeps recompiling for more
    # passes than a run has, and how far it gets depends on the host's
    # speed, which made pass_s spread past its bound between runs of the
    # same code. C1 code runs at the same speed from the first timed pass.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:TieredStopAtLevel=1' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # Python workers import the engine's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark(spark) -> None:
    """Stops the session, then the gateway JVM, and waits for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on end of input
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def per_function(spans, measures) -> dict:
    """Median per call of each measure, per engine function span. A
    function called in the timed passes is summarised over those calls
    only; set-up-only functions (index builds, table init) over their
    set-up calls."""
    by_id = {s.sid: s for s in spans}

    def in_pass(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s.name == "bench.pass"

    calls = [s for s in spans
             if s.name.split(".")[0] in ("queries", "operators", "session")]
    timed = {s.name for s in calls if in_pass(s)}
    by: dict[str, list[dict]] = {}
    for s in calls:
        if s.name not in timed or in_pass(s):
            by.setdefault(s.name, []).append(measures[s.sid])
    return {name: {"calls": len(ms), **{
        k: statistics.median(m[k] for m in ms) for k in FUNCTION_MEASURES
        if any(m[k] for m in ms)}} for name, ms in sorted(by.items())}


def mix_seconds(lat: dict, mix: dict) -> float:
    """Time of one pass of the operation mix: each kind's median latency
    times its count per pass."""
    return sum(n * statistics.median(lat[k]) for k, n in mix.items()
               if k in lat)


def traced_block(block: int, seed: int) -> bool:
    """Whether block ``block`` of a traced run is traced: blocks go
    untraced, traced, traced, untraced (ABBA) and repeat, so drift over
    the run cancels out of the tracing overhead; odd seeds swap the two
    sides, so a run with two blocks leads with either one."""
    return ((block + 1) // 2 % 2 == 1) != (seed % 2 == 1)


def layer_metrics(tracer, ops, mix: dict, sc) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run, and the per-function
    breakdown. Reads jobs and stages from the REST API, after the timed
    work. The traced passes make whole mix cycles, so their mean is one
    pass with compactions and appends amortised as in ``pass_s``."""
    from perfbench.spans import attribute, fetch_jobs_and_stages
    from perfbench.workloads import latencies

    jobs, stages = fetch_jobs_and_stages(sc)
    measures = attribute(tracer.spans, jobs, stages)
    per_pass = []
    for ps in tracer.spans:
        if ps.name == "bench.pass":
            calls = [s for s in tracer.spans if s.parent == ps.sid]
            per_pass.append({
                **{m: sum(measures[c.sid][m] for c in calls)
                   for m in ENGINE_MEASURES},
                "self_s": measures[ps.sid]["self_s"]})
    session = next(s for s in tracer.spans if s.name == "session.get_spark")
    metrics = {
        "session.get_spark.wall_s": session.end - session.start,
        **{f"engine.pass.{m}": statistics.mean(p[m] for p in per_pass)
           for m in ENGINE_MEASURES},
        "bench.pass.self_s": statistics.mean(p["self_s"] for p in per_pass),
        "bench.trace.overhead_s": mix_seconds(latencies(ops, True), mix)
        - mix_seconds(latencies(ops, False), mix),
    }
    return metrics, measures


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bodo_spark", "session.py")):
        print(f"engine package bodo_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, latencies

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        prepare_env(work)
        tracer = Tracer(enabled=bool(args.trace))
        from bodo_spark.session import get_spark
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench_{args.workload}")
        tracer.sc = spark.sparkContext
        ctx = Ctx(spark, args.seed, work, tracer)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.time() - t_start

        # a traced run needs an untraced and a traced block of one cycle
        min_passes = max(wl.passes, wl.cycle * (1 + args.trace))
        t_measure = time.time()
        pass_no = 0
        while (pass_no < min_passes
               or time.time() - t_measure < args.seconds
               or pass_no % wl.cycle):
            tracer.enabled = bool(args.trace) and traced_block(
                pass_no // wl.cycle, args.seed)
            with tracer.span("bench.pass"):
                wl.run_pass(ctx, pass_no)
            pass_no += 1
        tracer.enabled = bool(args.trace)
        wm = wl.finish(ctx)
        rss = peak_rss_mb()

        ops = ctx.ops
        attempted = len(ops)
        failed = sum(not o.ok for o in ops)
        pass_s = mix_seconds(latencies(ops), wl.mix)
        wm.update(setup_s=setup_s, pass_s=pass_s,
                  failed_frac=failed / attempted, peak_rss_mb=rss)

        if args.trace:
            metrics, measures = layer_metrics(tracer, ops, wl.mix,
                                              spark.sparkContext)
            units = PER_LAYER
            tracer.write(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-{args.seed}.json"), measures)
            print(json.dumps({"per_function": per_function(
                tracer.spans, measures)}), flush=True)
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "ok_frac": (attempted - failed) / attempted,
            }
            units = END_TO_END
        print(json.dumps({"workload_metrics": wm}), flush=True)
        stop_spark(spark)
        spark = None
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}), flush=True)
        return 0
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
