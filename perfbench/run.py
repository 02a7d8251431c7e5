"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source tree. One process is one closed-loop client:
it writes the workload's inputs from ``--seed`` under ``.perfbench_work/``,
sets up once (launches the JVM, starts a Spark session ``local[<cores>]``
with a driver heap sized to the machine, and runs the workload's warm-up
passes), checks correctness outside the timed region, then runs timed
iterations for ``--seconds`` and checks the outputs again.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
(``setup_s``, ``iter_s``); with ``--trace 1`` the timed loop is followed by
two traced iterations, whose per-layer metrics are reported instead. The
line before it is a report with every phase metric (median, quartiles and
sample count), the error rate, the environment, the share of the machine's
CPU time its hypervisor took during the timed loop (steal: it slows the
loop without any change in the program), the tracing overhead and, when
traced, any count that did not repeat between the two traced iterations.
The exit code is non-zero when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TRACED_ITERATIONS = 2


def _env(work: str) -> dict:
    """Session sizing and scratch locations; must be set before pyspark or
    dbt_spark is imported (both read them at import or session start)."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # keep the JVM's temp files and perf data inside the work tree
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {"cores": cores, "ram_gb": round(ram_gb, 1), "heap": f"{heap_gb}g"}


def _source_id() -> str:
    """The commit of the source tree, or "unknown" outside a git checkout."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown"
    return lines[1]


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) CPU time of the machine from /proc/stat, if any."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _steal_share(before, after) -> float | None:
    """Share of the machine's CPU time taken by its hypervisor in between."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _quartiles(values: list[float]) -> dict:
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def _stop_jvm() -> None:
    """Stop the session, if one was started, and the JVM gateway process,
    and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timed_loop(wl, seconds: float) -> tuple[list[float], dict[str, list[float]]]:
    """Start iterations until ``seconds`` have passed; the last one runs to
    its end."""
    walls, phases = [], {}
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        ph = wl.iterate()
        walls.append(time.perf_counter() - t0)
        for k, v in ph.items():
            phases.setdefault(k, []).append(v)
    return walls, phases


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dbt_spark")):
        print(f"no dbt_spark package under {ROOT}: run from a source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _env(work)
    out = sys.stdout
    sys.stdout = sys.stderr  # library chatter must not follow the result line
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse/ and friends land in the work tree
    try:
        report, result = _run(args, work, env, workloads)
    finally:
        _stop_jvm()
        os.chdir(cwd)
        sys.stdout = out
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, separators=(",", ":"), default=str))
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] else 1


def _run(args, work: str, env: dict, workloads):
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cls = workloads.WORKLOADS[args.workload]
    data_dir = workloads.make_inputs(work, args.seed)
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    wl = cls(work, data_dir, args.seed)
    wl.prepare()

    from dbt_spark.session import get_spark

    t0 = time.perf_counter()
    spark = wl.spark = get_spark("perfbench")  # launches the JVM
    started = time.perf_counter()
    wl.warm()
    warmed = time.perf_counter()
    setup_s, start_s = warmed - t0, started - t0
    wl.check(final=False)
    jiffies = _cpu_jiffies()
    walls, phases = _timed_loop(wl, args.seconds)
    steal = _steal_share(jiffies, _cpu_jiffies())
    iter_s = wl.iter_value(walls)
    wl.check(final=True)

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    report = {
        "workload": args.workload, "seed": args.seed, "sf": workloads.SF,
        "seconds": args.seconds, "threads": workloads.THREADS, **env,
        "source": _source_id(),
        "setup_s": setup_s, "session_start_s": start_s,
        "warmup_s": warmed - started,
        "cpu_steal_share": steal,
        "iter_s": iter_s, "iterations_s": {**_quartiles(walls), "each": walls},
        "phases": {k: {**_quartiles(v), "unit": "s"} for k, v in phases.items()},
        "peak_rss_mb": _hwm_mb(jvm_pid) + _hwm_mb("self"),
        "attempted": wl.attempted, "failed": wl.failed,
        "error_rate": wl.failed / max(1, wl.attempted),
        "problems": wl.problems, **wl.notes,
    }
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "iter_s": {"value": iter_s, "unit": "s"},
    }
    if args.trace:
        from perfbench import layers

        traced = layers.traced_iterations(wl, TRACED_ITERATIONS, start_s)
        report["trace_overhead_s"] = {
            "iter_s": statistics.median(traced["walls"]) - statistics.median(walls),
            **{k: statistics.median(v) - statistics.median(phases[k])
               for k, v in traced["phases"].items()},
        }
        report["counts_not_repeating"] = traced["unstable"]
        spans = os.path.join(".perfbench_work", f"spans-{args.workload}-seed{args.seed}.jsonl")
        traced["tracer"].dump(os.path.join(ROOT, spans))
        report["spans"] = spans
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in traced["metrics"].items()}
    result = {"correct": wl.failed == 0, "attempted": wl.attempted,
              "failed": wl.failed, "metrics": metrics}
    return report, result


if __name__ == "__main__":
    sys.exit(main())
