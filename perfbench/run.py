#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 20 --trace 0

Builds what the run needs on first use (the generated tables and the oracle
answers, both cached under perfbench/_work/), then starts the engine's driver
process (perfbench/client.py) on local[nproc] with per-run scratch, temp,
Spark-local and warehouse directories, samples the resident memory of its
whole process group, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run (spans go to perfbench/_work/traces/).
The line before it carries the run's context: session sizing, machine load
and CPU pressure before and after, the tail percentile and its sample count,
per-op medians, and for a traced run its overhead against the last untraced
run of the same workload in this checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, ROOT)

from perfbench import datagen, expected  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Engine process budget: the run is abandoned (and reports nothing) past it.
CHILD_TIMEOUT_S = 150
# Reading smaps_rollup walks the JVM's page tables under its mmap lock, so
# memory is sampled at a rate that cannot slow the engine it measures.
RSS_SAMPLE_S = 0.5

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_min": "1/min",
    "ok_frac": "fraction",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_tables_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plan.optimize_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "scan.files_read": "count",
    "scan.bytes_read": "bytes",
    "scan.rows_out": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.records_written": "count",
    "broadcast.bytes": "bytes",
    "spill.bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.rows_returned": "count",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.layout_bytes": "bytes",
    "streaming.batches": "count",
    "jvm.gc_s": "s",
    "driver.cpu_s": "s",
    "traced.ops_per_min": "1/min",
}


def machine_load() -> dict:
    """1-minute load average, CPU time stolen by the hypervisor so far, and
    CPU pressure (PSI) when the kernel has it."""
    out: dict = {"loadavg_1m": os.getloadavg()[0]}
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    out["steal_s_total"] = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    for path in ("/sys/fs/cgroup/cpu.pressure", "/proc/pressure/cpu"):
        try:
            with open(path) as fh:
                some = next(line for line in fh if line.startswith("some"))
        except (OSError, StopIteration):
            continue
        kv = dict(p.split("=") for p in some.split()[1:])
        out["cpu_some_avg10"] = float(kv["avg10"])
        out["cpu_some_avg60"] = float(kv["avg60"])
        break
    return out


def session_size() -> dict[str, str]:
    """SPARK_GRAFT_CPUS from the CPUs this process may use, and a driver heap
    of a quarter of physical memory, capped at 1 GiB.  The inputs are small;
    a heap the warm-up already fills keeps peak RSS comparable across runs,
    where a larger one grows by however much the GC timing of that run asks."""
    cpus = len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    mem_mb = max(256, min(1024, total_mb // 4))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m"}


def group_procs(pgid: int) -> dict[int, tuple[int, str]]:
    """(parent pid, command name) of every live process in a process group."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                out[int(pid)] = (int(fields[1]), stat[stat.index("(") + 1:stat.rindex(")")])
        except (OSError, ValueError, IndexError):
            continue
    return out


def group_pss_mb(pgid: int) -> float:
    """Proportional resident memory of a process group: pages shared between
    its processes (forked Python workers) are split, not counted per process.
    A child of the JVM still running the JVM image is a spawn that has not
    exec'd yet and shares the JVM's memory, so it is skipped."""
    procs = group_procs(pgid)
    total_kb = 0
    for pid, (ppid, comm) in procs.items():
        if comm == "java" and procs.get(ppid, (0, ""))[1] == "java":
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


def run_engine(cmd: list[str], env: dict[str, str]) -> tuple[int, list[tuple[float, float]]]:
    """Run the client in its own process group; return its exit code and
    (wall time, resident MB of the group) samples.  The whole group (JVM,
    Python workers) is stopped and waited for."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=sys.stderr, stderr=sys.stderr)
    rss = []
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    try:
        while proc.poll() is None:
            rss.append((time.time(), group_pss_mb(proc.pid)))
            if time.monotonic() > deadline:
                print(f"engine process exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
                break
            time.sleep(RSS_SAMPLE_S)
    finally:
        # after a clean exit the JVM shuts itself down once its gateway
        # closes; give it that chance before signalling the group
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            for pid in group_procs(proc.pid) if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            if _group_gone(proc, timeout=10):
                break
        code = proc.wait()
    return code, rss


def window_peak_mb(rss: list[tuple[float, float]], passes: list[list[float]]) -> float:
    """Peak of the memory samples taken during the timed passes."""
    start, end = passes[0][0], passes[-1][1]
    return max((mb for t, mb in rss if start <= t <= end), default=0.0)


def _group_gone(proc: subprocess.Popen, timeout: float) -> bool:
    end = time.monotonic() + timeout
    while group_procs(proc.pid):
        proc.poll()  # reap the client so it cannot linger as a zombie
        if time.monotonic() > end:
            return False
        time.sleep(0.05)
    return True


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine in {ROOT}: __spark_entry__.py is missing", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    data_dir = datagen.generate(os.path.join(WORK, "data", f"sf{wl.sf}"), wl.sf)
    answers = expected.load_or_compute(wl.ops, data_dir, os.path.join(WORK, "expected"), ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "jvm")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    sizing = session_size()
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PREBUILT_LAYOUTS", None)
    env.update(sizing)
    env.update({
        # the JVM and every Python worker it forks import the engine from here
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        # the JVM's own temp files (extracted native libraries) stay apart
        # from TMPDIR, so TMPDIR holds only what the engine writes there
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvm']} -XX:+PerfDisableSharedMem",
    })
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    cmd = [sys.executable, "-u", "-m", "perfbench.client",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--expected", answers, "--result", result_path,
           "--spans", spans_path if args.trace else "",
           "--scratch", dirs["tmp"], dirs["warehouse"]]
    load_before = machine_load()
    try:
        spawn = time.time()
        code, rss = run_engine(cmd + ["--spawn-time", repr(spawn)], env)
        load_after = machine_load()
        if code != 0 or not os.path.exists(result_path):
            print(f"engine process failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "sf": wl.sf, "sizing": sizing,
            "run_peak_rss_mb": max((mb for _, mb in rss), default=0.0),
            "load_before": load_before, "load_after": load_after,
            **{k: res[k] for k in ("setup_s", "window_s", "pass_s", "failed_frac", "tail_pct",
                                   "samples", "per_op_median_s", "errors")}}
    last_untraced = os.path.join(WORK, f"last-untraced-{args.workload}.json")
    if args.trace:
        metrics = dict(res["layers"], **{"traced.ops_per_min": res["ops_per_min"]})
        info["layers_not_in_result"] = {k: v for k, v in metrics.items() if k not in PER_LAYER}
        info["spans_file"] = os.path.relpath(spans_path, ROOT)
        if os.path.exists(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)["ops_per_min"]
            info["tracing_overhead"] = {"untraced_ops_per_min": base,
                                        "traced_ops_per_min": res["ops_per_min"],
                                        "slowdown_frac": 1 - res["ops_per_min"] / base}
        report = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        with open(last_untraced, "w") as fh:
            json.dump({"ops_per_min": res["ops_per_min"]}, fh)
        values = dict(res, peak_rss_mb=window_peak_mb(rss, res["pass_bounds"]))
        report = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(info))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
