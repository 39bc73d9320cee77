"""Benchmark of the lakehouse analytics engine: three workloads, verified
outputs, end-to-end metrics and a traced run for per-layer metrics
(see README.md).

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 1

Run from the repository root. Each workload runs as one closed-loop
client in its own process (`client.py`), in a fresh temporary directory
under `.perfbench_work/` that holds its inputs, Spark warehouse, local
and temp dirs, and is removed afterwards.

Output: a report (environment stamp, every metric by name and unit, any
failed operation), then as the last line one JSON object
`{"correct", "attempted", "failed", "metrics"}` holding the
`end_to_end` metrics of BENCHMARK.json with `--trace 0`, and its
`per_layer` metrics with `--trace 1`. With `--trace 1` the spans are
written to `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "local_datalakehouse_phase2_spark"
WORKLOADS = ("analytics", "llm_corpus", "lakehouse_rw")
# The client's driver heap, which starts at this size (client.py). A heap
# left to grow reached a different size in each run, and peak_rss_mb and
# the latencies spread with it; at 1 GB the heap is tight for these workloads.
DRIVER_MEM = "2g"
# Time a client may take besides its steady passes: interpreter and JVM
# start, inputs, cold pass, the pass running when --seconds runs out.
CLIENT_FIXED_S = 120


def host_state() -> dict:
    """Load average and the time of a fixed pure-Python loop: a slow
    host shows in the loop time even when the load average is that of
    other machines' guests."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return {"loadavg": load, "loop_s": time.perf_counter() - t0}


def env_stamp(nproc: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                                timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
    }


def session_members(sid: int) -> list[int]:
    """Processes in session `sid`: the client's JVM and Python workers."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:  # fields after comm: state ppid pgrp session
            pids.append(int(entry))
    return pids


def stop_client(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the client's session once the client has
    exited (or timed out) and wait until every member has ended. The
    client has written its result by then, so nothing needs an orderly stop."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    deadline = time.monotonic() + 30
    while (pids := session_members(proc.pid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_client(work: str, args, nproc: int) -> dict:
    """The workload's client process, in `work`; returns its result JSON."""
    out, log_path = os.path.join(work, "client.json"), os.path.join(work, "client.log")
    env = dict(os.environ)
    env.update({
        # the engine package must be importable by Spark's Python workers too
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    cmd = [sys.executable, os.path.join(HERE, "client.py"), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--nproc", str(nproc), "--out", out,
           "--spans-dir", os.path.join(ROOT, ".perfbench_out")]
    cmd += [flag for flag, on in (("--small", args.small), ("--corrupt", args.corrupt)) if on]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--t0", repr(time.time())], cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=CLIENT_FIXED_S + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_client(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"client exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def run_workload(args, nproc: int) -> dict:
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(work, sub))
        before = host_state()
        result = run_client(work, args, nproc)
        result["detail"]["client_exit_s"] = time.time() - os.path.getmtime(os.path.join(work, "client.json"))
        result["host_before"], result["host_after"] = before, host_state()
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum steady-state time per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="shrunken inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one expected result, for the self-test")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the cleanup that stops the client and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    stamp = env_stamp(nproc)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        args.workload = name
        t_run = time.perf_counter()
        try:
            result = run_workload(args, nproc)
        except (RuntimeError, OSError, KeyError, ValueError) as e:
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            return 1
        report = {"workload": name, "seed": args.seed, "trace": args.trace, "env": stamp,
                  "host_before": result["host_before"], "host_after": result["host_after"], **result["detail"],
                  "attempted": result["attempted"], "failed": result["failed"],
                  "failed_ratio": result["failed"] / result["attempted"],
                  "run_wall_s": time.perf_counter() - t_run, "metrics": result["metrics"],
                  "failures": result["failures"]}
        print(json.dumps(report))
        for m in declared:
            print(f"  {name:12s} {m['name']:32s} {result['metrics'].get(m['name'], 0.0):>14.6g} {m['unit']}")
        for key in ("commit_small_p50_s", "write_s", "read_s", "write_amp", "space_amp"):
            if key in result["metrics"] and not any(m["name"] == key for m in declared):
                print(f"  {name:12s} {key:32s} {result['metrics'][key]:>14.6g}")
        for line in result["failures"]:
            print(f"  FAILED {line}")
        summary["correct"] &= result["failed"] == 0
        summary["attempted"] += result["attempted"]
        summary["failed"] += result["failed"]
        prefix = "" if len(names) == 1 else f"{name}."
        for m in declared:
            summary["metrics"][prefix + m["name"]] = {"value": result["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
