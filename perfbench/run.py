"""sparkwrangle benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload {backtest,curation,queries} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It generates the workload's inputs from
the seed (cached per seed under ``.perfbench_cache/``), starts the timed
process (``worker.py``) with a pinned environment, samples the resident
memory of that process tree, and prints as its last line one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1``
they are the per-layer ones. The lines before it record the environment,
the input sizes and the figures that are not gated (error rate, the tail
percentile, warm-up length).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

from worker import steal_s

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("backtest", "curation", "queries")
CACHE = ".perfbench_cache"
RUN_TIMEOUT_S = 170.0

# Heap of the driver JVM, pinned (initial = maximum, see worker.py) so that
# neither memory use nor GC behaviour follows the host's RAM or the JVM's
# heap-resizing decisions from run to run.
DRIVER_MEM = "2g"


def task_slots() -> int:
    """Spark task slots for the run: fixed at 2 so plan shape (shuffle
    partitions derive from it) does not depend on the host, and kept
    well below the host's core count so the driver, the JIT and GC
    threads, the Python workers and the memory sampler run beside the
    tasks instead of delaying them. On a shared 4-core host, ops were no
    slower with 2 slots than with 3, and runs spread less."""
    nproc = len(os.sched_getaffinity(0))
    return max(1, min(2, nproc - 1))


def tree_rss_kb(root_pid: int, seen: set) -> tuple[int, set]:
    """Resident memory of ``root_pid`` and its descendants (the driver JVM
    and the Python worker daemons are both under the worker) that were
    already alive at the previous sample, whose processes are ``seen``;
    returned with the processes alive now.

    A process the JVM spawns starts as a child that shares the JVM's memory
    until it execs; read in that instant it would count the JVM's resident
    memory twice (one run read 5.5 GB against ~2.9 GB). Counting only
    processes seen in two samples 100 ms apart leaves such children out."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    alive = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2 :].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            if (pid, fields[19]) in seen:  # (pid, start time)
                rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            alive.add((pid, fields[19]))
        except (OSError, ValueError, IndexError):
            continue
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total, alive


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once per seed) in a separate process; return the input
    directory and the recorded input sizes."""
    d = os.path.join(CACHE, "inputs", f"{workload}-{seed}")
    sizes = os.path.join(d, "sizes.json")
    if not os.path.exists(sizes):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), tmp],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(sizes) as f:
        return os.path.abspath(d), json.load(f)


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process in the worker's process group (the driver JVM and
    the Python worker daemons are not children of this process) and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        try:
            os.killpg(proc.pid, sig)
            while time.time() < deadline:
                proc.poll()  # reap the worker, or it stays in the group
                os.killpg(proc.pid, 0)
                time.sleep(0.1)
        except ProcessLookupError:
            break
    proc.wait()


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least ten samples above it."""
    n = len(values)
    if n < 11:
        return None, None
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("sparkwrangle/__init__.py", "tests/pandas_oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from a sparkwrangle checkout", file=sys.stderr)
            return 2

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load0, steal0 = os.getloadavg(), steal_s()
    t0 = time.time()
    data, sizes = inputs(a.workload, a.seed)

    work = os.path.abspath(os.path.join(CACHE, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    slots = task_slots()
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import sparkwrangle whatever their working directory
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    cfg = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "repo": root,
        "data": data,
        "work": work,
        "tmp": os.path.join(work, "tmp"),
        "spark_local": os.path.join(work, "spark-local"),
        "result": os.path.join(work, "result.json"),
    }
    cfg_path = os.path.join(work, "config.json")
    # setup_s counts from here: the worker's interpreter start is part of it
    t_launch = cfg["t0"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak_kb, seen = 0, set()
        try:
            while proc.poll() is None:
                kb, seen = tree_rss_kb(proc.pid, seen)
                peak_kb = max(peak_kb, kb)
                if time.time() - t_launch > RUN_TIMEOUT_S:
                    break
                time.sleep(0.1)
        finally:
            stop_group(proc)
    load1, steal1 = os.getloadavg(), steal_s()

    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(os.path.join(work, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(cfg["result"]) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    walls = res["walls"]
    if not walls:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    tail_s, tail_pct = tail(walls)
    info = {
        "workload": a.workload,
        "seed": a.seed,
        "inputs": sizes,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "task_slots": slots,
            "python": platform.python_version(),
            "spark": res["versions"]["spark"],
            "java": res["versions"]["java"],
            "loadavg_start": load0,
            "loadavg_end": load1,
            "cpu_steal_s": steal1 - steal0,
        },
        "warm_ops": res["warm_ops"],
        "warm_walls": [round(w, 3) for w in res["warm_walls"]],
        "leveled": res["leveled"],
        "timed_walls": [round(w, 3) for w in res["all_walls"]],
        "steal_shares": [round(x, 3) for x in res["steal_shares"]],
        "kept_ops": len(walls),
        "error_rate": res["failed"] / res["attempted"],
        "op_tail_s": tail_s,
        "op_tail_pct": tail_pct,
        "run_wall_s": time.time() - t0,
    }
    if a.trace:
        # per-layer figures are means per traced op: a layer that only some
        # ops use (eager jobs, Python stages) still shows in the mean
        values = {k: statistics.fmean(v) for k, v in res["layers"].items()}
        values["trace.op_p50_s"] = statistics.median(walls)
        values["trace.overhead_s"] = statistics.median(walls) - statistics.median(
            res["plain_walls"]
        )
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(walls),
            # closed loop, one client: the kept ops' summed wall time is the
            # loop time they took
            "ops_per_min": 60.0 * len(walls) / sum(walls),
            "peak_rss_mb": peak_kb / 1024.0,
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.pop(m["name"]), "unit": m["unit"]} for m in wanted}
    info["not_gated"] = values
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
