"""The timed process of one benchmark run (started by ``run.py``).

    python3 perfbench/worker.py <config.json>

It starts the session, loads the inputs, warms up with a fixed number of
ops, runs ops in a closed loop until the ops it keeps (those little slowed
by CPU steal, see STEAL_MAX) add up to the configured number of seconds,
checks the outputs against the workload's oracle, and writes its
measurements to the result path named in the config. In the traced run every other timed op is
traced, so the tracing overhead is measured inside one process.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

# Warm-up runs a fixed number of ops per workload (``warm_ops``), so every
# run times ops at the same point of the JIT curve; WARMUP_CAP_S only bounds
# it on a slow host. Whether op time had levelled off by then (the median of
# the last ``level_window`` warm ops within LEVEL_TOL of the window before
# it) is reported with the result.
LEVEL_TOL = 0.08
WARMUP_CAP_S = 60.0

# On a shared host the hypervisor now and then gives this machine's CPUs to
# other guests for tens of seconds ("steal"); ops in such a stretch ran up
# to 2.5x slower. An op during which steal took more than STEAL_MAX of the
# machine's CPU time measured the neighbours, not the engine: it counts as
# attempted and its output is checked, but its wall time is left out of the
# timing metrics, and the loop runs on, to at most EXTEND_MAX times the
# configured seconds, until the kept ops add up to the configured seconds.
# At least half of the timed ops are kept, those with the least steal.
STEAL_MAX = 0.05
EXTEND_MAX = 1.25
NCPU = os.cpu_count() or 1


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def level_reached(times: list[float], window: int) -> bool:
    if len(times) < 2 * window:
        return False
    last = statistics.median(times[-window:])
    prev = statistics.median(times[-2 * window : -window])
    return abs(last / prev - 1.0) <= LEVEL_TOL


def kept(ops: list[tuple]) -> list[tuple]:
    """The ``(wall, steal share, layers)`` of the ops with little steal; if
    they are fewer than half of ``ops``, the half with the least steal."""
    quiet = [op for op in ops if op[1] <= STEAL_MAX]
    if 2 * len(quiet) >= len(ops):
        return quiet
    return sorted(ops, key=lambda op: op[1])[: (len(ops) + 1) // 2]


def main(cfg: dict) -> dict:
    t_start = cfg["t0"]
    from sparkwrangle.session import get_spark

    import workloads
    from spans import OpTrace, Tracer

    traced = bool(cfg["trace"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": cfg["spark_local"],
        "spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse"),
        # the pinned heap is committed and touched up front, so how much of
        # it is resident does not depend on when the collector ran
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        f" -XX:+AlwaysPreTouch -Djava.io.tmpdir={cfg['tmp']} -Dderby.system.home={cfg['work']}",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.sql.ui.retainedExecutions"] = "100000"

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    layers: dict[str, list[float]] = {"session.start_s": [time.perf_counter() - t0]}

    args = (spark, cfg["data"], cfg["seed"], cfg["repo"])
    if cfg["workload"] == "backtest":
        wl = workloads.Backtest(*args)
    elif cfg["workload"] == "curation":
        wl = workloads.Curation(*args, out_dir=os.path.join(cfg["work"], "out"))
    else:
        wl = workloads.Queries(*args)
    t0 = time.perf_counter()
    wl.load()
    layers["io.load_s"] = [time.perf_counter() - t0]

    slots = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(spark, slots) if traced else None
    null = workloads.NullTrace()

    def run_op(i: int, trace_it: bool):
        t = OpTrace(spark, f"op{i}") if trace_it else null
        st = steal_s()
        s = time.perf_counter()
        out = wl.op(i, t)
        wall = time.perf_counter() - s
        stolen = (steal_s() - st) / (wall * NCPU)
        return out, wall, stolen, (tracer.collect(t, wall) if trace_it else None)

    # warm-up: the same kind of ops, untraced (tracing adds no JVM code path
    # that needs warming; its read-back runs outside the op's wall time)
    t0 = time.perf_counter()
    warm: list[float] = []
    i = 0
    while len(warm) < wl.warm_ops and time.perf_counter() - t0 < WARMUP_CAP_S:
        warm.append(run_op(i, False)[1])
        i += 1
    layers["session.warmup_s"] = [time.perf_counter() - t0]
    t_loop = time.time()
    setup_s = t_loop - t_start

    # timed closed loop; ops[traced?] holds (wall, steal share, layers)
    ops: dict[bool, list[tuple]] = {True: [], False: []}
    outputs, failed = [], 0
    loop0 = time.perf_counter()
    hard_end = loop0 + EXTEND_MAX * cfg["seconds"]
    kept_s = 0.0
    n = 0
    # The loop ends on a round boundary (a whole pass over the query pool),
    # so every entry is run equally often; a traced run needs at least one
    # op of each kind for the overhead.
    while (
        (kept_s < cfg["seconds"] and time.perf_counter() < hard_end)
        or n % wl.round_ops
        or (traced and n < 2)
    ):
        trace_it = traced and n % 2 == 0
        try:
            out, wall, stolen, lay = run_op(i, trace_it)
            outputs.append(out)
            ops[trace_it].append((wall, stolen, lay))
            if stolen <= STEAL_MAX:
                kept_s += wall
        except Exception:
            traceback.print_exc()
            failed += 1
        i += 1
        n += 1

    ok = wl.check(outputs)
    failed += ok.count(False)
    versions = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    spark.stop()
    timed, plain = kept(ops[traced]), kept(ops[False])
    for _, _, lay in timed:
        for k, v in (lay or {}).items():
            layers.setdefault(k, []).append(v)
    return {
        "attempted": n,
        "failed": failed,
        "setup_s": setup_s,
        "warm_ops": len(warm),
        "warm_walls": warm,
        "leveled": level_reached(warm, wl.level_window),
        "walls": [w for w, _, _ in timed],
        "plain_walls": [w for w, _, _ in plain],
        "all_walls": [w for w, _, _ in ops[traced]],
        "steal_shares": [x for _, x, _ in ops[traced]],
        "layers": layers,
        "versions": versions,
    }


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    res = main(cfg)
    with open(cfg["result"], "w") as f:
        json.dump(res, f)
