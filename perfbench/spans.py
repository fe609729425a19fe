"""Per-layer tracing for the benchmark's traced run.

Everything here observes the engine from the outside: spans are timed
around the benchmark's own calls into each layer, Spark work is attributed
through job groups the benchmark sets, and the numbers come from Spark's
status store, each DataFrame's ``QueryExecution`` phase tracker and the SQL
metrics of its executed plan. Nothing inside ``sparkwrangle`` is touched.

One ``OpTrace`` is one op. Its phases are

* ``build``: the library calls that return DataFrames; jobs started here
  are eager build-time jobs (checkpoints, observations, samples);
* ``drain``: the actions that consume those DataFrames (collect, write).

Each phase runs under its own job group, so the op's jobs and stages can be
read back from the status store once the listener bus has caught up.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Python exec nodes whose SQL metrics carry the rows and bytes exchanged
# with Python workers (applyInPandas, pandas UDFs, mapInPandas).
PYTHON_NODES = ("FlatMapGroupsInPandas", "ArrowEvalPython", "MapInPandas", "BatchEvalPython")
CATALYST_PHASES = ("analysis", "optimization", "planning")

MB = 1024.0 * 1024.0


class OpTrace:
    """Spans of one op, filled in by the workload code."""

    def __init__(self, spark, op_id: str):
        self.sc = spark.sparkContext
        self.op_id = op_id
        self.spans: dict[str, float] = {}
        self.frames: list = []  # drained DataFrames, for Catalyst + SQL metrics

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; if ``group`` is given, run the block's Spark jobs
        under the job group ``<op_id>:<group>``."""
        if group is not None:
            self.sc.setJobGroup(f"{self.op_id}:{group}", f"perfbench {self.op_id} {group}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def drained(self, df):
        """Register a DataFrame whose action ran inside the drain span."""
        self.frames.append(df)
        return df


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Reads the per-op layer numbers back from the JVM after an op."""

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.slots = slots

    def _wait_jobs(self, groups: list[str], timeout: float = 30.0) -> dict[str, list[int]]:
        """Job ids per group, once every job of every group has ended in
        the status store (the listener bus is asynchronous)."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            ids = {g: list(tracker.getJobIdsForGroup(g)) for g in groups}
            infos = [tracker.getJobInfo(j) for js in ids.values() for j in js]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                return ids
            if time.monotonic() > deadline:
                return ids
            time.sleep(0.005)

    def _job(self, store, job_id: int):
        job = store.job(job_id)
        sub, end = _opt(job.submissionTime()), _opt(job.completionTime())
        dur = (end.getTime() - sub.getTime()) / 1000.0 if sub is not None and end is not None else 0.0
        return [int(s) for s in _seq(job.stageIds())], dur

    def collect(self, op: OpTrace, wall_s: float) -> dict[str, float]:
        store = self.jsc.statusStore()
        groups = {g: f"{op.op_id}:{g}" for g in ("build", "drain")}
        ids = self._wait_jobs(list(groups.values()))
        out: dict[str, float] = {}
        stage_ids: set[int] = set()
        eager_s = 0.0
        n_jobs = 0
        for g, full in groups.items():
            for j in ids[full]:
                stages, dur = self._job(store, j)
                stage_ids.update(stages)
                n_jobs += 1
                if g == "build":
                    eager_s += dur
        out["plan.build_s"] = op.spans.get("build", 0.0)
        out["plan.eager_jobs"] = float(len(ids[groups["build"]]))
        out["plan.eager_s"] = eager_s
        out["exec.drain_s"] = op.spans.get("drain", 0.0)
        out["exec.jobs"] = float(n_jobs)

        mb_to = mb_from = rows_to = 0.0
        cat = dict.fromkeys(CATALYST_PHASES, 0.0)
        for df in op.frames:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for p in CATALYST_PHASES:
                s = _opt(phases.get(p))
                if s is not None:
                    cat[p] += float(s.durationMs())
            for node in _plan_nodes(qe.executedPlan()):
                if node.nodeName() not in PYTHON_NODES:
                    continue
                metrics = node.metrics()
                mb_to += _metric(metrics, "pythonDataSent") / MB
                mb_from += _metric(metrics, "pythonDataReceived") / MB
                # rows handed to Python = rows the node's child produced
                for child in _seq(node.children()):
                    rows_to += _rows_out(child)
        for p in CATALYST_PHASES:
            out[f"catalyst.{p}_ms"] = cat[p]

        agg = dict.fromkeys(
            ("stages", "tasks", "run", "cpu", "gc", "sr", "sw", "spill", "out", "py_run"), 0.0
        )
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: its shuffle output was reused
                continue
            if str(st.status()) == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1000.0
            agg["stages"] += 1
            agg["tasks"] += st.numCompleteTasks()
            agg["run"] += run_s
            agg["cpu"] += st.executorCpuTime() / 1e9
            agg["gc"] += st.jvmGcTime() / 1000.0
            agg["sr"] += (st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()) / MB
            agg["sw"] += st.shuffleWriteBytes() / MB
            agg["spill"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            agg["out"] += st.outputBytes() / MB
            if _runs_python(store, sid):
                agg["py_run"] += run_s
        out["exec.stages"] = agg["stages"]
        out["exec.tasks"] = agg["tasks"]
        out["exec.run_s"] = agg["run"]
        out["exec.cpu_s"] = agg["cpu"]
        out["exec.gc_s"] = agg["gc"]
        out["exec.busy_frac"] = agg["run"] / (wall_s * self.slots) if wall_s > 0 else 0.0
        out["exec.shuffle_read_mb"] = agg["sr"]
        out["exec.shuffle_write_mb"] = agg["sw"]
        out["exec.spill_mb"] = agg["spill"]
        out["stateful.rows_to_python"] = rows_to
        out["stateful.mb_to_python"] = mb_to
        out["stateful.mb_from_python"] = mb_from
        out["stateful.stage_run_s"] = agg["py_run"]
        out["io.write_s"] = op.spans.get("io.write", 0.0)
        out["io.bytes_written_mb"] = agg["out"]
        return out


def _runs_python(store, stage_id: int) -> bool:
    """Whether a stage's RDD operation graph has a Python exec node scope
    (RDD scopes are named after the physical operators that made them)."""
    stack = [store.operationGraphForStage(stage_id).rootCluster()]
    while stack:
        c = stack.pop()
        if c.name().startswith(PYTHON_NODES):
            return True
        stack.extend(_seq(c.childClusters()))
    return False


def _metric(metrics, name: str) -> float:
    return float(metrics.apply(name).value()) if metrics.contains(name) else 0.0


def _rows_out(node) -> float:
    """Output rows of ``node``, looking through wrappers (AQE stage
    readers, exchanges) that carry no ``numOutputRows`` of their own."""
    metrics = node.metrics()
    if metrics.contains("numOutputRows"):
        return float(metrics.apply("numOutputRows").value())
    return sum(_rows_out(k) for k in _kids(node)[:1])


def _kids(node) -> list:
    """Children of a physical node, looking into AQE's final plan and its
    query stages (neither is a ``children()`` edge)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return _seq(node.children()) + _seq(node.subqueries())


def _plan_nodes(plan):
    """Every physical node of an executed plan."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_kids(node))
