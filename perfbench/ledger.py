"""Per-layer ledger of a traced run, read from Spark's own bookkeeping.

Nothing here is inside the package under test.  The ledger reads:

- job groups (``setJobGroup``, set by the worker per query and per
  phase) through ``sc.statusTracker()``, and each job's interval and
  stages from the status store (``statusStore().job`` and
  ``lastStageAttempt``);
- Catalyst phase intervals (analysis, optimization, planning) of every
  executed ``QueryExecution``, from a ``QueryExecutionListener``
  implemented in Python over the Py4J callback server;
- the whole-stage codegen compile count (``CodegenMetrics``) and compile
  time (``CodeGenerator.compileTime``), read at query boundaries;
- Python-worker metrics from the SQL status store, per SQL execution;
- calls of ``tables.load_table``, timed by wrapping it.

Wall-time attribution: every instant of a query's window goes to the
first layer in this order that covers it: ``jobs`` (any job of the query
running), ``tables`` (a table load), ``plan`` (a Catalyst phase).  The
remaining driver time is given to ``codegen`` up to the measured compile
time, then to ``construct`` (inside the builder call) or
``unattributed`` (inside the sink call).  The shares therefore add up to
the window exactly; compile time has no interval of its own, so its
share is an upper-bounded estimate.
"""

from __future__ import annotations

import re
import sys
import time
from collections import defaultdict

SHARES = ("jobs", "tables", "plan", "codegen", "construct", "unattributed")

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

#: metrics a query without stages, Catalyst phases or Python workers lacks
_ZERO_KEYS = (
    "sched.stages", "sched.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.task_gc_s", "exec.task_deser_s", "sources.input_bytes",
    "sources.output_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
    "exec.spill_bytes", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", *_PY_METRICS.values(),
)


def _parse_metric(text: str) -> float:
    """Total of a SQL-store metric string: '12 ms' or 'total (...)\\n1.2 s (...)'."""
    m = re.match(r"\s*([0-9.]+)\s*([A-Za-z]+)", text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _union(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(spans, cut) -> list[tuple[float, float]]:
    out = []
    for a, b in spans:
        pieces = [(a, b)]
        for c, d in cut:
            pieces = [
                p for x, y in pieces for p in ((x, min(y, c)), (max(x, d), y)) if p[1] > p[0]
            ]
        out.extend(pieces)
    return out


def _length(spans) -> float:
    return sum(b - a for a, b in spans)


class _PhaseListener:
    """QueryExecutionListener collecting Catalyst phase intervals (epoch s)."""

    def __init__(self) -> None:
        self.phases: list[tuple[str, float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        try:
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                s = kv._2()
                self.phases.append((kv._1(), s.startTimeMs() / 1e3, s.endTimeMs() / 1e3))
        except Exception as exc:  # a listener must never fail the query
            print(f"perfbench: phase listener: {exc!r}", file=sys.stderr)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Ledger:
    """Traces one session: ``begin``/``sink``/``end`` around each query,
    ``summarize`` after each pass."""

    def __init__(self, spark, tables_module) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.cores = self._sc.defaultParallelism
        ensure_callback_server_started(self._sc._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._tables = tables_module
        self._orig_load = tables_module.load_table
        self._loads: list[tuple[float, float]] = []

        def timed_load(*args, **kwargs):
            t0 = time.time()
            try:
                return self._orig_load(*args, **kwargs)
            finally:
                self._loads.append((t0, time.time()))

        tables_module.load_table = timed_load
        self._pending: list[dict] = []
        self._seen_stages: set[int] = set()

    def close(self) -> None:
        self._tables.load_table = self._orig_load
        self._spark._jsparkSession.listenerManager().unregister(self._listener)

    def _codegen_now(self) -> tuple[int, int]:
        return self._compiles.getCount(), self._codegen.compileTime()

    def begin(self, pass_name: str, name: str) -> dict:
        q = {"pass": pass_name, "name": name, "codegen0": self._codegen_now()}
        q["t0"] = time.time()
        return q

    def sink(self, q: dict) -> None:
        q["t_sink"] = time.time()

    def end(self, q: dict) -> None:
        q["t1"] = time.time()
        q.setdefault("t_sink", q["t1"])
        q["codegen1"] = self._codegen_now()
        self._pending.append(q)

    def pins(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    # ---- reading the stores after a pass -------------------------------

    def _jobs(self, group: str) -> list[dict]:
        jobs = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1e3
            t1 = done.get().getTime() / 1e3 if done.isDefined() else t0
            it = jd.stageIds().iterator()
            stages = []
            while it.hasNext():
                stages.append(it.next())
            jobs.append({"id": jid, "t0": t0, "t1": t1, "stages": stages})
        return jobs

    def _stage_metrics(self, stage_ids, out: dict) -> None:
        for sid in stage_ids:
            if sid in self._seen_stages:
                continue
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: never submitted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            out["sched.stages"] += 1
            out["sched.tasks"] += s.numTasks()
            out["exec.task_run_s"] += s.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.task_gc_s"] += s.jvmGcTime() / 1e3
            out["exec.task_deser_s"] += s.executorDeserializeTime() / 1e3
            out["sources.input_bytes"] += s.inputBytes()
            out["sources.output_bytes"] += s.outputBytes()
            out["shuffle.write_bytes"] += s.shuffleWriteBytes()
            out["shuffle.read_bytes"] += s.shuffleReadBytes()
            out["exec.spill_bytes"] += s.diskBytesSpilled()

    def _python_metrics(self, job_owner: dict[int, dict]) -> None:
        it = self._sql_store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keys().iterator()
            owner = None
            while jobs.hasNext() and owner is None:
                owner = job_owner.get(jobs.next())
            if owner is None:
                continue
            values = None
            mi = ex.metrics().iterator()
            while mi.hasNext():
                pm = mi.next()
                key = _PY_METRICS.get(pm.name())
                if key is None:
                    continue
                if values is None:
                    values = self._sql_store.executionMetrics(ex.executionId())
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    owner[key] += _parse_metric(v.get())

    def summarize(self) -> list[dict]:
        """Ledgers (metrics + wall-time shares) of the queries ended since
        the last call, in run order.  Call it after every pass: the status
        store keeps only the most recent 1000 jobs and stages."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_owner: dict[int, dict] = {}
        ledgers = []
        queries, self._pending = self._pending, []
        for q in queries:
            m: dict = defaultdict(float)
            build = self._jobs(f"{q['pass']}/{q['name']}/build")
            sink = self._jobs(f"{q['pass']}/{q['name']}/sink")
            for j in build + sink:
                job_owner[j["id"]] = m
                self._stage_metrics(j["stages"], m)
            lo, hi, mid = q["t0"], q["t1"], q["t_sink"]
            wall = hi - lo
            m["wall_s"] = wall
            m["queries.construct_s"] = mid - lo
            m["queries.construct_jobs"] = len(build)
            m["sched.jobs"] = len(build) + len(sink)
            jobs = _union([(j["t0"], j["t1"]) for j in build + sink], lo, hi)
            m["sched.driver_gap_s"] = wall - _length(jobs)
            loads = [(a, b) for a, b in self._loads if lo <= a <= hi]
            m["tables.load_calls"] = len(loads)
            m["tables.load_s"] = sum(b - a for a, b in loads)
            phases = [(kind, a, b) for kind, a, b in self._listener.phases if lo <= a <= hi]
            for kind, a, b in phases:
                m[f"plan.{kind}_s"] += b - a
            n0, c0 = q["codegen0"]
            n1, c1 = q["codegen1"]
            m["codegen.compiles"] = n1 - n0
            m["codegen.compile_s"] = (c1 - c0) / 1e9
            # wall-time attribution, see the module docstring
            tables = _minus(_union(loads, lo, hi), jobs)
            plan = _minus(_minus(_union([(a, b) for _, a, b in phases], lo, hi), jobs), tables)
            rest = _minus(_minus(_minus([(lo, hi)], jobs), tables), plan)
            rest_build = _length(_union(rest, lo, mid))
            rest_sink = _length(_union(rest, mid, hi))
            codegen = min(m["codegen.compile_s"], rest_build + rest_sink)
            from_sink = min(codegen, rest_sink)
            share = {
                "jobs": _length(jobs),
                "tables": _length(tables),
                "plan": _length(plan),
                "codegen": codegen,
                "construct": rest_build - (codegen - from_sink),
                "unattributed": rest_sink - from_sink,
            }
            for k, v in share.items():
                m[f"share.{k}"] = v / wall if wall > 0 else 0.0
            ledgers.append({"pass": q["pass"], "name": q["name"], "metrics": m})
        self._python_metrics(job_owner)
        for led in ledgers:
            for k in _ZERO_KEYS:
                led["metrics"].setdefault(k, 0.0)
            led["metrics"] = dict(led["metrics"])
        return ledgers


def pass_totals(ledgers: list[dict], cores: int, pass_wall: float) -> dict:
    """Sum per-query ledgers of one pass; shares are re-based on pass wall time."""
    tot: dict = defaultdict(float)
    for led in ledgers:
        for k, v in led["metrics"].items():
            if k.startswith("share."):
                tot[k] += v * led["metrics"]["wall_s"]
            else:
                tot[k] += v
    # time between queries of the pass (loop bookkeeping) is unattributed
    tot["share.unattributed"] += pass_wall - tot["wall_s"]
    tot["sched.driver_gap_s"] += pass_wall - tot["wall_s"]
    tot["wall_s"] = pass_wall
    for k in SHARES:
        tot[f"share.{k}"] /= pass_wall
    run = tot["exec.task_run_s"]
    tot["exec.cpu_frac"] = tot["exec.task_cpu_s"] / run if run else 0.0
    tot["exec.core_util"] = run / (pass_wall * cores)
    return dict(tot)
