"""Benchmark-side tracing: spans around calls into each layer, plus
Spark's own job, stage, SQL-execution and streaming records.

Nothing here changes the program. Wrappers are installed for the traced
passes only and removed afterwards; Spark-side records are read once,
after the run, from the status stores and two listeners. Spans stay in
memory until ``Tracer.report`` turns them into per-statement self times
and per-layer metrics.

Self time: each statement's wall interval is cut at every span
boundary; every piece goes to the active span of highest precedence
(``PRECEDENCE``), or to the statement root when no span covers it. The
pieces therefore partition the wall time, and a statement reconciles
when the time that escaped its interval (spans attributed to it that
ran outside it) plus, for a root that is not itself a layer, the
unattributed remainder stay within ``RECONCILE_TOL`` of its wall time.
"""

from __future__ import annotations

import bisect
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

RECONCILE_TOL = 0.10
# job and SQL-execution times come from the JVM clock in whole ms
CLOCK_SLACK_S = 0.002

PRECEDENCE = {
    "spark.jobs": 100,
    "streaming.trigger": 60,
    "catalyst.analysis": 50,
    "catalyst.optimization": 50,
    "catalyst.planning": 50,
    "dialect.rewrite": 40,
    "spark.execution": 35,
    "operators.barrier": 30,
    "sqlreorder.gate": 20,
    "engine.sql": 15,
    "operators.materialize": 12,
    "operators.construct": 10,
}

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
BARRIER_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")

PER_LAYER_UNITS = {
    "server.wire_s": "s",
    "server.result_rows": "count",
    "dialect.rewrite_s": "s",
    "sqlreorder.gate_s": "s",
    "sqlreorder.gate_jobs": "count",
    "sqlreorder.rewrite_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.barriers": "count",
    "operators.barrier_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.deserialize_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "python_udf.rows": "count",
    "python_udf.bytes": "B",
    "sources.input_bytes": "B",
    "sources.output_bytes": "B",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "storage.leaked_rdds": "count",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    stmt: int
    parent: str | None = None


@dataclass
class Statement:
    sid: int
    name: str
    start: float
    end: float = 0.0
    root: str = "statement"
    counters: dict = field(default_factory=dict)


def _seq(s) -> list:
    """A Scala Seq reached through py4j, as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(o) -> float | None:
    """Option[java.util.Date] -> epoch seconds."""
    return o.get().getTime() / 1000.0 if o.isDefined() else None


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_METRIC_RE = re.compile(r"^\s*([-0-9.,]+)\s*([KMGT]?i?B)?")


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric: the plain number of a sum metric
    ('1,234'), or the total of a size metric ('total (min, med, max)\\n
    12.3 KiB (...)')."""
    line = text.rsplit("\n", 1)[-1]
    m = _METRIC_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class Tracer:
    """Span store plus the Spark-side collectors for one traced window."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.statements: list[Statement] = []
        self.current: Statement | None = None
        self._lock = threading.Lock()
        self._restore: list = []
        self._qe_events: list = []
        self._stream_events: list = []
        self._qe_listener = None
        self._stream_listener = None
        self.rewrites = {"gated": 0, "rewritten": 0}
        self.t0 = time.time()
        self.t_end = None

    # ---- spans -------------------------------------------------------------

    def begin(self, sid: int, name: str, root: str) -> Statement:
        st = Statement(sid, name, time.time(), root=root)
        self.current = st
        self.statements.append(st)
        return st

    def end(self, st: Statement, **counters) -> None:
        st.end = time.time()
        st.counters.update(counters)
        self.current = None

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        st = self.current
        if st is None:
            return
        with self._lock:
            self.spans.append(Span(name, start, end, st.sid, parent))

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        t = time.time()
        try:
            yield
        finally:
            self.add(name, t, time.time(), parent)

    def _wrap(self, owner, attr: str, name: str, parent: str | None, after=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            t = time.time()
            try:
                out = orig(*a, **kw)
            finally:
                tracer.add(name, t, time.time(), parent)
            if after is not None:
                after(a, kw, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    # ---- wrappers around the layers' public entry points ------------------

    def install_wire(self, engine) -> None:
        """Spans around Engine.sql and the rewrite and gate calls it and
        the wire server make."""
        import xngin_spark.engine as engine_mod
        import xngin_spark.plans.sqlreorder as sqlreorder
        from xngin_spark.server import compat

        def count_rewrite(a, kw, out):
            sql = a[1] if len(a) > 1 else kw.get("sql")
            with self._lock:
                self.rewrites["gated"] += 1
                self.rewrites["rewritten"] += int(out[0] != sql)

        def analysis_span(a, kw, df):
            # the statement text is analyzed inside Engine.sql; its
            # tracker holds that phase (the executed plan's tracker,
            # read by the listener, holds the rest)
            ph = df._jdf.queryExecution().tracker().phases().get("analysis")
            if ph.isDefined():
                s = ph.get()
                self.add("catalyst.analysis", s.startTimeMs() / 1e3,
                         s.endTimeMs() / 1e3, "engine.sql")

        self._wrap(compat, "rewrite", "dialect.rewrite", "server.wire")
        self._wrap(engine_mod, "rewrite_sql", "dialect.rewrite", "engine.sql")
        self._wrap(sqlreorder, "dphyp_sql", "sqlreorder.gate", "engine.sql")
        self._wrap(sqlreorder, "dphyp_rewrite", "sqlreorder.rewrite",
                   "sqlreorder.gate", after=count_rewrite)
        self._wrap(engine, "sql", "engine.sql", "server.wire", after=analysis_span)

    def install_barriers(self) -> None:
        """Count and time DataFrame storage barriers. Nested barrier
        calls (a method implemented through another) count once."""
        from pyspark.sql.classic.dataframe import DataFrame

        depth = threading.local()
        tracer = self
        for meth in BARRIER_METHODS:
            orig = getattr(DataFrame, meth)

            def wrapper(df, *a, _orig=orig, **kw):
                outer = not getattr(depth, "n", 0)
                depth.n = getattr(depth, "n", 0) + 1
                t = time.time()
                try:
                    return _orig(df, *a, **kw)
                finally:
                    depth.n -= 1
                    if outer:
                        tracer.add("operators.barrier", t, time.time(),
                                   "operators.construct")

            setattr(DataFrame, meth, wrapper)
            self._restore.append((DataFrame, meth, orig))

    def install_listeners(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        sc = self.spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        events = self._qe_events

        class QueryListener:
            def onSuccess(self, func, qe, duration_ns):
                phases = {}
                jp = qe.tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    o = jp.get(k)
                    if o.isDefined():
                        s = o.get()
                        phases[k] = (s.startTimeMs() / 1e3, s.endTimeMs() / 1e3)
                events.append(phases)

            def onFailure(self, func, qe, exc):
                self.onSuccess(func, qe, 0)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        stream_events = self._stream_events

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                stream_events.append({
                    "run": str(p.runId),
                    "start": _iso_epoch(p.timestamp),
                    "ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_mem": sum(o.memoryUsedBytes for o in p.stateOperators),
                    "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._qe_listener = QueryListener()
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        self._stream_listener = ProgressListener()
        self.spark.streams.addListener(self._stream_listener)

    def uninstall(self) -> None:
        self.t_end = time.time()
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self._qe_listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self._qe_listener = None
        if self._stream_listener is not None:
            self.spark.streams.removeListener(self._stream_listener)
            self._stream_listener = None

    # ---- Spark-side records ------------------------------------------------

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self) -> list[dict]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = []
        for j in _seq(store.jobsList(None)):
            sub = _opt_ms(j.submissionTime())
            if sub is None or sub < self.t0 - CLOCK_SLACK_S:
                continue
            stages = []
            for sid in _seq(j.stageIds()):
                s = store.lastStageAttempt(sid)
                stages.append({
                    "id": sid,
                    "status": s.status().toString(),
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "deser_ms": s.executorDeserializeTime(),
                    "in_b": s.inputBytes(),
                    "out_b": s.outputBytes(),
                    "shr_b": s.shuffleReadBytes(),
                    "shw_b": s.shuffleWriteBytes(),
                    "spill_b": s.diskBytesSpilled(),
                    "fetch_ms": s.shuffleFetchWaitTime(),
                })
            out.append({
                "id": j.jobId(),
                "start": sub,
                "end": _opt_ms(j.completionTime()) or sub,
                "stages": stages,
            })
        return out

    def _executions(self) -> list[tuple[float, float, float, float]]:
        """(start, end, Python-node rows, Python-node bytes) of every SQL
        execution in the window."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _seq(sql.executionsList()):
            sub = e.submissionTime() / 1000.0
            if sub < self.t0 - CLOCK_SLACK_S:
                continue
            end = _opt_ms(e.completionTime()) or sub
            eid = e.executionId()
            nodes = [n for n in _seq(sql.planGraph(eid).allNodes())
                     if n.name().startswith(PYTHON_NODES)]
            if not nodes:
                out.append((sub, end, 0.0, 0.0))
                continue
            values = sql.executionMetrics(eid)
            rows = size = 0.0
            for n in nodes:
                for m in _seq(n.metrics()):
                    name = m.name()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if name == "number of output rows":
                        rows += parse_metric(v.get())
                    elif name.startswith(("data sent to Python", "data returned from Python")):
                        size += parse_metric(v.get())
            out.append((sub, end, rows, size))
        return out

    # ---- report ------------------------------------------------------------

    def report(self, passes: int) -> dict:
        """Per-layer metrics (summed per statement, averaged per pass),
        per-statement self times and the reconciliation verdict."""
        self._drain()
        jobs = self._jobs()
        executions = self._executions()
        stmts = sorted(self.statements, key=lambda s: s.start)
        starts = [s.start for s in stmts]

        def owner(t: float) -> Statement | None:
            i = bisect.bisect_right(starts, t + CLOCK_SLACK_S) - 1
            return stmts[i] if i >= 0 else None

        by_stmt: dict[int, list[Span]] = {s.sid: [] for s in stmts}
        for sp in self.spans:
            by_stmt[sp.stmt].append(sp)
        for phases in self._qe_events:
            for k, (a, b) in phases.items():
                st = owner(a)
                if st is not None:
                    by_stmt[st.sid].append(Span(f"catalyst.{k}", a, b, st.sid))
        job_stmt: dict[int, list[dict]] = {s.sid: [] for s in stmts}
        for j in jobs:
            st = owner(j["start"])
            if st is not None:
                job_stmt[st.sid].append(j)
                by_stmt[st.sid].append(Span("spark.jobs", j["start"], j["end"], st.sid))
        stream_stmt: dict[int, list[dict]] = {s.sid: [] for s in stmts}
        for ev in self._stream_events:
            st = owner(ev["start"])
            if st is not None:
                stream_stmt[st.sid].append(ev)
                by_stmt[st.sid].append(Span(
                    "streaming.trigger", ev["start"],
                    ev["start"] + ev["ms"].get("triggerExecution", 0) / 1e3, st.sid))
        py_stmt: dict[int, list] = {s.sid: [] for s in stmts}
        for sub, end, rows, size in executions:
            st = owner(sub)
            if st is not None:
                py_stmt[st.sid].append((rows, size))
                by_stmt[st.sid].append(Span("spark.execution", sub, end, st.sid))

        totals = {k: 0.0 for k in PER_LAYER_UNITS}
        self_totals: dict[str, float] = {}
        per_stmt = []
        failures = []
        for st in stmts:
            spans = by_stmt[st.sid]
            wall = st.end - st.start
            selfs, escaped = self_times(st, spans)
            for k, v in selfs.items():
                self_totals[k] = self_totals.get(k, 0.0) + v
            remainder = selfs.get("unattributed", 0.0)
            ok = escaped + remainder <= RECONCILE_TOL * wall
            if not ok:
                failures.append(st.sid)
            per_stmt.append({
                "sid": st.sid, "name": st.name, "wall_s": wall,
                "self_s": selfs, "escaped_s": escaped,
                "unattributed_s": remainder, "reconciled": ok,
            })

            def dur(name: str) -> float:
                return sum(s.end - s.start for s in spans if s.name == name)

            def jobs_in(name: str) -> int:
                ivs = [(s.start, s.end) for s in spans if s.name == name]
                return sum(
                    1 for j in job_stmt[st.sid]
                    if any(a - CLOCK_SLACK_S <= j["start"] <= b + CLOCK_SLACK_S
                           for a, b in ivs))

            stages = {}
            for j in job_stmt[st.sid]:
                for s in j["stages"]:
                    if s["status"] != "SKIPPED":
                        stages[s["id"]] = s
            ss = stages.values()
            evs = stream_stmt[st.sid]
            last = {}
            for ev in evs:  # state size after each stream's final batch
                last[ev["run"]] = ev
            add = {
                "server.wire_s": selfs.get("server.wire", 0.0),
                "server.result_rows": st.counters.get("result_rows", 0),
                "dialect.rewrite_s": dur("dialect.rewrite"),
                "sqlreorder.gate_s": dur("sqlreorder.gate"),
                "sqlreorder.gate_jobs": jobs_in("engine.sql"),
                "catalyst.analysis_s": dur("catalyst.analysis"),
                "catalyst.optimization_s": dur("catalyst.optimization"),
                "catalyst.planning_s": dur("catalyst.planning"),
                "operators.construct_s": dur("operators.construct"),
                "operators.construct_jobs": jobs_in("operators.construct"),
                "operators.barriers": sum(1 for s in spans if s.name == "operators.barrier"),
                "operators.barrier_s": dur("operators.barrier"),
                "scheduler.jobs": len(job_stmt[st.sid]),
                "scheduler.stages": len(stages),
                "scheduler.tasks": sum(s["tasks"] for s in ss),
                "scheduler.driver_gap_s": wall - selfs.get("spark.jobs", 0.0),
                "executor.run_s": sum(s["run_ms"] for s in ss) / 1e3,
                "executor.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
                "executor.gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
                "executor.deserialize_s": sum(s["deser_ms"] for s in ss) / 1e3,
                "shuffle.write_bytes": sum(s["shw_b"] for s in ss),
                "shuffle.read_bytes": sum(s["shr_b"] for s in ss),
                "shuffle.spill_bytes": sum(s["spill_b"] for s in ss),
                "shuffle.fetch_wait_s": sum(s["fetch_ms"] for s in ss) / 1e3,
                "python_udf.rows": sum(r for r, _ in py_stmt[st.sid]),
                "python_udf.bytes": sum(b for _, b in py_stmt[st.sid]),
                "sources.input_bytes": sum(s["in_b"] for s in ss),
                "sources.output_bytes": sum(s["out_b"] for s in ss),
                "streaming.batches": len(evs),
                "streaming.trigger_s": sum(e["ms"].get("triggerExecution", 0) for e in evs) / 1e3,
                "streaming.planning_s": sum(e["ms"].get("queryPlanning", 0) for e in evs) / 1e3,
                "streaming.wal_s": sum(e["ms"].get("walCommit", 0) for e in evs) / 1e3,
                "streaming.state_commit_s": sum(e["state_commit_ms"] for e in evs) / 1e3,
                "streaming.state_rows": sum(e["state_rows"] for e in last.values()),
                "streaming.state_mem_bytes": sum(e["state_mem"] for e in last.values()),
                "storage.leaked_rdds": st.counters.get("leaked_rdds", 0),
            }
            for k, v in add.items():
                totals[k] += v
        gated = self.rewrites["gated"]
        metrics = {k: v / passes for k, v in totals.items()}
        metrics["sqlreorder.rewrite_ratio"] = (
            self.rewrites["rewritten"] / gated if gated else 0.0)
        return {
            "metrics": metrics,
            "self_s": {k: v / passes for k, v in self_totals.items()},
            "statements": per_stmt,
            "unreconciled": failures,
            "spans": [sp.__dict__ for sp in self.spans],
            "jobs": len(jobs),
        }


def self_times(st: Statement, spans: list[Span]) -> tuple[dict[str, float], float]:
    """Partition the statement's wall interval among its spans by
    precedence. Returns (layer -> self seconds, seconds of span time
    that lies outside the statement's interval)."""
    lo, hi = st.start, st.end
    escaped = 0.0
    clipped = []
    for sp in spans:
        if sp.name not in PRECEDENCE:
            continue
        a, b = max(sp.start, lo), min(sp.end, hi)
        outside = max(0.0, lo - sp.start - CLOCK_SLACK_S) + max(0.0, sp.end - hi - CLOCK_SLACK_S)
        escaped += min(outside, sp.end - sp.start)
        if b > a:
            clipped.append((a, b, sp.name))
    cuts = sorted({lo, hi, *(a for a, _, _ in clipped), *(b for _, b, _ in clipped)})
    root = st.root if st.root != "statement" else "unattributed"
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best, prec = root, -1
        for s, e, name in clipped:
            if s <= mid < e and PRECEDENCE[name] > prec:
                best, prec = name, PRECEDENCE[name]
        out[best] = out.get(best, 0.0) + (b - a)
    return out, escaped


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    ts = ts.rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()
