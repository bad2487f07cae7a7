"""Spans and per-operation counters for the traced run.

Nothing here changes the engine: the tracer wraps the engine's public
functions and PySpark's action methods from the outside, records a span
around each call, and reads Spark's own bookkeeping after each operation:

- spans: name, start, end, parent span and operation id, kept in memory and
  written out when the run ends;
- py4j: calls and time through the gateway client;
- Catalyst: the analysis, optimization and planning phases of the
  ``QueryExecution`` each action ran (not the one of the DataFrame handed
  in, since ``take()`` plans a new one), and the number of SQL executions;
- Spark execution: a job group per operation, read back through
  ``statusTracker()`` and the status store's ``lastStageAttempt``, and the
  JVM's garbage-collector MXBeans.

Wrappers stay installed for the whole traced run; ``active`` switches them
off for the untraced rounds the overhead is measured against.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")
_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), ?(\d+)\)")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self._stack: list[int] = []
        self.op: str | None = None
        self.ops: dict[str, dict] = {}
        self.groups: dict[str, dict] = {}
        self._groups: list[str] = []
        self._start = (0, 0)
        self._undo: list[tuple] = []
        self._internal = 0
        self._seen_phases: set = set()
        self._gateway = None

    # -- spans and counters -------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float = 1) -> None:
        if self.active and self.op is not None:
            self.ops[self.op][key] += value

    def wrap(self, owner, attr: str, name: str, after=None, always_after: bool = False) -> None:
        """Replace ``owner.attr`` with a traced wrapper; ``after(args,
        result)`` runs once the call returns, outside the span, and with
        ``always_after`` also while tracing is off."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active or tracer._internal or (
                    tracer._stack and tracer.spans[tracer._stack[-1]][0] == name):
                # off, reading Spark's bookkeeping, or a recursive call
                out = orig(*args, **kwargs)
                if always_after and not tracer._internal:
                    after(args, out)
                return out
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, own))

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()
        if self._gateway is not None:
            client, orig = self._gateway
            client.send_command = orig
            self._gateway = None

    # -- layer hooks --------------------------------------------------------

    def install(self) -> None:
        """Wrap the engine's layer entry points and PySpark's actions."""
        from pyspark.sql.classic.dataframe import DataFrame

        import __spark_entry__ as entry
        from golang_db_query_engine_elasticsearch_indexer_spark import (
            api, gateway, indexer, plans, result, session,
        )
        from golang_db_query_engine_elasticsearch_indexer_spark.operators import es_dsl, esql

        # a memo hit returns the registration of the previous call itself,
        # so a call answered by another object re-registered the tables
        last_reg: dict = {}

        def after_register(args, out):
            if last_reg.get("out") is not out:
                self.add("session.register_misses")
            last_reg["out"] = out

        for mod in (session, entry):
            self.wrap(mod, "register_sf_dir", "session.register", after_register, always_after=True)
        for mod in (plans, gateway):
            self.wrap(mod, "assert_select_only", "plans.select_gate")

        def after_compile(args, sql):
            self.add("compile.sql_chars", len(sql))

        self.wrap(es_dsl, "compile_search", "es_dsl.compile", after_compile)
        self.wrap(es_dsl, "compile_count", "es_dsl.compile", after_compile)
        self.wrap(esql, "compile_esql", "esql.compile", after_compile)

        def after_envelope(args, res):
            self.add("result.rows", res.count)

        for mod in (result, gateway, api):
            self.wrap(mod, "collect_envelope", "result.envelope", after_envelope)
        self.wrap(indexer, "with_positional_ids", "indexer.positional_ids")
        self.wrap(indexer.HttpBulkSink, "write", "indexer.sink_write")

        def after_action(args, _out):
            self._record_phases(args[0])

        for attr in ("collect", "_collect_as_arrow", "localCheckpoint", "checkpoint", "toLocalIterator"):
            self.wrap(DataFrame, attr, "spark.action", after_action)

        client = self.sc._gateway._gateway_client
        orig_send = client.send_command

        def send_command(*args, **kwargs):
            if not self.active or self._internal or self.op is None:
                return orig_send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig_send(*args, **kwargs)
            finally:
                counters = self.ops[self.op]
                counters["py4j.calls"] += 1
                counters["py4j.ms"] += (time.perf_counter() - t0) * 1000

        client.send_command = send_command
        self._gateway = (client, orig_send)

    def _record_phases(self, df) -> None:
        """Add the Catalyst phase times of the query ``df`` just executed.
        A QueryExecution plans once, so a phase already counted (same start
        and end) is not counted again when the same frame runs twice."""
        self._internal += 1
        try:
            text = df._jdf.queryExecution().tracker().phases().toString()
        finally:
            self._internal -= 1
        for phase, start, end in _PHASE_RE.findall(text):
            key = (phase, start, end)
            if phase in PHASES and key not in self._seen_phases:
                self._seen_phases.add(key)
                self.add(f"catalyst.{phase}_ms", int(end) - int(start))

    # -- per-operation Spark bookkeeping -------------------------------------

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _sql_executions(self) -> int:
        return self.spark._jsparkSession.sharedState().statusStore().executionsCount()

    def begin_op(self, op_id: str) -> None:
        """Open operation ``op_id``: its Spark jobs run under a job group
        of that name, and GC time and SQL executions are read at both ends."""
        self.ops[op_id] = defaultdict(float)
        self._internal += 1
        try:
            start = (self._gc_ms(), self._sql_executions())
            self.sc.setJobGroup(op_id, op_id)
        finally:
            self._internal -= 1
        self.op = op_id
        self._start = start
        self._groups = [op_id]

    def subgroup(self, name: str) -> None:
        """Run the operation's next jobs under their own group
        ``<op>/<name>``, so one part of an operation can be read alone."""
        group = f"{self.op}/{name}"
        self._internal += 1
        try:
            self.sc.setJobGroup(group, group)
        finally:
            self._internal -= 1
        self._groups.append(group)

    def end_op(self) -> None:
        """Close the current operation and read its jobs and stages; each
        subgroup's figures are also kept in ``groups``."""
        op_id, self.op = self.op, None
        self._internal += 1
        try:
            self.sc._jsc.clearJobGroup()
            c = self.ops[op_id]
            gc0, sql0 = self._start
            c["spark.gc_ms"] += self._gc_ms() - gc0
            c["catalyst.queries"] += self._sql_executions() - sql0
            for group in self._groups:
                metrics = self.job_metrics(group)
                self.groups[group] = metrics
                for key, value in metrics.items():
                    c[key] += value
        finally:
            self._internal -= 1

    def job_metrics(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and stage totals of one job group, read once
        every job in it has finished (job end events follow their stages'
        events, so the stage data is complete by then)."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + 30
        infos = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            while info is not None and info.status not in ("SUCCEEDED", "FAILED") \
                    and time.monotonic() < deadline:
                time.sleep(0.005)
                info = tracker.getJobInfo(jid)
            if info is not None:
                infos.append(info)
        store = self.sc._jsc.sc().statusStore()
        out = defaultdict(float)
        out["spark.jobs"] = len(job_ids)
        for sid in sorted({s for info in infos for s in info.stageIds}):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped: its shuffle output was reused
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.task_run_ms"] += st.executorRunTime()
            out["spark.task_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    # -- summaries -----------------------------------------------------------

    def self_ms(self, name: str) -> dict[str, float]:
        """Per operation: total time of spans ``name`` minus the time of
        their direct children."""
        child = defaultdict(float)
        for _n, s, e, parent, _op in self.spans:
            if parent is not None:
                child[parent] += e - s
        out = defaultdict(float)
        for i, (n, s, e, _p, op) in enumerate(self.spans):
            if n == name:
                out[op] += (e - s - child[i]) * 1000
        return out

    def total_ms(self, name: str) -> dict[str, float]:
        out = defaultdict(float)
        for n, s, e, _p, op in self.spans:
            if n == name:
                out[op] += (e - s) * 1000
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, parent, op in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e, "parent": parent, "op": op}) + "\n")
