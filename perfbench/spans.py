"""Spans around the engine's public calls, with Spark's per-stage metrics.

Each span runs under a fresh Spark job group, so the jobs it started can be
listed afterwards (a reused group accumulates the job ids of every call).
Stage metrics come from the in-process status store
(``sc._jsc.sc().statusStore()``), which works with the UI disabled. The rows
a plan's scoring step takes in come from the SQL status store, from the
metrics of the span's own physical plans. Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """Records spans: name, start, end, parent span and op id.

    ``rows_in`` maps a span name to (node name, input node name part or
    None): such a span also records ``rows_in``, the rows fed into every
    node of that name in its physical plans whose input node's name holds
    the given part. A disabled tracer records nothing and touches no Spark
    state."""

    def __init__(self, enabled: bool, rows_in: dict | None = None) -> None:
        self.enabled = enabled
        self.rows_in = rows_in or {}
        self.sc = None  # set once the session exists, with:
        self.sql = None  # the session's SQL status store
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-{os.getpid()}-{sid}",
        }
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
            if name in self.rows_in:
                rec["exec_from"] = self.sql.executionsCount()
        self._stack.append(rec)
        rec["start"] = perf_counter()
        try:
            yield
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def resolve(self) -> None:
        """Attach stage metrics to every finished span that lacks them.

        Waits for the listener bus first: stage and task events reach the
        status store asynchronously. A stage is counted once, for the first
        span whose jobs ran it; stages a job skipped (shuffle reuse) are
        not counted."""
        if not self.enabled or self.sc is None:
            return
        pending = [s for s in self.spans if "jobs" not in s]
        if not pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in pending:
            m = dict.fromkeys(STAGE_FIELDS, 0)
            for jid in sorted(tracker.getJobIdsForGroup(s["group"])):
                info = tracker.getJobInfo(jid)
                m["jobs"] += 1
                for sid in sorted(info.stageIds if info else ()):
                    if sid in self._seen_stages:
                        continue
                    data = store.lastStageAttempt(sid)
                    if data.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    m["stages"] += 1
                    m["tasks"] += data.numTasks()
                    m["executor_cpu_s"] += data.executorCpuTime() / 1e9
                    m["executor_run_s"] += data.executorRunTime() / 1e3
                    m["gc_s"] += data.jvmGcTime() / 1e3
                    m["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    m["spill_bytes"] += (
                        data.memoryBytesSpilled() + data.diskBytesSpilled()
                    )
            if s["name"] in self.rows_in:
                jobs = set(tracker.getJobIdsForGroup(s["group"]))
                m["rows_in"] = self._plan_rows_in(s["exec_from"], jobs, *self.rows_in[s["name"]])
            s.update(m)

    def _plan_rows_in(self, exec_from: int, jobs: set, node: str, input_has) -> int:
        """Rows fed into the plan nodes named ``node`` in the SQL executions
        that ran ``jobs``. A node's input is its child node, looked through
        nodes that report no row count (projections, codegen stages)."""
        store = self.sql
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        total = 0
        execs = store.executionsList(exec_from, 1 << 30)
        for i in range(execs.size()):
            e = execs.apply(i)
            if not jobs.intersection(int(j) for j in conv.asJava(e.jobs().keySet())):
                continue
            eid = e.executionId()
            values = conv.asJava(store.executionMetrics(eid))
            graph = store.planGraph(eid)
            nodes, children = {}, defaultdict(list)
            for n in _seq(graph.allNodes()):
                rows = None
                for m in _seq(n.metrics()):
                    if m.name() in ("number of output rows", "records read"):
                        v = values.get(m.accumulatorId())
                        rows = int(v.replace(",", "")) if v else 0
                nodes[n.id()] = (n.name(), rows)
            for edge in _seq(graph.edges()):
                children[edge.toId()].append(edge.fromId())

            def input_of(nid):
                todo = list(children[nid])
                while todo:
                    c = todo.pop(0)
                    if nodes[c][1] is not None:
                        return nodes[c]
                    todo.extend(children[c])
                return ("", 0)

            for nid, (name, _) in nodes.items():
                if name == node:
                    in_name, rows = input_of(nid)
                    if input_has is None or input_has in in_name:
                        total += rows
        return total

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k != "group"}
                rec["self_s"] = selfs[s["id"]]
                f.write(json.dumps(rec) + "\n")


def _seq(seq):
    """The elements of a Scala Seq, through py4j."""
    return [seq.apply(i) for i in range(seq.size())]
