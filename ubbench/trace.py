"""Tracing for the ``--trace 1`` run: spans and Spark-side counters.

Spans are recorded here, in the benchmark, around each call into one of
the engine's public functions; the engine itself is not instrumented.
Spans stay in memory and are written out when the run ends.

Spark-side counts for a call come from three places, all read after the
call returned and the listener bus drained:

- the job group set around the call and ``statusTracker`` (jobs, stages,
  tasks);
- the status store's stage records (shuffle, scan, write, spill and
  peak-memory figures — exact integers summed over the call's stages);
- the SQL status store's plan graph of each SQL execution the call
  started, which Spark updates to the final adaptive plan (physical
  shuffles, reused exchanges, broadcast sizes, Python evaluation nodes).
"""

from __future__ import annotations

import re
import time
from collections import Counter
from contextlib import contextmanager

#: counts that repeat exactly for one seed (flagged ``exact`` in records)
EXACT_COUNTS = (
    "plans.construct_jobs",
    "operators.jobs",
    "operators.shuffles",
    "io.write_bytes",
    "io.stored_bytes_per_user_byte",
    "serving.epoch_jobs",
)

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")


class Tracer:
    """In-memory span recorder. When disabled every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        """Record ``name`` around the block, under the enclosing span."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans) + len(self._stack),
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "name": name,
        }
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)


def parse_size(text: str) -> int:
    """Bytes from a formatted Spark size metric ('1026.0 KiB', or the
    'total (min, med, max ...)' form, whose first size is the total).
    Spark keeps one decimal, so the result is exact only below 1 KiB."""
    m = _SIZE_RE.search(text)
    if m is None:
        raise ValueError(f"not a Spark size metric: {text!r}")
    return int(round(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]))


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "InArrow" in name


class SparkCounters:
    """Counts the Spark work a block of driver code starts (one client)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        core = sc._jsc.sc()
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._bus = core.listenerBus()
        self._stages = core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._groups = 0

    @contextmanager
    def window(self, out: Counter):
        """Add the counts of the block's jobs and SQL executions to ``out``."""
        self._bus.waitUntilEmpty()
        first_exec = self._sql.executionsCount()
        group = f"ubbench-{self._groups}"
        self._groups += 1
        self._sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self._sc._jsc.clearJobGroup()
            self._bus.waitUntilEmpty()
            self._add_jobs(group, out)
            self._add_plans(first_exec, out)

    def _add_jobs(self, group: str, out: Counter) -> None:
        job_ids = self._tracker.getJobIdsForGroup(group)
        out["jobs"] += len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = self._stages.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_records"] += sd.shuffleWriteRecords()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled()
            out["peak_memory_bytes"] += sd.peakExecutionMemory()
            out["scan_rows"] += sd.inputRecords()
            out["scan_bytes"] += sd.inputBytes()
            out["write_bytes"] += sd.outputBytes()

    def _add_plans(self, first_exec: int, out: Counter) -> None:
        n_exec = self._sql.executionsCount()
        if n_exec >= 1000:  # spark.sql.ui.retainedExecutions: ids would shift
            raise RuntimeError("SQL status store full; plan counts would be wrong")
        if n_exec == first_exec:
            return
        for ex in _seq(self._sql.executionsList(first_exec, n_exec - first_exec)):
            eid = ex.executionId()
            graph = self._sql.planGraph(eid)
            fanout = Counter(e.fromId() for e in _seq(graph.edges()))
            values = None
            for node in _seq(graph.allNodes()):
                name = node.name()
                if name in ("Exchange", "BroadcastExchange"):
                    out["reused_exchanges"] += max(0, fanout[node.id()] - 1)
                if name == "Exchange":
                    out["shuffles"] += 1
                elif name == "BroadcastExchange":
                    values = values or self._sql.executionMetrics(eid)
                    for m in _seq(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if m.name() == "data size" and v.isDefined():
                            out["broadcast_bytes"] += parse_size(v.get())
                elif _is_python_node(name):
                    out["python_nodes"] += 1
