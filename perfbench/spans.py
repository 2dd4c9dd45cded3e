"""Spans around the benchmark's calls into the engine, and the Spark
status-store counts behind them.

A span records name, start, end, parent span and operation id.  Each
span runs under its own Spark job group, so the jobs it launched (and
their stages, tasks and executor metrics) can be read back from the
status store once the run is over.  Spans stay in memory until
:meth:`Tracer.collect`; nothing is resolved while operations are
timed.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

#: SQL plan-graph metrics of the Python data source scan and of the
#: Python UDF/map nodes.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a formatted size metric such as
    ``"total (min, med, max ...)\\n3.7 KiB (0.0 B, ...)"`` (the total
    is the first size in the string)."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def parse_count(text: str) -> float:
    """Total of a formatted sum metric (``"1,234"`` or the multi-line
    ``"total (min, med, max ...)\\n1,234 (...)"`` form)."""
    m = re.search(r"[\d,]+", text.split("\n", 1)[-1])
    return float(m.group(0).replace(",", "")) if m else 0.0


class Tracer:
    """Records spans when ``enabled``; when not, :meth:`span` costs one
    generator frame and nothing reaches Spark."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def collect(self) -> None:
        """Attach status-store counts to every span: the jobs its group
        launched, their stages' task counts and executor metrics, and
        the Python-node metrics of the SQL executions those jobs ran."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_to_exec, exec_metrics = self._sql_executions()
        for s in self.spans:
            agg = dict.fromkeys(
                ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "scan_tasks"),
                0.0,
            )
            execs = set()
            for jid in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                agg["jobs"] += 1
                if jid in job_to_exec:
                    eid, first_job = job_to_exec[jid]
                    if jid == first_job:  # count an execution once
                        execs.add(eid)
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage never ran
                        continue
                    if sd.numCompleteTasks() == 0:
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += sd.numTasks()
                    agg["run_s"] += sd.executorRunTime() / 1e3
                    agg["cpu_s"] += sd.executorCpuTime() / 1e9
                    agg["gc_s"] += sd.jvmGcTime() / 1e3
                    agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    agg["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
                    if is_source_scan(store, sid):
                        agg["scan_tasks"] += sd.numTasks()
            for eid in execs:
                for k, v in exec_metrics[eid].items():
                    agg[k] = agg.get(k, 0.0) + v
            s["counts"] = agg

    def _sql_executions(self) -> tuple[dict[int, tuple[int, int]], dict[int, dict]]:
        """job id -> (SQL execution id, the execution's first job id),
        and per execution its Python-node and ``kafka_segments`` scan
        metrics."""
        ss = self.spark._jsparkSession.sharedState().statusStore()
        execs = ss.executionsList()
        job_to_exec: dict[int, tuple[int, int]] = {}
        exec_metrics: dict[int, dict[str, float]] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            values = ss.executionMetrics(eid)
            nodes = ss.planGraph(eid).allNodes()
            m = {"python_nodes": 0.0, "python_bytes_sent": 0.0,
                 "python_bytes_received": 0.0, "scan_rows": 0.0}
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                named = {}
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    named[pm.name()] = v.get() if v.isDefined() else ""
                if PY_SENT in named or PY_RECEIVED in named:
                    m["python_nodes"] += 1
                    m["python_bytes_sent"] += parse_size(named.get(PY_SENT, ""))
                    m["python_bytes_received"] += parse_size(named.get(PY_RECEIVED, ""))
                if node.name().startswith("BatchScan kafka_segments"):
                    m["scan_rows"] += parse_count(named.get("number of output rows", ""))
            exec_metrics[eid] = m
            jobs = e.jobs().keySet().iterator()
            job_ids = []
            while jobs.hasNext():
                job_ids.append(int(jobs.next()))
            for jid in job_ids:
                job_to_exec[jid] = (eid, min(job_ids))
        return job_to_exec, exec_metrics


def _rdd_names(cluster, out: list[str]) -> list[str]:
    nodes = cluster.childNodes()
    for i in range(nodes.size()):
        out.append(nodes.apply(i).name())
    clusters = cluster.childClusters()
    for i in range(clusters.size()):
        _rdd_names(clusters.apply(i), out)
    return out


def is_source_scan(store, stage_id: int) -> bool:
    """A stage reads a DSv2 source when its RDD graph holds a
    ``DataSourceRDD``; the engine's only DSv2 source is
    ``kafka_segments`` (parquet tables go through the V1 file scan)."""
    graph = store.operationGraphForStage(stage_id)
    return "DataSourceRDD" in _rdd_names(graph.rootCluster(), [])
