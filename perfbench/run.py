#!/usr/bin/env python3
"""The repo benchmark: one workload per process.

    python3 perfbench/run.py --workload events_dashboard --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``BENCHMARK.json``):

* ``events_dashboard`` - Rakam read queries over segment logs;
* ``ingest_serve`` - append, rollup maintenance, CDC merge, serve and
  point lookups, every answer checked against the generator's truth.

The process generates its inputs from ``--seed`` under a private run
directory inside the checkout (every temp dir of Python, the JVM and
Spark points there), starts ``local[<cpus>]``, stages fixtures, runs an
untimed warm-up pass that also checks every read answer against its
DuckDB oracle, then runs whole rounds of operations (a pass over the
queries, or one ingest tick) until ``--seconds`` have passed.  With
``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` rounds alternate untraced and traced (at least three, and
ending on an untraced one), the spans go to ``perfbench/traces/`` and
the last line holds the per-layer metrics and the tracing overhead.  The run
directory is deleted at exit and the checkout's top level must look as
it did before.  Exit status: 0 when every answer was right, 1 when a
check failed, 2 on bad arguments, 3 when the run left files behind;
any error before the result is printed exits non-zero without one.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("events_dashboard", "ingest_serve")
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "retained_mem_mb": "MB",
}
EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


class Harness:
    """State of one benchmark process: paths, session, tracer and
    checker, plus the set-up phase timings."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        #: Spark's task slots.  The Python data source workers, the
        #: Python driver and the JVM's own threads need cores too, and
        #: on a 4-core box two slots answer as fast as four while
        #: leaving the other two to those processes.
        self.cpus = max(1, self.nproc // 2)
        self.run_base = os.path.join(ROOT, ".perfbench-run")
        self.run_dir = os.path.join(self.run_base, str(os.getpid()))
        self.data_dir = os.path.join(self.run_dir, "data")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.phases: dict[str, float] = {}
        self.spark = None
        self.tracer = None
        from stats import Checker

        self.checker = Checker()

    # -- environment -------------------------------------------------

    def isolate(self) -> None:
        """Point every temp dir into the run directory before any
        engine code or JVM starts."""
        for d in ("tmp", "jtmp", "local", "warehouse", "data"):
            os.makedirs(os.path.join(self.run_dir, d))
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = "2g"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )

    def start_session(self) -> None:
        from presto_rakam_kafka_spark.session import get_spark
        from spans import Tracer

        with self.phase("session.start_s"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'jtmp')} "
                        "-XX:-UsePerfData"
                    ),
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                },
            )
        self.tracer = Tracer(self.spark, enabled=False)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # -- checks --------------------------------------------------------

    def duckdb_views(self, tables):
        import duckdb

        con = duckdb.connect()
        for t in tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def check_query(self, name: str, Q, duck) -> int:
        """Run one query (this is its warm-up), compare its rows with the
        DuckDB oracle; returns the row count."""
        from tests.oracle_check import compare_query

        got = Collected(Q.QUERIES[name](self.spark, self.data_dir))
        ok, msg = compare_query(got, duck, Q.ORACLES[name])
        self.checker.record(name, ok, msg)
        return len(got.rows)

    def construct_plan_execute(self, build, execute):
        """One query the way a client runs it: build the DataFrame
        (the engine's construction, including any eager driver jobs),
        plan it, then execute it; returns what ``execute`` returns."""
        t = self.tracer
        with t.span("operators.construct"):
            df = build()
        with t.span("plans.plan") as span:
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan()
            if span is not None:
                self._plan_detail(span, qe, plan)
        with t.span("spark_exec.execute"):
            return execute(df)

    def _plan_detail(self, span: dict, qe, plan) -> None:
        """Catalyst phase times and plan shape, attached to a plan span."""
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                span[f"{phase}_s"] = summary.get().durationMs() / 1e3
        text = plan.toString()
        span["plan_chars"] = len(text)
        span["exchanges"] = len(EXCHANGE.findall(text))

    # -- measurement ---------------------------------------------------

    def measure(self, wl) -> list[dict]:
        """Whole rounds until ``seconds`` have passed, and at least the
        workload's ``MIN_ROUNDS``.  Under tracing, odd rounds are
        traced, and the run has at least three rounds and ends on an
        untraced one, so every traced operation has an untraced run of
        the same name on both sides."""
        ops: list[dict] = []
        t_start = time.perf_counter()
        rounds = 0
        while (
            rounds < wl.MIN_ROUNDS
            or time.perf_counter() - t_start < self.seconds
            or (self.trace and (rounds < 3 or rounds % 2 == 0))
        ):
            self.tracer.enabled = self.trace and rounds % 2 == 1
            for name, fn in wl.round():
                op_id = len(ops)
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("op", op=op_id, query=name):
                        extra = fn(op_id)
                    ok = True
                except Exception:
                    traceback.print_exc()
                    ok, extra = False, {}
                ops.append({
                    "id": op_id, "name": name, "ok": ok,
                    "latency": time.perf_counter() - t0 if ok else math.inf,
                    "traced": self.tracer.enabled, **extra,
                })
            rounds += 1
        self.tracer.enabled = False
        self.timed_s = time.perf_counter() - t_start
        self.rounds = rounds
        return ops

    def canary(self) -> float:
        """The box-speed canary: a fixed Spark job independent of this
        repo's code and data (median of three)."""
        from stats import median

        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(200_000_000).selectExpr("sum(id) AS s").write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return median(runs)

    def retained_mb(self) -> float:
        """Driver memory still in use at the end of the run: the JVM
        heap's live set after a full collection plus its non-heap
        (metaspace, generated code), plus the Python driver's peak RSS.
        Unlike the JVM's peak RSS this does not depend on when the
        collector happened to run, so it shows frames and caches a
        workload leaves pinned."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        return (used + py) / 2**20

    def cached(self) -> tuple[float, int]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return size / 2**20, len(infos)


class Collected:
    """A query result collected once: the oracle comparison and the
    row count share it."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


def end_to_end(h: Harness, wl, ops: list[dict], setup_s: float, mem: float) -> dict:
    from stats import median

    done = [o for o in ops if o["ok"]]
    values = {
        "setup_s": setup_s,
        "op_p50_s": median([o["latency"] for o in ops]),
        "ops_per_s": len(done) / h.timed_s,
        "stored_bytes_per_input_byte": wl.stored_per_input(),
        "retained_mem_mb": mem,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(h: Harness, wl, ops: list[dict], cached: tuple[float, int]) -> tuple[dict, dict]:
    """Per-layer metrics over the traced operations (per operation
    unless the unit says otherwise), and each span name's self time
    per operation."""
    from stats import self_time_by_name, trace_overhead
    from workloads import count_segments, dir_bytes

    traced = [o for o in ops if o["traced"] and o["ok"]]
    n = max(1, len(traced))
    ids = {o["id"] for o in traced}
    spans = [s for s in h.tracer.spans if s["op"] in ids]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s: dict, key: str) -> float:
        return s.get("counts", {}).get(key, 0.0) + sum(
            subtree(c, key) for c in kids.get(s["id"], [])
        )

    def total(name: str, key: str) -> float:
        """``key`` summed over spans called ``name`` and everything
        under them."""
        return sum(subtree(s, key) for s in spans if s["name"] == name)

    def attr(name: str, key: str) -> float:
        return sum(s.get(key, 0.0) for s in spans if s["name"] == name)

    def per_call(name: str, key: str) -> float:
        calls = sum(1 for s in spans if s["name"] == name)
        return total(name, key) / calls if calls else 0.0

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "op")
    run_s = total("op", "run_s")
    segs_on_disk = sum(count_segments(log) for o in traced for log in o["logs"])
    rows_out = sum(o["rows_out"] for o in traced if o["logs"])
    stats = getattr(wl, "stats", {})
    store = getattr(wl, "store", None)
    log = getattr(wl, "log", None)
    metrics = {
        "session.start_s": (h.phases["session.start_s"], "s"),
        "catalog.load_s": (h.phases["catalog.load_s"], "s"),
        "fixtures.staging_s": (h.phases["fixtures.staging_s"], "s"),
        "fixtures.warmup_s": (h.phases["fixtures.warmup_s"], "s"),
        "operators.construct_s": (attr("operators.construct", "dur") / n, "s"),
        "operators.construct_jobs": (total("operators.construct", "jobs") / n, "count"),
        "operators.cached_mb": (cached[0], "MB"),
        "operators.cached_rdds": (cached[1], "count"),
        "plans.analysis_s": (attr("plans.plan", "analysis_s") / n, "s"),
        "plans.optimization_s": (attr("plans.plan", "optimization_s") / n, "s"),
        "plans.planning_s": (attr("plans.plan", "planning_s") / n, "s"),
        "plans.plan_chars": (attr("plans.plan", "plan_chars") / n, "count"),
        "plans.exchanges": (attr("plans.plan", "exchanges") / n, "count"),
        "spark_exec.wall_s": (wall / n, "s"),
        "spark_exec.jobs": (total("op", "jobs") / n, "count"),
        "spark_exec.stages": (total("op", "stages") / n, "count"),
        "spark_exec.tasks": (total("op", "tasks") / n, "count"),
        "spark_exec.run_s": (run_s / n, "s"),
        "spark_exec.cpu_s": (total("op", "cpu_s") / n, "s"),
        "spark_exec.gc_s": (total("op", "gc_s") / n, "s"),
        "spark_exec.shuffle_read_bytes": (total("op", "shuffle_read_bytes") / n, "B"),
        "spark_exec.shuffle_write_bytes": (total("op", "shuffle_write_bytes") / n, "B"),
        "spark_exec.spill_bytes": (total("op", "spill_bytes") / n, "B"),
        "spark_exec.busy_ratio": (run_s / (wall * h.cpus) if wall else 0.0, "ratio"),
        "sources.scan_tasks": (total("op", "scan_tasks") / n, "count"),
        "sources.segments_on_disk": (segs_on_disk / n, "count"),
        "sources.prune_ratio": (
            total("op", "scan_tasks") / segs_on_disk if segs_on_disk else 0.0, "ratio"),
        "sources.rows_read_per_row_out": (
            total("op", "scan_rows") / rows_out if rows_out else 0.0, "ratio"),
        "sources.append_s": (attr("sources.append", "dur") / n, "s"),
        "sources.segments_written": (mean(stats.get("segments_written", [])), "count"),
        "sources.log_bytes": (dir_bytes(log) if log else 0, "B"),
        "functions.python_nodes": (total("op", "python_nodes") / n, "count"),
        "functions.python_bytes_sent": (total("op", "python_bytes_sent") / n, "B"),
        "functions.python_bytes_received": (total("op", "python_bytes_received") / n, "B"),
        "streaming.serving.maintain_s": (attr("streaming.serving.maintain", "dur") / n, "s"),
        "streaming.serving.serve_s": (attr("streaming.serving.serve", "dur") / n, "s"),
        "streaming.serving.tail_rows": (per_call("streaming.serving.serve", "scan_rows"), "count"),
        "streaming.serving.store_bytes": (dir_bytes(store) if store else 0, "B"),
        "streaming.serving.live_generations": (
            sum(1 for e in os.listdir(store) if e.startswith("gen-")) if store else 0,
            "count"),
        "streaming.cdc.merge_s": (attr("streaming.cdc.merge", "dur") / n, "s"),
        "streaming.cdc.lookup_s": (attr("streaming.cdc.lookup", "dur") / n, "s"),
        "streaming.cdc.buckets_rewritten_ratio": (
            mean(stats.get("buckets_rewritten_ratio", [])), "ratio"),
        "streaming.cdc.rewritten_bytes_per_changed_row": (
            mean(stats.get("rewritten_bytes_per_changed_row", [])), "B"),
        "trace.overhead_s": (trace_overhead([o for o in ops if o["ok"]]), "s"),
    }
    self_s = {k: v / n for k, v in self_time_by_name(spans).items()}
    return ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, self_s)


def write_spans(h: Harness) -> str:
    out_dir = os.path.join(HERE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{h.workload}-seed{h.seed}.jsonl")
    with open(path, "w") as fh:
        for s in h.tracer.spans:
            fh.write(json.dumps(s) + "\n")
    return os.path.relpath(path, ROOT)


def sweep_dead_runs(run_base: str) -> None:
    """Delete run directories whose process is gone (a run killed
    before its own clean-up), so debris never piles up across runs."""
    for entry in os.listdir(run_base):
        if not entry.isdigit():
            continue
        try:
            os.kill(int(entry), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(run_base, entry), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    # fail fast, before any JVM starts, when the engine is not here
    import presto_rakam_kafka_spark  # noqa: F401
    import tests.oracle_check  # noqa: F401

    from stats import latency_summary, median
    from workloads import DASHBOARD, IngestWorkload, ReadWorkload

    top_before = sorted(os.listdir(ROOT))
    h = Harness(args)
    os.makedirs(h.run_base, exist_ok=True)
    sweep_dead_runs(h.run_base)
    try:
        h.isolate()
        h.start_session()
        if h.workload == "events_dashboard":
            wl = ReadWorkload(h, DASHBOARD)
        else:
            wl = IngestWorkload(h)
        wl.setup()
        setup_s = time.perf_counter() - _T0
        ops = h.measure(wl)
        if h.trace:
            h.tracer.collect()
        mem = h.retained_mb()
        cached = h.cached()
        canary = h.canary()
        if h.trace:
            metrics, self_s = per_layer(h, wl, ops, cached)
            spans_file = write_spans(h)
        else:
            metrics, self_s, spans_file = end_to_end(h, wl, ops, setup_s, mem), None, None
    finally:
        try:
            h.stop_session()
        finally:
            shutil.rmtree(h.run_dir, ignore_errors=True)
            try:
                os.rmdir(h.run_base)
            except OSError:
                pass  # another run still owns a directory there

    left = sorted(set(os.listdir(ROOT)) - set(top_before))
    if left or os.path.exists(h.run_dir):
        print(f"run left files behind in the checkout: {left}", file=sys.stderr)
        return 3
    failed = sum(1 for o in ops if not o["ok"])
    lat = latency_summary([o["latency"] for o in ops if not o["traced"]])
    detail = {
        "workload": h.workload, "seed": h.seed, "trace": int(h.trace),
        "nproc": h.nproc, "cpus": h.cpus, "canary_range_sum_s": canary,
        "setup_phases_s": h.phases, "rounds": h.rounds, "timed_s": h.timed_s,
        "ops": len(ops), "op_latencies_s": [round(o["latency"], 4) for o in ops],
        "op_names": [o["name"] for o in ops],
        "per_name_p50_s": {
            name: median([o["latency"] for o in ops if o["name"] == name])
            for name in sorted({o["name"] for o in ops})
        },
        "op_p90_s": lat["p90"],
        "max_supported_percentile": lat["max_supported_pct"],
        "events_per_s": (
            {"value": wl.BATCH * (len(ops) - failed) / h.timed_s, "unit": "events/s"}
            if h.workload == "ingest_serve" else None
        ),
        "error_rate": failed / len(ops), "check_failures": h.checker.check_failures,
        "checks": h.checker.checks, "failures": h.checker.failures[:5],
    }
    if self_s is not None:
        detail["self_s_per_op"] = self_s
        detail["spans_file"] = spans_file
    print(json.dumps(detail))
    correct = h.checker.check_failures == 0
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
