"""The two workloads.

Each is a closed loop with one client: the next operation starts when
the previous one has returned.  ``setup`` stages the inputs and runs the
untimed warm-up (which is also where read answers are checked);
``round`` yields the operations of one round in seeded order.
"""

from __future__ import annotations

import os
import random

from datagen import IngestGenerator, Scale, write_tables

#: Rakam read queries over the ``events`` table and its segment logs.
#: Most of their time is in the ``kafka_segments`` source (offset and
#: timestamp pushdown, decode), the offset-pushdown plans and the
#: serving read side; little is in the curation operators.
#: On a 4-core box two answer in under 0.7 s and four scan a segment
#: log for 1.2-1.5 s, so the median of a run falls inside that group of
#: four.  ``kafka_log_compacted_scan`` (about 1.1 s) is left out: it
#: sat just below the group, and the median of a run jumped between it
#: and the group as the queries' order changed from run to run.
DASHBOARD = (
    "flagship_offset_agg",
    "dsv2_offset_scan",
    "dsv2_ts_pruned_scan",
    "catalog_native_avro_agg",
    "kafka_key_lookup_spark",
    "events_serve_rollup_tail",
)

#: Which staged segment log each dashboard query scans (for the
#: segments-on-disk side of ``sources.prune_ratio``).
QUERY_LOG = {
    "catalog_native_avro_agg": "_avro_segment_log_dir",
    "dsv2_offset_scan": "_segment_log_dir",
    "dsv2_ts_pruned_scan": "_segment_log_dir",
    "events_serve_rollup_tail": "_segment_log_dir",
    "kafka_key_lookup_spark": "_keyed_log_dir",
}

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def count_segments(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.startswith("segment-") and f.endswith(".parquet")
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


class ReadWorkload:
    """One operation is one query: construct (``QUERIES[name]``), plan
    (``queryExecution().executedPlan()``) and execute to the ``noop``
    sink."""

    #: Four passes however fast the box is, so every run times the same
    #: operations.  The first pass after the warm-up still runs about
    #: 10 % slower than the ones after it.
    MIN_ROUNDS = 4

    def __init__(self, h, queries: tuple[str, ...]):
        self.h = h
        self.queries = queries
        self.order = random.Random(h.seed)
        self.rows_out: dict[str, int] = {}
        self.log_dirs: dict[str, str] = {}

    def setup(self) -> None:
        h = self.h
        from presto_rakam_kafka_spark import queries as Q
        from presto_rakam_kafka_spark import queries_dsv2 as QD
        from presto_rakam_kafka_spark.fixtures import load_catalog

        self.Q = Q
        with h.phase("fixtures.staging_s"):
            self.generated_bytes = write_tables(h.data_dir, h.seed, Scale())
            for helper in sorted(set(QUERY_LOG.values())):
                self.log_dirs[helper] = getattr(QD, helper)(h.spark, h.data_dir)
        with h.phase("catalog.load_s"):
            load_catalog(h.spark, h.data_dir)
        with h.phase("fixtures.warmup_s"):
            # pays each plan's first execution and checks its answer
            duck = h.duckdb_views(TABLES)
            for name in self.queries:
                self.rows_out[name] = h.check_query(name, Q, duck)
            duck.close()

    def round(self) -> list:
        """One pass over the queries in a seeded order."""
        names = list(self.queries)
        self.order.shuffle(names)
        return [(name, self._op(name)) for name in names]

    def _op(self, name: str):
        h = self.h

        def run(op_id: int) -> dict:
            h.construct_plan_execute(
                lambda: self.Q.QUERIES[name](h.spark, h.data_dir),
                lambda df: df.write.format("noop").mode("overwrite").save(),
            )
            logs = [self.log_dirs[QUERY_LOG[name]]] if name in QUERY_LOG else []
            return {"rows_out": self.rows_out[name], "logs": logs}

        return run

    def stored_per_input(self) -> float:
        """Bytes on disk of the generated tables and everything the
        engine staged from them (segment logs, serving stores, indexes),
        over the bytes generated."""
        h = self.h
        return (dir_bytes(h.data_dir) + dir_bytes(h.tmp_dir)) / self.generated_bytes


class IngestWorkload:
    """The write side.  One operation is one tick: append a generated
    batch through the ``kafka_segments`` writer, fold everything but
    that batch into the serving store, merge a batch of keyed changes
    into the bucket-sharded snapshot, then serve the rollup and look up
    keys and check both against the generator's running truth."""

    BATCH = 2_000
    CHANGES = 200
    LOOKUPS = 20
    PARTITIONS = 3
    BUCKETS = 16
    PROFILES = 1_000
    HISTORY = 4
    GC_EVERY = 4
    WARMUP_TICKS = 2
    #: Stored bytes are read after this tick, the first that runs GC, so
    #: every run reads them at the same log length however many ticks
    #: its time allows.
    STORED_AT_TICK = 4
    #: Four timed ticks however fast the box is: the median then
    #: discounts a slow tick on either side, and a faster box does not
    #: time more (and warmer) ticks than a slower one at
    #: ``--seconds 10``.
    MIN_ROUNDS = 4

    def __init__(self, h):
        self.h = h
        self.gen = IngestGenerator(h.seed)
        self.ticks = 0
        root = os.path.join(h.run_dir, "ingest")
        self.log = os.path.join(root, "log")
        self.store = os.path.join(root, "store")
        self.snap = os.path.join(root, "snapshot")
        self.stored_ratio: float | None = None
        self.stats: dict[str, list[float]] = {
            "segments_written": [], "buckets_rewritten_ratio": [],
            "rewritten_bytes_per_changed_row": [],
        }

    # The serving store keeps mergeable (day, event_type) partial cells.
    @staticmethod
    def cell_fn(raw):
        from pyspark.sql import functions as F

        v = F.from_json(
            F.col("value").cast("string"),
            "event_id LONG, user_id LONG, event_type STRING, value DOUBLE",
        )
        rows = raw.select(
            F.date_format("timestamp", "yyyy-MM-dd").alias("day"), v.alias("r")
        ).select("day", "r.event_type", "r.value")
        return rows.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
        )

    @staticmethod
    def merge_exprs():
        from pyspark.sql import functions as F

        return [F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")]

    def setup(self) -> None:
        h = self.h
        from presto_rakam_kafka_spark.fixtures import load_catalog
        from presto_rakam_kafka_spark.sources.kafka_datasource import (
            ensure_segments_source,
        )
        from presto_rakam_kafka_spark.streaming import cdc, serving

        self.cdc, self.serving = cdc, serving
        with h.phase("fixtures.staging_s"):
            write_tables(h.data_dir, h.seed, Scale())
            ensure_segments_source(h.spark)
            history = self.gen.frames(self.HISTORY * self.BATCH)
            self._append(history)
            cdc.init_snapshot(
                h.spark.createDataFrame(self.gen.profiles(self.PROFILES)).drop("_deleted"),
                self.snap, key_col="user_id", num_buckets=self.BUCKETS,
            )
        with h.phase("catalog.load_s"):
            load_catalog(h.spark, h.data_dir)
        with h.phase("fixtures.warmup_s"):
            for _ in range(self.WARMUP_TICKS):
                self._tick(-1)

    def round(self) -> list:
        return [("tick", self._tick)]

    def _append(self, table) -> None:
        df = self.h.spark.createDataFrame(table).coalesce(1)
        (
            df.write.format("kafka_segments")
            .option("path", self.log)
            .option("numPartitions", str(self.PARTITIONS))
            .mode("append")
            .save()
        )

    def _tick(self, op_id: int) -> dict:
        h, t, gen = self.h, self.h.tracer, self.gen
        self.ticks += 1
        tick = self.ticks
        batch = gen.frames(self.BATCH)
        first = int(batch.column("offset")[0].as_py())
        before = count_segments(self.log) if t.enabled else 0
        with t.span("sources.append"):
            self._append(batch)
        if t.enabled:
            self.stats["segments_written"].append(count_segments(self.log) - before)
        with t.span("streaming.serving.maintain"):
            self.serving.maintain_rollup(
                h.spark, self.log, self.store, self.cell_fn, ["day", "event_type"],
                self.merge_exprs(), day_col="day", up_to=first,
            )
        changes = gen.changes(self.CHANGES, tick)
        with t.span("streaming.cdc.merge"):
            gen_name, touched = self.cdc.merge_into_snapshot(
                h.spark.createDataFrame(changes), self.snap, "user_id",
                delete_col="_deleted",
            )
        if t.enabled:
            self.stats["buckets_rewritten_ratio"].append(len(touched) / self.BUCKETS)
            rewritten = sum(
                dir_bytes(os.path.join(self.snap, gen_name, f"_shard={b}"))
                for b in touched
            )
            self.stats["rewritten_bytes_per_changed_row"].append(rewritten / self.CHANGES)
        with t.span("streaming.serving.serve"):
            served = h.construct_plan_execute(
                lambda: self.serving.serve_rollup_tail(
                    h.spark, self.log, self.store, self.cell_fn,
                    ["day", "event_type"], self.merge_exprs(),
                ),
                lambda df: df.collect(),
            )
        keys = gen.lookup_keys(self.LOOKUPS)
        with t.span("streaming.cdc.lookup"):
            found = h.construct_plan_execute(
                lambda: self.cdc.lookup_snapshot(h.spark, self.snap, keys),
                lambda df: df.collect(),
            )
        if tick % self.GC_EVERY == 0:
            with t.span("streaming.cdc.gc"):
                self.cdc.gc_snapshots(self.snap, keep_last=2, min_age_s=0.0)
        with t.span("check"):
            h.checker.cells(
                f"serve tick {tick}",
                {(r["day"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in served},
                {k: tuple(v) for k, v in gen.truth.cells.items()},
            )
            h.checker.rows(
                f"lookup tick {tick}",
                {int(r["user_id"]): (r["balance"], r["tier"], r["tick"]) for r in found},
                {k: gen.truth.rows[k] for k in keys if k in gen.truth.rows},
            )
        if tick == self.STORED_AT_TICK:
            stored = sum(dir_bytes(d) for d in (self.log, self.store, self.snap))
            self.stored_ratio = stored / gen.generated_bytes
        return {"rows_out": len(served), "logs": [self.log]}

    def stored_per_input(self) -> float:
        """Bytes on disk across the log, the serving store and the
        snapshot after tick ``STORED_AT_TICK``, over the bytes of every
        frame and change batch generated up to then."""
        return self.stored_ratio
