"""Seeded input generators for the benchmark.

Everything the engine reads during a run comes from here, so one seed
fixes every input.  The tables follow the schemas of the fixture
tables the engine's queries are written against (``FIXTURES.md``): the
same column names, Arrow types and value domains, at a scale chosen by
the benchmark (``Scale``).  The ingest side generates raw Kafka frames
and keyed change batches together with the running truth that the
engine's answers are checked against.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

#: 2024-01-01 00:00:00 UTC in microseconds; the event-time queries cut
#: inside a 30-day window starting here.
EPOCH_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
#: Orders and line items span 1992-2001 like the fixture tables.
ORDER_EPOCH_US = 694_224_000_000_000
ORDER_SPAN_US = 3_500 * DAY_US


@dataclass(frozen=True)
class Scale:
    """Row counts of the generated tables.  Events, documents and
    embeddings match the fixture tables at sf0.01, where one warm query
    takes 0.3-3 s on a 4-core box, so a run completes whole rounds of
    every query.  No benchmarked query reads the star-schema tables;
    the catalog registers them, so they are kept at sf0.001."""

    events: int = 10_000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dim: int = 64
    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    orders: int = 1_500
    lineitems: int = 6_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so adding a table never shifts
    another table's values for the same seed."""
    return np.random.default_rng([seed, *stream.encode()])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def events_table(seed: int, scale: Scale) -> pa.Table:
    rng = _rng(seed, "events")
    n = scale.events
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = EPOCH_US + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1).astype("int64")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, scale.users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(_cents(rng, 0, 500, n), pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )


def documents_table(seed: int, scale: Scale) -> pa.Table:
    rng = _rng(seed, "documents")
    n = scale.documents
    texts: list[str] = []
    for i in range(n):
        # one document in twenty repeats an earlier one with a marker
        # word swapped in, so the dedup operators have near-duplicates
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, scale: Scale) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n, d = scale.embeddings, scale.dim
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, d))
    x = rng.normal(0, 1, (n, d)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(x.tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def star_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    rng = _rng(seed, "star")
    nc, ns, np_, no, nl = (
        scale.customers, scale.suppliers, scale.parts, scale.orders,
        scale.lineitems,
    )
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    s = lambda a: pa.array(list(a), pa.string())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": s(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": s(f"NATION_{i}" for i in range(25)),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(nc)),
                "c_name": s(f"Customer#{i:09d}" for i in range(nc)),
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": f64(_cents(rng, -999, 9999, nc)),
                "c_mktsegment": s(rng.choice(SEGMENTS, nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(ns)),
                "s_name": s(f"Supplier#{i:09d}" for i in range(ns)),
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": f64(_cents(rng, -999, 9999, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(np_)),
                "p_name": s(
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_)
                    )
                ),
                "p_brand": s(f"Brand#{b}" for b in rng.integers(1, 26, np_)),
                "p_type": s(rng.choice(PART_TYPES, np_)),
                "p_size": i32(rng.integers(1, 51, np_)),
                "p_retailprice": f64(np.round(900 + (np.arange(np_) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(no)),
                "o_custkey": i64(rng.integers(0, nc, no)),
                "o_orderstatus": s(rng.choice(("F", "O", "P"), no)),
                "o_totalprice": f64(_cents(rng, 900, 500_000, no)),
                "o_orderdate": _ts(
                    ORDER_EPOCH_US
                    + rng.integers(0, ORDER_SPAN_US // DAY_US, no) * DAY_US
                ),
                "o_orderpriority": s(rng.choice(PRIORITIES, no)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, no, nl)),
                "l_partkey": i64(rng.integers(0, np_, nl)),
                "l_suppkey": i64(rng.integers(0, ns, nl)),
                "l_linenumber": i32(rng.integers(1, 8, nl)),
                "l_quantity": f64(rng.integers(1, 51, nl).astype(float)),
                "l_extendedprice": f64(_cents(rng, 900, 105_000, nl)),
                "l_discount": f64(rng.integers(0, 11, nl) / 100),
                "l_tax": f64(rng.integers(0, 9, nl) / 100),
                "l_returnflag": s(rng.choice(("A", "N", "R"), nl)),
                "l_linestatus": s(rng.choice(("F", "O"), nl)),
                "l_shipdate": _ts(
                    ORDER_EPOCH_US
                    + rng.integers(0, ORDER_SPAN_US // DAY_US + 90, nl) * DAY_US
                ),
            }
        ),
    }


def write_tables(out_dir: str, seed: int, scale: Scale) -> int:
    """Write all ten fixture tables as ``<out_dir>/<name>.parquet``;
    returns the generated bytes (Arrow buffer size)."""
    tables = {
        **star_tables(seed, scale),
        "events": events_table(seed, scale),
        "documents": documents_table(seed, scale),
        "embeddings": embeddings_table(seed, scale),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.nbytes for t in tables.values())


# ---------------------------------------------------------------------
# Ingest: raw event frames, keyed changes, and the running truth
# ---------------------------------------------------------------------


@dataclass
class IngestTruth:
    """What the engine must answer after each tick: per (day,
    event_type) event count and value sum over the whole log, and the
    latest row per key of the CDC snapshot."""

    cells: dict[tuple[str, str], list] = field(default_factory=dict)
    rows: dict[int, tuple] = field(default_factory=dict)


class IngestGenerator:
    """Batches of raw frames with a Zipf-skewed user key, event time
    advancing one hour per batch, and a share of late events that land
    in earlier days; plus batches of keyed upserts and deletes."""

    LATE_SHARE = 0.1
    HOUR_US = 3_600_000_000

    def __init__(self, seed: int, users: int = 500, key_space: int = 2_000):
        self.rng = _rng(seed, "ingest")
        self.users = users
        self.key_space = key_space
        self.next_offset = 0
        self.batches = 0
        self.truth = IngestTruth()
        self.generated_bytes = 0
        self._zipf = 1.0 / np.arange(1, users + 1) ** 1.1
        self._zipf /= self._zipf.sum()

    def frames(self, n: int) -> pa.Table:
        rng = self.rng
        first = self.next_offset
        offsets = np.arange(first, first + n, dtype="int64")
        start = EPOCH_US + self.batches * self.HOUR_US
        ts = start + np.sort(rng.integers(0, self.HOUR_US, n))
        late = rng.random(n) < self.LATE_SHARE
        ts[late] -= rng.integers(self.HOUR_US, 2 * DAY_US, int(late.sum()))
        ts = np.maximum(ts, EPOCH_US)
        users = rng.choice(self.users, n, p=self._zipf)
        types = rng.choice(EVENT_TYPES, n)
        values = _cents(rng, 0, 500, n)
        payloads = [
            json.dumps(
                {"event_id": int(o), "user_id": int(u), "event_type": str(t),
                 "value": float(v)}
            ).encode()
            for o, u, t, v in zip(offsets, users, types, values)
        ]
        keys = [str(int(u)).encode() for u in users]
        days = (ts // DAY_US) * DAY_US
        for d, t, v in zip(days, types, values):
            day = np.datetime64(int(d), "us").astype("datetime64[D]").astype(str)
            cell = self.truth.cells.setdefault((day, str(t)), [0, 0.0])
            cell[0] += 1
            cell[1] += float(v)
        self.next_offset += n
        self.batches += 1
        table = pa.table(
            {
                "offset": pa.array(offsets, pa.int64()),
                "key": pa.array(keys, pa.binary()),
                "value": pa.array(payloads, pa.binary()),
                "timestamp": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            }
        )
        self.generated_bytes += table.nbytes
        return table

    def profiles(self, n: int) -> pa.Table:
        """The snapshot's initial rows: keys 0..n-1."""
        keys = np.arange(n, dtype="int64")
        return self._rows(keys, np.zeros(n, dtype=bool), tick=0)

    def changes(self, n: int, tick: int) -> pa.Table:
        """``n`` distinct keys (updates must be unique per key); one in
        ten is a delete, the rest upsert, some of them new keys."""
        keys = self.rng.choice(self.key_space, n, replace=False).astype("int64")
        deleted = self.rng.random(n) < 0.1
        return self._rows(keys, deleted, tick)

    def _rows(self, keys: np.ndarray, deleted: np.ndarray, tick: int) -> pa.Table:
        balance = _cents(self.rng, 0, 10_000, len(keys))
        tier = self.rng.choice(("free", "pro", "team"), len(keys))
        for k, dl, b, t in zip(keys, deleted, balance, tier):
            if dl:
                self.truth.rows.pop(int(k), None)
            else:
                self.truth.rows[int(k)] = (float(b), str(t), int(tick))
        table = pa.table(
            {
                "user_id": pa.array(keys, pa.int64()),
                "balance": pa.array(balance, pa.float64()),
                "tier": pa.array(tier.tolist(), pa.string()),
                "tick": pa.array(np.full(len(keys), tick), pa.int64()),
                "_deleted": pa.array(deleted, pa.bool_()),
            }
        )
        self.generated_bytes += table.nbytes
        return table

    def lookup_keys(self, n: int) -> list[int]:
        """Keys to read back: present, deleted and never-written alike."""
        return sorted(
            int(k) for k in self.rng.choice(self.key_space, n, replace=False)
        )
