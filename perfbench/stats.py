"""Pure helpers: latency summaries, span self time and answer checks.

Nothing here imports Spark, so ``test_perfbench.py`` covers it without
a JVM.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the smallest value with at least
    ``pct`` percent of the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def supported_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it in ``n`` samples: p90 needs 100 samples, p50
    needs 20.  Returns 0 when even the median is unsupported."""
    if n < 2 * beyond:
        return 0
    return int(math.floor(100 * (n - beyond) / n))


def latency_summary(latencies: list[float]) -> dict:
    """Median, p90 when the sample count supports it, and the count.
    A failed operation is passed in as ``math.inf``: it misses every
    latency limit."""
    n = len(latencies)
    out = {"n": n, "p50": median(latencies) if n else math.inf}
    top = supported_percentile(n)
    out["p90"] = percentile(latencies, 90) if top >= 90 else None
    out["max_supported_pct"] = top
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span id, its duration minus the part of its interval that
    its direct children cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    own = self_times(spans)
    totals: dict[str, float] = {}
    for s in spans:
        totals[s["name"]] = totals.get(s["name"], 0.0) + own[s["id"]]
    return totals


def trace_overhead(ops: list[dict]) -> float:
    """Median extra latency of a traced operation.  Each operation name
    alternates untraced and traced runs; a traced run is compared with
    the mean of the untraced runs of the same name just before and
    after it, so a trend across the run (a growing log, a warming
    cache) cancels instead of counting as tracing cost."""
    diffs = []
    by_name: dict[str, list[dict]] = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o)
    for seq in by_name.values():
        for i, o in enumerate(seq):
            if not o["traced"]:
                continue
            near = [
                seq[j]["latency"]
                for j in (i - 1, i + 1)
                if 0 <= j < len(seq) and not seq[j]["traced"]
            ]
            if near:
                diffs.append(o["latency"] - sum(near) / len(near))
    if not diffs:
        raise ValueError("no traced operation has an untraced neighbour")
    return median(diffs)


@dataclass
class Checker:
    """Counts wrong answers; every check lands in ``failures`` with
    its reason, so a run can say which answer was wrong."""

    checks: int = 0
    failures: list[str] = field(default_factory=list)

    @property
    def check_failures(self) -> int:
        return len(self.failures)

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        self.checks += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")
        return ok

    def cells(self, what: str, got: dict, want: dict, rel: float = 1e-9) -> bool:
        """``got`` and ``want`` map a group key to (count, sum): counts
        must be equal, sums equal up to summation-order rounding."""
        if set(got) != set(want):
            missing = sorted(set(want) - set(got))[:3]
            extra = sorted(set(got) - set(want))[:3]
            return self.record(what, False, f"keys differ: missing {missing} extra {extra}")
        for k, (n, s) in want.items():
            gn, gs = got[k]
            if gn != n or abs(gs - s) > rel * max(1.0, abs(s)):
                return self.record(what, False, f"{k}: got ({gn}, {gs}) want ({n}, {s})")
        return self.record(what, True)

    def rows(self, what: str, got: dict, want: dict) -> bool:
        """Exact comparison of key -> row maps."""
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            k = diff[0]
            return self.record(what, False, f"key {k}: got {got.get(k)} want {want.get(k)}")
        return self.record(what, True)
