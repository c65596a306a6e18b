"""Spans, Spark plan metrics and JVM gauges for the traced run.

Spans are recorded by the benchmark around its calls into the program's
public functions (nothing inside the program is instrumented), kept in
memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, parent, name, start_s, end_s, attrs).

    Disabled tracers keep the same API and record nothing, so the
    untraced run pays no more than a context-manager entry per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start_s": time.monotonic() - self._t0,
               "end_s": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end_s"] = time.monotonic() - self._t0

    def durations(self, name: str) -> list[float]:
        return [s["end_s"] - s["start_s"] for s in self.spans
                if s["name"] == name and s["end_s"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark SQL plan metrics, read from the status store (works with the UI
#    off). Values come back formatted ("total (min, med, max ...)\n1.2 s
#    (...)"); only the leading total is parsed.

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_TOTAL = re.compile(r"^\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?")

# plan metric name -> per-layer name; times in seconds, sizes in bytes
PLAN_METRICS = {
    "scan time": "plan.scan_s",
    "shuffle write time": "plan.shuffle_write_s",
    "shuffle bytes written": "plan.shuffle_write_bytes",
    "sort time": "plan.sort_s",
    "spill size": "plan.spill_bytes",
    "time in aggregation build": "plan.agg_build_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_metric(text: str | None, metric_type: str) -> float:
    """Total of one formatted SQL metric value, in s / bytes / count."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _TOTAL.match(body)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return val * _UNITS.get(unit or "ms", 1e-3)
    if metric_type == "size":
        return val * _UNITS.get(unit or "B", 1.0)
    return val


class PlanMetrics:
    """Sums SQL plan metrics over the executions started since the last
    ``take()``, and over all takes in ``totals``; ``actions`` keeps the
    last take per execution, for the spans file."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._max_id()
        self.actions: list[dict] = []
        self.totals: dict[str, float] = {}

    def _max_id(self) -> int:
        ex = self._store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def take(self, attrs: dict | None = None) -> dict[str, float]:
        out = {v: 0.0 for v in PLAN_METRICS.values()}
        self.actions = []
        ex = self._store.executionsList()
        newest = self._seen
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._seen:
                continue
            newest = max(newest, eid)
            action = {v: 0.0 for v in PLAN_METRICS.values()}
            values = self._store.executionMetrics(eid)
            it = e.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                key = PLAN_METRICS.get(pm.name())
                if key is None:
                    continue
                v = values.get(pm.accumulatorId())
                action[key] += parse_metric(v.get() if v.isDefined() else None,
                                            pm.metricType())
            for k, v in action.items():
                out[k] += v
            self.actions.append({"execution_id": eid,
                                 "description": str(e.description())[:120],
                                 **{k: v for k, v in action.items() if v}})
        self._seen = newest
        for k, v in out.items():
            self.totals[k] = self.totals.get(k, 0.0) + v
        if attrs is not None:
            attrs["actions"] = self.actions
        return out

    def per_round(self, n_rounds: int) -> dict[str, float]:
        return {k: v / n_rounds for k, v in self.totals.items()
                if k.startswith("plan.")}


def jvm_gauges(spark) -> dict[str, float]:
    """Cumulative GC time and peak heap of the driver JVM (local mode:
    the one JVM that runs every task)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
    pools = mf.getMemoryPoolMXBeans()
    peak = 0
    for i in range(pools.size()):
        p = pools.get(i)
        if str(p.getType().toString()) == "Heap memory":
            peak += p.getPeakUsage().getUsed()
    return {"jvm.gc_s": gc_ms / 1e3, "jvm.heap_peak_mb": peak / 2 ** 20}
