"""Tracing for the per-layer run: spans, plan-prefix ladders and the SQL
metrics Spark already keeps.

Spark evaluates lazily, so a span around a DataFrame-building call measures
only planning. Layer time therefore comes from two sources:

- eager calls (session start, `PipIndex.build`, `StageRunner.run_stage`,
  `collect_stage_metrics`, parquet writes) get a span each;
- lazy layers get a *prefix ladder*: each prefix of the plan is run into a
  `noop` sink, and a layer's self time is the difference between
  consecutive prefixes.

Counts (rows, bytes, spill, Python time) are read after the fact from the
executed plan of a collected DataFrame (`df._jdf.queryExecution()`) or, for
writes, whose query execution is not reachable from Python, from the SQL
status store that Spark keeps even with the UI off.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    once the run ends. With a `SqlStore`, each span also records the range
    of SQL executions that ran inside it (`exec_from`, `exec_to`)."""

    def __init__(self, run_id: str, store: "SqlStore | None" = None):
        self.run_id = run_id
        self.store = store
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        if self.store is not None:
            rec["exec_from"] = self.store.mark()
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            if self.store is not None:
                rec["exec_to"] = self.store.mark()

    def total(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of spans called `name` minus their children."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        child = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] in ids
        )
        return self.total(name) - child

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


# ---------------------------------------------------------------------------
# prefix ladder
# ---------------------------------------------------------------------------


def noop_time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def ladder(steps: list[tuple[str, object]], reps: int) -> dict[str, float]:
    """Median `noop` time of each plan prefix over `reps` rounds, then each
    step's self time as the difference from the previous prefix (clamped at
    0: two prefixes that do the same work differ only by noise)."""
    times: dict[str, list[float]] = {name: [] for name, _ in steps}
    for _ in range(reps):
        for name, build in steps:
            times[name].append(noop_time(build()))
    med = {name: statistics.median(ts) for name, ts in times.items()}
    out, prev = {}, 0.0
    for name, _ in steps:
        out[name] = max(0.0, med[name] - prev)
        prev = med[name]
    out["_prefix_medians"] = med
    return out


# ---------------------------------------------------------------------------
# SQL metrics: one node list shape from two sources
# ---------------------------------------------------------------------------
#
# Both readers return [{"node": <operator name>, "metrics": {<display name>:
# value}}] with times in seconds and sizes in bytes.

_TIME_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(kind: str, raw: int) -> float:
    if kind == "timing":
        return raw * 1e-3
    if kind == "nsTiming":
        return raw * 1e-9
    return raw


def plan_nodes(df) -> list[dict]:
    """Walk the executed (AQE-final) plan of a DataFrame that has been
    collected, with exact SQLMetric values. Shuffle stages also report
    their per-partition byte sizes (`partition_bytes`)."""
    nodes: list[dict] = []

    def walk(p) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        rec = {"node": p.nodeName(), "metrics": {}}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            name = m.name().get() if m.name().isDefined() else kv._1()
            rec["metrics"][name] = _metric_value(m.metricType(), m.value())
        if cls == "ShuffleQueryStageExec" and p.mapStats().isDefined():
            rec["partition_bytes"] = list(p.mapStats().get().bytesByPartitionId())
        nodes.append(rec)
        if cls.endswith("QueryStageExec"):
            walk(p.plan())
            return
        ch = p.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _parse_display(kind: str, text: str) -> float | None:
    # "5,050" | "1490.4 KiB (min, med, max ...)" | "7.8 s (...)"; multi-line
    # forms put the total on the last line
    text = text.strip().splitlines()[-1]
    if kind in ("sum", "average"):
        m = re.match(r"[\d,]+", text)
        return float(m.group(0).replace(",", "")) if m else None
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)", text)
    if not m:
        return None
    v, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return v * _SIZE_SCALE.get(unit, 1)
    return v * _TIME_SCALE.get(unit, 1.0)


class SqlStore:
    """Reads the SQL status store (kept with the UI off) for the executions
    that ran between two marks, e.g. the writes inside one span."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the store is fed by the listener bus, asynchronously
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        self._drain()
        return int(self._store.executionsCount())

    def nodes(self, since: int, until: int | None = None) -> list[dict]:
        """Plan nodes of executions [since, until) in store order."""
        self._drain()
        total = int(self._store.executionsCount())
        until = total if until is None else until
        out: list[dict] = []
        if until <= since:
            return out
        execs = self._store.executionsList(since, until - since)
        it = execs.iterator()
        while it.hasNext():
            eid = it.next().executionId()
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid)
            nit = graph.allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                rec = {"node": n.name(), "metrics": {}, "execution": int(eid)}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    raw = values.get(m.accumulatorId())
                    if raw.isDefined():
                        v = _parse_display(m.metricType(), str(raw.get()))
                        if v is not None:
                            rec["metrics"][m.name()] = v
                out.append(rec)
        return out


def metric_sum(nodes: list[dict], node_prefix: str, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in nodes
        if n["node"].startswith(node_prefix)
    )


def spill_bytes(nodes: list[dict]) -> float:
    return sum(
        v for n in nodes for k, v in n["metrics"].items() if k.startswith("spill size")
    )


def partition_skew(nodes: list[dict]) -> float:
    """max / mean partition bytes over the non-empty partitions of the
    largest shuffle in the plan (1.0 = perfectly even)."""
    stages = [n["partition_bytes"] for n in nodes if n.get("partition_bytes")]
    if not stages:
        return 0.0
    parts = [b for b in max(stages, key=sum) if b > 0]
    return max(parts) / (sum(parts) / len(parts)) if parts else 0.0


class JobCounter:
    """Counts the Spark jobs started under one job group (statusTracker)."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext
        self.group = group

    def __enter__(self) -> "JobCounter":
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        self.sc._jsc.clearJobGroup()

    @property
    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))
