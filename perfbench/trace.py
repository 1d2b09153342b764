"""Tracing helpers for the benchmark's traced run.

Everything here observes the engine from outside, through its public calls:

* ``Tracer`` keeps spans (name, start, end, parent) in memory; a span's
  self time is its duration minus the part of it that its children cover.
* ``StatusReader`` reads Spark job and stage metrics from the driver's
  in-memory status store. It runs no Spark job, and it must be called after
  every traced call, because ``spark.ui.retainedStages`` evicts old stages.
* ``Py4jCounter`` counts py4j round-trips by wrapping the gateway client.
* ``count_table_io`` wraps one ``TableIO`` instance's public methods.

``median_n`` is the statistic every reported timing series uses.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------- statistics


def median_n(values: list[float]) -> tuple[float, int]:
    """Median of a non-empty timing series, with its sample count."""
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values), len(values)


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of *intervals*."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. Times are ``time.time()`` seconds, so spans
    line up with the epoch-millisecond job times of the Spark status store."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> Span:
        s = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = self.add(name, time.time(), None, parent, **attrs)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid) if c.end is not None]
        return s.duration - covered(kids, s.start, s.end)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.end is not None:
                out[s.name] += self.self_time(s.sid)
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, **s.attrs}
            for s in self.spans
        ]


# ---------------------------------------------------------------- py4j


class Py4jCounter:
    """Counts py4j round-trips by wrapping the gateway client's
    ``send_command``; every JavaObject calls through that one client."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = None
        self._lock = threading.Lock()
        self.calls = 0

    def install(self) -> None:
        self._orig = self._client.send_command

        def counted(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            del self._client.send_command  # the class method shows through
            self._orig = None


# ---------------------------------------------------------------- TableIO

TABLE_IO_METHODS = (
    "write", "rewrite", "read", "exists", "delete", "file_row_count",
    "is_complete", "write_manifest", "read_manifest", "list_manifests",
)


class TableIOCounter:
    """Call counts and wall seconds per public ``TableIO`` method."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()

    def snapshot(self) -> tuple[dict, dict]:
        with self._lock:
            return dict(self.calls), dict(self.secs)


def count_table_io(io, counter: TableIOCounter) -> None:
    """Wrap the public methods of one TableIO *instance* (engine threads
    call them concurrently, hence the lock)."""
    for name in TABLE_IO_METHODS:
        orig = getattr(io, name)

        def wrapped(*args, _orig=orig, _name=name, **kwargs):
            t0 = time.perf_counter()
            try:
                return _orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with counter._lock:
                    counter.calls[_name] += 1
                    counter.secs[_name] += dt

        setattr(io, name, wrapped)


def uncount_table_io(io) -> None:
    for name in TABLE_IO_METHODS:
        io.__dict__.pop(name, None)


# ---------------------------------------------------------------- status store

STAGE_FIELDS = (
    "executorRunTime", "inputBytes", "inputRecords", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StatusReader:
    """Job/stage metrics of the jobs a call submitted, read from the
    driver's status store (``spark.ui.enabled=false`` still keeps it).

    Job ids are sequential, so the jobs of one call are those above the
    last id seen before it. The store is fed asynchronously by the listener
    bus, so both ``mark()`` and ``read()`` first wait for the bus to drain;
    ``read()`` then walks forward until the store has no next job. Each job
    and stage is fetched as one JSON string (Jackson with the Scala module),
    one py4j call apiece."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_mod)
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.next_job = 0
        self.stages_seen: set[int] = set()
        self.missing_stages = 0

    def _job(self, jid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            return json.loads(self._mapper.writeValueAsString(self._store.job(jid)))
        except Py4JJavaError:
            return None

    def _stage(self, sid: int) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        try:
            data = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
        except Py4JJavaError:
            return []
        return json.loads(self._mapper.writeValueAsString(data))

    def mark(self) -> None:
        """Skip every job submitted so far (call before a traced call)."""
        self._bus.waitUntilEmpty()
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def read(self) -> dict:
        """Totals over the jobs submitted since the last ``mark``/``read``,
        plus their [start, end] intervals in epoch seconds."""
        self._bus.waitUntilEmpty()
        jobs = []
        while (j := self._job(self.next_job)) is not None:
            if j.get("status") == "RUNNING":
                break
            jobs.append(j)
            self.next_job += 1
        out = {k: 0 for k in STAGE_FIELDS}
        out.update(jobs=len(jobs), stages=0, tasks=0, intervals=[])
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                out["intervals"].append(
                    (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
                )
            for sid in j.get("stageIds", []):
                if sid in self.stages_seen:
                    continue
                self.stages_seen.add(sid)
                attempts = self._stage(sid)
                if not attempts:
                    self.missing_stages += 1
                for st in attempts:
                    if st.get("status") == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += int(st.get("numTasks") or 0)
                    for k in STAGE_FIELDS:
                        out[k] += int(st.get(k) or 0)
        return out
