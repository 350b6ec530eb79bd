"""Outside-in tracing for the benchmark's traced runs.

Spans are recorded by wrapping the layers' public methods from this file
(never by editing ``polar_spark``). Each span keeps its name, start, end,
parent span and request id; spans stay in memory until :meth:`Tracer.dump`.
A layer's self time is its span minus the part its child spans cover.

Spark counters come from outside as well: job groups plus
``statusTracker()`` for jobs, stages and tasks, and the Spark UI REST
API (``/api/v1/applications/<id>/stages``) for shuffle bytes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    request: int  # index of the root span of this span's thread stack


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack())

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def carry(self, fn):
        """Wrap ``fn`` so that, run on another thread, it nests under the
        spans open on the calling thread now."""
        captured = list(self._stack())

        @functools.wraps(fn)
        def carried(*a, **kw):
            saved = getattr(self._local, "stack", None)
            self._local.stack = list(captured)
            try:
                return fn(*a, **kw)
            finally:
                self._local.stack = saved

        return carried

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the ``with`` body, nested under the
        calling thread's open span."""
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else -1
            req = self.spans[stack[0]].request if stack else idx
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, req))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- analysis -----------------------------------------------------------
    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000 for s in self.spans if s.name == name and s.end]

    def self_ms(self, name: str) -> list[float]:
        """Per span: its duration minus the union of its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent >= 0 and s.end:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            if s.name != name or not s.end:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s.end - s.start - covered) * 1000)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request": s.request,
                        }
                    )
                    + "\n"
                )


def install(tracer: Tracer) -> None:
    """Wrap every public layer method the benchmark traces."""
    import pyarrow.parquet as pq

    from polar_spark.api import PolarEngine
    from polar_spark.consume import ConsumerGroup, PollResult
    from polar_spark.produce import Producer
    from polar_spark.streaming.dedup import StreamingSemDedupLSH
    from polar_spark.topics import TopicCatalog

    for owner, attr, name in (
        (PolarEngine, "produce_rows", "api.produce_rows"),
        (PolarEngine, "poll", "api.poll"),
        (PolarEngine, "commit", "api.commit"),
        (Producer, "produce_rows", "produce.produce_rows"),
        (Producer, "produce", "produce.produce"),
        (TopicCatalog, "reserve", "topics.reserve"),
        (TopicCatalog, "stamp_staged_offsets", "topics.stamp"),
        (TopicCatalog, "publish", "topics.publish"),
        (ConsumerGroup, "poll", "consume.group_poll"),
        (ConsumerGroup, "commit", "consume.commit"),
        (PollResult, "items", "consume.items"),
        (StreamingSemDedupLSH, "apply_batch", "streaming.apply_batch"),
    ):
        tracer.wrap(owner, attr, name)

    # Work the layers hand to the shared IO pool runs under the spans of
    # the thread that handed it over, so a poll's cold-file reads on pool
    # threads count as the poll's. The segment cache's read-ahead pool is
    # left alone: a read-ahead load is not a miss of the poll that queued it.
    import polar_spark.topics as topics_mod

    real_pool = topics_mod.io_pool

    class CarryingPool:
        def __init__(self, pool) -> None:
            self._pool = pool

        def submit(self, fn, *a, **kw):
            return self._pool.submit(tracer.carry(fn), *a, **kw)

        def map(self, fn, *iterables, **kw):
            return self._pool.map(tracer.carry(fn), *iterables, **kw)

        def __getattr__(self, attr):
            return getattr(self._pool, attr)

    tracer._undo.append((topics_mod, "io_pool", real_pool))
    topics_mod.io_pool = lambda: CarryingPool(real_pool())

    # cache-miss proxy: parquet file opens on behalf of a group poll
    base = pq.ParquetFile

    class CountingParquetFile(base):  # type: ignore[misc, valid-type]
        def __init__(self, *a, **kw):
            if tracer.active("consume.group_poll"):
                tracer.count("consume.parquet_reads")
            super().__init__(*a, **kw)

    tracer._undo.append((pq, "ParquetFile", base))
    pq.ParquetFile = CountingParquetFile


class SparkCounters:
    """Per-call Spark jobs, stages, tasks and shuffle bytes, read from a
    job group through ``statusTracker()`` and the UI REST API."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def group_stats(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: list[int] = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.extend(info.stageIds)
        return {"jobs": len(jobs), **self.stage_stats(stage_ids)}

    def stage_stats(self, stage_ids: list[int]) -> dict[str, int]:
        """Stages that ran (skipped stages excluded), their tasks and
        shuffle write bytes, from the UI REST API."""
        wanted = set(stage_ids)
        if not wanted:
            return {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0}
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("traced runs need the Spark UI REST API")
        app = self.sc.applicationId
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=30
        ) as r:
            stages = json.load(r)
        ran = [s for s in stages if s["stageId"] in wanted]
        return {
            "stages": len({s["stageId"] for s in ran}),
            "tasks": sum(int(s.get("numCompleteTasks", 0)) for s in ran),
            "shuffle_write_bytes": sum(int(s.get("shuffleWriteBytes", 0)) for s in ran),
        }
