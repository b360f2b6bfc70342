"""In-memory spans recorded around calls into the program's public API,
plus the metric math over them (self time, quartiles, job attribution).

Spans are recorded from outside the program: ``install`` replaces public
functions and methods with timing wrappers and ``uninstall`` puts the
originals back. Nothing here imports pyspark at module level, so the
math can be tested without a Spark session.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import itertools
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans. A span's parent is the innermost open span on the
    same thread. A call made from a worker thread (the crawl engine writes
    its catalog tables from a thread pool) has no open span on its own
    thread; its parent is the innermost open span of the client thread,
    the one that called ``bind_client`` and runs the closed loop."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client: list[int] = []  # the client thread's open spans
        self.counter: CallCounter | None = None
        self.overhead_s = 0.0  # time spent in the wrappers' own bookkeeping

    def charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def bind_client(self) -> None:
        self._client = self._stack()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> tuple:
        stack = self._stack()
        client = self._client
        # the client may pop between the test and the read: the pop
        # lands on an empty list and the call then has no parent
        try:
            parent = stack[-1] if stack else client[-1]
        except IndexError:
            parent = None
        sid = next(self._ids)
        stack.append(sid)
        return sid, name, parent, time.time()

    def end(self, token: tuple) -> Span:
        sid, name, parent, t0 = token
        span = Span(sid, name, t0, time.time(), parent, self.run_id)
        self._stack().pop()
        with self._lock:
            self.spans.append(span)
        return span

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            t0 = time.perf_counter()
            token = self.begin(name)
            t1 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t2 = time.perf_counter()
                self.end(token)
                self.charge(t1 - t0 + time.perf_counter() - t2)
        traced.__wrapped_by_perfbench__ = fn
        return traced


# (module, attribute path, span name): the public entry points of each
# layer. Module-level functions are looked up through their module at
# call time by the program, so patching the module attribute is seen.
LAYER_POINTS = [
    ("web_crawler_spark.plans.crawl", "CrawlEngine.init_state", "crawl.init_state"),
    ("web_crawler_spark.plans.crawl", "CrawlEngine.run_round", "crawl.run_round"),
    ("web_crawler_spark.plans.crawl", "CrawlEngine.run", "crawl.run"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.stage", "catalog.stage"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.append", "catalog.append"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.append_local", "catalog.append_local"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.read", "catalog.read"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.commit", "catalog.commit"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.compact", "catalog.compact"),
    ("web_crawler_spark.sources.catalog", "ManifestCatalog.expire_snapshots",
     "catalog.expire_snapshots"),
    ("web_crawler_spark.sources.robots", "load_robots_txt_dir", "robots.load"),
    ("web_crawler_spark.sources.robots", "load_sitemaps", "robots.load"),
    # cuckoo.build_sketch merges its per-partition tables with
    # CuckooFilter.merge, so those merges are children of the build span
    ("web_crawler_spark.core.bloom", "build_sketch", "sketch.build"),
    ("web_crawler_spark.core.bloom", "merge", "sketch.merge"),
    ("web_crawler_spark.core.cuckoo", "build_sketch", "sketch.build"),
    ("web_crawler_spark.core.cuckoo", "CuckooFilter.merge", "sketch.merge"),
    ("web_crawler_spark.core.cuckoo", "CuckooFilter.delete_sketch", "sketch.delete"),
    # reports.host_authority and the engine import pagerank_df at call time
    ("web_crawler_spark.plans.pipeline_ops", "pagerank_df", "pipeline_ops.pagerank"),
]


def install(tracer: Tracer, points=LAYER_POINTS) -> list[tuple[object, str, object]]:
    """Wrap every entry point; returns what ``uninstall`` needs."""
    undo = []
    for mod_name, path, span_name in points:
        owner = importlib.import_module(mod_name)
        *parents, attr = path.split(".")
        for p in parents:
            owner = getattr(owner, p)
        orig = owner.__dict__[attr]
        undo.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(span_name, orig))
    return undo


def uninstall(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


class CallCounter:
    """Counts py4j commands sent from Python to the JVM by wrapping
    ``GatewayClient.send_command`` (the pinned-thread client inherits it)."""

    def __init__(self):
        self.calls = 0
        self.overhead_s = 0.0  # time spent counting
        self._lock = threading.Lock()
        self._undo = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        def send_command(client, *a, **kw):
            t0 = time.perf_counter()
            with counter._lock:
                counter.calls += 1
                counter.overhead_s += time.perf_counter() - t0
            return orig(client, *a, **kw)

        GatewayClient.send_command = send_command
        self._undo = (GatewayClient, orig)

    def uninstall(self) -> None:
        if self._undo:
            cls, orig = self._undo
            cls.send_command = orig
            self._undo = None


# --------------------------------------------------------------- metric math

def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it that its direct children cover.
    Children that run concurrently overlap each other; their union is
    subtracted once, clipped to the parent's own interval."""
    kids = [(max(c.start, span.start), min(c.end, span.end))
            for c in spans if c.parent == span.id]
    kids = [(s, e) for s, e in kids if e > s]
    return (span.end - span.start) - union_length(kids)


def busy_time(spans: list[Span]) -> float:
    """Wall time during which at least one of ``spans`` was running."""
    return union_length([(s.start, s.end) for s in spans])


def summary(values) -> dict:
    """Median and quartiles of every sample, as
    ``statistics.quantiles(values, n=4)`` gives them; nothing is dropped."""
    xs = list(values)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3)
    return out


def attribute(events, ops: list[Span]) -> dict[int | None, list]:
    """Assign each Spark job (any object with a ``submitted`` epoch time)
    to the operation span whose interval contains its submission time.
    Jobs submitted outside every operation map to key ``None``. Pool
    threads do not inherit Spark job groups, so time is the only link."""
    ordered = sorted(ops, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    out: dict[int | None, list] = {}
    for ev in events:
        i = bisect.bisect_right(starts, ev["submitted"]) - 1
        owner = None
        if i >= 0 and ev["submitted"] <= ordered[i].end:
            owner = ordered[i].id
        out.setdefault(owner, []).append(ev)
    return out
