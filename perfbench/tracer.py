"""Outside-in span tracer for the benchmark process.

The tracer wraps public functions of the engine's layers from the
benchmark's own files; the package itself is never edited. While installed,
every wrapped call records a span (name, start, end, parent span) and tags
the Spark jobs it launches with a job group naming the span, so the Spark
event log can be folded back onto the same spans (``eventlog.py``).

Job groups are thread-local, so each wrapper sets its group on the calling
thread. The engine runs its per-iteration commits on a
``ThreadPoolExecutor``; the traced pool hands the submitting thread's span
to each worker, so commit spans take the iteration (through the commit-batch
span) as parent instead of starting orphaned.

Known limit: with ``eager_checkpoints=False`` (the default, and bfs_crawl's
setting) a ``localCheckpoint`` span covers the shuffle stages adaptive
execution runs to plan it, but the final stage of the pinned work runs
inside the first commit that consumes it and is counted there.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose jobs get tagged; None records spans
        without job groups."""
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._tls, "base", None)

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    def open(self, name: str) -> Span:
        parent = self.current()
        span = Span(next(self._ids), name, parent.id if parent else None, time.perf_counter())
        with self._lock:
            self.spans.append(span)
        self._stack().append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        self._set_group(self.current())

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def adopt(self, parent: Span | None):
        """Run a worker-thread task under ``parent`` (a span of the thread
        that submitted it)."""
        self._tls.base = parent
        self._set_group(parent)
        try:
            yield
        finally:
            self._tls.base = None
            self._set_group(None)

    # --------------------------------------------------------------- patches
    def _patch(self, owner, attr: str, namer) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(namer(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Wrap the layer entry points the engine calls. Undo with
        ``uninstall``."""
        from crawler_service_spark import engine
        from crawler_service_spark.operators import dedup, politeness
        from crawler_service_spark.storage import catalog

        def table_arg(name):
            return lambda self, table, *a, **k: f"catalog.{name}.{table}"

        self._patch(engine.CrawlEngine, "seed", lambda *a, **k: "engine.seed")
        self._patch(engine.CrawlEngine, "run_iteration", lambda *a, **k: "engine.iteration")
        self._patch(engine.CrawlEngine, "read_pending", lambda *a, **k: "engine.read_pending")
        # commit_rows writes the crawl_state row; it is that table's commit
        self._patch(catalog.ManifestCatalog, "commit", table_arg("commit"))
        self._patch(catalog.ManifestCatalog, "commit_rows", table_arg("commit"))
        self._patch(catalog.ManifestCatalog, "read", table_arg("read"))
        self._patch(dedup.BloomSeenFilter, "update", lambda *a, **k: "dedup.bloom_update")
        self._patch(politeness, "schedule", lambda *a, **k: "politeness.schedule")
        self._patch(engine, "dedup_new_urls", lambda *a, **k: "dedup.new_urls")
        self._patch(engine, "with_global_seq", lambda *a, **k: "plans.global_seq")
        self._patch(engine, "emit_extraction_jobs", lambda *a, **k: "grouping.emit_jobs")
        self._patch(type(spark.range(0)), "localCheckpoint", self._checkpoint_name)

        tracer = self

        class TracedPool(ThreadPoolExecutor):
            def __enter__(self):
                self._batch = tracer.open("engine.commit_batch")
                return super().__enter__()

            def __exit__(self, *exc):
                try:
                    return super().__exit__(*exc)
                finally:
                    tracer.close(self._batch)

            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current()

                def run():
                    with tracer.adopt(parent):
                        return fn(*args, **kwargs)

                return super().submit(run)

        self._patches.append((engine, "ThreadPoolExecutor", engine.ThreadPoolExecutor))
        engine.ThreadPoolExecutor = TracedPool

    def _checkpoint_name(self, df, *args, **kwargs) -> str:
        cur = self.current()
        where = cur.name if cur else ""
        if where == "plans.global_seq":
            return "plans.global_seq.checkpoint"
        if where == "engine.seed":
            return "engine.seed.checkpoint"
        cols = set(df.columns)
        if "fetch_ok" in cols:
            return "engine.phase.fetch_extract"
        if "_pd" in cols:
            return "engine.phase.dedup"
        if where == "engine.iteration" and "discovered_iter" in cols:
            return "engine.phase.seq_stamp"
        return "checkpoint.other"

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------------- analysis
    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every closed span below it."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            if s.end is not None:
                out.append(s)
            todo.extend(kids[s.id])
        return out

    def ancestors(self, span_id: int) -> list[Span]:
        """The span with ``span_id`` and its ancestors, innermost first."""
        by_id = {s.id: s for s in self.spans}
        out, sid = [], span_id
        while sid is not None and sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid].parent
        return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: the part of its interval not covered by its
    open children. Where children run concurrently, each instant is shared
    equally among the innermost spans open at that instant, so the self
    times of a closed subtree add up to its root's wall."""
    edges = sorted({t for s in spans for t in (s.start, s.end)})
    out: dict[int, float] = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        active = [s for s in spans if s.start <= a and s.end >= b]
        busy_parents = {s.parent for s in active}
        leaves = [s for s in active if s.id not in busy_parents]
        for s in leaves:
            out[s.id] += (b - a) / len(leaves)
    return out
