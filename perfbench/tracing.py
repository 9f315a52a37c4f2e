"""Spans around the program's public callables, for the traced run.

``Tracer.install`` wraps the server's request handlers, the query and
update compilers, the CSV/JSON codecs, the catalog, the result-page
count, ``DataFrame.collect`` and the operator functions. Each call
records a span (name, start, end, parent, request id, phase) in
memory; ``Tracer.restore`` puts the originals back. Nothing here is
imported by the program itself.
"""
from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    request: int | None = None
    phase: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _targets():
    """(owner, attribute, span name) for every wrapped callable."""
    from pyspark.sql.classic.dataframe import DataFrame

    from qcache_spark.cache.catalog import DatasetCatalog
    from qcache_spark.operators import dedup, graph, similarity
    from qcache_spark.plans.compiler import QueryResult
    from qcache_spark.server import app

    out = [(app.QCacheHandler, m, f"server.{m}") for m in ("do_GET", "do_POST", "do_DELETE")]
    out += [(app, f, f"plans.{f}") for f in ("compile_query", "compile_update")]
    out += [(app, f, f"ingest.{f}") for f in ("from_csv", "from_json_records", "rows_to_json", "rows_to_csv")]
    out += [(DatasetCatalog, m, f"catalog.{m}") for m in ("insert", "get", "replace_df")]
    out += [(QueryResult, "unsliced_len", "exec.unsliced_len"), (DataFrame, "collect", "exec.collect")]
    out += [(dedup, f, f"operators.{f}") for f in
            ("minhash_lsh_pairs", "prefix_jaccard_pairs", "dedup_clusters")]
    out += [(similarity, "semantic_dedup", "operators.semantic_dedup"),
            (graph, "pagerank", "operators.pagerank")]
    out += [(similarity.IVFIndex, m, f"operators.IVFIndex.{m}") for m in ("write", "load", "admit")]
    return out


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.phase = "setup"
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple] = []

    # -- recording ----------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        request = parent.request if parent else None
        if name.startswith("server.do_"):
            request = next(self._requests)
            job_group = f"req-{request}"
        s = Span(next(self._ids), parent.sid if parent else None, name,
                 time.perf_counter(), request=request, phase=self.phase, attrs=attrs)
        if job_group and self.spark is not None:
            s.attrs["job_group"] = job_group
            self.spark.sparkContext.setJobGroup(job_group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                if name.startswith("server.do_"):
                    s.attrs["path"] = args[0].path
                result = fn(*args, **kwargs)
                if name == "exec.collect":
                    s.attrs["rows"] = len(result)
                return result

        return wrapper

    def install(self) -> None:
        for owner, attr, name in _targets():
            raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
            if isinstance(raw, classmethod):  # IVFIndex.load
                wrapped = classmethod(self._wrap(raw.__func__, name))
            else:
                raw = getattr(owner, attr)
                wrapped = self._wrap(raw, name)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    # -- job counts ---------------------------------------------------

    def jobs_and_stages(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            stages += len(info.stageIds) if info is not None else 0
        return len(jobs), stages

    # -- analysis -----------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    @staticmethod
    def self_ms(span: Span, kids: list[Span]) -> float:
        """Span duration minus the part of it its children cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for k in sorted(kids, key=lambda k: k.start):
            a, b = max(k.start, span.start), min(k.end, span.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span.end - span.start - covered) * 1000.0
