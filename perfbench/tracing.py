"""Spans around the engine's eager calls, recorded from outside the package.

``Tracer.install()`` wraps, for the duration of a traced episode:
- every public ``TableStore`` method;
- ``CrawlEngine.bootstrap``, ``run_round``, ``_discover``, ``_load_bloom``
  and ``maintain``;
- the names ``plans.crawl_round`` imports and calls eagerly or to build a
  plan: ``attach_global_seq``, ``build_bloom_segment``, ``seen_anti_join``,
  ``prune_pending_topk`` and ``partition_metrics``.

A span is (id, name, start, end, parent, attrs). Spans stay in memory and
are written out once, when the run ends. ``uninstall()`` restores every
wrapped attribute.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import delphi_crawler_spark.plans.crawl_round as crawl_round
from delphi_crawler_spark.storage.tablestore import TableStore

STORE_METHODS = (
    "exists", "parts", "read", "read_parts", "read_parts_range", "read_at",
    "write_snapshot", "append", "replace_round", "compact", "expire",
    "expire_blobs", "save_blob", "load_blob", "checkpoint", "amend_checkpoint",
    "last_checkpoint", "current_snapshot", "restore",
)
STORE_WRITES = frozenset({
    "write_snapshot", "append", "replace_round", "compact", "save_blob",
    "checkpoint", "amend_checkpoint",
})
ENGINE_METHODS = ("bootstrap", "run_round", "_discover", "_load_bloom", "maintain")
PLAN_NAMES = (
    "attach_global_seq", "build_bloom_segment", "seen_anti_join",
    "prune_pending_topk", "partition_metrics",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self._paused = 0
        # time the wrappers spend outside the wrapped calls (span records,
        # store directory walks) while an engine call is on the clock
        self.overhead_s = 0.0

    # ------------------------------------------------------------ recording
    @contextmanager
    def span(self, name: str, **attrs):
        if self._paused:
            yield None
            return
        s = Span(len(self.spans), name, 0.0,
                 parent=self._stack[-1].id if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Calls made by the benchmark itself (replays, bookkeeping) are
        not spans of the engine."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # -------------------------------------------------------------- wrapping
    def _wrap(self, owner, attr: str, name: str, store_io: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            entered = time.perf_counter()
            attrs = {}
            if attr == "build_bloom_segment":
                attrs["m_bits"] = args[1] if len(args) > 1 else kwargs.get("m")
            if attr == "save_blob":
                attrs["blob_bytes"] = len(args[2] if len(args) > 2 else kwargs["data"])
            root = args[0].root if store_io else None
            # directory walks sit outside the span's clock: they are
            # tracing cost, counted in ``overhead_s``
            before = dir_bytes(root) if store_io and attr in STORE_WRITES else None
            files_before = dir_files(root) if store_io and attr.startswith("expire") else None
            with tracer.span(name, **attrs) as s:
                out = fn(*args, **kwargs)
            if before is not None:
                s.attrs["bytes_written"] = max(0, dir_bytes(root) - before)
            if files_before is not None:
                s.attrs["files_removed"] = max(0, files_before - dir_files(root))
            tracer.overhead_s += time.perf_counter() - entered - s.dur
            return out

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        for m in STORE_METHODS:
            self._wrap(TableStore, m, "store." + m, store_io=True)
        for m in ENGINE_METHODS:
            self._wrap(crawl_round.CrawlEngine, m, "engine." + m.lstrip("_"))
        for n in PLAN_NAMES:
            self._wrap(crawl_round, n, n)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # ------------------------------------------------------------- queries
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return span.dur - sum(c.dur for c in self.children(span))

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.descendants(within) if within is not None else self.spans
        return [s for s in pool if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")
