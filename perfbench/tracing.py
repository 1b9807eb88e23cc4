"""Spans recorded from the benchmark's side of the engine's public API.

``Tracer`` keeps spans in memory; ``traced_table_class`` returns an
``IcebergLite`` subclass whose public commit, read and scan methods each
record one span. Calls the engine makes on itself (``commit_upsert`` asking
``committed_batches`` and ``read_partitions``) go through the subclass too,
so they nest under the commit that made them.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Callable


class Tracer:
    """In-memory spans. A span is skipped, with everything nested in it,
    while ``enabled`` is false or when ``batch_filter`` rejects its batch
    id; the skipped ones are what the tracing overhead is measured
    against."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.batch_filter: Callable[[str], bool] | None = None
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, batch: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if (
            not self.enabled
            or (stack and parent is None)
            or (batch is not None and self.batch_filter is not None
                and not self.batch_filter(batch))
        ):
            stack.append(None)
            try:
                yield
            finally:
                stack.pop()
            return
        if batch is None and parent is not None:
            batch = parent["batch"]
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "batch": batch,
               "parent": parent["id"] if parent else None}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def traced_table_class(tracer: Tracer):
    """``IcebergLite`` subclass timing its public commit/read/scan calls.
    Each commit span carries the Spark batch id it commits."""
    from kafka2iceberg_spark.sink import IcebergLite

    class TracedIcebergLite(IcebergLite):
        def commit_upsert(self, df, batch_id, *a, **kw):
            with tracer.span("commit_upsert", str(batch_id)):
                return super().commit_upsert(df, batch_id, *a, **kw)

        def commit_append(self, df, batch_id, *a, **kw):
            with tracer.span("commit_append", str(batch_id)):
                return super().commit_append(df, batch_id, *a, **kw)

        def read_partitions(self, *a, **kw):
            with tracer.span("read_partitions"):
                return super().read_partitions(*a, **kw)

        def committed_batches(self):
            with tracer.span("committed_batches"):
                return super().committed_batches()

        def read(self, *a, **kw):
            with tracer.span("read"):
                return super().read(*a, **kw)

        def scan_point(self, *a, **kw):
            with tracer.span("scan_point"):
                return super().scan_point(*a, **kw)

        def scan_range(self, *a, **kw):
            with tracer.span("scan_range"):
                return super().scan_range(*a, **kw)

    return TracedIcebergLite
