"""In-memory span tracing from outside the engine.

The benchmark never edits the engine's source: :class:`Tracer` replaces
a callable at its module or class attribute with a wrapper that records
a span (name, start, end, parent, operation id) and calls through.
Because the engine looks these names up at call time
(``codec.decode_blocks``, ``Index.postings_rows_by_term``, the
module-level ``parse_query_boosted``), the wrappers see every internal
call as well as the benchmark's own.

Spans are recorded only while :attr:`Tracer.active` is true, so a traced
run can interleave traced and untraced operations in one phase and
report the difference of their medians as the tracing overhead.
"""

from __future__ import annotations

import functools
import time

# (span name, layer) for every wrapped callable; the layer names are
# the ones the per-layer metrics are derived for.
LAYERS = {
    "session.get_spark": "session",
    "corpus.gen_documents": "corpus",
    "index_build.build_index": "build",
    "Index.load": "index.warm",
    "Index.warm": "index.warm",
    "query_exec.search_topk_rows": "score",
    "query_exec.parse_query_boosted": "parse",
    "query_exec.parse_query": "parse",
    "query_exec.tokenize": "parse",
    "Index.postings_rows_by_term": "postings.fetch",
    "codec.decode_blocks": "codec.decode",
    "Index.tombstone_count": "tombstone.check",
    "Index.tombstone_array": "tombstone.check",
    "index_maint.delete_docs": "delete",
}


class Tracer:
    """Records nested spans of wrapped callables while ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.op_id = -1
        # span: [name, start_s, end_s, parent_index, op_id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def wrap(self, owner, attr: str, name: str, probe=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``probe(tracer, *args, **kwargs)`` runs before the call while a
        span is recorded; it updates :meth:`count` counters (e.g. cache
        misses) that must be read before the call changes them."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(original, classmethod):
            fn = original.__func__
        else:
            fn = original

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if probe is not None:
                probe(self, *args, **kwargs)
            parent = self._stack[-1] if self._stack else -1
            span = [name, time.perf_counter(), 0.0, parent, self.op_id]
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                self._stack.pop()

        setattr(owner, attr,
                classmethod(wrapper) if isinstance(original, classmethod) else wrapper)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        out = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                out[s[3]] -= s[2] - s[1]
        return out

    def dump(self) -> dict:
        t0 = self.spans[0][1] if self.spans else 0.0
        return {
            "span_fields": ["name", "start_ms", "end_ms", "parent", "op"],
            "spans": [
                [s[0], round((s[1] - t0) * 1e3, 4), round((s[2] - t0) * 1e3, 4),
                 s[3], s[4]]
                for s in self.spans
            ],
            "counters": self.counters,
        }
