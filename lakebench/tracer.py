"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around the benchmark's own calls into the program and
around the program's public entry points, which the tracer wraps in place
for the life of the run (:meth:`Tracer.wrap`).  A span holds its name,
start, end, parent span and the operation id shared by every span of one
benchmark operation.  With tracing off, :class:`NullTracer` stands in and
records nothing.  Summaries cover the spans that start inside the
measured window (:meth:`Tracer.start_window`); set-up spans are kept for
the dump.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def operation(self, name: str):
        yield None

    def start_window(self) -> None:
        pass

    def charge(self, seconds: float) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    """Records spans; see the module docstring."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.window_start = 0.0
        self._local = threading.local()
        self._next_id = 0
        self._next_op = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        #: wall time spent in the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": getattr(self._local, "op", None),
        }
        stack.append(sid)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextlib.contextmanager
    def operation(self, name: str):
        """A root span whose id every nested span carries as ``op``."""
        with self._lock:
            op = self._next_op
            self._next_op += 1
        prev = getattr(self._local, "op", None)
        self._local.op = op
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._local.op = prev

    def start_window(self) -> None:
        """Summaries from now on cover only spans that start after this."""
        self.window_start = time.perf_counter()

    def charge(self, seconds: float) -> None:
        """Count ``seconds`` of tracing work done outside a span."""
        with self._lock:
            self.bookkeeping_s += seconds

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (undone by
        :meth:`restore`)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner: object, attr: str, replacement: object) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap_everywhere(self, original: object, name: str, package: str) -> None:
        """Wrap every module attribute in ``package`` bound to ``original``
        (functions imported by name are bound in each importing module)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.wrap(mod, attr, name)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ---- summaries -------------------------------------------------------

    def window(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["start"] >= self.window_start
                and (name is None or s["name"] == name)]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.window(name)]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer (span-name prefix before the first dot), the summed
        self time: each span's duration minus the time its children cover.
        Children of one span run one after another on the span's thread,
        so their durations do not overlap."""
        spans = self.window()
        child_time: defaultdict = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: defaultdict = defaultdict(float)
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] += max(0.0, s["end"] - s["start"] - child_time[s["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"window_start": self.window_start, "spans": self.spans}, fh)
