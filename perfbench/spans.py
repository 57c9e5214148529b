"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions; the program under test is not edited. A
``Tracer`` replaces the layer entry points by wrappers (every module of
the package that imported the function gets the wrapper), keeps
per-thread span stacks, and sums per layer:

- ``seconds``: wall time of the layer's outermost spans (a span nested
  in a span of the same layer is not counted twice);
- ``calls``: number of spans entered;
- ``py4j``: py4j round trips, each charged to the innermost open span of
  the calling thread (``other`` when none is open).

Wrappers check ``enabled`` on every call, so the benchmark can alternate
traced and untraced samples in one run and report the difference as the
tracing overhead. ``restore()`` puts every original back.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.py4j: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[str]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def snapshot(self) -> dict[str, dict[str, float]]:
        with self._lock:
            return {
                "seconds": dict(self.seconds),
                "calls": dict(self.calls),
                "py4j": dict(self.py4j),
            }

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        outermost = layer not in st
        st.append(layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            st.pop()
            with self._lock:
                self.calls[layer] += 1
                if outermost:
                    self.seconds[layer] += dt

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch_function(self, layer: str, fn, package: str = "hive_lineage_spark") -> int:
        """Replace ``fn`` by a traced wrapper in every loaded module of
        ``package`` that holds a reference to it; returns how many."""
        traced = self.wrap(layer, fn)
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, attr, traced)
                    n += 1
        return n

    def patch_method(self, layer: str, cls, name: str) -> None:
        self._set(cls, name, self.wrap(layer, getattr(cls, name)))

    def patch_py4j(self) -> None:
        """Count every py4j round trip, charged to the innermost span."""
        from py4j.clientserver import ClientServerConnection

        tracer = self

        def counting(orig):
            def send_command(conn, command, *args, **kwargs):
                if tracer.enabled:
                    st = tracer._stack()
                    with tracer._lock:
                        tracer.py4j[st[-1] if st else "other"] += 1
                return orig(conn, command, *args, **kwargs)

            return send_command

        # PySpark's default pinned-thread mode talks through ClientServer
        self._set(ClientServerConnection, "send_command", counting(ClientServerConnection.send_command))

    def restore(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)


def delta(after: dict, before: dict) -> dict[str, dict[str, float]]:
    """Per-layer difference of two ``Tracer.snapshot()`` results."""
    return {
        kind: {k: v - before[kind].get(k, 0) for k, v in after[kind].items()}
        for kind in after
    }
