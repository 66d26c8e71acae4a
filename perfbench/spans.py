"""In-memory span recorder for the traced run.

Spans are recorded around the calls into each layer's public
functions, from the benchmark's own files: the program is not edited.
A span is ``(id, parent, run, layer, name, start, end)`` in epoch
seconds; spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import operator
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def count(self, key: str) -> None:
        with self._lock:  # py4j callback threads count too
            self.counts[key] += 1

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None) -> dict:
        with self._lock:
            span = {
                "id": self._next_id, "parent": parent, "run": self.run_id,
                "layer": layer, "name": name, "start": start, "end": end,
            }
            self._next_id += 1
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self.current()
        span = self.add(layer, name, time.time(), 0.0,
                        parent["id"] if parent else None)
        self._stack().append(span)
        try:
            yield span
        finally:
            self._stack().pop()
            span["end"] = time.time()

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Traced:
    """Callable stand-in for a traced function. Pickles as the
    original, so a traced function shipped to a Python worker runs
    untraced there."""

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        self._tracer.count(f"{self._layer}.calls")
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


#: the program's package; its imported modules' bindings are rewrapped
PACKAGE = "vbb_data_pipeline_spark"


def trace_module(tracer: Tracer, module, layer: str) -> None:
    """Wrap every public plain function defined in ``module``, here and
    at every binding an already-imported module of ``PACKAGE`` holds
    (``from module import fn``)."""
    originals = {
        name: obj for name, obj in vars(module).items()
        if inspect.isfunction(obj) and not name.startswith("_")
        and obj.__module__ == module.__name__
    }
    wrapped = {id(fn): Traced(tracer, fn, layer) for fn in originals.values()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PACKAGE
                               or mod_name.startswith(PACKAGE + ".")):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in wrapped:
                setattr(mod, name, wrapped[id(obj)])


def count_py4j_calls(tracer: Tracer) -> None:
    """Count every py4j command the driver sends, once under each layer
    that has a span open in the sending thread (``<layer>.py4j_calls``)."""
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        orig = cls.send_command

        def send_command(self, command, *a, _orig=orig, **kw):
            for layer in {s["layer"] for s in tracer._stack()}:
                tracer.count(f"{layer}.py4j_calls")
            return _orig(self, command, *a, **kw)

        cls.send_command = send_command
