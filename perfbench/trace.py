"""Benchmark-side spans around calls into the program's public
functions. Nothing in the program is edited: ``Tracer.install_module``
and ``install_method`` rebind each public function (or method) to a
timing wrapper wherever a ``dust_spark`` module holds a reference to it,
and ``uninstall`` puts the originals back.

A span is ``[name, start, end, parent, request]``: ``parent`` is the
index of the enclosing span on the same thread (-1 at the root) and
``request`` the request id current when the span opened. Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict


def public_functions(module) -> dict[str, object]:
    """Module-level functions a module defines itself and does not mark
    private."""
    return {
        n: f
        for n, f in vars(module).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
    }


class Tracer:
    """Span recorder; ``request`` tags the spans the current request opens."""

    def __init__(self):
        self.spans: list[list] = []
        self.request: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), 0.0, stack[-1] if stack else -1, self.request])
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    # -- installation -------------------------------------------------

    def install_module(self, module, layer: str) -> None:
        """Wrap every public function of ``module`` as ``layer.<fn>``,
        wherever a ``dust_spark`` module binds it."""
        where: dict[int, list[tuple[object, str]]] = {}
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("dust_spark"):
                for attr, val in vars(mod).items():
                    if inspect.isfunction(val):
                        where.setdefault(id(val), []).append((mod, attr))
        for n, f in public_functions(module).items():
            wrapped = self.wrap(f"{layer}.{n}", f)
            for mod, attr in where.get(id(f), []):
                self._undo.append((mod, attr, f))
                setattr(mod, attr, wrapped)

    def install_method(self, cls, method: str, name: str) -> None:
        original = vars(cls)[method]
        self._undo.append((cls, method, original))
        setattr(cls, method, self.wrap(name, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


OPERATOR_MODULES = (
    "dedup", "similarity", "text", "rollup", "asof", "skew", "sampling", "graph", "multimodal",
)


def install_layers(tracer: Tracer) -> None:
    """Spans on the program's layers: ``session`` (execute/query),
    ``catalog`` (materialize/publish), and the public functions of
    ``dialect``, ``model`` and each ``operators`` module."""
    from dust_spark import catalog, dialect, model, session

    tracer.install_method(session.DustSession, "execute", "session.execute")
    tracer.install_method(session.DustSession, "query", "session.query")
    tracer.install_method(catalog.Catalog, "materialize", "catalog.materialize")
    tracer.install_method(catalog.Catalog, "publish", "catalog.publish")
    tracer.install_module(dialect, "dialect")
    tracer.install_module(model, "model")
    for m in OPERATOR_MODULES:
        tracer.install_module(importlib.import_module(f"dust_spark.operators.{m}"), f"operators.{m}")


def analyse(spans: list[list]) -> dict:
    """Per-request layer totals from a span list.

    Returns ``{request: {key: ms}}`` with keys:
    - ``session``: execute/query spans (inclusive) and ``session_self``
      (minus their direct child spans);
    - ``dialect``/``model.<fn>``/``catalog.<method>``: spans whose nearest
      ancestor is not of the same layer (no double counting of a layer
      calling itself), with ``catalog.<method>.calls`` counts;
    - ``operators.<module>``: same rule per operator module.
    """
    children = defaultdict(float)
    for s in spans:
        if s[3] >= 0:
            children[s[3]] += s[2] - s[1]

    def layer(name: str) -> str:
        parts = name.split(".")
        return ".".join(parts[:2]) if parts[0] == "operators" else parts[0]

    out: dict = defaultdict(lambda: defaultdict(float))
    for i, (name, t0, t1, parent, req) in enumerate(spans):
        ms = (t1 - t0) * 1e3
        lay = layer(name)
        if parent >= 0 and layer(spans[parent][0]) == lay:
            continue
        acc = out[req]
        if lay == "session":
            acc["session"] += ms
            acc["session_self"] += ms - children[i] * 1e3
        elif lay in ("catalog", "model"):
            acc[name] += ms
            acc[name + ".calls"] += 1
        else:
            acc[lay] += ms
    return out
