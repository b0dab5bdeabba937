"""Layer spans recorded from outside the library, and the arithmetic on them.

The benchmark wraps the public functions and methods of every
``orange3_spark`` module in a span named after its layer (the package under
``orange3_spark``: ``ml``, ``text``, ... or the top-level module ``session``,
``domain``, ``guards``).  Spans use the epoch clock so they line up with the
job submission times in Spark's status store.

A wrapper that reaches an executor must pass straight through.  Wrappers
replace the module attribute they came from, so cloudpickle pickles them by
reference and an executor's fresh import resolves the original function.  If
one is ever pickled by value, its global ``_TRACER`` travels too, and a
``Tracer`` unpickles as ``None``: the wrapper then only calls through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import math
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

#: the tracer the wrappers record into; ``None`` outside a traced pass
_TRACER = None


def _no_tracer():
    return None


class Tracer:
    """In-memory span log.  A span is ``[layer, start, end, depth]``."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._local = threading.local()

    def __reduce__(self):
        return (_no_tracer, ())

    @contextmanager
    def span(self, layer: str):
        depth = getattr(self._local, "depth", 0)
        rec = [layer, time.time(), None, depth]
        self.spans.append(rec)
        self._local.depth = depth + 1
        try:
            yield rec
        finally:
            self._local.depth = depth
            rec[2] = time.time()

    def take(self) -> list[list]:
        out, self.spans = self.spans, []
        return out


@contextmanager
def active(tracer: Tracer):
    """Make ``tracer`` the one every installed wrapper records into."""
    global _TRACER
    _TRACER = tracer
    try:
        yield tracer
    finally:
        _TRACER = None


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = _TRACER
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return traced


def layer_of(module_name: str) -> str:
    """``orange3_spark.ml.learners`` -> ``ml``; ``orange3_spark.session`` ->
    ``session``."""
    return module_name.split(".")[1]


def install(package: str = "orange3_spark",
            skip: tuple[str, ...] = ("plans",)) -> dict[str, int]:
    """Wrap the public functions and methods of every module of ``package``
    (except the ``skip`` subpackages), then point every reference to an
    original in every loaded ``package`` module at its wrapper, so names bound
    at import time (``from ..ops import f``) are traced too.

    Returns the number of wrapped callables per layer."""
    pkg = importlib.import_module(package)
    wrapped: dict = {}   # id(original) -> wrapper
    per_layer: dict[str, int] = {}
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        if layer_of(info.name) in skip:
            continue
        mod = importlib.import_module(info.name)
        layer = layer_of(info.name)
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                w = _wrap(obj, layer)
                wrapped[id(obj)] = w
                setattr(mod, name, w)
                per_layer[layer] = per_layer.get(layer, 0) + 1
            elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                for attr, fn in list(vars(obj).items()):
                    if inspect.isfunction(fn) and (not attr.startswith("_")
                                                   or attr == "__call__"):
                        setattr(obj, attr, _wrap(fn, layer))
                        per_layer[layer] = per_layer.get(layer, 0) + 1
    _rebind(package, wrapped)
    return per_layer


def _rebind(package: str, wrapped: dict) -> None:
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and w is not obj:
                setattr(mod, attr, w)


# -- arithmetic ---------------------------------------------------------------

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children (spans one level deeper that start inside
    it).  Spans are in start order, as ``Tracer`` records them."""
    out = []
    for i, (_, start, end, depth) in enumerate(spans):
        kids = []
        for _, s, e, d in spans[i + 1:]:
            if s >= end:
                break
            if d == depth + 1:
                kids.append((s, e))
        out.append((end - start) - union_length(kids, start, end))
    return out


def innermost(spans, t: float):
    """Layer of the deepest span whose interval holds ``t``, else ``None``."""
    best, best_depth = None, -1
    for layer, start, end, depth in spans:
        if start > t:
            break
        if end >= t and depth > best_depth:
            best, best_depth = layer, depth
    return best


def tail_percentile(samples, q: float, min_beyond: int = 10):
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``samples``, or ``None``
    unless at least ``min_beyond`` samples lie beyond it."""
    n = len(samples)
    rank = math.ceil(round(q * n, 9))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(samples)[rank - 1]
