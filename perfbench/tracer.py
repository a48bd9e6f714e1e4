"""Spans around the engine's public functions, recorded from outside.

The tracer wraps every public module-level function of the traced
modules and rebinds each name wherever an imported sparkswift module
holds it, so ``from x import f`` bindings (the suite modules use them
everywhere) route through the wrapper too. A ``@contextmanager``
function's span covers its ``with`` block, and public methods of the
modules' public classes (``sources.store.Store``) are wrapped on the
class, as ``<Class>.<method>``. Calls of the DataFrame methods that cut
a plan's lineage (``CUTS``) are counted, whoever makes them. ``install`` and
``uninstall`` swap wrappers and originals, so an untraced pass runs
the engine's own function objects.

A wrapper keeps its span in memory. On entry into a module from
outside that module it tags the Spark jobs its call fires with
``setJobDescription("<workload>:<query>|<module>.<function>")`` and
restores the previous description on exit; calls nested inside the
same module keep the outer tag, which keeps the JVM round trips off
per-file helper loops.

Worker processes never see a wrapper: ``functools.wraps`` keeps each
wrapper's ``__module__``/``__qualname__``, and since the module
attribute *is* the wrapper, cloudpickle pickles it by reference and
the worker imports the original.

The tracer times its own work inside each call (entering and leaving
spans, job tags, reading the chooser's plan); ``take_own`` returns it,
the numerator of ``trace.overhead_frac``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench.sparkstats import union_len

#: packages and modules whose public functions are traced
TRACED = (
    "sparkswift.operators",
    "sparkswift.sources",
    "sparkswift.streaming.ops",
    "sparkswift.plans.inference",
    "sparkswift.scratch",
)


#: DataFrame methods that cut a plan's lineage
CUTS = ("localCheckpoint", "checkpoint", "persist", "cache")


def layer_of(module: str) -> str:
    """``sparkswift.operators.text`` -> ``operators.text``."""
    return module.removeprefix("sparkswift.")


@dataclass
class Span:
    layer: str  # e.g. operators.text
    fn: str
    query: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    child_s: float = 0.0
    tag: str | None = None  # job description this span set, if any
    native: bool = False  # chooser picked a native (non-Python) plan

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    sc: object  # SparkContext, for job tags
    query: str = ""  # "<workload>:<query>" of the call in flight
    spans: list[Span] = field(default_factory=list)
    cuts: int = 0  # lineage-cutting DataFrame calls since take_cuts()
    own_s: float = 0.0  # the tracer's own seconds since take_own()
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _swaps: list[tuple[object, str, object, object]] = field(default_factory=list)

    # ---- patching --------------------------------------------------
    def _targets(self) -> list[object]:
        mods = []
        for name in TRACED:
            mod = importlib.import_module(name)
            if hasattr(mod, "__path__"):
                for info in pkgutil.iter_modules(mod.__path__, name + "."):
                    mods.append(importlib.import_module(info.name))
            else:
                mods.append(mod)
        return mods

    def prepare(self) -> None:
        """Build the wrappers and the list of bindings to swap. Call
        after every sparkswift module the workload uses is imported."""
        wrappers: dict[int, object] = {}
        for mod in self._targets():
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isclass(obj):
                    for meth, fn in list(vars(obj).items()):
                        if _plain(fn) and not meth.startswith("_"):
                            wrapper = self._wrap(fn, layer, f"{obj.__name__}.{meth}")
                            self._swaps.append((obj, meth, fn, wrapper))
                elif _plain(obj):
                    wrappers[id(obj)] = (obj, self._wrap(obj, layer))
                elif inspect.isfunction(obj) and inspect.isgeneratorfunction(
                    getattr(obj, "__wrapped__", None)
                ):  # @contextmanager; other wrapped functions are caches
                    wrappers[id(obj)] = (obj, self._wrap_cm(obj, layer))
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in CUTS:
            fn = vars(DataFrame)[meth]
            self._swaps.append((DataFrame, meth, fn, self._count_cut(fn)))
        for mod in [m for n, m in sys.modules.items() if n.startswith("sparkswift")]:
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._swaps.append((mod, name, obj, hit[1]))

    def install(self) -> None:
        for mod, name, _orig, wrapper in self._swaps:
            setattr(mod, name, wrapper)

    def uninstall(self) -> None:
        for mod, name, orig, _wrapper in self._swaps:
            setattr(mod, name, orig)

    # ---- spans -----------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _own(self, since: float) -> None:
        with self._lock:
            self.own_s += time.perf_counter() - since

    def _enter(self, layer: str, name: str) -> Span:
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(layer, name, self.query, time.time(), parent=parent)
        if parent is None or parent.layer != layer:
            span.tag = f"{self.query}|{layer}.{name}"
            self.sc.setLocalProperty("spark.job.description", span.tag)
        stack.append(span)
        self._own(t)
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.time()
        t = time.perf_counter()
        self._stack().pop()
        if span.parent is not None:
            span.parent.child_s += span.dur
        if span.tag is not None:
            # back to the enclosing tag (None clears it)
            self.sc.setLocalProperty(
                "spark.job.description", _enclosing_tag(span.parent) or self.query or None
            )
        with self._lock:
            self.spans.append(span)
        self._own(t)

    def _wrap(self, fn, layer: str, name: str | None = None):
        tracer = self
        name = name or fn.__name__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._enter(layer, name)
            try:
                out = fn(*args, **kwargs)
                if name in CHOOSERS and layer == "operators.apply":
                    t = time.perf_counter()
                    span.native = not _has_python(out)
                    tracer._own(t)
                return out
            finally:
                tracer._exit(span)

        return wrapper

    def _wrap_cm(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return _SpanCM(tracer, layer, fn.__name__, fn(*args, **kwargs))

        return wrapper

    def _count_cut(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer._lock:
                tracer.cuts += 1
            return fn(*args, **kwargs)

        return wrapper

    def take_cuts(self) -> int:
        """Lineage-cutting calls since the last call."""
        with self._lock:
            out, self.cuts = self.cuts, 0
        return out

    def take_own(self) -> float:
        """The tracer's own seconds since the last call."""
        with self._lock:
            out, self.own_s = self.own_s, 0.0
        return out

    def take(self) -> list[Span]:
        """Spans finished since the last call."""
        with self._lock:
            out, self.spans = self.spans, []
        return out


class _SpanCM:
    """A context manager whose span covers its ``with`` block."""

    def __init__(self, tracer: Tracer, layer: str, name: str, cm) -> None:
        self.tracer, self.layer, self.name, self.cm = tracer, layer, name, cm

    def __enter__(self):
        self.span = self.tracer._enter(self.layer, self.name)
        try:
            return self.cm.__enter__()
        except BaseException:
            self.tracer._exit(self.span)
            raise

    def __exit__(self, *exc):
        try:
            return self.cm.__exit__(*exc)
        finally:
            self.tracer._exit(self.span)


def _plain(obj) -> bool:
    """A plain function: not a generator, not wrapped by a decorator."""
    return (
        inspect.isfunction(obj)
        and not inspect.isgeneratorfunction(obj)
        and not hasattr(obj, "__wrapped__")
    )


#: chooser entry points whose route is read off the returned plan
CHOOSERS = ("apply_series", "applymap")


def _has_python(df) -> bool:
    """Whether the optimized plan evaluates a Python UDF."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "EvalPython" in plan or "InPandas" in plan


def _enclosing_tag(span: Span | None) -> str | None:
    while span is not None:
        if span.tag is not None:
            return span.tag
        span = span.parent
    return None


def summarize(spans: list[Span], job_rows: list[tuple[str, float, float]]) -> dict:
    """Per ``layer.fn``: calls, self seconds, the jobs whose description
    names it (the innermost span that tagged them), and the jobs fired
    and job-busy seconds inside its outermost spans."""
    out: dict[str, dict] = {}
    for s in spans:
        r = out.setdefault(
            f"{s.layer}.{s.fn}",
            {"calls": 0, "dur_s": 0.0, "self_s": 0.0, "jobs": 0, "jobs_in": 0,
             "busy_s": 0.0, "native": 0, "_iv": []},
        )
        r["calls"] += 1
        r["self_s"] += s.self_s
        r["native"] += s.native
        if s.parent is None or f"{s.parent.layer}.{s.parent.fn}" != f"{s.layer}.{s.fn}":
            r["dur_s"] += s.dur
            r["_iv"].append((s.start, s.end))
    for desc, a, b in job_rows:
        _, _, where = desc.partition("|")
        if where in out:
            out[where]["jobs"] += 1
    # jobs submitted, and job-busy time, inside each function's
    # outermost spans (nested calls into other layers included)
    intervals = [(a, b) for _, a, b in job_rows]
    for r in out.values():
        for lo, hi in r.pop("_iv"):
            r["jobs_in"] += sum(lo <= a <= hi for a, _ in intervals)
            r["busy_s"] += union_len(intervals, lo, hi)
    return out
