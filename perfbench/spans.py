"""In-memory span tracer and the wrappers that attach it to each layer.

A span records ``name``, ``start``, ``end``, ``parent`` and ``op`` (the
operation id it ran under). Spans nest by call order on the single client
thread; a span's self time is its duration minus the time its direct
children cover. The layer of a span is the part of its name before the
first dot (``functions.rewrite`` -> ``functions``), except ``spark.sql``
calls, which count as Catalyst analysis.

Everything is measured from outside the program: the tracer replaces
public functions with timing wrappers and never edits the package.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time

DRIVER_PACKAGES = ("pipeline", "operators", "streaming", "sources")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.enabled = True     # False: wrappers call straight through

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op,
        })
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        """Close span ``idx`` and any span still open inside it (an
        exception can leave inner spans unclosed)."""
        now = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            self.spans[top]["end"] = now
            if top == idx:
                break

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return wrapper

    # --- analysis -------------------------------------------------------
    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, t0: float) -> list[dict]:
        return [
            {**s, "start": round(s["start"] - t0, 6),
             "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


def layer_of(name: str) -> str:
    if name == "spark.sql":
        return "analyze"
    return name.split(".", 1)[0]


def instrument_front_end(tracer: Tracer, spark) -> None:
    """Wrap the SQL front end: dialect rewrite, strict validation, function
    registration, ``engine.execute_sql`` and the session's ``spark.sql``.
    ``execute_sql`` imports the ``functions`` helpers at call time, so
    patching the module attributes reaches every call."""
    from squirreling_spark import engine
    from squirreling_spark.functions import sqldialect, sqlregistry, sqlstrict

    sqldialect.rewrite_reference_sql = tracer.wrap(
        sqldialect.rewrite_reference_sql, "functions.rewrite")
    sqlstrict.validate_reference_sql = tracer.wrap(
        sqlstrict.validate_reference_sql, "functions.strict")
    sqlstrict.strict_guards = tracer.wrap(
        sqlstrict.strict_guards, "functions.strict")
    sqlregistry.register_reference_functions = tracer.wrap(
        sqlregistry.register_reference_functions, "functions.register")
    engine.execute_sql = tracer.wrap(engine.execute_sql, "engine.execute_sql")
    spark.sql = tracer.wrap(spark.sql, "spark.sql")


def instrument_driver_packages(tracer: Tracer) -> int:
    """Wrap every public function of the pipeline / operators / streaming /
    sources packages, then reload the query modules so the inventory
    builders bind the wrapped functions. Returns the number wrapped."""
    wrapped: dict[int, object] = {}
    modules = []
    for pkg_name in DRIVER_PACKAGES:
        pkg = importlib.import_module(f"squirreling_spark.{pkg_name}")
        modules.append((pkg_name, pkg))
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            modules.append((pkg_name, mod))
    for pkg_name, mod in modules:
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            if not obj.__module__.startswith(f"squirreling_spark.{pkg_name}"):
                continue
            if id(obj) not in wrapped:
                wrapped[id(obj)] = tracer.wrap(obj, f"{pkg_name}.{attr}")
            setattr(mod, attr, wrapped[id(obj)])
    # Query modules imported the originals by name: import them afresh
    # (dropping the package attribute too, or ``from squirreling_spark
    # import queries_x`` would hand back the old module).
    package = sys.modules["squirreling_spark"]
    for name in list(sys.modules):
        if name == "squirreling_spark.inventory" or name.startswith(
            "squirreling_spark.queries_"
        ):
            del sys.modules[name]
            delattr(package, name.rsplit(".", 1)[1])
    inventory = importlib.import_module("squirreling_spark.inventory")
    inventory.load_all()
    return len(wrapped)
